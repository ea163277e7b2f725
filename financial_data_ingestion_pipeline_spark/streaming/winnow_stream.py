"""Streaming maintenance of the materialized winnow (MOSS)
fingerprint index.

Documents arrive as a stream; each micro-batch winnows ITSELF
(array-local, stateless — the same `_winnow_posting` kernel as the
batch builder) and lands its ``(doc, fp)`` posting rows in the index
as its own ``batch_id=N`` partition.  Fingerprint selection depends
only on the document's own text — nothing corpus-global to freeze —
so unlike the PQ index there is no quantizer invariant to carry; the
index stays exactly "the union of every document's posting rows" and
:func:`...functions.text.winnow_probe_index` needs no knowledge of
how it was built.

Idempotence: a replayed micro-batch dynamic-overwrites ONLY its own
``batch_id`` partition, so at-least-once delivery never duplicates
posting rows — duplicates would inflate every pair's ``n_shared``
and the probe cap's df counts.  This is the dedup-at-ingest loop for
local text overlap: winnow the arrivals in-flight, probe them against
the standing index, append the keepers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from financial_data_ingestion_pipeline_spark.streaming.sink import (
    start_batch_sink,
)

__all__ = ["maintain_winnow_index"]


def maintain_winnow_index(
    doc_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_base: int = 1,
) -> StreamingQuery:
    """Winnow each micro-batch and land it in the index — fingerprints
    AND the meta doc count the probe cap depends on — under an
    idempotent ``batch_id`` partition via
    ``functions/text.py::append_to_winnow_index`` (layout-compatible
    with ``build_winnow_index``).  Partition ids are
    ``partition_base + batch_id``; see
    ``operators.warehouse.write_batch_partition`` for when to raise
    ``partition_base``."""
    from financial_data_ingestion_pipeline_spark.functions.text import (
        append_to_winnow_index,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        append_to_winnow_index(
            batch, out_path, partition_base + batch_id, k, w, id_col, text_col
        )

    return start_batch_sink(doc_stream, write_batch, checkpoint)
