"""Streaming maintenance of the materialized cross-dump overlap
postings (``functions/dedup.py::build_overlap_index``).

Documents arrive as a stream; each micro-batch shingles ITSELF (the
shared ``_source_posting`` kernel — distinct word-n-grams per source)
and lands its posting as its own ``batch_id=N`` partition.  Because
per-source shingle SETS are what the overlap matrix consumes, and set
union is associative, maintaining the index is a pure append: history
is never re-shingled, and ``source_overlap_from_index`` re-distincts
the unioned partitions at read time (an index-sized pass — grams the
batch shares with history collapse there).

Idempotence: a replayed micro-batch dynamic-overwrites ONLY its own
``batch_id`` partition, so at-least-once delivery can never inflate a
source's set beyond the read-time distinct.  This is the cheap daily
answer to "how much of today's dump is already in the corpus" —
merge, matrix, decide BEFORE committing to a full cross-dump dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from financial_data_ingestion_pipeline_spark.streaming.sink import (
    start_batch_sink,
)

__all__ = ["maintain_overlap_index"]


def maintain_overlap_index(
    doc_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    n: int = 3,
    text_col: str = "text",
    source_col: str = "source",
    partition_base: int = 1,
) -> StreamingQuery:
    """Shingle each micro-batch and land its distinct ``(src, gram)``
    posting under an idempotent ``batch_id`` partition via
    ``functions/dedup.py::append_to_overlap_index`` (layout-compatible
    with ``build_overlap_index``).  Partition ids are
    ``partition_base + batch_id``; see
    ``operators.warehouse.write_batch_partition`` for when to raise
    ``partition_base``."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        append_to_overlap_index,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        append_to_overlap_index(
            batch, out_path, partition_base + batch_id, n, text_col, source_col
        )

    return start_batch_sink(doc_stream, write_batch, checkpoint)
