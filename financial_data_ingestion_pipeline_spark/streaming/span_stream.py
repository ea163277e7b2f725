"""Streaming maintenance of the materialized ExactSubstr anchor
index (``functions/dedup.py::build_span_index``).

Documents arrive as a stream; each micro-batch anchors ITSELF (the
same ``_span_anchors`` xxhash64 kernel as the batch builder — the
four anchor producers MUST hash identically or probes silently miss),
reduces to its DISTINCT hashes, and lands in the index as its own
``batch_id=N`` partition.  Anchor hashing depends only on the
document's own text — nothing corpus-global to freeze — so the index
stays exactly "the union of every batch's distinct anchor hashes" and
``span_probe_index`` needs no knowledge of how it was built.

Duplicates ACROSS partitions (a 16-gram that appears in many batches)
are intentionally left in place: the probe is a left-semi join, for
which duplicate build keys are harmless, and deduplicating history on
every append would turn an O(batch) maintenance step into an O(index)
one.

Idempotence: a replayed micro-batch overwrites ONLY its own
``batch_id`` partition, so at-least-once delivery never grows the
index beyond one partition per batch.  This is the contamination
guard at ingest: anchor the arrivals in-flight, probe them against
the standing index (which spans of today's batch copy the corpus
verbatim), append the keepers.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from financial_data_ingestion_pipeline_spark.operators.warehouse import (
    is_missing_path,
    write_batch_partition,
)
from financial_data_ingestion_pipeline_spark.streaming.sink import (
    start_batch_sink,
)

__all__ = [
    "maintain_span_index",
    "probe_and_maintain_span_index",
    "cut_and_maintain_span_index",
]


def _probe_or_bootstrap(
    batch: DataFrame, index_path: str, min_len: int, id_col: str, text_col: str
) -> DataFrame:
    """Probe ``batch`` against the standing anchor index.  ONLY a
    missing index is the clean "no corpus yet" bootstrap (no spans) —
    any other analysis error (bad columns, schema drift) and every IO
    error fails the batch loudly, or contamination in it would be
    silently missed forever."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        span_probe_index,
    )

    spark = batch.sparkSession
    try:
        return span_probe_index(
            batch, spark, index_path,
            min_len=min_len, id_col=id_col, text_col=text_col,
        )
    except AnalysisException as e:
        if not is_missing_path(e):
            raise
    # the id type comes from the BATCH schema so the bootstrap
    # partition's parquet schema matches later batches' spans (a
    # hardcoded `long` diverged for string doc ids)
    id_type = batch.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        [], f"{id_col} {id_type}, span_start long, span_len long"
    )


def maintain_span_index(
    doc_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    min_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_base: int = 1,
) -> StreamingQuery:
    """Anchor each micro-batch and land its distinct hashes in the
    index under an idempotent ``batch_id`` partition via
    ``functions/dedup.py::append_to_span_index`` (layout-compatible
    with ``build_span_index``).  Partition ids are
    ``partition_base + batch_id``; see
    ``operators.warehouse.write_batch_partition`` for when to raise
    ``partition_base``.
    """
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        append_to_span_index,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        append_to_span_index(
            batch, out_path, partition_base + batch_id,
            min_len, id_col, text_col,
        )

    return start_batch_sink(doc_stream, write_batch, checkpoint)


def cut_and_maintain_span_index(
    doc_stream: DataFrame,
    index_path: str,
    clean_out: str,
    spans_out: str,
    checkpoint: str,
    min_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_base: int = 1,
) -> StreamingQuery:
    """The streaming ingest-with-cut loop — the stream sibling of
    ``plans/corpus_pipeline.py::run_incremental_ingest``'s span path:
    each micro-batch is PROBED against the standing anchor index, the
    contaminated spans are QUARANTINED to ``spans_out`` AND CUT out of
    the batch text, the CLEANED documents land at ``clean_out``
    (schema preserved, plus ``n_cut``), and the clean text's distinct
    anchors are appended so later batches see this batch as corpus.
    Anchors come from the CLEAN text — what actually landed — so the
    index never advertises spans the cut removed.

    All three writes replace only the batch's own ``batch_id``
    partition (idempotent under at-least-once replay);
    ``partition_base``: see :func:`maintain_span_index`.  A missing
    index is the first-batch bootstrap (nothing to probe; anchors
    still land).
    """
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        append_to_span_index,
        cut_spans,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        pid = partition_base + batch_id
        spans = _probe_or_bootstrap(batch, index_path, min_len, id_col, text_col)
        write_batch_partition(spans, spans_out, pid)
        cut = cut_spans(batch, spans, id_col=id_col, text_col=text_col)
        cols = batch.columns
        cleaned = (
            batch.drop(text_col)
            .join(
                cut.select(
                    id_col, F.col("clean_text").alias(text_col), "n_cut"
                ),
                id_col,
            )
            .select(*cols, "n_cut")
        )
        write_batch_partition(cleaned, clean_out, pid)
        # anchors of the CLEAN text (read back from the committed
        # partition — lineage through the pre-cut batch would re-read
        # the index this very function appends to below, the
        # silent-recompute hazard class run_incremental_ingest
        # checkpoints around)
        landed = batch.sparkSession.read.parquet(clean_out).filter(
            F.col("batch_id") == pid
        )
        append_to_span_index(
            landed, index_path, pid, min_len, id_col, text_col
        )

    return start_batch_sink(doc_stream, write_batch, checkpoint)


def probe_and_maintain_span_index(
    doc_stream: DataFrame,
    index_path: str,
    spans_out: str,
    checkpoint: str,
    min_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_base: int = 1,
) -> StreamingQuery:
    """The full contamination loop at ingest: each micro-batch is
    PROBED against the standing anchor index first (which spans of the
    arrivals copy the corpus verbatim — written to ``spans_out`` under
    the batch's own idempotent partition, ready for span-cut or
    quarantine downstream), THEN its own distinct anchors are appended
    so later batches see it as corpus.  Probe-before-append means a
    batch never matches itself — the same batch-vs-standing semantics
    as ``span_cross_spans``, day over day.

    Replay safety: both writes replace only the replayed ``batch_id``
    partition, and the probe re-run sees exactly the
    pre-append index for that batch only if replay happens before the
    append committed — if the anchors landed but the span write did
    not, the re-probe ALSO matches the batch's own anchors, adding
    whole-document self-spans to the quarantine column.  Downstream
    span-cut treats them as harmless over-marking (the doc equals the
    corpus copy of itself); exactly-once consumers needing the strict
    pre-append answer should key on span length < document length.
    ``partition_base``: see :func:`maintain_span_index`.
    """
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        append_to_span_index,
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        pid = partition_base + batch_id
        spans = _probe_or_bootstrap(batch, index_path, min_len, id_col, text_col)
        write_batch_partition(spans, spans_out, pid)
        append_to_span_index(batch, index_path, pid, min_len, id_col, text_col)

    return start_batch_sink(doc_stream, write_batch, checkpoint)
