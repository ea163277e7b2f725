"""Streaming maintenance of the embedding-drift monitor.

The batch monitor (``similarity.embedding_drift``) is exact integer
arithmetic over per-dimension sums/counts — ASSOCIATIVE partials, so a
stream can maintain it incrementally: each micro-batch contributes its
own (pos, n_a, n_b, sum_a, sum_b) slice and the report is an additive
roll-up over all slices.  No float means anywhere, so the incremental
answer equals the single-pass batch answer bit-for-bit (parity-tested
in ``tests/test_streaming.py``).

Idempotence: each micro-batch writes ONLY its own ``batch_id=``
partition (dynamic partition overwrite), so a replayed batch after a
failure rewrites the same files instead of double-counting — the
classic exactly-once-by-idempotence pattern for additive state on
plain parquet.  On Delta/Iceberg this would be a transactional MERGE;
the contract (one partial row-group per batch, additive read-side
roll-up) stays the same.

At 100 TB of daily embedding drops this shape is the one you want:
the stream never holds state in memory (no watermark needed — the
partials are append-only facts), the roll-up reads ``dim x batches``
tiny rows, and re-running a day replaces that day's partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from financial_data_ingestion_pipeline_spark.functions.similarity import (
    drift_metrics,
    drift_partial_stats,
)
from financial_data_ingestion_pipeline_spark.operators.warehouse import (
    write_batch_partition,
)
from financial_data_ingestion_pipeline_spark.streaming.sink import (
    start_batch_sink,
)


def maintain_drift_partials(
    embedding_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    **drift_kwargs,
) -> StreamingQuery:
    """Maintain per-batch drift partials from a streaming embeddings
    source.  ``drift_kwargs`` are forwarded to
    :func:`similarity.drift_partial_stats` (splits, grid, seed)."""

    def write_partial(batch: DataFrame, batch_id: int) -> None:
        write_batch_partition(
            drift_partial_stats(batch, **drift_kwargs).coalesce(1),
            out_path, batch_id,
        )

    return start_batch_sink(embedding_stream, write_partial, checkpoint)


def drift_report(spark: SparkSession, partials_path: str) -> DataFrame:
    """Roll the maintained partials up to the drift report: additive
    merge of the integer sums, then the shared exact metric tail —
    identical output contract (and values) to the batch
    ``embedding_drift`` over the union of all batches."""
    partials = spark.read.parquet(partials_path)
    merged = partials.groupBy("pos").agg(
        F.sum("n_a").alias("n_a"),
        F.sum("n_b").alias("n_b"),
        F.sum("sum_a").alias("sum_a"),
        F.sum("sum_b").alias("sum_b"),
    )
    return drift_metrics(merged)
