"""Streaming current-state maintenance — the streaming half of
:func:`operators.analytics.scd2_history`.

The batch operator rebuilds the full validity-interval history; this
module maintains the table most lookups actually hit: ONE row per
entity key holding its latest value.  The stream side is an update-mode
``max_by``-style aggregation (per-key state is a single (ts, id, value)
struct — O(|keys|) total, the same bound as the GroupState VWAP op),
and the sink is a keyed ``foreachBatch`` merge: each micro-batch
replaces exactly the keys it updated and carries every other key over,
so multi-batch backfills and scheduled re-runs converge to the same
table a batch rebuild would produce (parity-tested against
``scd2_history``'s ``is_current`` rows).

Late/out-of-order arrivals are safe WITHOUT a watermark: the
aggregation keeps the (ts, id)-max row per key, so an old update can
never regress the current value — at the cost of state that grows with
key cardinality, which is the inherent floor for "current value per
key".  On Delta/Iceberg the sink collapses to ``MERGE INTO``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from financial_data_ingestion_pipeline_spark.streaming.ohlc_stream import (
    _as_event_time,
)
from financial_data_ingestion_pipeline_spark.streaming.sink import (
    merge_by_keys,
    start_batch_sink,
)

__all__ = ["streaming_current_state", "write_current_state"]


def streaming_current_state(
    stream: DataFrame,
    key_cols: Sequence[str] = ("event_type", "user_id"),
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Update-mode latest-row-per-key aggregation: ``max`` over a
    (ts, id, value) struct — the (ts, id) prefix is a strict total
    order (ids are unique), so the kept row is deterministic and the
    value field never participates in the comparison.

    Output (update mode): key cols, ``value``, ``updated_at``.
    """
    src = _as_event_time(stream, ts_col)
    latest = F.max(
        F.struct(F.col(ts_col), F.col(id_col), F.col(value_col))
    ).alias("_latest")
    return (
        src.groupBy(*[F.col(c) for c in key_cols])
        .agg(latest)
        .select(
            *key_cols,
            F.col(f"_latest.{value_col}").alias("value"),
            F.col(f"_latest.{ts_col}").cast("timestamp_ntz").alias("updated_at"),
        )
    )


def write_current_state(
    cur_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    key_cols: Sequence[str] = ("event_type", "user_id"),
) -> StreamingQuery:
    """Keyed merge sink for :func:`streaming_current_state`
    (:func:`sink.merge_by_keys`): per micro-batch, rows for updated
    keys replace their old versions and all untouched keys carry over.
    The table stays one row per key — its size is key cardinality, not
    stream length."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        merge_by_keys(batch, out_path, key_cols)

    return start_batch_sink(cur_stream, upsert, checkpoint)
