"""The one ``foreachBatch`` sink path every streaming maintainer uses.

Structured Streaming gets exactly-once output from a replayable source
plus an idempotent sink.  The replayable half is Spark's checkpoint;
the idempotent half is each maintainer's batch function, which either
overwrites only its own ``batch_id`` partition
(``operators.warehouse.write_batch_partition``) or merges by key
(:func:`merge_by_keys`).  :func:`start_batch_sink` owns the rest of
the sink policy, so it is decided once:

- every stream drains what is available and stops
  (``trigger(availableNow=True)``) — batch-like runs on a schedule;
- ``outputMode("update")``: aggregating streams emit only changed
  rows, and for non-aggregating streams it is the same as append;
- empty micro-batches are skipped before the batch function runs.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.warehouse import is_missing_path

__all__ = ["merge_by_keys", "start_batch_sink"]


def start_batch_sink(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Start ``stream`` with ``fn(batch, batch_id)`` as its
    ``foreachBatch`` sink, checkpointed at ``checkpoint``, and return
    the started query.  ``fn`` never sees an empty batch."""

    def run(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            fn(batch, batch_id)

    return (
        stream.writeStream.foreachBatch(run)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def merge_by_keys(
    batch: DataFrame,
    out_path: str,
    key_cols: Sequence[str],
    partition_col: str | None = None,
) -> None:
    """Keyed merge of one micro-batch into the parquet table at
    ``out_path``: batch rows replace the table's rows with the same
    ``key_cols``, and every other row is carried over (anti-join +
    union).  With ``partition_col`` the table is partitioned by it and
    only the partitions the batch touches are read and rewritten
    (dynamic partition overwrite, set per write so it never leaks into
    other writes on the shared session).

    Only a missing ``out_path`` means "first batch, nothing on disk".
    Any other analysis error — a schema that no longer matches the
    table, say — fails the batch; swallowing it would overwrite the
    touched partitions with the batch's rows alone.

    The merged frame is ``localCheckpoint``-ed before the write so its
    lineage no longer references the files being overwritten.  This is
    deliberately NOT the ``materialize.pin`` persist default (round-8
    A/B, fresh alternating sessions, 2M-row base / 100k-row batch
    merge-then-overwrite: persist 1.32 s vs ckpt 1.60 s median):
    persist KEEPS lineage into the very files the write truncates, so
    a cached block lost mid-overwrite on a real cluster would
    recompute from a half-rewritten path — silent-corruption class —
    where the checkpoint fail-stops the batch and the streaming
    checkpoint replays it.  On a transactional table format
    (Delta/Iceberg) this collapses to ``MERGE INTO`` on ``key_cols``.
    """
    keys = list(key_cols)
    merged = batch
    try:
        existing = batch.sparkSession.read.parquet(out_path)
    except AnalysisException as e:
        if not is_missing_path(e):
            raise
    else:
        if partition_col is not None:
            touched = [
                r[0] for r in batch.select(partition_col).distinct().collect()
            ]
            existing = existing.filter(F.col(partition_col).isin(touched))
        carried = existing.join(batch.select(*keys), keys, "left_anti")
        merged = batch.unionByName(carried.select(*batch.columns))
    merged = merged.localCheckpoint(eager=True)
    if partition_col is None:
        merged.write.mode("overwrite").parquet(out_path)
        return
    (
        merged.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(out_path)
    )
