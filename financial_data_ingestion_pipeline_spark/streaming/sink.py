"""The ``foreachBatch`` sink behind the OHLC materialized view.

Structured Streaming gets exactly-once output from a replayable source
plus an idempotent sink.  The replayable half is Spark's checkpoint;
the idempotent half is the keyed merge (:func:`merge_by_keys`): a
replayed micro-batch rewrites the same rows.  :func:`start_batch_sink`
owns the rest of the sink policy:

- the stream drains what is available and stops
  (``trigger(availableNow=True)``) — batch-like runs on a schedule;
- ``outputMode("update")``: the windowed aggregate emits only changed
  rows;
- each micro-batch is materialized once and released after the batch
  function returns, so the merge's several actions do not each re-run
  the stream's stateful plan;
- empty micro-batches are skipped before the batch function runs.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..materialize import Pinned
from ..operators.warehouse import is_missing_path

__all__ = ["merge_by_keys", "start_batch_sink"]


def start_batch_sink(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """Start ``stream`` with ``fn(batch, batch_id)`` as its
    ``foreachBatch`` sink, checkpointed at ``checkpoint``, and return
    the started query.  ``fn`` never sees an empty batch.

    The frame ``foreachBatch`` hands over is backed by the batch's
    un-cached RDD, so every action on it (a collect, a broadcast, a
    write) would re-run the stream's plan, stateful dedup and window
    aggregation included.  Each micro-batch is therefore materialized
    once and released after ``fn``, and the empty check is that one
    evaluation: a ``count`` of the persisted frame fills its cache,
    where an ``isEmpty`` on the raw batch would be an evaluation of its
    own and one on the pinned frame a further job.

    Persist, not ``localCheckpoint``: ``unpersist`` releases exactly
    this frame, while a checkpoint's blocks can only be released by
    diffing the context's persistent RDD ids, which two sinks
    checkpointing at once in one session would release for each
    other.  A lost persisted block recomputes instead of failing the
    batch, and its lineage reaches only immutable source files plus
    the state-store re-execution every action on the raw batch
    already does.
    """

    def run(batch: DataFrame, batch_id: int) -> None:
        pinned = Pinned(batch, eager=False, mode="persist")
        try:
            if pinned.df.count():
                fn(pinned.df, batch_id)
        finally:
            pinned.release()

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
    partition_col: str,
) -> None:
    """Keyed merge of one micro-batch into the parquet table at
    ``out_path``, partitioned by ``partition_col``: batch rows replace
    the table's rows with the same ``key_cols``, and every other row is
    carried over (anti-join + union).  Only the partitions the batch
    touches are read and rewritten (dynamic partition overwrite, set
    per write so it never leaks into other writes on the shared
    session).

    Only a missing ``out_path`` means "first batch, nothing on disk";
    then the batch is written as it is.  Any other analysis error — a
    schema that no longer matches the table, say — fails the batch;
    swallowing it would overwrite the touched partitions with the
    batch's rows alone.

    When the table was read, the merged frame is
    ``localCheckpoint``-ed before the write so its lineage no longer
    references the files being overwritten.  This is
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
        touched = [
            r[0] for r in batch.select(partition_col).distinct().collect()
        ]
        existing = existing.filter(F.col(partition_col).isin(touched))
        carried = existing.join(batch.select(*keys), keys, "left_anti")
        merged = batch.unionByName(
            carried.select(*batch.columns)
        ).localCheckpoint(eager=True)
    (
        merged.repartition(partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(out_path)
    )
