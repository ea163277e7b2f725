"""Structured Streaming upgrade path (X2).

The reference has no streaming at all — README:8-9 claims concurrent
per-day processing but ``airflow.cfg:52`` pins ``SequentialExecutor``,
so the DAG is fully serial batch.  This module is the intended upgrade:
the tick directory becomes a file-source stream, the ``hourly_ohlc``
materialized view (dp:290-314) becomes a continuously-maintained
windowed aggregate, and duplicate ticks are dropped with bounded state.

Design for scale:

- **Watermarks bound state.**  Every stateful op here declares
  ``withWatermark(ts, delay)`` so window state is dropped once the
  watermark passes — without it, a 100 TB backfill would accumulate
  unbounded aggregation state.
- **OHLC is the same declarative aggregate as batch** (min_by/max_by
  over the event-time key) — one shuffle on (symbol, window), partial
  aggregation map-side, exactly the batch plan applied incrementally.
- **Dedup is ``dropDuplicatesWithinWatermark``** on the natural tick key
  (symbol, timestamp): state expires with the watermark instead of
  growing forever like plain ``dropDuplicates`` would.
- **The MV is maintained via ``foreachBatch``** as a keyed merge that
  rewrites only the date partitions present in each micro-batch — an
  incremental materialized view without rewriting history.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.ohlc import FREQ_MAP, ohlc_aggs
from ..operators.warehouse import snapshot_commit
from ..schemas import TICK_CLEAN_SCHEMA, WAREHOUSE_SCHEMA
from .sink import merge_by_keys, start_batch_sink


def stream_ticks(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the landing directory.

    New files (one folder per trading day, exactly the reference's drop
    layout) are discovered per micro-batch; ``maxFilesPerTrigger``
    bounds batch size during backfills.
    """
    reader = spark.readStream.format(fmt).schema(schema or WAREHOUSE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def _as_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (not NTZ); with the engine's UTC
    session timezone the cast is wall-clock identical."""
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def dedup_ticks_stream(
    stream: DataFrame,
    keys: Sequence[str] = ("source_symbol", "timestamp"),
    ts_col: str = "timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful exact-duplicate drop with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps a key only until the
    watermark passes its event time — state is O(ticks inside the
    watermark window), not O(all ticks ever).
    """
    return (
        _as_event_time(stream, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
    )


def streaming_ohlc(
    stream: DataFrame,
    freq: str = "hour",
    watermark: str | None = "10 minutes",
    symbol_col: str = "source_symbol",
    ts_col: str = "timestamp",
    price_col: str = "ltp",
    volume_col: str | None = None,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling-window OHLC over the stream — the hourly_ohlc MV
    (dp:290-314) maintained incrementally, intent semantics (Q1: close =
    price at max event time, via the same ``ohlc_aggs`` as batch).

    Pass ``watermark=None`` when an upstream stateful operator (e.g.
    :func:`dedup_ticks_stream`) already declared one — Spark disallows
    redefining the watermark between chained stateful operators.
    """
    duration = FREQ_MAP.get(freq, freq)
    win = F.window(F.col(ts_col), duration)
    src = _as_event_time(stream, ts_col)
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(win, F.col(symbol_col).alias("symbol"))
        .agg(*ohlc_aggs(price_col, ts_col, tie_cols, volume_col))
        .select(
            "symbol",
            F.col("window.start").alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            *(["total_volume"] if volume_col else []),
            "n_ticks",
        )
    )


def write_ohlc_table(
    ohlc_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    key_cols: Sequence[str] = ("symbol", "bucket_start"),
) -> StreamingQuery:
    """Maintain the OHLC table as date-partitioned parquet via a keyed
    ``foreachBatch`` MERGE (:func:`sink.merge_by_keys`): each
    micro-batch rewrites only the dates it touches, and rows it does
    NOT update within those dates are carried over — so a multi-batch
    backfill or a scheduled re-run never drops previously-written
    windows.  A plain dynamic-partition overwrite would: update-mode
    batches contain only the windows changed in that batch, so
    overwriting the whole date partition deletes that date's other
    hours.
    """

    def upsert(batch: DataFrame, batch_id: int) -> None:
        merge_by_keys(
            batch.withColumn("trade_date", F.to_date("bucket_start")),
            out_path, key_cols, partition_col="trade_date",
        )

    return start_batch_sink(ohlc_stream, upsert, checkpoint)


def run_ohlc_stream_once(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    freq: str = "hour",
    watermark: str = "10 minutes",
    schema=None,
    dedup: bool = True,
    symbol_col: str = "source_symbol",
    ts_col: str = "timestamp",
    price_col: str = "ltp",
    tie_cols: Sequence[str] = (),
    max_files_per_trigger: int | None = None,
) -> None:
    """End-to-end one-shot: stream the landing dir, dedup, aggregate,
    land the OHLC table, and block until the backlog is drained.
    ``max_files_per_trigger`` bounds each micro-batch during backfills
    (the keyed-merge sink makes multi-batch runs safe)."""
    stream = stream_ticks(
        spark,
        in_path,
        schema=schema or TICK_CLEAN_SCHEMA,
        max_files_per_trigger=max_files_per_trigger,
    )
    if dedup:
        stream = dedup_ticks_stream(
            stream, keys=(symbol_col, ts_col), ts_col=ts_col, watermark=watermark
        )
    agg = streaming_ohlc(
        stream,
        freq=freq,
        watermark=None if dedup else watermark,
        symbol_col=symbol_col,
        ts_col=ts_col,
        price_col=price_col,
        tie_cols=tie_cols,
    )
    q = write_ohlc_table(agg, out_path, checkpoint)
    q.awaitTermination()


def write_snapshot_stream(
    stream: DataFrame,
    table_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """Stream -> snapshot table: every micro-batch lands as ONE atomic
    manifest commit (``warehouse.snapshot_commit``), so downstream
    batch readers always see whole micro-batches — never a partially
    written file set — and can time-travel the ingest history
    batch-by-batch.

    Note the split of atomicity duties: Spark's checkpoint guarantees
    each micro-batch is processed once; the manifest rename guarantees
    readers never observe a half-commit.  A crash between the parquet
    write and the manifest rename leaves an orphan dir that
    ``vacuum_snapshots`` reclaims and a batch the restarted query
    simply re-commits.
    """

    def commit(batch: DataFrame, batch_id: int) -> None:
        snapshot_commit(batch, table_dir, mode="append")

    return start_batch_sink(stream, commit, checkpoint)
