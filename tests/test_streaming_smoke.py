"""Default-tier streaming tests: one availableNow drive of the
dedup -> windowed-OHLC chain, a restart of that chain from its
checkpoint, and the sink behind it (``streaming/sink.py``): the
once-per-batch evaluation and the keyed merge (multi-batch carry path
and OHLC schema guard).  The rest of the stream/batch parity suite is
``test_streaming.py`` (slow tier)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from financial_data_ingestion_pipeline_spark.operators.ohlc import bucketed_ohlc
from financial_data_ingestion_pipeline_spark.schemas import WAREHOUSE_SCHEMA
from financial_data_ingestion_pipeline_spark.streaming.ohlc_stream import (
    run_ohlc_stream_once,
)
from financial_data_ingestion_pipeline_spark.streaming.sink import (
    start_batch_sink,
)
from tests.conftest import tick


def test_streaming_dedup_then_ohlc(spark, landing, tmp_path_factory):
    """Chained stateful operators: dedup feeding the windowed aggregate."""
    out = tmp_path_factory.mktemp("chain_out")
    run_ohlc_stream_once(
        spark,
        landing,
        os.path.join(str(out), "ohlc"),
        os.path.join(str(out), "ckpt"),
        freq="hour",
        watermark="1 minute",
        schema=WAREHOUSE_SCHEMA,
        dedup=True,
    )
    streamed = spark.read.parquet(os.path.join(str(out), "ohlc"))
    rows = {(r.symbol, str(r.bucket_start)): r for r in streamed.collect()}
    assert len(rows) == 4
    # the duplicated 09:00 ALPHA tick counts once
    alpha9 = rows[("ALPHA", "2022-04-04 09:00:00")]
    assert alpha9.n_ticks == 6
    assert alpha9.open == 109.0 and alpha9.close == 114.0


def test_ohlc_stream_restart_is_exactly_once(spark, tmp_path):
    """Restarting the OHLC stream from its checkpoint neither replays
    nor loses input.  A re-run with nothing new leaves the table as it
    was; a second landed file holding a later hour, a duplicate of a
    file-1 tick and a tick in file 1's hour is merged in, so the table
    equals batch ``bucketed_ohlc`` over the de-duplicated union.  The
    watermark is generous enough that no row of either file is late."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "ohlc")

    def land(rows):
        spark.createDataFrame(rows, schema=WAREHOUSE_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(landing)

    def drain():
        run_ohlc_stream_once(
            spark, landing, out, str(tmp_path / "ckpt"),
            freq="hour", watermark="2 hours", schema=WAREHOUSE_SCHEMA,
        )

    def ohlc_rows(df):
        return sorted(
            (r.symbol, str(r.bucket_start), r.open, r.high, r.low, r.close,
             r.n_ticks)
            for r in df.collect()
        )

    def table():
        return ohlc_rows(spark.read.parquet(out))

    def files():
        return sorted(
            os.path.relpath(os.path.join(d, f), out)
            for d, _, fs in os.walk(out) for f in fs
        )

    file1 = [
        tick(sym, f"2022-04-04 09:{i * 7:02d}:00", base + i)
        for sym, base in (("ALPHA", 100.0), ("BETA", 50.0))
        for i in range(4)
    ]
    land(file1)
    drain()
    first, first_files = table(), files()
    assert len(first) == 2

    drain()  # same checkpoint, nothing new
    assert table() == first
    assert files() == first_files

    file2 = [
        tick("ALPHA", "2022-04-04 10:05:00", 120.0),  # a later hour
        file1[1],  # a duplicate of a file-1 tick
        tick("BETA", "2022-04-04 09:50:00", 40.0),  # file 1's hour
    ]
    land(file2)
    drain()

    union = spark.read.schema(WAREHOUSE_SCHEMA).parquet(landing)
    assert union.count() == len(file1) + len(file2)
    want = ohlc_rows(bucketed_ohlc(
        union.dropDuplicates(["source_symbol", "timestamp"]), "hour"
    ))
    assert table() == want
    assert len(want) == 3


def test_sink_evaluates_each_micro_batch_once(spark, tmp_path):
    """A pinned sink materializes each micro-batch once: a batch
    function that runs three actions on ``batch`` must not re-run the
    stream's plan per action.  A counting UDF in the stream adds one
    to an accumulator per row it evaluates, so it must end at the
    number of input rows (unpinned, the same stream counts each row
    once per action).  Released pins leave the session's
    persisted-frame registry as they found it."""
    from financial_data_ingestion_pipeline_spark import session as S

    landing = str(tmp_path / "landing")
    for part in range(2):
        spark.range(part * 20, part * 20 + 20).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    evaluated = spark.sparkContext.accumulator(0)

    def count_row(v):
        evaluated.add(1)
        return v

    counted = F.udf(count_row, "long").asNondeterministic()
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .select(counted("id").alias("id"))
    )
    seen = []
    registered = len(S._PERSISTED)

    def three_actions(batch, batch_id):
        total = batch.agg(F.sum("id")).collect()[0][0]
        top = batch.agg(F.max("id")).collect()[0][0]
        seen.append((batch.count(), total, top))

    start_batch_sink(
        stream, three_actions, str(tmp_path / "ckpt")
    ).awaitTermination()
    assert sorted(seen) == [(20, 190, 19), (20, 590, 39)]
    assert evaluated.value == 40
    assert len(S._PERSISTED) == registered


def test_multi_batch_backfill_keeps_all_windows(spark, tmp_path_factory):
    """Regression: the MV sink must MERGE, not overwrite, the touched
    date partition.  Two landing files with disjoint hours of the SAME
    trading day are drained one file per micro-batch — update-mode batch
    2 contains only hour-10 windows, so a dynamic-partition overwrite
    would silently delete hour 9.  The keyed merge keeps all 4 windows.
    """
    root = tmp_path_factory.mktemp("multibatch_landing")
    for h in (9, 10):
        rows = [
            tick(sym, f"2022-04-04 {h:02d}:{i*7:02d}:00", base + h + i)
            for sym, base in (("ALPHA", 100.0), ("BETA", 50.0))
            for i in range(6)
        ]
        df = spark.createDataFrame(rows, schema=WAREHOUSE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(str(root))
    out = tmp_path_factory.mktemp("multibatch_out")
    run_ohlc_stream_once(
        spark,
        str(root),
        os.path.join(str(out), "ohlc"),
        os.path.join(str(out), "ckpt"),
        freq="hour",
        # generous watermark so neither file's rows are late regardless
        # of which file the source lists first
        watermark="2 hours",
        schema=WAREHOUSE_SCHEMA,
        dedup=False,
        max_files_per_trigger=1,
    )
    streamed = spark.read.parquet(os.path.join(str(out), "ohlc"))
    got = {(r.symbol, str(r.bucket_start)): (r.open, r.close, r.n_ticks)
           for r in streamed.collect()}
    batch = bucketed_ohlc(spark.read.parquet(str(root)), "hour")
    want = {(r.symbol, str(r.bucket_start)): (r.open, r.close, r.n_ticks)
            for r in batch.collect()}
    assert got == want
    assert len(got) == 4  # 2 symbols x 2 hours — nothing overwritten away


def test_ohlc_merge_schema_mismatch_fails_and_keeps_table(spark, tmp_path):
    """A micro-batch that cannot be merged with the table on disk (here
    the table lacks ``n_ticks``) must fail the sink.  Treating the error
    as "nothing on disk yet" would overwrite the touched date with the
    batch's own rows and silently drop the existing 09:00 window."""
    import datetime as dt

    out = str(tmp_path / "ohlc")
    spark.createDataFrame(
        [("ALPHA", dt.datetime(2022, 4, 4, 9), 1.0, 1.0, 1.0, 1.0,
          dt.date(2022, 4, 4))],
        "symbol string, bucket_start timestamp, open double, high double, "
        "low double, close double, trade_date date",
    ).write.partitionBy("trade_date").parquet(out)
    landing = str(tmp_path / "landing")
    spark.createDataFrame(
        [tick("ALPHA", "2022-04-04 10:00:00", 2.0)], schema=WAREHOUSE_SCHEMA
    ).write.parquet(landing)

    with pytest.raises(StreamingQueryException):
        run_ohlc_stream_once(
            spark, landing, out, str(tmp_path / "ckpt"),
            schema=WAREHOUSE_SCHEMA, dedup=False,
        )
    kept = [str(r.bucket_start) for r in spark.read.parquet(out).collect()]
    assert kept == ["2022-04-04 09:00:00"]
