"""Structured Streaming (X2): stream/batch parity for windowed OHLC and
bounded-state dedup, driven with availableNow one-shot triggers."""

from __future__ import annotations

import os

import pytest

# slow tier (round 12): ~30 availableNow stream/batch parity drives,
# each spinning checkpoints + one-shot triggers — run with `-m slow`
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from financial_data_ingestion_pipeline_spark.operators.ohlc import bucketed_ohlc
from financial_data_ingestion_pipeline_spark.schemas import WAREHOUSE_SCHEMA
from financial_data_ingestion_pipeline_spark.streaming.ohlc_stream import (
    dedup_ticks_stream,
    run_ohlc_stream_once,
    stream_ticks,
)


def test_streaming_ohlc_matches_batch(spark, landing, tmp_path_factory):
    out = tmp_path_factory.mktemp("stream_out")
    run_ohlc_stream_once(
        spark,
        landing,
        os.path.join(str(out), "ohlc"),
        os.path.join(str(out), "ckpt"),
        freq="hour",
        watermark="1 minute",
        schema=WAREHOUSE_SCHEMA,
        dedup=False,
    )
    streamed = spark.read.parquet(os.path.join(str(out), "ohlc"))
    batch = bucketed_ohlc(spark.read.parquet(landing), "hour")
    s = {(r.symbol, str(r.bucket_start)): (r.open, r.high, r.low, r.close, r.n_ticks)
         for r in streamed.collect()}
    b = {(r.symbol, str(r.bucket_start)): (r.open, r.high, r.low, r.close, r.n_ticks)
         for r in batch.collect()}
    assert s == b
    assert len(s) == 4  # 2 symbols x 2 hours
    # incremental-MV layout: date-partitioned parquet
    assert "trade_date" in streamed.columns


def test_streaming_dedup_bounded_state(spark, landing, tmp_path_factory):
    out = tmp_path_factory.mktemp("dedup_out")
    stream = dedup_ticks_stream(
        stream_ticks(spark, landing, schema=WAREHOUSE_SCHEMA),
        keys=("source_symbol", "timestamp"),
        watermark="1 minute",
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(os.path.join(str(out), "data"))
    assert got.count() == 24  # 26 rows in, 2 duplicate copies dropped
    assert (
        got.groupBy("source_symbol", "timestamp").count().filter(F.col("count") > 1).count()
        == 0
    )

