"""Default-tier streaming tests: one availableNow drive each of the
dedup -> windowed-OHLC chain and of the arbitrary-state
(``applyInPandasWithState``) operator, so the fast gate covers both
stateful families.  The full stream/batch parity suite is
``test_streaming.py`` (slow tier)."""

from __future__ import annotations

import os

from financial_data_ingestion_pipeline_spark.schemas import WAREHOUSE_SCHEMA
from financial_data_ingestion_pipeline_spark.streaming.ohlc_stream import (
    run_ohlc_stream_once,
)


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


def test_pattern_alerts_matches_batch(spark, tmp_path_factory):
    """Streaming CEP-with-negation emits exactly the batch
    pattern_match pairs across multiple micro-batches, and event-time
    timeouts free expired state without emitting."""
    import datetime as dt

    from financial_data_ingestion_pipeline_spark.operators.analytics import (
        pattern_match,
    )
    from financial_data_ingestion_pipeline_spark.streaming.stateful import (
        pattern_alerts,
    )

    t = lambda h, m, s=0: dt.datetime(2024, 1, 1, h, m, s)  # noqa: E731
    schema = "event_id long, user_id long, ts timestamp, kind string"
    rows_b1 = [
        (1, 1, t(9, 0), "click"),
        (2, 1, t(9, 10), "purchase"),     # match (600 s)
        (3, 2, t(9, 0), "click"),
        (4, 2, t(9, 5), "error"),
    ]
    rows_b2 = [
        (5, 2, t(9, 10), "purchase"),     # blocked by the error
        (6, 3, t(9, 0), "click"),
        (7, 1, t(9, 20), "purchase"),     # second match off the same click
        (8, 99, t(11, 0), "click"),       # watermark carrier
    ]
    rows_b3 = [
        (9, 3, t(12, 0), "purchase"),     # outside gap (state timed out)
        (10, 99, t(13, 0), "click"),      # watermark carrier
    ]
    root = tmp_path_factory.mktemp("cep_landing")
    for rows in (rows_b1, rows_b2, rows_b3):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(root))

    out = tmp_path_factory.mktemp("cep_out")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
        .withWatermark("ts", "10 minutes")
    )
    q = (
        pattern_alerts(src, first="click", second="purchase",
                       without="error", gap_seconds=3600)
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.user_id, str(r.first_ts), str(r.second_ts), r.wait_seconds)
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
    }

    batch_df = spark.createDataFrame(
        rows_b1 + rows_b2 + rows_b3, schema
    ).withColumnRenamed("kind", "event_type")
    batch = {
        (r.user_id, str(r.first_ts), str(r.second_ts), r.wait_seconds)
        for r in pattern_match(
            batch_df, first="click", second="purchase",
            without="error", gap="1 hour",
        ).collect()
    }
    assert streamed == batch
    assert len(streamed) == 2  # user 1 twice; user 2 blocked; user 3 expired
