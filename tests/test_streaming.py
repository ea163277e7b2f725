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
    streaming_sessions,
)
from tests.conftest import tick


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


def test_streaming_sessions_match_batch(spark, tmp_path_factory):
    """Session windows on the stream equal the batch sessionize output
    for every session the watermark has closed; the still-open trailing
    session is (correctly) not emitted in append mode."""
    from financial_data_ingestion_pipeline_spark.operators.analytics import (
        sessionize,
    )

    root = tmp_path_factory.mktemp("sess_landing")
    rows = [
        tick("ALPHA", "2022-04-04 09:00:00", 100.0),
        tick("ALPHA", "2022-04-04 09:05:00", 101.0),
        tick("ALPHA", "2022-04-04 09:10:00", 102.0),
        tick("ALPHA", "2022-04-04 11:00:00", 110.0),
        tick("BETA", "2022-04-04 09:30:00", 50.0),
        # far-future flush: advances the watermark past both real
        # sessions so append mode finalizes them
        tick("ALPHA", "2022-04-04 23:00:00", 1.0),
        tick("BETA", "2022-04-04 23:00:00", 1.0),
    ]
    df = spark.createDataFrame(rows, schema=WAREHOUSE_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(root))
    out = tmp_path_factory.mktemp("sess_out")
    q = (
        streaming_sessions(
            stream_ticks(spark, str(root), schema=WAREHOUSE_SCHEMA),
            gap="30 minutes",
            watermark="10 minutes",
        )
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.symbol, str(r.session_start)): (str(r.session_end), r.n_events, r.total_value)
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
    }
    batch = {
        (r.symbol, str(r.session_start)): (str(r.session_end), r.n_events, r.total_value)
        for r in sessionize(spark.read.parquet(str(root)), "30 minutes").collect()
        if not str(r.session_start).startswith("2022-04-04 23:")
    }
    assert streamed == batch
    assert len(streamed) == 3  # ALPHA morning, ALPHA 11:00, BETA 09:30


def test_streaming_hist_sketch_matches_batch(spark, tmp_path_factory):
    """The streaming histogram's finalized quantiles equal the batch
    sketch over the same closed windows, and streaming state is
    counters only (n_bins rows per window/symbol, not values)."""
    from financial_data_ingestion_pipeline_spark.functions.sketches import (
        approx_quantile_hist,
    )
    from financial_data_ingestion_pipeline_spark.streaming.sketch_stream import (
        finalize_hist_quantiles,
        streaming_value_hist,
    )

    root = tmp_path_factory.mktemp("hist_landing")
    rows = []
    for sym in ("ALPHA", "BETA"):
        for i in range(200):
            rows.append(
                tick(sym, f"2022-04-04 09:{i % 60:02d}:{i % 50:02d}", float((i * 13) % 100))
            )
    # watermark flush row far in the future closes the 09:00 window
    rows.append(tick("ALPHA", "2022-04-04 23:00:00", 1.0))
    rows.append(tick("BETA", "2022-04-04 23:00:00", 1.0))
    df = spark.createDataFrame(rows, schema=WAREHOUSE_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(root))

    out = tmp_path_factory.mktemp("hist_out")
    q = (
        streaming_value_hist(
            stream_ticks(spark, str(root), schema=WAREHOUSE_SCHEMA),
            lo=0.0, hi=128.0, n_bins=16, window="1 hour",
            watermark="10 minutes",
        )
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sketch = spark.read.parquet(os.path.join(str(out), "data"))
    # state shape: counters, never raw values
    assert sketch.groupBy("symbol", "window_start").count().agg(
        F.max("count")
    ).first()[0] <= 16
    streamed = finalize_hist_quantiles(
        sketch, [0.5, 0.9], lo=0.0, hi=128.0, n_bins=16
    )
    got = {
        (r.symbol, str(r.window_start), r.q): (r.n, r.est)
        for r in streamed.collect()
    }
    # batch reference on the same closed (09:00) window only
    batch_src = (
        spark.read.parquet(str(root))
        .filter(F.hour("timestamp") == 9)
        .withColumn("symbol", F.col("source_symbol"))
    )
    want = {
        (r.symbol, "2022-04-04 09:00:00", r.q): (r.n, r.est)
        for r in approx_quantile_hist(
            batch_src, ["symbol"], "ltp", [0.5, 0.9], lo=0.0, hi=128.0, n_bins=16
        ).collect()
    }
    assert got == want
    assert len(got) == 4  # 2 symbols x 2 quantiles


def test_funnel_alerts_event_time_timeout(spark, tmp_path_factory):
    """GroupState event-time timeout: a view followed by a click within
    the wait converts; a view with no click emits 'abandoned' when the
    WATERMARK (not wall clock) passes its deadline."""
    import datetime as dt

    from financial_data_ingestion_pipeline_spark.streaming.stateful import (
        funnel_alerts,
    )

    t = lambda h, m, s=0: dt.datetime(2024, 1, 1, h, m, s)  # noqa: E731
    schema = "user_id long, ts timestamp, kind string"
    root = tmp_path_factory.mktemp("funnel_landing")
    # batch 1: A converts inside 5 min; B views and never clicks
    f1 = [(1, t(9, 0), "view"), (1, t(9, 3), "click"), (2, t(9, 0), "view")]
    # batches 2-3: watermark carriers (clicks with no pending view are
    # ignored and hold no state); the second gives the post-watermark
    # batch in which B's timeout fires
    f2 = [(99, t(9, 59), "click")]
    f3 = [(99, t(10, 30), "click")]
    for i, rows in enumerate((f1, f2, f3)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(root))

    out = tmp_path_factory.mktemp("funnel_out")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
        .withWatermark("ts", "10 minutes")
    )
    q = (
        funnel_alerts(src, max_wait_seconds=300)
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.outcome, str(r.view_ts), r.click_ts and str(r.click_ts))
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
    }
    assert got[1] == ("converted", "2024-01-01 09:00:00", "2024-01-01 09:03:00")
    assert got[2] == ("abandoned", "2024-01-01 09:00:00", None)
    assert set(got) == {1, 2}  # watermark carriers never emit


def test_stream_stream_interval_join_matches_batch(spark, tmp_path_factory):
    """Watermarked stream-stream interval join (views -> clicks within
    5 minutes, per user) emits exactly the batch join's pairs, across
    multiple micro-batches."""
    import datetime as dt

    from financial_data_ingestion_pipeline_spark.streaming.join_stream import (
        stream_interval_join,
    )

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 9, m, s)  # noqa: E731
    v_schema = "user_id long, ts timestamp, view_id long"
    c_schema = "user_id long, ts timestamp, click_id long"
    views = [
        (1, t(0), 100), (1, t(20), 101),  # second view: no click in range
        (2, t(0), 200),
        (3, t(5), 300),  # click arrives BEFORE the view -> no match
    ]
    clicks = [
        (1, t(3), 900),          # matches view 100 (within 5 min)
        (1, t(0, 30), 901),      # also matches view 100
        (2, t(6), 902),          # outside 5 min of view 200 -> no match
        (3, t(4), 903),          # before view 300 -> no match
        # watermark flush rows so the 09:0x state closes
        (99, t(59), 998),
    ]
    vroot = tmp_path_factory.mktemp("views")
    croot = tmp_path_factory.mktemp("clicks")
    spark.createDataFrame(views, v_schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(vroot))
    spark.createDataFrame(
        [(99, t(59), 99999)], v_schema  # view-side flush row
    ).coalesce(1).write.mode("append").parquet(str(vroot))
    spark.createDataFrame(clicks, c_schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(croot))

    join_kwargs = dict(
        key_cols=["user_id"], left_ts="ts", right_ts="ts",
        max_delay="5 minutes", watermark="10 minutes",
    )
    out = tmp_path_factory.mktemp("join_out")
    q = (
        stream_interval_join(
            spark.readStream.schema(v_schema).option(
                "maxFilesPerTrigger", 1
            ).parquet(str(vroot)),
            spark.readStream.schema(c_schema).parquet(str(croot)),
            **join_kwargs,
        )
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.l_view_id, r.r_click_id)
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
    }
    batch = stream_interval_join(
        spark.read.parquet(str(vroot)),
        spark.read.parquet(str(croot)),
        **join_kwargs,
    )
    want = {
        (r.user_id, r.l_view_id, r.r_click_id) for r in batch.collect()
    }
    assert got == want
    assert (1, 100, 900) in got and (1, 100, 901) in got
    assert not any(u == 2 or u == 3 for u, _, _ in got)  # out-of-range


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path_factory):
    """leftOuter stream-stream join: unmatched views emit with NULL
    click columns once the watermark closes their match window, and
    matched pairs are identical to the inner join's."""
    import datetime as dt

    from financial_data_ingestion_pipeline_spark.streaming.join_stream import (
        stream_interval_join,
    )

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 9, m, s)  # noqa: E731
    v_schema = "user_id long, ts timestamp, view_id long"
    c_schema = "user_id long, ts timestamp, click_id long"
    views = [(1, t(0), 100), (2, t(1), 200)]  # user 2 never clicks
    clicks = [(1, t(2), 900), (99, t(59), 998)]  # flush row
    vroot = tmp_path_factory.mktemp("lo_views")
    croot = tmp_path_factory.mktemp("lo_clicks")
    spark.createDataFrame(
        views + [(99, t(59), 99999)], v_schema
    ).coalesce(1).write.mode("overwrite").parquet(str(vroot))
    spark.createDataFrame(clicks, c_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(croot))

    out = tmp_path_factory.mktemp("lo_out")
    q = (
        stream_interval_join(
            spark.readStream.schema(v_schema).parquet(str(vroot)),
            spark.readStream.schema(c_schema).parquet(str(croot)),
            key_cols=["user_id"], left_ts="ts", right_ts="ts",
            max_delay="5 minutes", watermark="10 minutes",
            how="leftOuter",
        )
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.l_view_id): r.r_click_id
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
        if r.user_id != 99
    }
    assert got == {(1, 100): 900, (2, 200): None}


def test_streaming_countmin_matches_batch(spark, tmp_path_factory):
    """A closed window's streamed Count-Min counters equal the batch
    sketch over the same rows, and state is depth x width counters."""
    from financial_data_ingestion_pipeline_spark.functions.sketches import (
        countmin_sketch,
    )
    from financial_data_ingestion_pipeline_spark.streaming.sketch_stream import (
        streaming_countmin,
    )

    root = tmp_path_factory.mktemp("cm_landing")
    rows = []
    # zipf-ish symbol stream inside the 09:00 window
    for i in range(300):
        sym = f"SYM{i % (1 + i % 7)}"
        rows.append(tick(sym, f"2022-04-04 09:{i % 60:02d}:{i % 50:02d}", 1.0))
    rows.append(tick("FLUSH", "2022-04-04 23:00:00", 1.0))  # closes 09:00
    df = spark.createDataFrame(rows, schema=WAREHOUSE_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(root))

    out = tmp_path_factory.mktemp("cm_out")
    q = (
        streaming_countmin(
            stream_ticks(spark, str(root), schema=WAREHOUSE_SCHEMA),
            term_col="source_symbol", width=64, depth=3,
            window="1 hour", watermark="10 minutes",
        )
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sketch = spark.read.parquet(os.path.join(str(out), "data"))
    nine = sketch.filter(F.col("window_start") == "2022-04-04 09:00:00")
    assert 0 < nine.count() <= 64 * 3  # bounded counter state
    got = {(r.lane, r.bucket): r.cnt for r in nine.collect()}
    batch = countmin_sketch(
        spark.read.parquet(str(root))
        .filter(F.hour("timestamp") == 9)
        .select(F.col("source_symbol").alias("term")),
        "term", width=64, depth=3,
    )
    want = {(r.lane, r.bucket): r.cnt for r in batch.collect()}
    assert got == want


def test_streaming_novel_docs_matches_batch(spark, tmp_path_factory):
    """Stream-static anti-join dedup-at-ingest: the streamed novelty
    set equals the batch operator's exact_dup=false set."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        dedup_incremental,
    )
    from financial_data_ingestion_pipeline_spark.streaming.dedup_stream import (
        streaming_novel_docs,
    )

    corpus_rows = [(i, f"corpus document number {i} body") for i in range(20)]
    batch_rows = (
        [(100 + i, f"corpus document number {i} body") for i in range(5)]  # dups
        + [(200 + i, f"fresh arrival {i}") for i in range(7)]
    )
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    landing = tmp_path_factory.mktemp("novel_landing")
    spark.createDataFrame(batch_rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(landing))

    out = tmp_path_factory.mktemp("novel_out")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(landing)
    )
    q = (
        streaming_novel_docs(stream, corpus)
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
    }
    batch_novel = {
        r.doc_id
        for r in dedup_incremental(
            spark.read.parquet(str(landing)), corpus
        ).filter(~F.col("exact_dup")).collect()
    }
    assert streamed == batch_novel
    assert streamed == {200 + i for i in range(7)}


def test_streaming_bloom_matches_batch(spark, tmp_path_factory):
    """A closed window's streamed Bloom words equal the batch
    bloom_build over the same rows — so window filters OR-merge with
    batch filters without re-reading any data."""
    from financial_data_ingestion_pipeline_spark.functions.sketches import (
        bloom_build,
    )
    from financial_data_ingestion_pipeline_spark.streaming.sketch_stream import (
        streaming_bloom,
    )

    root = tmp_path_factory.mktemp("bloom_landing")
    rows = []
    for i in range(200):
        rows.append(tick(f"SYM{i % 23}", f"2022-04-04 09:{i % 60:02d}:00", 1.0))
    rows.append(tick("FLUSH", "2022-04-04 23:00:00", 1.0))
    df = spark.createDataFrame(rows, schema=WAREHOUSE_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(str(root))

    out = tmp_path_factory.mktemp("bloom_out")
    q = (
        streaming_bloom(
            stream_ticks(spark, str(root), schema=WAREHOUSE_SCHEMA),
            key_col="source_symbol", m_bits=1 << 12, k_hashes=3,
            window="1 hour", watermark="10 minutes",
        )
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    words = spark.read.parquet(os.path.join(str(out), "data"))
    nine = words.filter(F.col("window_start") == "2022-04-04 09:00:00")
    got = {(r.word, r.bits) for r in nine.collect()}
    batch = bloom_build(
        spark.read.parquet(str(root))
        .filter(F.hour("timestamp") == 9)
        .select(F.col("source_symbol").alias("k")),
        "k", m_bits=1 << 12, k_hashes=3,
    )
    want = {(r.word, r.bits) for r in batch.collect()}
    assert got == want and got


def test_snapshot_stream_restart_is_exactly_once(spark, tmp_path_factory):
    """Re-running the drained query over the same landing dir must add
    NO new commits (the checkpoint already covers the input); new files
    produce exactly one more commit."""
    from financial_data_ingestion_pipeline_spark.operators import warehouse
    from financial_data_ingestion_pipeline_spark.streaming.ohlc_stream import (
        write_snapshot_stream,
    )

    root = tmp_path_factory.mktemp("snap2_landing")
    df1 = spark.createDataFrame(
        [tick("A", "2022-04-04 09:00:00", 1.0)], schema=WAREHOUSE_SCHEMA
    )
    df1.coalesce(1).write.mode("overwrite").parquet(str(root))
    out = tmp_path_factory.mktemp("snap2_out")
    t = os.path.join(str(out), "tbl")
    ckpt = os.path.join(str(out), "ckpt")

    for _ in range(2):  # second drain sees nothing new
        q = write_snapshot_stream(
            stream_ticks(spark, str(root), schema=WAREHOUSE_SCHEMA), t, ckpt
        )
        q.awaitTermination()
    v_after_rerun = warehouse.list_snapshots(t)
    assert warehouse.read_snapshot(spark, t).count() == 1

    df2 = spark.createDataFrame(
        [tick("B", "2022-04-04 10:00:00", 2.0)], schema=WAREHOUSE_SCHEMA
    )
    df2.coalesce(1).write.mode("append").parquet(str(root))
    q = write_snapshot_stream(
        stream_ticks(spark, str(root), schema=WAREHOUSE_SCHEMA), t, ckpt
    )
    q.awaitTermination()
    assert len(warehouse.list_snapshots(t)) == len(v_after_rerun) + 1
    assert warehouse.read_snapshot(spark, t).count() == 2


def test_streaming_ewma_bit_exact_batch_parity(spark, tmp_path_factory):
    """The GroupState EWMA must equal the batch lag-ladder EWMA
    bit-for-bit on every row, across a forced multi-micro-batch run
    (state carries the ladder over the batch boundary)."""
    import datetime as dt

    from financial_data_ingestion_pipeline_spark.operators import analytics
    from financial_data_ingestion_pipeline_spark.streaming.ewma_stream import (
        streaming_ewma,
    )

    base = dt.datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        (sym, base + dt.timedelta(seconds=i), sym_i * 1000 + i,
         float((i * 37 + sym_i * 11) % 100) + 0.25)
        for sym_i, sym in enumerate(("AA", "BB", "CC"))
        for i in range(40)
    ]
    schema = "event_type string, ts timestamp, event_id long, value double"
    root = tmp_path_factory.mktemp("ewma_landing")
    # three chronological files -> per-key order holds across batches
    for lo, hi in ((0, 13), (13, 26), (26, 40)):
        chunk = [r for r in rows if lo <= r[2] % 1000 < hi]
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(root))

    out = tmp_path_factory.mktemp("ewma_out")
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
    )
    q = (
        streaming_ewma(src)
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r.event_id: (r.n_terms, r.ewma)
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
    }
    batch = analytics.ewma_smooth(
        spark.createDataFrame(rows, schema),
        depth=8, symbol_col="event_type", ts_col="ts",
        value_col="value", id_cols=("event_id",),
    )
    want = {r.event_id: (r.n_terms, r.ewma) for r in batch.collect()}
    assert len(got) == 120
    assert got == want  # float equality: parity must be exact, not close


def test_streaming_drift_matches_batch(spark, sf_dir, tmp_path_factory):
    """Incrementally maintained drift partials (3 micro-batches, one
    idempotent batch_id partition each) roll up to EXACTLY the batch
    embedding_drift over the whole corpus — the integer-partial
    associativity contract, end to end through a real file stream."""
    import os

    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        embedding_drift,
    )
    from financial_data_ingestion_pipeline_spark.streaming.drift_stream import (
        drift_report,
        maintain_drift_partials,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    root = tmp_path_factory.mktemp("drift_landing")
    # three disjoint slices as separate files -> three micro-batches
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        (
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(str(root))
        )
    src = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
    )
    out = tmp_path_factory.mktemp("drift_out")
    q = maintain_drift_partials(
        src,
        out_path=os.path.join(str(out), "partials"),
        checkpoint=os.path.join(str(out), "ckpt"),
    )
    q.awaitTermination()
    partials = spark.read.parquet(os.path.join(str(out), "partials"))
    assert partials.select("batch_id").distinct().count() >= 2
    got = {
        r.pos: (r.n_a, r.n_b, r.sum_a, r.sum_b, r.shift_abs_ppm, r.shift_sign)
        for r in drift_report(spark, os.path.join(str(out), "partials")).collect()
    }
    want = {
        r.pos: (r.n_a, r.n_b, r.sum_a, r.sum_b, r.shift_abs_ppm, r.shift_sign)
        for r in embedding_drift(emb).collect()
    }
    assert got == want


def test_streaming_pq_index_matches_batch(spark, sf_dir, tmp_path_factory):
    """A PQ index built incrementally by the stream (3 micro-batches,
    idempotent batch_id partitions) answers queries EXACTLY like the
    in-memory IVF-PQ operator over the full corpus, and probe pruning
    still reaches the scan through the batch_id layer."""
    import os

    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        ivfpq_topk,
        pq_index_topk,
    )
    from financial_data_ingestion_pipeline_spark.streaming.index_stream import (
        maintain_pq_index,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    root = tmp_path_factory.mktemp("pqstream_landing")
    for lo, hi in ((0, 150), (150, 350), (350, 10**9)):
        (
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            .coalesce(1)
            .write.mode("append")
            .parquet(str(root))
        )
    src = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(root))
    )
    out = tmp_path_factory.mktemp("pqstream_out")
    index_path = os.path.join(str(out), "index")
    q = maintain_pq_index(
        src, out_path=index_path,
        checkpoint=os.path.join(str(out), "ckpt"),
    )
    q.awaitTermination()
    index = spark.read.parquet(index_path)
    assert index.select("batch_id").distinct().count() >= 2
    assert index.count() == emb.count()  # every vector indexed exactly once
    qids = list(range(5))
    qvecs = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    ]
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in pq_index_topk(
            spark, index_path, emb, qvecs, k=5, pool=50
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_topk(emb, qids, k=5, pool=50).collect()
    }
    assert got == want


def test_streaming_dsir_scores_match_batch(spark, tmp_path_factory):
    """Stream/batch DSIR parity: scoring an arriving batch with the
    FROZEN fitted table (stateless map-literal fold) produces exactly
    the (n_feats, logw_q) the batch operator computes when the same
    rows are scored against the same fit corpus."""
    from financial_data_ingestion_pipeline_spark.functions.text import (
        dsir_score_table,
        dsir_weights,
    )
    from financial_data_ingestion_pipeline_spark.streaming.dsir_stream import (
        streaming_dsir_scores,
    )

    fit_rows = [
        (i, f"the quick brown fox jumps over dog {i % 4}", f"src{i % 3}")
        for i in range(24)
    ]
    arriving = [
        (100 + i, f"quick brown fox and a totally novel gram {i}", "srcX")
        for i in range(6)
    ] + [(200, None, "srcX"), (201, "", "srcX")]
    fit = spark.createDataFrame(fit_rows, "doc_id long, text string, source string")
    table = dsir_score_table(fit, ("src0",), buckets=128)
    assert table and all(
        isinstance(k, int) and isinstance(v, int) for k, v in table.items()
    )

    landing = tmp_path_factory.mktemp("dsir_landing")
    spark.createDataFrame(
        arriving, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(str(landing))
    out = tmp_path_factory.mktemp("dsir_out")
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).parquet(str(landing))
    q = (
        streaming_dsir_scores(stream, table, buckets=128, threshold_logw=0)
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out), "data"))
        .option("checkpointLocation", os.path.join(str(out), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r.doc_id: (r.n_feats, r.logw_q, r.selected)
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
    }

    # Batch reference: fit corpus + arriving rows scored together would
    # REFIT the distributions; the frozen-table semantics is "score the
    # arrivals against the fit corpus's table", so replay it with the
    # same integer formula single-node.
    import hashlib
    import re

    def doc_buckets(text):
        tk = re.split(r"\s+", text or "")
        gs = (
            [" ".join(tk[i : i + 2]) for i in range(len(tk) - 1)]
            if len(tk) >= 2
            else [" ".join(tk)]
        )
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % 128 for g in gs
        ]

    want = {}
    for doc_id, text, _src in arriving:
        bs = doc_buckets(text)
        logw = sum(table.get(b, 0) for b in bs)
        want[doc_id] = (len(bs), logw, logw >= 0)
    assert streamed == want

    # And the fit corpus scored through the STREAM path must equal the
    # batch operator end-to-end (same fit, same rows).
    fit_landing = tmp_path_factory.mktemp("dsir_fit_landing")
    fit.coalesce(1).write.mode("overwrite").parquet(str(fit_landing))
    fit_stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).parquet(str(fit_landing))
    out2 = tmp_path_factory.mktemp("dsir_out2")
    q2 = (
        streaming_dsir_scores(fit_stream, table, buckets=128)
        .writeStream.format("parquet")
        .option("path", os.path.join(str(out2), "data"))
        .option("checkpointLocation", os.path.join(str(out2), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    streamed_fit = {
        r.doc_id: (r.n_feats, r.logw_q)
        for r in spark.read.parquet(os.path.join(str(out2), "data")).collect()
    }
    batch_fit = {
        r.doc_id: (r.n_feats, r.logw_q)
        for r in dsir_weights(fit, ("src0",), buckets=128).collect()
    }
    assert streamed_fit == batch_fit


def test_streaming_span_probe_and_maintain_loop(spark, tmp_path_factory):
    """The ingest contamination loop: batch 1 is probed against the
    bootstrap corpus index (matches its copied sentence), then its
    anchors are appended so batch 2's copy OF BATCH 1 is caught too —
    probe-before-append, batch-vs-standing semantics day over day."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        build_span_index,
    )
    from financial_data_ingestion_pipeline_spark.streaming.span_stream import (
        probe_and_maintain_span_index,
    )

    corpus_sent = "the original corpus sentence that will be copied"
    batch1_sent = "a brand new sentence first seen in batch one here"
    corpus = spark.createDataFrame(
        [(0, f"corpus doc saying {corpus_sent} and more")],
        "doc_id long, text string",
    )
    index_path = str(tmp_path_factory.mktemp("span_loop_idx"))
    build_span_index(corpus, index_path)

    landing = tmp_path_factory.mktemp("span_loop_landing")
    b1 = spark.createDataFrame(
        [(10, f"arrival quoting {corpus_sent} verbatim"),
         (11, f"also new: {batch1_sent}")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(20, f"later arrival quoting {batch1_sent} from batch one"),
         (21, "wholly original text matching nothing at all here")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(str(landing / "f1"))
    b2.coalesce(1).write.parquet(str(landing / "f2"))

    spans_out = str(tmp_path_factory.mktemp("span_loop_out"))
    q = probe_and_maintain_span_index(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*/"),
        index_path,
        spans_out,
        str(tmp_path_factory.mktemp("span_loop_ckpt")),
    )
    q.awaitTermination()

    got = spark.read.parquet(spans_out).collect()
    contaminated = {r.doc_id for r in got}
    # 10 copies the corpus; 20 copies batch 1 (visible because batch
    # 1's anchors were appended before batch 2 probed); 11 and 21 are
    # clean at probe time
    assert contaminated == {10, 20}


def test_streaming_span_cut_and_maintain_loop(spark, tmp_path_factory):
    """The streaming ingest-with-cut loop: batch 1's verbatim corpus
    quote is cut before its documents land; batch 2's copy of batch
    1's CLEAN text is caught (anchors of the landed text were
    appended), while a copy of the text batch 1 had CUT is NOT caught
    — the index reflects what landed, not what arrived."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        build_span_index,
    )
    from financial_data_ingestion_pipeline_spark.streaming.span_stream import (
        cut_and_maintain_span_index,
    )

    corpus_sent = "the original corpus sentence that will be copied"
    batch1_sent = "a brand new sentence first seen in batch one here"
    corpus = spark.createDataFrame(
        [(0, f"corpus doc saying {corpus_sent} and more")],
        "doc_id long, text string",
    )
    index_path = str(tmp_path_factory.mktemp("span_cut_idx"))
    build_span_index(corpus, index_path)

    landing = tmp_path_factory.mktemp("span_cut_landing")
    b1 = spark.createDataFrame(
        [(10, f"arrival quoting {corpus_sent} verbatim"),
         (11, f"also new: {batch1_sent}")],
        "doc_id long, text string",
    )
    # 20 copies batch 1's surviving text -> caught; 22 copies the
    # sentence batch 1 CUT -> caught only via the CORPUS index (it was
    # there all along), proving the cut text itself never re-anchored
    b2 = spark.createDataFrame(
        [(20, f"later arrival quoting {batch1_sent} from batch one"),
         (21, "wholly original text matching nothing at all here")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(str(landing / "f1"))
    b2.coalesce(1).write.parquet(str(landing / "f2"))

    clean_out = str(tmp_path_factory.mktemp("span_cut_clean"))
    spans_out = str(tmp_path_factory.mktemp("span_cut_spans"))
    q = cut_and_maintain_span_index(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{landing}/*/"),
        index_path,
        clean_out,
        spans_out,
        str(tmp_path_factory.mktemp("span_cut_ckpt")),
    )
    q.awaitTermination()

    clean = {r.doc_id: (r.text, r.n_cut)
             for r in spark.read.parquet(clean_out).collect()}
    assert set(clean) == {10, 11, 20, 21}
    # batch 1: the corpus quote was cut from doc 10; doc 11 untouched
    assert corpus_sent not in clean[10][0] and clean[10][1] == 1
    assert clean[11] == (f"also new: {batch1_sent}", 0)
    # batch 2: doc 20's copy of batch 1's CLEAN text was cut
    assert batch1_sent not in clean[20][0] and clean[20][1] == 1
    assert clean[21][1] == 0

    spans = spark.read.parquet(spans_out)
    assert {r.doc_id for r in spans.collect()} == {10, 20}
    # quarantine partitions are per-batch idempotent landings
    assert {r.batch_id for r in spans.collect()} == {1, 2}
