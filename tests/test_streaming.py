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
