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
