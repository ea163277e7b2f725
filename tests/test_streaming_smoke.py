"""Default-tier streaming tests: one availableNow drive each of the
dedup -> windowed-OHLC chain and of the arbitrary-state
(``applyInPandasWithState``) operator, plus stream/batch parity for the
sinks behind ``streaming/sink.py``: the keyed merge (current-state
table, OHLC schema guard), the ``batch_id`` partition writer (span,
overlap and winnow indexes) and the snapshot commit.  The rest of the
stream/batch parity suite is ``test_streaming.py`` (slow tier)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from financial_data_ingestion_pipeline_spark.schemas import WAREHOUSE_SCHEMA
from financial_data_ingestion_pipeline_spark.streaming.ohlc_stream import (
    run_ohlc_stream_once,
    stream_ticks,
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


def test_streaming_overlap_index_matches_batch(spark, tmp_path_factory):
    """The stream-maintained overlap postings reproduce the batch
    builder's per-source sets, and the matrix served from the index
    equals the full recompute over the same documents."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        build_overlap_index,
        source_overlap,
        source_overlap_from_index,
    )
    from financial_data_ingestion_pipeline_spark.streaming.overlap_stream import (
        maintain_overlap_index,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "srcA"),
        (1, "beta gamma delta epsilon zeta eta", "srcB"),
        (2, "alpha beta gamma delta epsilon zeta", "srcB"),
        (3, "totally different vocabulary in this one", "srcC"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    landing = tmp_path_factory.mktemp("ovl_landing")
    docs.coalesce(1).write.mode("overwrite").parquet(str(landing))
    streamed_path = tmp_path_factory.mktemp("ovl_idx_stream")
    q = maintain_overlap_index(
        spark.readStream.schema(
            "doc_id long, text string, source string"
        ).parquet(str(landing)),
        str(streamed_path),
        os.path.join(str(streamed_path), "ckpt"),
    )
    q.awaitTermination()

    batch_path = tmp_path_factory.mktemp("ovl_idx_batch")
    build_overlap_index(docs, str(batch_path))

    read_p = lambda p: {  # noqa: E731
        (r.src, r.gram)
        for r in spark.read.parquet(f"{p}/postings").collect()
    }
    assert read_p(str(streamed_path)) == read_p(str(batch_path))

    key = lambda df: {  # noqa: E731
        (r.src_a, r.src_b, r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in df.collect()
    }
    assert key(source_overlap_from_index(spark, str(streamed_path))) == key(
        source_overlap(docs)
    )


def test_streaming_span_index_matches_batch(spark, tmp_path_factory):
    """The stream-maintained ExactSubstr anchor index holds exactly
    the distinct hashes the batch builder writes for the same
    documents, and probing it equals the direct recompute."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        build_span_index,
        span_cross_spans,
        span_probe_index,
    )
    from financial_data_ingestion_pipeline_spark.streaming.span_stream import (
        maintain_span_index,
    )

    boiler = "shared license footer all rights reserved forever"
    corpus_rows = [
        (i, f"document body number {i} with distinct words {boiler}")
        for i in range(8)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    landing = tmp_path_factory.mktemp("span_landing")
    corpus.coalesce(1).write.mode("overwrite").parquet(str(landing))
    streamed_path = tmp_path_factory.mktemp("span_idx_stream")
    q = maintain_span_index(
        spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        ),
        str(streamed_path),
        os.path.join(str(streamed_path), "ckpt"),
    )
    q.awaitTermination()

    batch_path = tmp_path_factory.mktemp("span_idx_batch")
    build_span_index(corpus, str(batch_path))

    read_h = lambda p: {  # noqa: E731
        r.h for r in spark.read.parquet(f"{p}/anchors").collect()
    }
    assert read_h(str(streamed_path)) == read_h(str(batch_path))

    probe = spark.createDataFrame(
        [(100, f"an arrival copying {boiler} and novel remainder"),
         (101, "nothing shared with any corpus document at all")],
        "doc_id long, text string",
    )
    key = lambda df: {  # noqa: E731
        (r.doc_id, r.span_start, r.span_len) for r in df.collect()
    }
    got = key(span_probe_index(probe, spark, str(streamed_path)))
    assert got == key(span_cross_spans(probe, corpus))
    assert {d for d, _s, _l in got} == {100}


def test_streaming_winnow_index_matches_batch(spark, tmp_path_factory):
    """The stream-maintained winnow index holds exactly the posting
    rows the batch builder writes for the same documents, and probing
    it equals the direct batch-side batch x corpus overlap."""
    from financial_data_ingestion_pipeline_spark.functions.text import (
        _winnow_posting,
        build_winnow_index,
        winnow_probe_index,
    )
    from financial_data_ingestion_pipeline_spark.streaming.winnow_stream import (
        maintain_winnow_index,
    )

    corpus_rows = [
        (i, f"shared boilerplate run {i % 3} plus unique tail {i} " * 3)
        for i in range(18)
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    landing = tmp_path_factory.mktemp("winnow_landing")
    corpus.coalesce(1).write.mode("overwrite").parquet(str(landing))
    streamed_path = tmp_path_factory.mktemp("winnow_idx_stream")
    q = maintain_winnow_index(
        spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        ),
        str(streamed_path),
        os.path.join(str(streamed_path), "ckpt"),
    )
    q.awaitTermination()

    batch_path = tmp_path_factory.mktemp("winnow_idx_batch")
    build_winnow_index(corpus, str(batch_path))

    read = lambda p: {  # noqa: E731
        (r.doc, r.fp)
        for r in spark.read.parquet(f"{p}/fingerprints").collect()
    }
    assert read(str(streamed_path)) == read(str(batch_path))

    # Probe parity: a fresh batch (2 near-copies of corpus docs + 1
    # novel) against the streamed index == the direct cross overlap
    # computed from postings, same data-derived cap.
    batch_rows = [
        (100, corpus_rows[0][1]),
        (101, corpus_rows[4][1] + " with a small edit"),
        (102, "entirely novel text with no corpus overlap at all here"),
    ]
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    got = {
        (r.batch_doc, r.corpus_doc): r.n_shared
        for r in winnow_probe_index(
            batch, spark, str(streamed_path)
        ).collect()
    }

    bp = {
        (r.doc, r.fp) for r in _winnow_posting(
            batch, 5, 8, "doc_id", "text"
        ).collect()
    }
    cp = read(str(batch_path))
    n_corpus_docs = len({d for d, _ in cp})
    cap = max(16, min(64, (10 * n_corpus_docs) // 1000))
    from collections import Counter

    df = Counter(fp for _d, fp in cp)
    cp_capped = {(d, fp) for d, fp in cp if df[fp] <= cap}
    want = Counter()
    for bd, fp in bp:
        for cd, cfp in cp_capped:
            if cfp == fp:
                want[(bd, cd)] += 1
    want = {k: v for k, v in want.items() if v >= 3}
    assert got == want
    assert any(k[0] == 100 for k in got), "near-copy must collide"
    assert not any(k[0] == 102 for k in got), "novel doc must not"

    # Indexed probe == recompute form (the dedup_incremental
    # relationship): same rows, corpus fingerprinted in-flight.
    from financial_data_ingestion_pipeline_spark.functions.text import (
        winnow_cross_pairs,
    )

    recompute = {
        (r.batch_doc, r.corpus_doc): r.n_shared
        for r in winnow_cross_pairs(batch, corpus).collect()
    }
    assert recompute == got


def test_streaming_current_state_matches_batch_scd2(spark, tmp_path_factory):
    """Multi-batch streamed current-state table == the batch SCD2
    build's is_current rows — including a LATE update in a later
    micro-batch that must not regress an already-newer key."""
    import datetime as dt

    from financial_data_ingestion_pipeline_spark.operators.analytics import (
        scd2_history,
    )
    from financial_data_ingestion_pipeline_spark.streaming.scd_stream import (
        streaming_current_state,
        write_current_state,
    )

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    schema = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    # file 1: initial values; file 2: one newer update for (price, 7)
    # and one LATE (older-than-file-1) update for (price, 8)
    f1 = [(1, t(9), 7, "price", 10.0), (2, t(10), 8, "price", 20.0)]
    f2 = [(3, t(11), 7, "price", 11.0), (4, t(8), 8, "price", 19.0)]
    root = tmp_path_factory.mktemp("scd_landing")
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(
        str(root)
    )
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(
        str(root)
    )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force >1 micro-batch
        .parquet(str(root))
    )
    out = tmp_path_factory.mktemp("scd_out")
    q = write_current_state(
        streaming_current_state(src),
        out_path=os.path.join(str(out), "data"),
        checkpoint=os.path.join(str(out), "ckpt"),
    )
    q.awaitTermination()
    got = {
        (r.event_type, r.user_id): (r.value, str(r.updated_at))
        for r in spark.read.parquet(os.path.join(str(out), "data")).collect()
    }
    batch = scd2_history(spark.createDataFrame(f1 + f2, schema))
    want = {
        (r.event_type, r.user_id): (r.value, str(r.valid_from))
        for r in batch.filter(F.col("is_current")).collect()
    }
    assert got == want
    assert got[("price", 8)][0] == 20.0  # late row did not regress


def test_snapshot_stream_commits_atomically(spark, tmp_path_factory):
    """Each micro-batch becomes one manifest commit; the latest
    snapshot equals the full input and history is readable."""
    from financial_data_ingestion_pipeline_spark.operators import warehouse
    from financial_data_ingestion_pipeline_spark.streaming.ohlc_stream import (
        write_snapshot_stream,
    )

    root = tmp_path_factory.mktemp("snap_landing")
    rows = [
        tick(f"S{i % 3}", f"2022-04-04 09:{i % 60:02d}:00", 100.0 + i)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, schema=WAREHOUSE_SCHEMA)
    # two files -> availableNow may process them as one or more batches
    df.repartition(2).write.mode("overwrite").parquet(str(root))

    out = tmp_path_factory.mktemp("snap_out")
    t = os.path.join(str(out), "tbl")
    q = write_snapshot_stream(
        stream_ticks(spark, str(root), schema=WAREHOUSE_SCHEMA),
        t,
        os.path.join(str(out), "ckpt"),
    )
    q.awaitTermination()
    versions = warehouse.list_snapshots(t)
    assert versions
    assert warehouse.read_snapshot(spark, t).count() == 30
    # history: earlier versions are strict prefixes of the row count
    counts = [
        warehouse.read_snapshot(spark, t, version=v).count() for v in versions
    ]
    assert counts == sorted(counts)
