"""Default-tier streaming tests: one availableNow drive of the
dedup -> windowed-OHLC chain, plus stream/batch parity for the sinks
behind ``streaming/sink.py``: the keyed merge (OHLC schema guard), the
``batch_id`` partition writer (span, overlap and winnow indexes) and
the snapshot commit and merge.  The rest of the stream/batch parity
suite is ``test_streaming.py`` (slow tier)."""

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


def test_streaming_upsert_merges_into_snapshot_table(spark, tmp_path_factory):
    """Micro-batched CDC upserts land in the snapshot table with
    last-writer-wins per key, and a batch whose keys touch only one
    directory carries the other directories forward untouched."""
    import datetime as dt

    from pyspark.sql import functions as F

    from financial_data_ingestion_pipeline_spark.operators import warehouse
    from financial_data_ingestion_pipeline_spark.streaming.merge_stream import (
        upsert_stream,
    )

    t = str(tmp_path_factory.mktemp("merge_tbl") / "tbl")
    # seed: two disjoint key ranges in two directories, stats on k
    for lo in (0, 100):
        seed = spark.range(lo, lo + 50).select(
            F.col("id").alias("k"),
            F.lit(dt.datetime(2024, 1, 1)).alias("ts"),
            F.lit(0).cast("long").alias("v"),
        )
        warehouse.snapshot_commit(seed, t, stats_col="k")
    seeded = warehouse._load_manifest(t, None)

    # CDC stream: three chronological batches, keys 100-119 only
    schema = "k long, ts timestamp, v long"
    land = tmp_path_factory.mktemp("merge_landing")
    for b in range(3):
        rows = [
            (100 + i, dt.datetime(2024, 1, 2 + b), b * 100 + i)
            for i in range(20)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(land))

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = upsert_stream(
        src, t, ["k"],
        str(tmp_path_factory.mktemp("merge_ckpt")), stats_col="k",
    )
    q.awaitTermination()

    out = warehouse.read_snapshot(spark, t)
    assert out.count() == 100  # same key set, values upserted
    got = {r.k: r.v for r in out.filter(F.col("k") >= 100).collect()}
    # last batch wins for the touched keys
    assert all(got[100 + i] == 200 + i for i in range(20))
    assert all(got[k] == 0 for k in range(120, 150))  # beyond the batch: untouched
    final = warehouse._load_manifest(t, None)
    # the low-range seed directory was never rewritten
    assert seeded["data_dirs"][0] in final["data_dirs"]
