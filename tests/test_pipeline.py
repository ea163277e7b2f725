"""End-to-end pipeline test: synthesized NSE-style tick drop (zips of
per-ticker CSVs in STOCK_TICK_DDMMYYYY folders + a bhavcopy EOD file)
-> ingest -> quality -> warehouse -> analytics, mirroring the
reference DAG's inputs/outputs (dp:349-427)."""

from __future__ import annotations

import csv
import glob
import os
import zipfile

import pytest

from financial_data_ingestion_pipeline_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from financial_data_ingestion_pipeline_spark.sources.ingest import (
    extract_zip_files,
    read_zipped_tick_csvs,
)

TICKERS = {"ALPHA": 100.0, "BETA": 50.0, "GAMMA": 200.0}
HEADER = [
    "Ticker", "Date", "Time", "LTP", "BuyPrice", "BuyQty",
    "SellPrice", "SellQty", "LTQ", "OpenInterest",
]


def _tick_rows(ticker: str, base: float, date: str):
    # deterministic intraday path: price ramps 0..9 over ten seconds
    for i in range(10):
        price = base + i if ticker != "GAMMA" else base - i
        yield [
            f"{ticker}.NSE", date, f"09:15:{i:02d}", f"{price}", f"{price - 0.5}",
            "10", f"{price + 0.5}", "12", "5", "1000",
        ]


def _write_day(root: str, ddmmyyyy: str, date_iso: str, dirty: bool) -> str:
    day_dir = os.path.join(root, f"STOCK_TICK_{ddmmyyyy}")
    os.makedirs(day_dir, exist_ok=True)
    for ticker, base in TICKERS.items():
        path = os.path.join(day_dir, f"{ticker}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(HEADER)
            for row in _tick_rows(ticker, base, date_iso):
                w.writerow(row)
            if dirty and ticker == "ALPHA":
                # one unparseable price and one negative qty (dp:138-144)
                w.writerow([f"{ticker}.NSE", date_iso, "09:15:59",
                            "garbage", "1", "10", "2", "12", "5", "1000"])
                w.writerow([f"{ticker}.NSE", date_iso, "09:16:00",
                            "101", "1", "-10", "2", "12", "5", "1000"])
    return day_dir


@pytest.fixture(scope="module")
def tick_drop(tmp_path_factory):
    root = tmp_path_factory.mktemp("tickdrop")
    zips = root / "zips"
    zips.mkdir()
    day_dir = _write_day(str(root / "staging"), "04042022", "2022-04-04", dirty=True)
    zpath = zips / "STOCK_TICK_04042022.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for f in os.listdir(day_dir):
            zf.write(os.path.join(day_dir, f), f"STOCK_TICK_04042022/{f}")
    # bhavcopy golden EOD: correct for ALPHA/BETA, CLOSE off-by-2 for
    # GAMMA, plus one symbol with no tick data at all (dp:149-153)
    bhav = root / "cm04APR2022bhav.csv"
    with open(bhav, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["SYMBOL", "SERIES", "OPEN", "HIGH", "LOW", "CLOSE", "LAST",
                    "PREVCLOSE", "TOTTRDQTY", "TOTTRDVAL", "TIMESTAMP",
                    "TOTALTRADES", "ISIN"])
        w.writerow(["ALPHA", "EQ", 100, 109, 100, 109, 109, 99, 1, 1, "x", 1, "i"])
        w.writerow(["BETA", "EQ", 50, 59, 50, 59, 59, 49, 1, 1, "x", 1, "i"])
        w.writerow(["GAMMA", "EQ", 200, 200, 191, 189, 189, 201, 1, 1, "x", 1, "i"])
        w.writerow(["DELTA", "EQ", 10, 11, 9, 10, 10, 10, 1, 1, "x", 1, "i"])
    return {"root": str(root), "zips": str(zips), "bhavcopy": str(bhav)}


@pytest.fixture(scope="module")
def pipeline_result(spark, tick_drop, tmp_path_factory):
    extracted = os.path.join(tick_drop["root"], "extracted")
    extract_zip_files(tick_drop["zips"], extracted)
    cfg = PipelineConfig(
        tick_root=extracted,
        bhavcopy_csv=tick_drop["bhavcopy"],
        out_dir=str(tmp_path_factory.mktemp("pipeline_out")),
        freq="5minute",
        from_ts="2022-04-04 00:00:00",
        to_ts="2022-04-05 00:00:00",
        symbols=["ALPHA", "GAMMA"],
        price_change_dates=None,
    )
    return cfg, run_pipeline(spark, cfg)


def test_warehouse_contents(spark, pipeline_result):
    cfg, res = pipeline_result
    wh = spark.read.parquet(res["warehouse_path"])
    # 3 tickers x 10 clean rows + 2 dirty rows, suffix stripped, date partition present
    assert wh.count() == 32
    assert set(c for c in wh.columns) >= {
        "source_symbol", "timestamp", "ltp", "bid", "bid_qty", "ask",
        "ask_qty", "ltq", "oi", "trade_date",
    }
    syms = {r.source_symbol for r in wh.select("source_symbol").distinct().collect()}
    assert syms == set(TICKERS)  # .NSE suffix stripped (P1)
    # coercion: 'garbage' price -> NULL (P3)
    assert wh.filter("ltp IS NULL").count() == 1


def test_daily_runs_keep_earlier_days(spark, tmp_path_factory):
    """Each run lands only its own days: a second day into the same
    ``out_dir`` keeps the first (the reference appends, dp:249-250),
    re-running a day replaces just that day, and the quality reports
    cover only the days the run landed.  A tick whose timestamp does
    not parse lands under its folder's day, so a later run keeps it."""
    root = str(tmp_path_factory.mktemp("daily"))
    day1 = _write_day(os.path.join(root, "d1"), "04042022", "2022-04-04", dirty=True)
    day2 = _write_day(os.path.join(root, "d2"), "05042022", "2022-04-05", dirty=False)
    for day in (day1, day2):
        with open(os.path.join(day, "BETA.csv"), "a", newline="") as fh:
            csv.writer(fh).writerow(["BETA.NSE", "not-a-date", "09:15:30",
                                     "50", "49.5", "10", "50.5", "12", "5", "1000"])
    out = os.path.join(root, "out")

    def run(tick_root):
        cfg = PipelineConfig(tick_root=tick_root, bhavcopy_csv=None, out_dir=out)
        res = run_pipeline(spark, cfg)
        wh = spark.read.parquet(res["warehouse_path"])
        days = {str(r.trade_date): r.n for r in wh.groupBy("trade_date").count()
                .withColumnRenamed("count", "n").collect()}
        return days, res["reports"]["invalid_values"].count()

    assert run(day1) == ({"2022-04-04": 33}, 2)
    assert run(day2) == ({"2022-04-04": 33, "2022-04-05": 31}, 0)
    assert run(day1) == ({"2022-04-04": 33, "2022-04-05": 31}, 2)


def test_pipeline_lands_ticks_once(spark, tick_drop, tmp_path_factory):
    """The DAG writes no intermediate cleaned copy, keeps the cleaned
    column names in the invalid-row report, and stays within the job
    budget of landing the ticks once (13 jobs on this fixture; the
    two-landing form took 16)."""
    extracted = os.path.join(tick_drop["root"], "extracted_once")
    extract_zip_files(tick_drop["zips"], extracted)
    cfg = PipelineConfig(
        tick_root=extracted,
        bhavcopy_csv=tick_drop["bhavcopy"],
        out_dir=str(tmp_path_factory.mktemp("once_out")),
    )
    sc = spark.sparkContext
    group = "test-pipeline-lands-ticks-once"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert not os.path.exists(os.path.join(cfg.out_dir, "cleaned_parquet"))
    (csv_path,) = glob.glob(os.path.join(cfg.out_dir, "reports", "invalid_values", "*.csv"))
    with open(csv_path, newline="") as fh:
        header = next(csv.reader(fh))
    assert header == [
        "Ticker", "Timestamp", "LTP", "BuyPrice", "BuyQty", "SellPrice",
        "SellQty", "LTQ", "OpenInterest", "trade_date",
    ]
    assert n_jobs <= 13, n_jobs


def test_quality_reports(spark, pipeline_result):
    cfg, res = pipeline_result
    inv = res["reports"]["invalid_values"]
    assert inv.count() == 2  # NULL price row + negative qty row
    missing = res["reports"]["missing_tickers"]
    assert [r.SYMBOL for r in missing.collect()] == ["DELTA"]
    recon = {r.symbol: r for r in res["reports"]["ohlc_reconciliation"].collect()}
    assert set(recon) == set(TICKERS)
    assert recon["ALPHA"].open_diff == 0.0
    # ALPHA close: dirty row at 09:16:00 with price 101 is the true last tick
    assert recon["ALPHA"].close == 101.0
    assert recon["GAMMA"].close_diff == pytest.approx(2.0)  # golden CLOSE off by 2
    # report CSVs landed (S6)
    for name in ("invalid_values", "missing_tickers", "ohlc_reconciliation"):
        assert glob.glob(os.path.join(cfg.out_dir, "reports", name, "*.csv"))


def test_analytics_outputs(spark, pipeline_result):
    cfg, res = pipeline_result
    hourly = spark.read.parquet(os.path.join(cfg.out_dir, "hourly_ohlc"))
    rows = {r.symbol: r for r in hourly.collect()}
    assert rows["BETA"].open == 50.0 and rows["BETA"].close == 59.0
    assert rows["GAMMA"].low == 191.0 and rows["GAMMA"].high == 200.0
    # parametrized aggregation honored symbols filter (Q6 fixed)
    agg = res["outputs"]["aggregated"]
    agg_syms = {r.symbol for r in agg.select("symbol").distinct().collect()}
    assert agg_syms == {"ALPHA", "GAMMA"}
    assert glob.glob(os.path.join(cfg.out_dir, "aggregated_ticks", "*.csv"))


def test_distributed_zip_ingest(spark, tick_drop):
    df = read_zipped_tick_csvs(spark, os.path.join(tick_drop["zips"], "*.zip"))
    rows = df.collect()
    assert len(rows) == 32
    assert all(str(r.trade_date) == "2022-04-04" for r in rows)
    assert {r.Ticker.split(".")[0] for r in rows} == set(TICKERS)
    assert all(r.source_file.endswith(".csv") for r in rows)


def test_distributed_zip_ingest_skips_empty_members(spark, tmp_path_factory):
    """A zero-byte (or garbled) CSV inside one archive must not fail the
    task — bad members are skipped, good members still land."""
    root = tmp_path_factory.mktemp("badzip")
    day_dir = _write_day(str(root / "staging"), "05042022", "2022-04-05", dirty=False)
    zpath = root / "STOCK_TICK_05042022.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for f in os.listdir(day_dir):
            zf.write(os.path.join(day_dir, f), f"STOCK_TICK_05042022/{f}")
        zf.writestr("STOCK_TICK_05042022/EMPTY.csv", "")
    df = read_zipped_tick_csvs(spark, str(zpath))
    rows = df.collect()
    assert len(rows) == 30  # 3 tickers x 10 clean rows; empty member skipped
    assert {r.Ticker.split(".")[0] for r in rows} == set(TICKERS)


def test_price_change_query(spark, tick_drop, tmp_path_factory):
    """Two-day warehouse -> the flagship dp:261-281 query via the pipeline."""
    staging = os.path.join(tick_drop["root"], "staging2")
    _write_day(staging, "04042022", "2022-04-04", dirty=False)
    _write_day(staging, "05042022", "2022-04-05", dirty=False)
    # shift day-2 prices up 5% for ALPHA only, by rewriting its CSV
    path = os.path.join(staging, "STOCK_TICK_05042022", "ALPHA.csv")
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh))
    for r in rows[1:]:
        r[3] = str(float(r[3]) * 1.20)
    with open(path, "w", newline="") as fh:
        csv.writer(fh).writerows(rows)

    cfg = PipelineConfig(
        tick_root=staging,
        bhavcopy_csv=None,
        out_dir=str(tmp_path_factory.mktemp("pc_out")),
        price_change_dates=("2022-04-04", "2022-04-05"),
        min_pct_change=3.0,
    )
    res = run_pipeline(spark, cfg)
    pc = {r.symbol: r for r in res["outputs"]["price_change"].collect()}
    # only ALPHA moved >3% between the two days (max price 109 -> 130.8)
    assert set(pc) == {"ALPHA"}
    assert pc["ALPHA"].pct_change == pytest.approx(20.0)


class TestJsonlSource:
    def test_quarantine_roundtrip(self, spark, tmp_path):
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        from financial_data_ingestion_pipeline_spark.sources import jsonl

        src = tmp_path / "corpus.jsonl"
        src.write_text(
            '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
            '{"doc_id": 2, "text": "guten tag", "lang": "de"}\n'
            'this line is not json at all\n'
            '{"doc_id": 4, "text": "bonjour", "lang": "fr"}\n'
        )
        schema = StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ])
        df = jsonl.read_jsonl(spark, str(src), schema)
        good, bad = jsonl.quarantine_split(df)
        assert good.count() == 3
        assert sorted(r.doc_id for r in good.collect()) == [1, 2, 4]
        dead = bad.collect()
        assert len(dead) == 1
        assert "not json" in dead[0][0]

    def test_partitioned_write_rereads(self, spark, tmp_path):
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        from financial_data_ingestion_pipeline_spark.sources import jsonl

        schema = StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ])
        df = spark.createDataFrame(
            [(1, "a", "en"), (2, "b", "en"), (3, "c", "de")], schema
        )
        out = str(tmp_path / "out")
        jsonl.write_jsonl(df, out, partition_by=("lang",))
        back = spark.read.schema(schema).json(out)
        assert back.count() == 3
        # hive partitioning materialized: lang=… directories exist and
        # a partition predicate prunes to one directory's rows
        assert back.filter("lang = 'de'").count() == 1


class TestCorpusPipeline:
    # slow tier: full corpus build twice for determinism (~230 s)
    @pytest.mark.slow
    def test_end_to_end_deterministic(self, spark, sf_dir, tmp_path):
        from financial_data_ingestion_pipeline_spark.plans.corpus_pipeline import (
            run_corpus_pipeline,
        )
        from financial_data_ingestion_pipeline_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents")
        out1 = str(tmp_path / "run1")
        counts = run_corpus_pipeline(spark, docs, out1, min_tokens=5)
        # monotone survivorship through the gates
        assert counts["raw"] >= counts["quality"] >= counts["language"]
        assert counts["language"] >= counts["exact_dedup"] >= counts["near_dedup"]
        assert counts["near_dedup"] >= counts["domain_cap"] == counts["written"]
        assert counts["written"] > 0

        corpus = spark.read.parquet(out1 + "/corpus")
        # split partitioning materialized; every row has a position+shard
        assert set(r.split for r in corpus.select("split").distinct().collect()) <= {
            "train", "val", "test"
        }
        assert corpus.filter("global_pos IS NULL OR shard IS NULL").count() == 0
        # global positions are a permutation of 0..n-1
        n = corpus.count()
        from pyspark.sql import functions as F
        assert corpus.agg(F.min("global_pos"), F.max("global_pos")).first() == (
            0, n - 1,
        )
        assert corpus.select("global_pos").distinct().count() == n

        # re-run reproduces the identical corpus (reproducible data release)
        out2 = str(tmp_path / "run2")
        run_corpus_pipeline(spark, docs, out2, min_tokens=5)
        c2 = spark.read.parquet(out2 + "/corpus")
        assert c2.exceptAll(corpus).count() == 0
        assert corpus.exceptAll(c2).count() == 0

        # stage report written
        import glob
        files = glob.glob(out1 + "/reports/stage_counts/*.csv")
        assert files


def test_zipped_jsonl_distributed_ingest(spark, tmp_path):
    import io
    import zipfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from financial_data_ingestion_pipeline_spark.sources import jsonl

    zdir = tmp_path / "dumps"
    zdir.mkdir()
    for z in range(2):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr(
                f"shard{z}.jsonl",
                f'{{"doc_id": {z * 10 + 1}, "text": "aa"}}\n'
                "garbage line\n"
                f'{{"doc_id": {z * 10 + 2}, "text": "bb"}}\n',
            )
            zf.writestr("ignore.txt", "not jsonl")
        (zdir / f"dump{z}.zip").write_bytes(buf.getvalue())

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = jsonl.read_zipped_jsonl(spark, str(zdir / "*.zip"), schema)
    good, bad = jsonl.quarantine_split(df.drop("source_file"))
    assert good.count() == 4
    assert bad.count() == 2
    assert sorted(r.doc_id for r in good.collect()) == [1, 2, 11, 12]
    # provenance column present and member-qualified
    src = df.select("source_file").first()[0]
    assert ".zip!shard" in src


class TestSnapshotTable:
    def test_commit_append_overwrite_time_travel(self, spark, tmp_path):
        from financial_data_ingestion_pipeline_spark.operators import warehouse

        t = str(tmp_path / "tbl")
        d1 = spark.range(0, 5).withColumnRenamed("id", "k")
        d2 = spark.range(5, 8).withColumnRenamed("id", "k")
        v0 = warehouse.snapshot_commit(d1, t)
        v1 = warehouse.snapshot_commit(d2, t, mode="append")
        assert (v0, v1) == (0, 1)
        assert warehouse.read_snapshot(spark, t).count() == 8
        # time travel: version 0 still sees only the first commit
        assert warehouse.read_snapshot(spark, t, version=0).count() == 5
        # logical overwrite: new version replaces, old stays readable
        d3 = spark.range(100, 102).withColumnRenamed("id", "k")
        v2 = warehouse.snapshot_commit(d3, t, mode="overwrite")
        assert v2 == 2
        assert warehouse.read_snapshot(spark, t).count() == 2
        assert warehouse.read_snapshot(spark, t, version=1).count() == 8
        assert warehouse.list_snapshots(t) == [0, 1, 2]

    def test_failed_write_leaves_table_unchanged(self, spark, tmp_path):
        from financial_data_ingestion_pipeline_spark.operators import warehouse

        t = str(tmp_path / "tbl")
        warehouse.snapshot_commit(
            spark.range(0, 3).withColumnRenamed("id", "k"), t
        )
        # a job that dies before the manifest rename: orphan data dir only
        import os
        orphan = os.path.join(t, "data", "999999999999-deadbeef")
        spark.range(50, 60).write.parquet(orphan)
        assert warehouse.read_snapshot(spark, t).count() == 3
        assert warehouse.list_snapshots(t) == [0]


def test_vacuum_removes_only_unreferenced(spark, tmp_path):
    import os

    from financial_data_ingestion_pipeline_spark.operators import warehouse

    t = str(tmp_path / "tbl")
    warehouse.snapshot_commit(spark.range(0, 3).withColumnRenamed("id", "k"), t)
    warehouse.snapshot_commit(
        spark.range(3, 5).withColumnRenamed("id", "k"), t, mode="append"
    )
    warehouse.snapshot_commit(
        spark.range(9, 10).withColumnRenamed("id", "k"), t, mode="overwrite"
    )
    # orphan from a failed job
    spark.range(77, 79).write.parquet(os.path.join(t, "data", "zz-orphan"))
    removed = warehouse.vacuum_snapshots(t, keep_last=1)
    # versions 0-1's dirs + orphan gone; latest still reads fine
    assert any("zz-orphan" in r for r in removed)
    assert len(removed) == 3
    assert warehouse.read_snapshot(spark, t).count() == 1
    assert warehouse.list_snapshots(t) == [2]


def test_snapshot_rejects_bad_mode_and_keep_last(spark, tmp_path):
    """A misspelled commit mode must fail before writing (falling
    through to an overwrite would hide every earlier row from readers
    of the latest version), and vacuum with keep_last < 1 must fail
    instead of silently keeping everything."""
    import os

    from financial_data_ingestion_pipeline_spark.operators import warehouse

    t = str(tmp_path / "tbl")
    warehouse.snapshot_commit(spark.range(0, 3).withColumnRenamed("id", "k"), t)
    with pytest.raises(ValueError, match="mode"):
        warehouse.snapshot_commit(
            spark.range(3, 5).withColumnRenamed("id", "k"), t, mode="apend"
        )
    assert warehouse.list_snapshots(t) == [0]
    assert len(os.listdir(os.path.join(t, "data"))) == 1
    assert warehouse.read_snapshot(spark, t).count() == 3
    with pytest.raises(ValueError, match="keep_last"):
        warehouse.vacuum_snapshots(t, keep_last=0)
    assert warehouse.list_snapshots(t) == [0]


def test_snapshot_rejects_uri_table_dir(spark, tmp_path, monkeypatch):
    """Manifests are listed, written and linked with local os calls, so
    a table_dir with a URI scheme must fail before any Spark job;
    otherwise the data lands in the store while the manifests land in
    a relative local directory named after the URI."""
    from financial_data_ingestion_pipeline_spark.operators import warehouse

    monkeypatch.chdir(tmp_path)  # any stray relative manifest dir stays here
    df = spark.range(0, 3).withColumnRenamed("id", "k")
    local = tmp_path / "tbl"
    with pytest.raises(ValueError, match="local filesystem path"):
        warehouse.snapshot_commit(df, f"file://{local}")
    assert not local.exists()
    for uri in ("s3a://bucket/tbl", f"file://{local}"):
        with pytest.raises(ValueError, match="local filesystem path"):
            warehouse.read_snapshot(spark, uri)


@pytest.mark.slow  # slow tier: two-batch e2e ingest (~16 s)
def test_incremental_ingest_rejects_known_and_appends(spark, sf_dir, tmp_path):
    """Bootstrap an index from the corpus, then ingest a batch that is
    half exact-duplicates of corpus docs and half genuinely new: dups
    are rejected, survivors land as a new snapshot version, and a
    SECOND ingest of the same new docs is fully rejected (the index
    learned them)."""
    from pyspark.sql import functions as F

    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        build_dedup_index,
    )
    from financial_data_ingestion_pipeline_spark.operators import warehouse
    from financial_data_ingestion_pipeline_spark.plans.corpus_pipeline import (
        run_incremental_ingest,
    )
    from financial_data_ingestion_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus_tbl = str(tmp_path / "corpus_tbl")
    index = str(tmp_path / "index")
    warehouse.snapshot_commit(docs, corpus_tbl)
    build_dedup_index(docs, index)

    dups = docs.limit(5).select(
        (F.col("doc_id") + 900_000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    fresh = spark.createDataFrame(
        [
            (800_000 + i,
             f"entirely new document number {i} with plenty of fresh and "
             f"distinctive tokens to pass the quality gate {i}",
             "en", "inj", 100)
            for i in range(4)
        ],
        docs.schema,
    )
    batch = dups.unionByName(fresh)
    counts = run_incremental_ingest(spark, batch, corpus_tbl, index)
    assert counts["batch"] == 9
    assert counts["unique"] == 4  # the 5 dups rejected
    assert counts["appended_version"] == 1
    n_docs = docs.count()
    assert warehouse.read_snapshot(spark, corpus_tbl).count() == n_docs + 4

    # same fresh docs again (new ids): index now knows their content
    again = fresh.select(
        (F.col("doc_id") + 50).alias("doc_id"), "text", "lang", "source",
        "n_chars",
    )
    counts2 = run_incremental_ingest(spark, again, corpus_tbl, index)
    assert counts2["unique"] == 0
    assert warehouse.read_snapshot(spark, corpus_tbl).count() == n_docs + 4


def test_jsonl_dropmalformed_and_gzip(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from financial_data_ingestion_pipeline_spark.sources import jsonl

    src = tmp_path / "c.jsonl"
    src.write_text('{"doc_id": 1, "text": "a"}\nnot json\n{"doc_id": 2, "text": "b"}\n')
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = jsonl.read_jsonl(spark, str(src), schema, quarantine=False)
    assert sorted(r.doc_id for r in df.collect()) == [1, 2]

    out = str(tmp_path / "gz")
    jsonl.write_jsonl(df, out)
    import glob
    assert glob.glob(out + "/*.json.gz"), "gzip shards expected"
    back = spark.read.schema(schema).json(out)
    assert back.count() == 2


class TestZOrderLayout:
    def test_buckets_are_rectangles_partitioning_rows(self, spark, sf_dir):
        """Top-4 z bits pin the 2 high bits of EACH scaled dimension, so
        every bucket must cover at most a 64x64 cell of the 256x256
        grid — the both-dimensions locality one-column sorting lacks —
        and the buckets must partition the rows exactly."""
        from financial_data_ingestion_pipeline_spark.operators import warehouse

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_partkey", "l_suppkey"
        )
        rows = warehouse.zorder_stats(
            li, "l_partkey", "l_suppkey", bits=8, bucket_bits=4
        ).collect()
        assert 0 < len(rows) <= 16
        assert all(r.x_grid_span <= 64 and r.y_grid_span <= 64 for r in rows)
        assert sum(r.n_rows for r in rows) == li.count()

    def test_zorder_write_clusters_files_in_both_dims(self, spark, tmp_path):
        """The clustered write must preserve rows exactly AND every
        output file must span at most ~a quarter of each dimension's
        range (16 z-range tasks -> 2 pinned high bits per dim), which
        is what makes parquet footer min/max prune on either column."""
        from pyspark.sql import functions as F

        from financial_data_ingestion_pipeline_spark.operators import warehouse

        df = spark.range(0, 4096).select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
        out = str(tmp_path / "zorder")
        warehouse.zorder_write(
            df, out, "x", "y", x_range=(0, 63), y_range=(0, 63), n_files=16
        )
        back = spark.read.parquet(out)
        assert back.count() == 4096
        assert back.select(F.sum("x"), F.sum("y")).first() == df.select(
            F.sum("x"), F.sum("y")
        ).first()
        spans = (
            back.groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("x") - F.min("x")).alias("xs"),
                (F.max("y") - F.min("y")).alias("ys"),
            )
            .collect()
        )
        assert len(spans) > 1
        assert all(r.xs <= 16 and r.ys <= 16 for r in spans)


@pytest.mark.slow  # slow tier: python-datasource stream/batch drives (~15 s)
class TestTickGenDataSource:
    def test_batch_read_parallel_and_deterministic(self, spark):
        """One input partition per symbol; two reads with the same seed
        are identical, a different seed diverges."""
        from financial_data_ingestion_pipeline_spark.sources.tickgen import (
            TickGenDataSource,
        )

        spark.dataSource.register(TickGenDataSource)
        rd = (
            spark.read.format("tickgen")
            .option("symbols", "ALPHA,BETA,GAMMA")
            .option("ticks_per_symbol", 50)
        )
        df = rd.load()
        assert df.count() == 150
        assert df.rdd.getNumPartitions() == 3
        a = sorted(map(tuple, df.collect()))
        b = sorted(map(tuple, rd.load().collect()))
        assert a == b
        c = sorted(map(tuple, rd.option("seed", "other").load().collect()))
        assert a != c
        # generated rows feed the normal engine surface
        from pyspark.sql import functions as F
        per_sym = {
            r.symbol: r.n
            for r in df.groupBy("symbol").agg(F.count("*").alias("n")).collect()
        }
        assert per_sym == {"ALPHA": 50, "BETA": 50, "GAMMA": 50}

    def test_stream_read_advances_offsets(self, spark, tmp_path):
        """The streaming reader emits ticks_per_batch new ticks per
        symbol per micro-batch with exactly-once offsets."""
        import os

        from financial_data_ingestion_pipeline_spark.sources.tickgen import (
            TickGenDataSource,
        )

        spark.dataSource.register(TickGenDataSource)
        src = (
            spark.readStream.format("tickgen")
            .option("symbols", "ALPHA,BETA")
            .option("ticks_per_batch", 5)
            .option("max_ticks", 12)
            .load()
        )
        out = str(tmp_path / "out")

        def run_once():
            q = (
                src.writeStream.format("parquet")
                .option("path", os.path.join(out, "data"))
                .option("checkpointLocation", os.path.join(out, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(os.path.join(out, "data")).count()

        # each restart resumes from the committed offset: 5-tick
        # batches per symbol until the 12-tick cap, then no-ops
        assert run_once() == 10
        assert run_once() == 20
        assert run_once() == 24
        assert run_once() == 24
        got = spark.read.parquet(os.path.join(out, "data"))
        assert got.dropDuplicates(["symbol", "ts"]).count() == 24


def test_snapshot_schema_evolution(spark, tmp_path):
    """A column added by a later commit must surface across the whole
    table (NULL in older directories), and old versions keep their
    original schema."""
    from pyspark.sql import functions as F

    from financial_data_ingestion_pipeline_spark.operators import warehouse

    t = str(tmp_path / "tbl")
    warehouse.snapshot_commit(
        spark.range(0, 5).select(F.col("id").alias("k")), t
    )
    warehouse.snapshot_commit(
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        ),
        t,
    )
    out = warehouse.read_snapshot(spark, t)
    assert set(out.columns) == {"k", "tag"}
    assert out.filter(F.col("tag").isNull()).count() == 5
    assert out.filter(F.col("tag") == "x").count() == 3
    assert set(warehouse.read_snapshot(spark, t, version=0).columns) == {"k"}


def test_snapshot_concurrent_commit_conflict(spark, tmp_path):
    """Two writers racing to the same version: the first commit wins,
    the second gets a clean ConcurrentCommitError (rename() semantics
    would silently overwrite the winner), and a retry lands on the
    next version with both commits' data preserved."""
    from pyspark.sql import functions as F

    from financial_data_ingestion_pipeline_spark.operators import warehouse

    t = str(tmp_path / "tbl")
    warehouse.snapshot_commit(
        spark.range(0, 5).select(F.col("id").alias("k")), t
    )
    # simulate the race: writer B computed version 1's manifest while
    # writer A committed version 1 first
    warehouse.snapshot_commit(
        spark.range(5, 10).select(F.col("id").alias("k")), t
    )
    import pytest as _pytest

    with _pytest.raises(warehouse.ConcurrentCommitError):
        warehouse._write_manifest(t, 1, ["data/bogus"])
    # winner's state intact; loser retries against the new latest
    assert warehouse.read_snapshot(spark, t).count() == 10
    v = warehouse.snapshot_commit(
        spark.range(10, 12).select(F.col("id").alias("k")), t
    )
    assert v == 2
    assert warehouse.read_snapshot(spark, t).count() == 12


def test_load_table_memoizes_per_context(spark):
    """The fixture loader is a catalog: one footer read per (session,
    dir, table), after which the SAME immutable lazy plan is returned
    (re-reading parquet metadata cost ~86 ms per call — ~30 s across a
    148-query run).  Distinct dirs and tables still resolve distinct
    plans, and the cache key carries the applicationId so a new
    context can never be served plans bound to a dead one."""
    from financial_data_ingestion_pipeline_spark.sources import fixtures

    sf = "/root/testdata/sf0.001"
    a = fixtures.load_table(spark, sf, "nation")
    b = fixtures.load_table(spark, sf, "nation")
    assert a is b
    assert fixtures.load_table(spark, sf, "region") is not a
    assert (
        fixtures.load_table(spark, "/root/testdata/sf0.01", "nation")
        is not a
    )
    app_id = spark.sparkContext.applicationId
    assert all(k[0] == app_id for k in fixtures._TABLE_CACHE)
    # the cached plan is live and queryable
    assert a.count() == b.count() > 0


def test_ensure_runtime_conf_idempotent_and_effective(spark):
    """ensure_runtime_conf applies the engine confs on first call for
    a context and is a no-op afterwards (it runs on EVERY table load;
    each conf.set is a py4j round-trip)."""
    from financial_data_ingestion_pipeline_spark import session as S

    S.ensure_runtime_conf(spark)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert spark.sparkContext.applicationId in S._CONF_ENSURED
    # flip one conf behind the memo's back: a second call must NOT
    # re-apply (once-per-context contract) ...
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    S.ensure_runtime_conf(spark)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    # ... and a fresh-context simulation re-applies
    S._CONF_ENSURED.discard(spark.sparkContext.applicationId)
    S.ensure_runtime_conf(spark)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_get_spark_leaves_import_paths_alone(spark):
    """Building the session must not put a repo ``vendor`` directory on
    the driver's ``sys.path`` or on the ``PYTHONPATH`` that every
    Python worker inherits."""
    import sys

    vendor = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor"
    )
    pythonpath = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    assert vendor not in sys.path
    assert vendor not in pythonpath


class TestSpanPipelineWiring:
    # slow tier: full corpus build with the span stage on (~180 s)
    @pytest.mark.slow
    def test_corpus_pipeline_span_cut_stage(self, spark, tmp_path):
        """The span-cut stage is part of the standard corpus build
        (Lee et al. 2022 placement: after near-dedup, before caps):
        two docs sharing a verbatim sentence — not near-dups, their
        remaining text differs — come out with ONE surviving copy
        (keep_first) and the report carries the stage."""
        from financial_data_ingestion_pipeline_spark.plans.corpus_pipeline import (
            run_corpus_pipeline,
        )

        shared = "this exact sentence is repeated verbatim across documents"
        docs = spark.createDataFrame(
            [
                (1, f"the first document talks about apples and then says "
                    f"{shared} before moving on to oranges and pears",
                 "en", "a", 100),
                (2, f"a second unrelated text on sailing ships that quotes "
                    f"{shared} and continues about rigging and knots",
                 "en", "b", 100),
                (3, "a third clean document with no repeated content at "
                    "all about gardening and soil quality",
                 "en", "c", 100),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = str(tmp_path / "out")
        counts = run_corpus_pipeline(spark, docs, out, min_tokens=5)
        assert counts["span_cut_docs_modified"] == 1  # doc 2 only
        corpus = {r.doc_id: r.text
                  for r in spark.read.parquet(out + "/corpus").collect()}
        assert shared in corpus[1]          # canonical survivor
        assert shared not in corpus[2]      # cut
        assert counts["near_dedup"] == 3    # not whole-doc near-dups
        # policy + disable knobs
        out2 = str(tmp_path / "out2")
        c2 = run_corpus_pipeline(spark, docs, out2, min_tokens=5,
                                 span_policy="all")
        corpus2 = {r.doc_id: r.text
                   for r in spark.read.parquet(out2 + "/corpus").collect()}
        assert shared not in corpus2[1] and shared not in corpus2[2]
        assert c2["span_cut_docs_modified"] == 2
        out3 = str(tmp_path / "out3")
        c3 = run_corpus_pipeline(spark, docs, out3, min_tokens=5,
                                 span_min_len=None)
        assert "span_cut_docs_modified" not in c3
        corpus3 = {r.doc_id: r.text
                   for r in spark.read.parquet(out3 + "/corpus").collect()}
        assert shared in corpus3[1] and shared in corpus3[2]

    # slow tier: three-batch contamination loop (~33 s)
    @pytest.mark.slow
    def test_incremental_ingest_span_contamination_loop(self, spark, tmp_path):
        """The full batch contamination loop (probe -> quarantine ->
        cut -> commit -> anchor append) across three days, plus the
        byte-reproducibility contract: replaying the same day sequence
        into fresh dirs reproduces corpus AND quarantine row-for-row."""
        from financial_data_ingestion_pipeline_spark.functions import dedup
        from financial_data_ingestion_pipeline_spark.operators import warehouse
        from financial_data_ingestion_pipeline_spark.plans.corpus_pipeline import (
            run_incremental_ingest,
        )

        schema = "doc_id long, text string, lang string, source string, n_chars long"
        s1 = "the quick brown fox jumps over the lazy dog repeatedly"
        day1 = spark.createDataFrame(
            [(1, f"an original article where {s1} concludes the story "
                 "with plenty of other distinctive tokens", "en", "a", 90),
             (2, "a perfectly ordinary second document about the weather "
                 "in the mountains during spring", "en", "a", 80)],
            schema,
        )
        s2_prefix = "today we report fresh news with many new tokens and"
        day2 = spark.createDataFrame(
            [(10, f"{s2_prefix} then quotes {s1} in the middle of the "
                  "piece before wrapping up", "en", "b", 95),
             (11, "an uncontaminated report on harvest yields with its "
                  "own distinctive vocabulary and phrasing", "en", "b", 85)],
            schema,
        )

        seed = spark.createDataFrame(
            [(0, "a seed corpus document that simply exists to bootstrap "
                 "the content index with one entry", "en", "seed", 70)],
            schema,
        )

        def run_days(tag):
            corpus_tbl = str(tmp_path / f"corpus_{tag}")
            index = str(tmp_path / f"index_{tag}")
            span_index = str(tmp_path / f"span_{tag}")
            warehouse.snapshot_commit(seed, corpus_tbl)
            dedup.build_dedup_index(seed, index)
            c1 = run_incremental_ingest(
                spark, day1, corpus_tbl, index, span_index_dir=span_index)
            c2 = run_incremental_ingest(
                spark, day2, corpus_tbl, index, span_index_dir=span_index)
            return corpus_tbl, span_index, c1, c2

        corpus_tbl, span_index, c1, c2 = run_days("a")

        # day 1: bootstrap — nothing to probe, anchors land as batch 0
        assert c1["span_batch_id"] == 0
        assert c1["span_contaminated_docs"] == 0
        assert c1["unique"] == 2
        # day 2: doc 10's verbatim quote detected, quarantined, cut
        assert c2["span_batch_id"] == 1
        assert c2["span_contaminated_docs"] == 1
        committed = {r.doc_id: r.text
                     for r in warehouse.read_snapshot(spark, corpus_tbl)
                     .filter("doc_id >= 10").collect()}
        assert s1 not in committed[10]          # contamination cut
        assert s2_prefix in committed[10]       # the rest survived
        assert "harvest yields" in committed[11]
        q = spark.read.parquet(span_index + "/quarantine")
        assert q.filter("batch_id = 1").count() >= 1
        assert set(r.doc_id for r in q.collect()) == {10}

        # day 3: a copy of DAY-2 committed text is caught -> the
        # anchor append after day 2 worked
        day3 = spark.createDataFrame(
            [(20, "entirely different framing here yet it copies "
                  f"{committed[11]} word for word today", "en", "c", 99)],
            schema,
        )
        c3 = run_incremental_ingest(
            spark, day3, corpus_tbl,
            str(tmp_path / "index_a"), span_index_dir=span_index)
        assert c3["span_batch_id"] == 2
        assert c3["span_contaminated_docs"] == 1

        # byte-reproducibility: the same two-day sequence into fresh
        # dirs reproduces corpus and quarantine row-for-row
        corpus_b, span_b, _, _ = run_days("b")
        rows_a = sorted(map(tuple, warehouse.read_snapshot(
            spark, corpus_tbl).filter("doc_id < 20").collect()))
        rows_b = sorted(map(tuple, warehouse.read_snapshot(
            spark, corpus_b).collect()))
        assert rows_a == rows_b
        qa = sorted(map(tuple, spark.read.parquet(
            span_index + "/quarantine").filter("batch_id <= 1").collect()))
        qb = sorted(map(tuple, spark.read.parquet(
            span_b + "/quarantine").collect()))
        assert qa == qb

    @pytest.mark.slow  # slow tier: e2e ingest resource check (~12 s)
    def test_incremental_ingest_releases_checkpoint_blocks(
            self, spark, tmp_path):
        """Span-loop regime pins survivors via localCheckpoint — whose
        blocks DataFrame.unpersist cannot free.  The batch boundary
        must release them explicitly (Pinned.release), or a long-lived
        daily-ingest session accumulates checkpoint blocks per batch."""
        from financial_data_ingestion_pipeline_spark.functions import dedup
        from financial_data_ingestion_pipeline_spark.materialize import (
            persistent_rdd_ids,
        )
        from financial_data_ingestion_pipeline_spark.operators import warehouse
        from financial_data_ingestion_pipeline_spark.plans.corpus_pipeline import (
            run_incremental_ingest,
        )

        schema = ("doc_id long, text string, lang string, source string,"
                  " n_chars long")
        seed = spark.createDataFrame(
            [(0, "a bootstrap seed document with enough distinctive "
                 "words to pass the gates", "en", "seed", 70)], schema)
        corpus_tbl = str(tmp_path / "corpus")
        index = str(tmp_path / "index")
        span_index = str(tmp_path / "span")
        warehouse.snapshot_commit(seed, corpus_tbl)
        dedup.build_dedup_index(seed, index)

        before = persistent_rdd_ids(spark)
        for day in (1, 2):
            batch = spark.createDataFrame(
                [(10 * day, f"fresh day {day} arrival with plenty of "
                            "unique vocabulary and phrasing to keep",
                  "en", "a", 80)], schema)
            run_incremental_ingest(spark, batch, corpus_tbl, index,
                                   span_index_dir=span_index)
            leaked = persistent_rdd_ids(spark) - before
            assert not leaked, (
                f"batch {day} left persistent RDD blocks: {leaked}")
