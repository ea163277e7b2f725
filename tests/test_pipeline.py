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
from financial_data_ingestion_pipeline_spark.sources.ingest import extract_zip_files

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
    budget of landing the ticks once.  With the default config (hourly,
    no time bounds) the parametrized aggregation is the hourly MV read
    back, not a second aggregate (12 jobs on this fixture; 13 with the
    second aggregate, 16 in the two-landing form)."""
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
        res = run_pipeline(spark, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    agg, hourly = res["outputs"]["aggregated"], res["outputs"]["hourly_ohlc"]
    assert "Aggregate" not in agg._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, hourly.collect()))
    assert not os.path.exists(os.path.join(cfg.out_dir, "cleaned_parquet"))
    (csv_path,) = glob.glob(os.path.join(cfg.out_dir, "reports", "invalid_values", "*.csv"))
    with open(csv_path, newline="") as fh:
        header = next(csv.reader(fh))
    assert header == [
        "Ticker", "Timestamp", "LTP", "BuyPrice", "BuyQty", "SellPrice",
        "SellQty", "LTQ", "OpenInterest", "trade_date",
    ]
    assert n_jobs <= 12, n_jobs


def test_half_open_time_range_rejected(spark):
    """The time filter is a BETWEEN, so one bound alone is an error,
    raised on the driver (no job), not a silently unfiltered history."""
    import datetime as dt

    from financial_data_ingestion_pipeline_spark.operators import ohlc

    ticks = spark.createDataFrame(
        [("ALPHA", dt.datetime(2022, 4, 4, 9, 15), 100.0)],
        "source_symbol string, timestamp timestamp_ntz, ltp double",
    )
    sc = spark.sparkContext
    group = "test-half-open-time-range"
    sc.setJobGroup(group, group)
    try:
        for bound in ({"from_ts": "2022-04-04 09:00:00"}, {"to_ts": "2022-04-05 00:00:00"}):
            with pytest.raises(ValueError, match="from_ts and to_ts"):
                ohlc.resample(ticks, "hour", **bound)
            with pytest.raises(ValueError, match="from_ts and to_ts"):
                PipelineConfig(tick_root="ticks", bhavcopy_csv=None, out_dir="out", **bound)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


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
