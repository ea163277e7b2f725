"""As-of join correctness: backward/forward, inclusive/exclusive and
skew-bucketed joins against explicit per-row expectations."""

from __future__ import annotations

import datetime as dt

import pytest

from financial_data_ingestion_pipeline_spark.operators.asof import (
    asof_join_backward,
    asof_join_forward,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            ("A", _ts("2022-04-04 09:00:00"), 1),   # before any quote -> NULL
            ("A", _ts("2022-04-04 09:00:05"), 2),   # == quote ts (inclusive)
            ("A", _ts("2022-04-04 09:00:09"), 3),   # between quotes
            ("A", _ts("2022-04-04 09:01:00"), 4),   # after last quote
            ("B", _ts("2022-04-04 09:00:07"), 5),   # other key
        ],
        "sym string, ts timestamp_ntz, trade_id int",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2022-04-04 09:00:05"), 100.0),
            ("A", _ts("2022-04-04 09:00:10"), 101.0),
            ("B", _ts("2022-04-04 09:00:01"), 50.0),
        ],
        "sym string, qts timestamp_ntz, quote double",
    )
    return trades, quotes


def test_asof_backward_inclusive(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join_backward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["quote"],
    )
    got = {r.trade_id: r.quote for r in out.collect()}
    assert got == {1: None, 2: 100.0, 3: 100.0, 4: 101.0, 5: 50.0}
    assert out.columns == ["sym", "ts", "trade_id", "quote"]
    assert out.count() == trades.count()  # every left row survives


def test_asof_backward_exclusive(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join_backward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["quote"], inclusive=False,
    )
    got = {r.trade_id: r.quote for r in out.collect()}
    # trade 2 sits exactly on the quote ts -> with inclusive=False it
    # must NOT see that quote
    assert got == {1: None, 2: None, 3: 100.0, 4: 101.0, 5: 50.0}


def test_asof_forward_inclusive_and_exclusive(spark, trades_quotes):
    trades, quotes = trades_quotes
    inc = asof_join_forward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["quote"],
    )
    got = {r.trade_id: r.quote for r in inc.collect()}
    # earliest quote at-or-after each trade; B's only quote precedes
    # its trade -> NULL; nothing after the last A quote -> NULL
    assert got == {1: 100.0, 2: 100.0, 3: 101.0, 4: None, 5: None}
    exc = asof_join_forward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["quote"], inclusive=False,
    )
    got = {r.trade_id: r.quote for r in exc.collect()}
    assert got == {1: 100.0, 2: 101.0, 3: 101.0, 4: None, 5: None}


def test_asof_forward_skew_bucketed_matches_plain(spark, trades_quotes):
    """The bucketed forward plan (first-right-value carried into EARLIER
    buckets) returns exactly the plain single-window result — including
    a match that lives several empty buckets ahead of the trade."""
    trades, quotes = trades_quotes
    plain = asof_join_forward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["quote"],
    )
    bucketed = asof_join_forward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["quote"], skew_bucket="2 seconds",
    )
    assert {r.trade_id: tuple(r) for r in plain.collect()} == {
        r.trade_id: tuple(r) for r in bucketed.collect()
    }


def test_asof_matched_row_nulls_preserved(spark):
    """DuckDB/pandas ASOF parity: all value columns come from the SAME
    matched right row, including its NULLs — a per-column fill would
    silently substitute an older row's value for the NULL column."""
    trades = spark.createDataFrame(
        [("A", _ts("2022-04-04 09:00:20"), 1)],
        "sym string, ts timestamp_ntz, trade_id int",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2022-04-04 09:00:05"), 100.0, 99.0),
            ("A", _ts("2022-04-04 09:00:10"), 101.0, None),  # matched row
        ],
        "sym string, qts timestamp_ntz, bid double, ask double",
    )
    out = asof_join_backward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["bid", "ask"],
    ).collect()
    assert len(out) == 1
    # bid from the 09:00:10 row; ask must be its NULL, NOT 99.0
    assert out[0].bid == 101.0 and out[0].ask is None


def test_asof_skew_bucketed_matches_plain(spark, trades_quotes):
    """The (key, time-bucket) de-skewed plan returns identical results,
    including matches that carry across bucket boundaries."""
    trades, quotes = trades_quotes
    plain = asof_join_backward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["quote"],
    )
    # 10-second buckets: trade 4 (09:01:00) matches a quote from an
    # earlier bucket (09:00:10) only via the carry table
    bucketed = asof_join_backward(
        trades, quotes, by=["sym"], left_ts="ts", right_ts="qts",
        value_cols=["quote"], skew_bucket="10 seconds",
    )
    p = {r.trade_id: r.quote for r in plain.collect()}
    b = {r.trade_id: r.quote for r in bucketed.collect()}
    assert p == b == {1: None, 2: 100.0, 3: 100.0, 4: 101.0, 5: 50.0}
    # plan shape: window partitioning includes the bucket key
    assert "__asof_bkt" in bucketed._jdf.queryExecution().executedPlan().toString()
