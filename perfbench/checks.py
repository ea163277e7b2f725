"""Output checks, run outside the timed window.  Each returns a list of
problems; an empty list means the op's output is correct."""

from __future__ import annotations

import glob
import os

import duckdb

MEASURES = ["LTP", "BuyPrice", "BuyQty", "SellPrice", "SellQty", "LTQ", "OpenInterest"]


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall())


def check_dag_day(
    extracted_dir: str, bhavcopy_csv: str, out_dir: str
) -> tuple[list[str], dict[str, int]]:
    """Recompute the day's warehouse row count, hourly OHLC, missing
    tickers, invalid rows and the one mismatched CLOSE in DuckDB from
    the generated CSVs, and compare them with the pipeline's outputs.
    Also returns the program's warehouse and invalid row counts."""
    problems: list[str] = []
    con = duckdb.connect()
    try:
        columns = {c: "VARCHAR" for c in ["Ticker", "Date", "Time", *MEASURES]}
        con.execute(
            "CREATE VIEW raw AS SELECT * FROM read_csv("
            f"'{extracted_dir}/**/*.csv', header=true, auto_detect=false, "
            f"columns={columns!r})"
        )
        con.execute(
            "CREATE VIEW ticks AS SELECT regexp_replace(Ticker, '\\.NSE$', '') AS sym, "
            "CAST(Date || ' ' || Time AS TIMESTAMP) AS ts, "
            + ", ".join(f"TRY_CAST({m} AS DOUBLE) AS {m}" for m in MEASURES)
            + " FROM raw"
        )
        con.execute(
            f"CREATE VIEW bhav AS SELECT * FROM read_csv('{bhavcopy_csv}', header=true, "
            "all_varchar=true)"
        )
        wh = f"{out_dir}/warehouse/second_level_data/**/*.parquet"
        n_ticks = con.execute("SELECT count(*) FROM ticks").fetchone()[0]
        n_wh = con.execute(f"SELECT count(*) FROM read_parquet('{wh}')").fetchone()[0]
        if n_wh != n_ticks:
            problems.append(f"warehouse rows {n_wh} != {n_ticks} ticks")

        want = _rows(con, (
            "SELECT sym, date_trunc('hour', ts), arg_min(LTP, ts), max(LTP), "
            "min(LTP), arg_max(LTP, ts), count(*) FROM ticks GROUP BY ALL"
        ))
        got = _rows(con, (
            "SELECT symbol, bucket_start, open, high, low, close, n_ticks "
            f"FROM read_parquet('{out_dir}/hourly_ohlc/*.parquet')"
        ))
        if got != want:
            problems.append(
                f"hourly_ohlc differs: {len(got)} rows vs {len(want)} recomputed"
            )

        want_missing = _rows(con, (
            "SELECT SYMBOL FROM bhav WHERE SYMBOL NOT IN (SELECT DISTINCT sym FROM ticks)"
        ))
        got_missing = _rows(con, _report(out_dir, "missing_tickers", "SYMBOL"))
        if got_missing != want_missing:
            problems.append(f"missing tickers {got_missing} != {want_missing}")

        pred = " OR ".join(f"{m} IS NULL OR {m} < 0" for m in MEASURES)
        want_invalid = con.execute(f"SELECT count(*) FROM ticks WHERE {pred}").fetchone()[0]
        got_invalid = con.execute(
            f"SELECT count(*) FROM ({_report(out_dir, 'invalid_values', 'Ticker')})"
        ).fetchone()[0]
        if got_invalid != want_invalid or want_invalid == 0:
            problems.append(f"invalid rows {got_invalid} != {want_invalid}")

        off = con.execute(
            f"SELECT count(*) FROM ({_report(out_dir, 'ohlc_reconciliation', '*')}) "
            "WHERE close_diff <> 0 OR open_diff <> 0 OR high_diff <> 0 OR low_diff <> 0"
        ).fetchone()[0]
        if off != 1:
            problems.append(f"{off} reconciliation mismatches, expected exactly 1")
    finally:
        con.close()
    return problems, {"warehouse_rows": n_wh, "invalid_rows": got_invalid}


def _report(out_dir: str, name: str, cols: str) -> str:
    files = sorted(glob.glob(os.path.join(out_dir, "reports", name, "*.csv")))
    if not files:
        raise FileNotFoundError(f"report {name} was not written")
    return f"SELECT {cols} FROM read_csv({files!r}, header=true)"


def check_stream(spark, backlog_dir: str, mv_dir: str) -> list[str]:
    """The streamed MV must equal ``operators.ohlc.bucketed_ohlc`` run in
    batch over the same ticks."""
    from financial_data_ingestion_pipeline_spark.operators.ohlc import bucketed_ohlc
    from financial_data_ingestion_pipeline_spark.schemas import WAREHOUSE_SCHEMA

    cols = ["symbol", "CAST(bucket_start AS STRING) AS bucket_start",
            "open", "high", "low", "close", "n_ticks"]
    want = bucketed_ohlc(
        spark.read.schema(WAREHOUSE_SCHEMA).parquet(backlog_dir), "hour"
    ).selectExpr(*cols).collect()
    got = spark.read.parquet(mv_dir).selectExpr(*cols).collect()
    if sorted(map(tuple, got)) != sorted(map(tuple, want)):
        return [f"stream MV differs: {len(got)} rows vs {len(want)} in batch"]
    return []


def check_query(df, oracle_sql: str, sf_dir: str) -> list[str]:
    """One contract query against its DuckDB oracle, through the repo's
    own comparison (``tests/oracle.compare``)."""
    from tests.oracle import compare

    report = compare(df, oracle_sql, sf_dir)
    return [] if report["ok"] else report["issues"]
