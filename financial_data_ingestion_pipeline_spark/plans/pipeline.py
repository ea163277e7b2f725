"""End-to-end pipeline driver (X1): the reference's 9-task Airflow DAG
(dp:349-427) as a sequence of Spark job functions.

Reference task graph (dp:425-427)::

    extract_zip >> transform_to_parquet
    [transform_to_parquet, extract_bhavcopy] >> data_quality_checks
        >> create_table >> insert_data >> create_indexes
        >> price_change_query >> create_matview

Mapping here (orchestration collapses — several "tasks" are one
distributed job or pure layout policy):

- extract+transform  -> :func:`ingest` (S1-S2: a lazy, cleaned scan of
  the CSV tree; it runs no job and writes nothing)
- create_table+insert+indexes -> :func:`load_warehouse`
  (date-partitioned sorted parquet; indexes are layout, D1-D2).  This
  is the one landing of the ticks: the reference writes them twice, as
  parquet (dp:60-94) and into Postgres (dp:214-256); here the cleaned
  rows go straight into the warehouse, replacing only the run's days.
- data_quality_checks -> :func:`quality_reports` (three report tables,
  computed per trading day — quirk Q5 fixed) from the warehouse rows
  the run landed.  The reference's quality task only writes reports
  and never gates the load, so running it after the load changes no
  output.
- price_change_query -> :func:`analytics_outputs`
- create_matview      -> hourly OHLC aggregate table (D3)
- parametrized aggregation (dp:316-347) -> honored params incl.
  ``symbols`` (Q6 fixed) and a real ``agg_folder`` output path
  (the reference hardcodes '/path/to/save/...', dp:347)

:func:`run_pipeline` runs them in this order: ``ingest`` ->
``load_warehouse`` -> ``read_warehouse`` (known schema, no inference
job) -> ``quality_reports`` -> ``analytics_outputs``.

Airflow retries/scheduling are dropped: Spark retries tasks itself, and
the `@daily` trigger belongs to whatever cron/driver invokes
:func:`run_pipeline`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import analytics, ohlc, quality, warehouse
from ..operators.cleaning import clean_ticks, to_warehouse
from ..schemas import (
    BHAVCOPY_SCHEMA,
    TICK_CLEAN_SCHEMA,
    TICK_TO_WAREHOUSE,
    WAREHOUSE_MEASURES,
)
from ..sources.ingest import read_tick_csvs


@dataclass
class PipelineConfig:
    """Runtime parameters — the ``dag_run.conf`` analog (dp:416-419)."""

    tick_root: str                      # extracted CSV tree (or see zip path)
    bhavcopy_csv: str | None            # golden EOD file (dp:29,120)
    out_dir: str                        # pipeline output root
    freq: str = "hour"                  # dp:320-325 freq map key
    from_ts: str | None = None
    to_ts: str | None = None
    symbols: list[str] = field(default_factory=lambda: ["ALL"])
    price_change_dates: tuple[str, str] | None = None   # dp:264-269
    min_pct_change: float = 3.0         # dp:280-281
    tie_cols: tuple[str, ...] = ()      # OHLC open/close tie-break


def ingest(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """extract (S1) + transform (S2): the cleaned ticks as a lazy frame.

    No job runs here and nothing is written: :func:`load_warehouse` is
    the one pass over the CSVs."""
    return clean_ticks(read_tick_csvs(spark, cfg.tick_root))


def read_bhavcopy(spark: SparkSession, path: str) -> DataFrame:
    """Golden EOD snapshot scan (S3, dp:120)."""
    return spark.read.csv(path, header=True, schema=BHAVCOPY_SCHEMA)


def quality_reports(
    spark: SparkSession,
    cfg: PipelineConfig,
    wh: DataFrame,
    bhavcopy: DataFrame | None,
) -> dict[str, DataFrame]:
    """The three quality report tables (dp:96-186), written as CSV (S6).

    Read from the landed warehouse rows of the run's days.  Per trading
    day, not per file (Q5): invalid rows, missing tickers (golden
    universe anti-join), and OHLC-vs-golden reconciliation.  The
    invalid-row report keeps the cleaned tick column names.
    """
    invalid = quality.invalid_rows(wh, WAREHOUSE_MEASURES)
    reports: dict[str, DataFrame] = {
        "invalid_values": invalid.select(
            *[F.col(TICK_TO_WAREHOUSE[c]).alias(c) for c in TICK_CLEAN_SCHEMA.names],
            "trade_date",
        )
    }
    if bhavcopy is not None:
        reports["missing_tickers"] = quality.missing_symbols(
            bhavcopy.select("SYMBOL"), wh, "SYMBOL", "source_symbol"
        )
        reports["ohlc_reconciliation"] = quality.ohlc_reconciliation(
            wh,
            bhavcopy.select("SYMBOL", "OPEN", "HIGH", "LOW", "CLOSE"),
            tie_cols=cfg.tie_cols,
        )
    for name, df in reports.items():
        # small outputs -> single CSV per report, like dp:175-186
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(
            os.path.join(cfg.out_dir, "reports", name)
        )
    return reports


def load_warehouse(spark: SparkSession, cfg: PipelineConfig, cleaned: DataFrame) -> str:
    """create_table + insert + "indexes" (D1-D2, S7) -> partitioned parquet.

    Replaces only the trading days in ``cleaned``; earlier days stay.
    """
    path = os.path.join(cfg.out_dir, "warehouse", warehouse.TABLE_NAME)
    warehouse.write_warehouse(to_warehouse(cleaned), path, mode="overwrite")
    return path


def analytics_outputs(
    spark: SparkSession, cfg: PipelineConfig, wh: DataFrame
) -> dict[str, DataFrame]:
    """price-change query (dp:258-288), hourly-OHLC MV (D3, dp:290-314),
    and the parametrized aggregation (D4, dp:316-347, quirks fixed)."""
    out: dict[str, DataFrame] = {}
    if cfg.price_change_dates:
        a, b = cfg.price_change_dates
        out["price_change"] = analytics.price_change(
            wh, a, b, cfg.min_pct_change
        )
    out["hourly_ohlc"] = ohlc.bucketed_ohlc(wh, "hour", tie_cols=cfg.tie_cols)
    out["aggregated"] = ohlc.resample(
        wh,
        cfg.freq,
        from_ts=cfg.from_ts,
        to_ts=cfg.to_ts,
        symbols=cfg.symbols,
        tie_cols=cfg.tie_cols,
    )
    # hourly_ohlc is the MV analog: persisted as a parquet aggregate table.
    out["hourly_ohlc"].write.mode("overwrite").parquet(
        os.path.join(cfg.out_dir, "hourly_ohlc")
    )
    # aggregated output lands where cfg says (S9; Q6's hardcoded-path bug fixed).
    out["aggregated"].coalesce(1).write.mode("overwrite").option("header", True).csv(
        os.path.join(cfg.out_dir, "aggregated_ticks")
    )
    if "price_change" in out:
        out["price_change"].coalesce(1).write.mode("overwrite").option(
            "header", True
        ).csv(os.path.join(cfg.out_dir, "price_change"))
    return out


def _landed_days(landed: Observation) -> Column:
    """Predicate on ``trade_date`` selecting the partitions the run's
    load wrote.  The warehouse keeps earlier days, but the reports cover
    the run's ticks only, as the reference's do.  A tick with neither a
    timestamp nor a dated folder lands in the NULL partition, which the
    load replaced only if the run had such ticks."""
    m = landed.get
    pred = F.col("trade_date").isin(m["days"])
    return pred | F.col("trade_date").isNull() if m["undated"] else pred


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict[str, object]:
    """The whole DAG: land the day once, then report and aggregate from
    the warehouse."""
    landed = Observation("landed_days")
    cleaned = ingest(spark, cfg).observe(
        landed,
        F.collect_set("trade_date").alias("days"),
        F.bool_or(F.col("trade_date").isNull()).alias("undated"),
    )
    wh_path = load_warehouse(spark, cfg, cleaned)
    wh = warehouse.read_warehouse(spark, wh_path)
    bhav = read_bhavcopy(spark, cfg.bhavcopy_csv) if cfg.bhavcopy_csv else None
    reports = quality_reports(spark, cfg, wh.filter(_landed_days(landed)), bhav)
    outputs = analytics_outputs(spark, cfg, wh)
    return {"warehouse_path": wh_path, "reports": reports, "outputs": outputs}


def main(argv: list[str] | None = None) -> None:
    """CLI replacing the DAG trigger: params mirror ``dag_run.conf``
    (dp:416-419) plus the paths the reference hardcodes."""
    import argparse

    from ..session import get_spark

    p = argparse.ArgumentParser(description="Run the tick-data pipeline")
    p.add_argument("--tick-root", required=True, help="extracted CSV tree")
    p.add_argument("--bhavcopy-csv", default=None, help="golden EOD csv")
    p.add_argument("--out-dir", required=True)
    p.add_argument("--freq", default="hour", help="freq-map key or Spark duration")
    p.add_argument("--from-ts", default=None)
    p.add_argument("--to-ts", default=None)
    p.add_argument("--symbols", nargs="*", default=["ALL"])
    p.add_argument("--price-change-dates", nargs=2, default=None, metavar="DATE")
    p.add_argument("--min-pct-change", type=float, default=3.0)
    p.add_argument("--master", default=None, help="e.g. local[8]; default: cluster conf")
    args = p.parse_args(argv)

    spark = get_spark(app_name="fdip-pipeline", master=args.master)
    cfg = PipelineConfig(
        tick_root=args.tick_root,
        bhavcopy_csv=args.bhavcopy_csv,
        out_dir=args.out_dir,
        freq=args.freq,
        from_ts=args.from_ts,
        to_ts=args.to_ts,
        symbols=list(args.symbols),
        price_change_dates=tuple(args.price_change_dates) if args.price_change_dates else None,
        min_pct_change=args.min_pct_change,
    )
    res = run_pipeline(spark, cfg)
    print(f"warehouse: {res['warehouse_path']}")
    print(f"reports: {sorted(res['reports'])}")
    print(f"outputs: {sorted(res['outputs'])}")


if __name__ == "__main__":
    main()
