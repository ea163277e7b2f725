"""Loaders for the driver-generated fixture tables (TESTDATA.md).

``events.parquet`` stores nanosecond timestamps, which Spark 4 only
reads via ``spark.sql.legacy.parquet.nanosAsLong`` — the loader sets
that conf and converts the long back to ``timestamp_ntz`` (microsecond
truncation, matching DuckDB's microsecond timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_runtime_conf


#: (applicationId, sf_dir, name) -> DataFrame.  A DataFrame is an
#: immutable lazy plan and the fixture files never change mid-session,
#: so resolving a table ONCE per session is exactly what a catalog
#: does; re-reading the parquet footer on every call cost ~86 ms of
#: driver-side I/O per load (~30 s across a 148-query run, each query
#: loading 1-6 tables).  Keyed by applicationId, not the session
#: object, so a stopped-and-recreated context can't serve dead plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_conf(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos (long) -> timestamp_ntz, truncated to micros.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    _TABLE_CACHE[key] = df
    return df
