"""Warehouse: the ``second_level_data`` table as columnar parquet (D1-D2, S7).

The reference warehouses cleaned ticks in a Postgres heap table
(DDL dp:193-205) and serves point/range queries with two b-tree indexes
on ``source_symbol`` and ``timestamp`` (dp:253-256).  The Spark-native
equivalent is *layout*, not indexes:

- ``partitionBy(trade_date)`` — every date predicate (P8 date-IN,
  P9 BETWEEN) becomes partition pruning: untouched days are never read.
- ``sortWithinPartitions(source_symbol, timestamp)`` — parquet row-group
  min/max statistics then make symbol and time predicates skip row
  groups inside each day, the moral equivalent of the two b-trees.
- one shuffle by ``trade_date`` before the write keeps file counts
  bounded (without it, every upstream task writes a file into every
  date partition — at 1000 executors that is millions of tiny files).

Readers load the path directly (``read_warehouse``), so the table
needs no catalog DDL (D1, dp:193-206); the 5x DDL retry loop
(dp:190-212) has no Spark analog either — writes are atomic per
partition and tasks retry automatically.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WAREHOUSE_TABLE_SCHEMA

TABLE_NAME = "second_level_data"


def write_warehouse(
    warehouse_rows: DataFrame,
    path: str,
    mode: str = "append",
    ts_col: str = "timestamp",
    symbol_col: str = "source_symbol",
) -> None:
    """Land warehouse-schema rows as date-partitioned, symbol/time-sorted
    parquet (replaces INSERT dp:214-250 + indexes dp:253-256): partition
    pruning from the date directory, row-group skipping from the
    within-partition sort.

    The rows must carry their ``trade_date`` partition key, defined once
    by :func:`.cleaning.clean_ticks` (the tick's day, or its folder's day
    when the timestamp does not parse).

    ``mode="overwrite"`` replaces only the dates present in
    ``warehouse_rows`` (dynamic partition overwrite, set per write): a
    daily load keeps the earlier days, as the reference's
    ``to_sql(if_exists='append')`` does (dp:249-250), and re-running a
    day rewrites just that day.
    """
    (
        warehouse_rows.repartition("trade_date")
        .sortWithinPartitions(symbol_col, ts_col)
        .write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("trade_date")
        .parquet(path)
    )


def read_warehouse(spark: SparkSession, path: str) -> DataFrame:
    """The warehouse table read with its known schema, so Spark runs no
    footer-inference job to learn it."""
    return spark.read.schema(WAREHOUSE_TABLE_SCHEMA).parquet(path)


def is_missing_path(e: AnalysisException) -> bool:
    """True iff the AnalysisException is the missing-input-path case.

    Matches the structured error class first (``PATH_NOT_FOUND`` since
    Spark 3.4; ``getCondition`` is the 4.x accessor name, ``getErrorClass``
    the 3.x one) and falls back to both known message phrasings — the
    engine-version-specific substring match alone would mis-fail the
    bootstrap batch on older Sparks that say 'Path does not exist'."""
    for acc in ("getCondition", "getErrorClass"):
        try:
            cond = getattr(e, acc)()
        except Exception:
            cond = None
        if cond:
            return "PATH_NOT_FOUND" in cond
    msg = str(e)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


# ---------------------------------------------------------------------------
# Z-order layout: multi-dimensional clustering keys
# ---------------------------------------------------------------------------


def zorder_key(x_scaled: F.Column, y_scaled: F.Column, bits: int = 8) -> F.Column:
    """Interleave the low ``bits`` bits of two already-scaled integer
    columns into a Morton (Z-order) value — x on even bit positions, y
    on odd.  Pure bit arithmetic (shift/AND/OR), so the whole key stays
    inside whole-stage codegen and replays bit-for-bit in any engine
    with integer shifts.
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x_scaled, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y_scaled, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    bucket_bits: int = 4,
) -> DataFrame:
    """Z-order clustering diagnostic: scale two integer dimensions to
    ``bits``-bit grids (exact integer min/max scaling — no sampling, so
    the layout is reproducible, unlike ``repartitionByRange``),
    interleave them into a Morton key, cut the key's top
    ``bucket_bits`` bits into contiguous z-range buckets, and report
    each bucket's row count and bounding rectangle in BOTH dimensions.

    This is the measurement behind Delta/Iceberg ``OPTIMIZE ZORDER BY``:
    because the z-curve preserves locality in every interleaved
    dimension at once, each write bucket covers a bounded range of
    *both* columns — so file-level min/max stats prune scans filtered
    on either dimension, which one-column sorting cannot do.  At
    100 TB the plan is two broadcast-joined 1-row aggregates (the
    min/max frames) plus ONE exchange on the bucket id — the data
    never globally sorts.

    Output: bucket, n_rows, min/max of x and y, plus the scaled-grid
    spans — orderable, oracle-replayable integers throughout.
    """
    x, y = F.col(x_col), F.col(y_col)
    ranges = df.agg(
        F.min(x).alias("__minx"),
        F.max(x).alias("__maxx"),
        F.min(y).alias("__miny"),
        F.max(y).alias("__maxy"),
    )
    scaled = df.crossJoin(F.broadcast(ranges)).select(
        x.alias("__x"),
        y.alias("__y"),
        F.expr(
            f"(({x_col} - __minx) * {1 << bits}) div (__maxx - __minx + 1)"
        ).alias("__xs"),
        F.expr(
            f"(({y_col} - __miny) * {1 << bits}) div (__maxy - __miny + 1)"
        ).alias("__ys"),
    )
    bucket = F.shiftright(
        zorder_key(F.col("__xs"), F.col("__ys"), bits), 2 * bits - bucket_bits
    )
    return (
        scaled.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__x").alias("min_x"),
            F.max("__x").alias("max_x"),
            F.min("__y").alias("min_y"),
            F.max("__y").alias("max_y"),
            (F.max("__xs") - F.min("__xs") + 1).alias("x_grid_span"),
            (F.max("__ys") - F.min("__ys") + 1).alias("y_grid_span"),
        )
        .orderBy("bucket")
    )
