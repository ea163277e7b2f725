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

``jdbc_append`` is the optional fidelity sink matching the reference's
SQLAlchemy ``to_sql(if_exists='append')`` (S7, dp:249-250).
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


def write_bucketed_warehouse(
    warehouse_rows: DataFrame,
    table: str = f"{TABLE_NAME}_bucketed",
    buckets: int = 8,
    ts_col: str = "timestamp",
    symbol_col: str = "source_symbol",
    mode: str = "overwrite",
) -> None:
    """Symbol-bucketed variant of the warehouse (D2's optional layout).

    ``bucketBy(N, source_symbol)`` pre-shuffles the hot groupBy/join key
    at write time: every per-symbol aggregation or symbol-keyed join
    over the table then runs with NO exchange — the physical plan reads
    bucketed files straight into the aggregate.  Pay one shuffle at
    ingest, skip one per downstream query; at 100 TB with dozens of
    daily OHLC/VWAP queries over the same warehouse, this is the
    dominant saving.  ``sortBy(timestamp)`` keeps each bucket
    time-ordered for row-group skipping.
    """
    (
        warehouse_rows.write.mode(mode)
        .bucketBy(buckets, symbol_col)
        .sortBy(ts_col)
        .format("parquet")
        .saveAsTable(table)
    )


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


def write_batch_partition(
    df: DataFrame, path: str, batch_id: int, rebuild: bool = False
) -> None:
    """Land ``df`` as the ``batch_id=N`` partition of a batch-partitioned
    parquet table — the one layout every incrementally maintained index
    here shares (span anchors, overlap postings, winnow fingerprints,
    drift partials, span quarantine).

    By default only this batch's partition is replaced (dynamic
    partition overwrite, set per write so it never leaks into other
    writes on the session): a replayed batch rewrites the same files,
    so at-least-once delivery stays idempotent.  ``rebuild=True`` is
    the builders' full static overwrite — every existing partition is
    dropped and ``df`` becomes the whole table.

    Streaming maintainers pass ``partition_base + batch_id``.  Spark
    restarts batch ids at 0 for a NEW checkpoint, so a fresh stream
    attached to prior history must raise ``partition_base`` above the
    table's current max ``batch_id``; otherwise its dynamic overwrites
    replace the old stream's partitions.  The default base of 1 keeps
    streamed batches clear of the builders' ``batch_id=0``.
    """
    (
        df.withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static" if rebuild else "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def jdbc_append(
    df: DataFrame,
    url: str,
    table: str = TABLE_NAME,
    properties: dict[str, str] | None = None,
) -> None:
    """Optional fidelity mode: append into an RDBMS over JDBC (S7).

    Matches ``df.to_sql(..., if_exists='append')`` (dp:249-250) but
    writes from every executor in parallel instead of one driver-side
    SQLAlchemy connection.
    """
    writer = df.write.mode("append")
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.jdbc(url, table, mode="append")


# ---------------------------------------------------------------------------
# Snapshot layer: manifest-based atomic commits + time travel
# ---------------------------------------------------------------------------

_MANIFEST_DIR = "_manifests"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same snapshot version first; the
    caller should re-read the latest version and retry its commit."""


def _manifest_path(table_dir: str, version: int) -> str:
    import os

    return os.path.join(table_dir, _MANIFEST_DIR, f"{version:012d}.json")


def list_snapshots(table_dir: str) -> list[int]:
    """Committed snapshot versions, ascending (empty for a new table).

    Every snapshot function reaches the manifests through here, so this
    is where a ``table_dir`` with a URI scheme (``s3a://…``,
    ``hdfs://…``, ``file://…``) is refused: manifests are listed,
    written and hard-linked with local ``os`` calls, which would put
    them in a relative directory named after the URI while Spark wrote
    the data to the remote store."""
    import os
    import re

    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*://", table_dir):
        raise ValueError(
            f"snapshot tables need a local filesystem path, got {table_dir!r}"
        )
    mdir = os.path.join(table_dir, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(mdir) if f.endswith(".json")
    )


def snapshot_commit(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
) -> int:
    """Commit ``df`` to a snapshot table; returns the new version.

    The Iceberg/Delta idea reduced to its core, for plain parquet on a
    local or mounted filesystem: data files land under an immutable
    per-commit directory, and the table state IS the newest manifest —
    a small JSON listing exactly the data directories visible in that
    version.  The manifest is written to a temp name and linked into
    place, so readers either see the previous version or the complete
    new one; a writer that dies mid-job leaves an orphan data dir and
    NO manifest — invisible, not corrupt.  ``mode='append'`` carries
    the previous manifest's dirs forward; ``mode='overwrite'``
    replaces them logically while old versions stay readable
    (:func:`read_snapshot` with ``version=``) until vacuumed.

    At 100 TB this is the difference between "a failed backfill left
    the table half-overwritten" and "nothing happened": jobs become
    atomic, and time travel / audit reads are free.
    """
    import json
    import os
    import uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    versions = list_snapshots(table_dir)
    prev = versions[-1] if versions else None
    new_version = (prev + 1) if prev is not None else 0

    data_dir = f"data/{new_version:012d}-{uuid.uuid4().hex[:8]}"
    df.write.mode("error").parquet(os.path.join(table_dir, data_dir))

    dirs = [data_dir]
    if mode == "append" and prev is not None:
        with open(_manifest_path(table_dir, prev)) as f:
            dirs = json.load(f)["data_dirs"] + dirs

    _write_manifest(table_dir, new_version, dirs)
    return new_version


def _write_manifest(table_dir: str, version: int, dirs: list[str]) -> None:
    import json
    import os
    import uuid

    os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
    manifest = {"version": version, "data_dirs": dirs}
    tmp = _manifest_path(table_dir, version) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    # Optimistic concurrency: link() fails with EEXIST if another
    # writer already committed this version (rename() would silently
    # OVERWRITE the winner's manifest and lose its commit) — the loser
    # gets a clean conflict to retry against the new latest, Delta's
    # mutual-exclusion protocol on a filesystem.
    try:
        os.link(tmp, _manifest_path(table_dir, version))
    except FileExistsError:
        os.remove(tmp)
        raise ConcurrentCommitError(
            f"version {version} of {table_dir} was committed concurrently; "
            "re-read the table and retry"
        )
    os.remove(tmp)


def _load_manifest(table_dir: str, version: int | None) -> dict:
    import json

    versions = list_snapshots(table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = versions[-1] if version is None else version
    with open(_manifest_path(table_dir, v)) as f:
        return json.load(f)


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
) -> DataFrame:
    """Read a snapshot table at ``version`` (default: latest)."""
    import os

    manifest = _load_manifest(table_dir, version)
    # mergeSchema: additive schema evolution across commits — a column
    # added by a later commit reads as NULL in older directories
    # instead of silently vanishing (footer-union cost is per-dir, not
    # per-row, and only at planning time)
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(table_dir, d) for d in manifest["data_dirs"]]
    )


def vacuum_snapshots(table_dir: str, keep_last: int = 1) -> list[str]:
    """Physically delete data directories referenced ONLY by snapshots
    older than the ``keep_last`` newest (and their manifests), plus
    orphan dirs no manifest ever referenced (failed jobs).  Returns
    the removed directories.

    Safe by construction: the union of the surviving manifests' dirs
    is computed first, and nothing in it is touched — concurrent
    readers of surviving versions are unaffected (the discipline
    Delta's VACUUM follows)."""
    import json
    import os
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be at least 1, got {keep_last}")
    versions = list_snapshots(table_dir)
    if not versions:
        return []
    keep_versions = versions[-keep_last:]
    keep_dirs: set[str] = set()
    for v in keep_versions:
        with open(_manifest_path(table_dir, v)) as f:
            keep_dirs |= set(json.load(f)["data_dirs"])

    removed = []
    data_root = os.path.join(table_dir, "data")
    if os.path.isdir(data_root):
        for d in sorted(os.listdir(data_root)):
            rel = f"data/{d}"
            if rel not in keep_dirs:
                shutil.rmtree(os.path.join(data_root, d))
                removed.append(rel)
    for v in versions[:-keep_last]:
        os.remove(_manifest_path(table_dir, v))
    return removed


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


def zorder_write(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    x_range: tuple[int, int],
    y_range: tuple[int, int],
    bits: int = 8,
    n_files: int = 16,
    mode: str = "error",
) -> None:
    """Write ``df`` clustered by the Morton key of (x, y): the key's
    top bits become a ``zb`` partition directory (every FILE then
    holds exactly one contiguous z-range — a bounded rectangle in both
    dimensions), one exchange on ``zb`` keeps file counts bounded at
    1000 executors (hash collisions between buckets merely co-locate
    two rectangles in one task; files stay single-bucket because the
    directory split happens at write), and a within-partition sort by
    the full key makes parquet row-group min/max stats tight.  Ranges
    are passed explicitly — at scale they come from table-level stats,
    not a per-write scan.
    """
    bucket_bits = max(1, (n_files - 1).bit_length())
    (minx, maxx), (miny, maxy) = x_range, y_range
    z = zorder_key(
        F.expr(f"(({x_col} - {minx}) * {1 << bits}) div ({maxx - minx + 1})"),
        F.expr(f"(({y_col} - {miny}) * {1 << bits}) div ({maxy - miny + 1})"),
        bits,
    )
    clustered = df.withColumn("__z", z).withColumn(
        "__zb", F.shiftright(F.col("__z"), 2 * bits - bucket_bits)
    )
    (
        clustered.repartition(n_files, F.col("__zb"))
        .sortWithinPartitions("__zb", "__z")
        .drop("__z")
        .write.mode(mode)
        .partitionBy("__zb")
        .parquet(path)
    )
