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

``create_warehouse_table`` registers the path in the catalog so
``spark.sql`` queries see ``second_level_data`` exactly like the
reference's SQL does (D1); the 5x DDL retry loop (dp:190-212) has no
Spark analog — writes are atomic per partition and tasks retry
automatically.

``jdbc_append`` is the optional fidelity sink matching the reference's
SQLAlchemy ``to_sql(if_exists='append')`` (S7, dp:249-250).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAME = "second_level_data"


def write_warehouse(
    warehouse_rows: DataFrame,
    path: str,
    mode: str = "append",
    ts_col: str = "timestamp",
    symbol_col: str = "source_symbol",
    partition_col: str = "trade_date",
    file_format: str = "parquet",
) -> None:
    """Land warehouse-schema rows as date-partitioned, symbol/time-sorted
    columnar files (replaces INSERT dp:214-250 + indexes dp:253-256).

    ``file_format`` accepts any Spark columnar sink with footer
    statistics — ``parquet`` (default) or ``orc``; both get partition
    pruning from the date directory and row-group/stripe skipping from
    the within-partition sort.
    """
    df = warehouse_rows
    if partition_col not in df.columns:
        df = df.withColumn(partition_col, F.to_date(ts_col))
    (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(symbol_col, ts_col)
        .write.mode(mode)
        .partitionBy(partition_col)
        .format(file_format)
        .save(path)
    )


def read_warehouse(
    spark: SparkSession, path: str, file_format: str = "parquet"
) -> DataFrame:
    return spark.read.format(file_format).load(path)


def create_warehouse_table(
    spark: SparkSession, path: str, table: str = TABLE_NAME
) -> None:
    """CREATE TABLE IF NOT EXISTS over the parquet path (D1, dp:193-206)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} USING PARQUET LOCATION '{path}'"
    )


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


def compact_partition(
    spark: SparkSession,
    path: str,
    partition_col: str,
    partition_value: str,
    target_rows_per_file: int = 5_000_000,
    symbol_col: str = "source_symbol",
    ts_col: str = "timestamp",
) -> int:
    """Compact one date partition's small files into few sorted files —
    the maintenance job every streaming/append warehouse needs: each
    micro-batch or daily ingest appends its own files, and after N
    ingests a partition holds N× more files than optimal (scan cost and
    namenode pressure grow with file COUNT, not bytes).

    Reads only the target partition (partition pruning), coalesces to
    ``ceil(rows / target_rows_per_file)`` files, restores the
    (symbol, time) sort so row-group skipping keeps working, and swaps
    JUST that partition directory — the compacted files land in a
    sibling temp dir first, then replace the original in one rename
    (never overwrite-while-reading: a failure mid-write leaves the old
    partition intact, and a rerun is idempotent).  Other dates are
    untouched.  Returns the file count written.  Run it against closed
    partitions only (yesterday and older) so it never races an active
    writer.
    """
    part_dir = f"{path}/{partition_col}={partition_value}"
    # dot-prefixed dirs are invisible to Spark's file index, so a
    # concurrent table reader never sees the in-flight copy as a
    # (bogus) extra partition
    tmp_dir = f"{path}/.compact_tmp/{partition_col}={partition_value}"
    df = spark.read.parquet(part_dir)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    (
        df.repartition(n_files)
        .sortWithinPartitions(symbol_col, ts_col)
        .write.mode("overwrite")
        .parquet(tmp_dir)
    )
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(part_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)
    fs.rename(jvm.org.apache.hadoop.fs.Path(tmp_dir), hpath)
    return n_files


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
    """Committed snapshot versions, ascending (empty for a new table)."""
    import os

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
    stats_col: str | None = None,
    bloom_col: str | None = None,
) -> int:
    """Commit ``df`` to a snapshot table; returns the new version.

    The Iceberg/Delta idea reduced to its core, for plain parquet on
    any filesystem/object store: data files land under an immutable
    per-commit directory, and the table state IS the newest manifest —
    a small JSON listing exactly the data directories visible in that
    version.  The manifest is written to a temp name and renamed into
    place, so readers either see the previous version or the complete
    new one; a writer that dies mid-job leaves an orphan data dir and
    NO manifest — invisible, not corrupt.  ``mode='append'`` carries
    the previous manifest's dirs forward; ``mode='overwrite'``
    replaces them logically while old versions stay readable
    (:func:`read_snapshot` with ``version=``) until vacuumed.

    At 100 TB this is the difference between "a failed backfill left
    the table half-overwritten" and "nothing happened": jobs become
    atomic, and time travel / audit reads are free.

    With ``stats_col``, the manifest additionally records the new data
    directory's [min, max] of that column (one column-pruned footer
    read after the write) — the file-skipping index that lets
    :func:`read_snapshot` prune whole directories against a predicate
    and :func:`snapshot_merge` rewrite only the directories an update
    batch actually touches.  Stats from the previous manifest are
    carried forward on append, so the index stays complete without
    ever rescanning old data.
    """
    import json
    import os
    import uuid

    versions = list_snapshots(table_dir)
    prev = versions[-1] if versions else None
    new_version = (prev + 1) if prev is not None else 0

    data_dir = f"data/{new_version:012d}-{uuid.uuid4().hex[:8]}"
    df.write.mode("error").parquet(os.path.join(table_dir, data_dir))

    dirs = [data_dir]
    stats: dict[str, list] = {}
    blooms: dict[str, dict] = {}
    if stats_col is not None:
        stats[data_dir] = _dir_stats(
            df.sparkSession, os.path.join(table_dir, data_dir), stats_col
        )
    if bloom_col is not None:
        blooms[data_dir] = _dir_bloom(
            df.sparkSession, os.path.join(table_dir, data_dir), bloom_col
        )
    if mode == "append" and prev is not None:
        with open(_manifest_path(table_dir, prev)) as f:
            prev_manifest = json.load(f)
        dirs = prev_manifest["data_dirs"] + dirs
        stats = {**prev_manifest.get("stats", {}), **stats}
        blooms = {**prev_manifest.get("blooms", {}), **blooms}

    _write_manifest(table_dir, new_version, dirs, stats, blooms)
    return new_version


def _dir_stats(spark: SparkSession, path: str, col: str) -> list:
    """[min, max, col] of one column in one data directory — a
    column-pruned scan that reads only that column's pages.  Bounds
    are stored JSON-normalized (temporal types as ISO strings, which
    compare lexicographically == chronologically)."""
    row = spark.read.parquet(path).agg(F.min(col), F.max(col)).first()
    return [_stat_key(row[0]), _stat_key(row[1]), col]


def _write_manifest(
    table_dir: str,
    version: int,
    dirs: list[str],
    stats: dict[str, list],
    blooms: dict[str, dict] | None = None,
) -> None:
    import json
    import os
    import uuid

    os.makedirs(os.path.join(table_dir, _MANIFEST_DIR), exist_ok=True)
    manifest = {"version": version, "data_dirs": dirs}
    if stats:
        manifest["stats"] = stats
    if blooms:
        manifest["blooms"] = blooms
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


#: Bloom sizing for the per-directory manifest index: 2^14 bits keeps
#: each entry ~a few KB of sparse JSON, ~1% false positives at 1.7k
#: distinct keys per directory (fp ~ (1-e^(-kn/m))^k).
_BLOOM_M_BITS = 1 << 14
_BLOOM_K = 4


def _dir_bloom(spark: SparkSession, path: str, col: str) -> dict:
    """Sparse per-directory Bloom filter of one column's values,
    recorded in the manifest: ``{"col", "words": {word: bits}}``.
    Uses the portable md5 chains of ``functions.sketches.bloom_build``,
    so a driver-side probe can recompute positions without Spark."""
    from ..functions import sketches

    rows = sketches.bloom_build(
        spark.read.parquet(path).select(col),
        col,
        m_bits=_BLOOM_M_BITS,
        k_hashes=_BLOOM_K,
    ).collect()
    return {"col": col, "words": {str(r.word): r.bits for r in rows}}


def _bloom_maybe_contains(bloom: dict, value) -> bool:
    """Driver-side probe with the same md5 chain as the Spark build.
    True = maybe present (read the dir); False = definitely absent."""
    import hashlib

    s = "" if value is None else str(value)
    for j in range(_BLOOM_K):
        h = hashlib.md5(f"bloom{j}:{s}".encode()).hexdigest()
        p = int(h[:15], 16) % _BLOOM_M_BITS
        bits = bloom["words"].get(str(p // 32), 0)
        if not (bits >> (p % 32)) & 1:
            return False
    return True


def _load_manifest(table_dir: str, version: int | None) -> dict:
    import json

    versions = list_snapshots(table_dir)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_dir}")
    v = versions[-1] if version is None else version
    with open(_manifest_path(table_dir, v)) as f:
        return json.load(f)


def _stat_key(v):
    """Normalize a stats bound for comparison: numbers compare as-is,
    temporal types via ISO strings (lexicographic == chronological)."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def _dirs_overlapping(
    manifest: dict, key_min, key_max, col: str | None = None
) -> tuple[list[str], list[str]]:
    """Split the manifest's data dirs into (touched, untouched) by
    intersecting each dir's recorded [min, max] with [key_min,
    key_max].  Dirs without stats — or whose stats were recorded on a
    DIFFERENT column than ``col`` — are conservatively touched:
    comparing key bounds against another column's range would prune
    directories that do contain matching keys."""
    stats = manifest.get("stats", {})
    lo, hi = _stat_key(key_min), _stat_key(key_max)
    touched, untouched = [], []
    for d in manifest["data_dirs"]:
        s = stats.get(d)
        if (
            s is None
            or s[0] is None
            or s[1] is None
            or (col is not None and len(s) > 2 and s[2] != col)
        ):
            touched.append(d)
        elif _stat_key(s[1]) < lo or _stat_key(s[0]) > hi:
            untouched.append(d)
        else:
            touched.append(d)
    return touched, untouched


def _manifest_stats_col(manifest: dict) -> str | None:
    """The single column every stats entry was recorded on, or None
    when entries are absent or MIXED — inferring from a mixed manifest
    would range-compare against the wrong column and turn pruning into
    silent row loss."""
    cols = {s[2] for s in manifest.get("stats", {}).values() if len(s) > 2}
    return cols.pop() if len(cols) == 1 else None


def _manifest_bloom_col(manifest: dict) -> str | None:
    cols = {b["col"] for b in manifest.get("blooms", {}).values()}
    return cols.pop() if len(cols) == 1 else None


def _empty_scan(spark: SparkSession, table_dir: str, manifest: dict) -> DataFrame:
    """Zero rows with the table's full EVOLVED schema (footer union
    across every directory; no data pages read)."""
    import os

    return (
        spark.read.option("mergeSchema", "true")
        .parquet(
            *[os.path.join(table_dir, d) for d in manifest["data_dirs"]]
        )
        .limit(0)
    )


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    key_range: tuple | None = None,
    key_col: str | None = None,
) -> DataFrame:
    """Read a snapshot table at ``version`` (default: latest).

    ``key_range=(lo, hi)`` prunes data directories whose manifest
    [min, max] stats (recorded by ``snapshot_commit(stats_col=...)``)
    cannot intersect the range — directory-level data skipping BEFORE
    Spark ever lists a file, the manifest analog of partition pruning.
    ``key_col`` names the column the range refers to (default: the
    column the manifest's stats were recorded on); directories whose
    stats are on a different column are conservatively read.  The
    caller still applies its own row-level filter; pruning is an I/O
    optimization, never a semantic one.
    """
    import os

    manifest = _load_manifest(table_dir, version)
    dirs = manifest["data_dirs"]
    if key_range is not None:
        if key_col is None:
            # only infer when EVERY stats entry names the same column;
            # a mixed manifest prunes nothing without an explicit col
            key_col = _manifest_stats_col(manifest)
            if key_col is None:
                dirs = manifest["data_dirs"]
                return spark.read.option("mergeSchema", "true").parquet(
                    *[os.path.join(table_dir, d) for d in dirs]
                )
        dirs, skipped = _dirs_overlapping(
            manifest, key_range[0], key_range[1], key_col
        )
        if not dirs:
            return _empty_scan(spark, table_dir, manifest)
    # mergeSchema: additive schema evolution across commits — a column
    # added by a later commit reads as NULL in older directories
    # instead of silently vanishing (footer-union cost is per-dir, not
    # per-row, and only at planning time)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(table_dir, d) for d in dirs])
    )


def read_snapshot_lookup(
    spark: SparkSession,
    table_dir: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """Point lookup with manifest Bloom pruning: read ONLY the data
    directories whose per-directory Bloom filter (recorded by
    ``snapshot_commit(bloom_col=...)``) might contain ``value`` — a
    driver-side probe over a few KB of manifest JSON, no Spark job —
    then filter the survivors exactly.

    This is the needle-in-100-TB path min/max stats can't serve: a
    uniformly distributed key intersects every directory's [min, max],
    but its Bloom bits appear in ~1 directory (+ the false-positive
    tail), so the cluster reads one directory instead of the table.
    Directories without a Bloom entry are conservatively read.
    """
    import os

    manifest = _load_manifest(table_dir, version)
    blooms = manifest.get("blooms", {})
    col = _manifest_bloom_col(manifest)
    candidates = [
        d
        for d in manifest["data_dirs"]
        if d not in blooms or _bloom_maybe_contains(blooms[d], value)
    ]
    if col is None:
        raise ValueError(
            f"no bloom index recorded in {table_dir}; commit with bloom_col"
        )
    if not candidates:
        return _empty_scan(spark, table_dir, manifest)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(table_dir, d) for d in candidates])
        .filter(F.col(col) == F.lit(value))
    )


def snapshot_merge(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    stats_col: str | None = None,
    delete: bool = False,
) -> int:
    """Keyed copy-on-write MERGE into a snapshot table: rows in
    ``updates`` replace same-key rows (upsert), or remove them with
    ``delete=True``.  Returns the new committed version.

    The scale property is what it does NOT do: directories whose
    manifest [min, max] on ``stats_col`` (default ``key_cols[0]``)
    cannot contain any update key are **carried forward by reference**
    — not read, not rewritten, not even listed for file sizes.  Only
    the touched directories pay the anti-join + rewrite, so a 1%-key
    update batch against a 100 TB table costs ~1% of a full rewrite
    (Delta/Iceberg MERGE's file-pruning behavior on plain parquet).
    The update batch's own key bounds come from one 2-value aggregate
    — no key set is ever collected to the driver.

    Commit protocol is unchanged: new data lands in a fresh directory,
    the manifest rename is atomic, a crashed merge leaves an orphan
    dir and no new version.
    """
    import os
    import uuid

    stats_col = stats_col or key_cols[0]
    manifest = _load_manifest(table_dir, None)
    new_version = manifest["version"] + 1

    bounds = updates.agg(F.min(stats_col), F.max(stats_col)).first()
    if bounds[0] is None:  # empty update batch: carry everything forward
        _write_manifest(
            table_dir,
            new_version,
            manifest["data_dirs"],
            manifest.get("stats", {}),
            manifest.get("blooms", {}),
        )
        return new_version
    touched, untouched = _dirs_overlapping(
        manifest, bounds[0], bounds[1], stats_col
    )

    stats = {
        d: s
        for d, s in manifest.get("stats", {}).items()
        if d in set(untouched)
    }
    prev_blooms = manifest.get("blooms", {})
    blooms = {d: b for d, b in prev_blooms.items() if d in set(untouched)}
    bloom_col = _manifest_bloom_col(manifest)
    dirs = list(untouched)

    if touched or not delete:
        survivors = None
        if touched:
            current = spark.read.parquet(
                *[os.path.join(table_dir, d) for d in touched]
            )
            survivors = current.join(
                updates.select(*key_cols).distinct(), on=key_cols, how="left_anti"
            )
        merged = survivors
        if not delete:
            upserts = updates if survivors is None else survivors.unionByName(
                updates
            )
            merged = upserts
        if merged is not None:
            data_dir = f"data/{new_version:012d}-{uuid.uuid4().hex[:8]}"
            merged.write.mode("error").parquet(os.path.join(table_dir, data_dir))
            dirs.append(data_dir)
            stats[data_dir] = _dir_stats(
                spark, os.path.join(table_dir, data_dir), stats_col
            )
            if bloom_col is not None:
                blooms[data_dir] = _dir_bloom(
                    spark, os.path.join(table_dir, data_dir), bloom_col
                )

    _write_manifest(table_dir, new_version, dirs, stats, blooms)
    return new_version


def _ohlc_partial(
    rows: DataFrame,
    symbol_col: str = "source_symbol",
    ts_col: str = "timestamp",
    price_col: str = "ltp",
) -> DataFrame:
    """Mergeable hourly-OHLC partial: alongside open/high/low/close it
    carries ``first_ts``/``last_ts``/``n_ticks``, which is exactly the
    extra state that makes two partials combinable (open follows the
    smaller first_ts, close the larger last_ts, high/low/n are plain
    max/min/sum) — the same algebra Spark's partial aggregation uses
    internally, lifted to the table level.  Ticks tied on the timestamp
    are ordered by price inside the ordering key (lowest opens, highest
    closes), so every merge order picks the same tick."""
    hour = F.date_trunc("hour", F.col(ts_col))
    return rows.groupBy(
        F.col(symbol_col).alias("symbol"), hour.alias("bucket_start")
    ).agg(
        F.min_by(price_col, F.struct(ts_col, price_col)).alias("open"),
        F.max(price_col).alias("high"),
        F.min(price_col).alias("low"),
        F.max_by(price_col, F.struct(ts_col, price_col)).alias("close"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def _ohlc_merge(partials: DataFrame) -> DataFrame:
    """Combine OHLC partials per (symbol, bucket): associative, so any
    number of increments merge in any order."""
    return partials.groupBy("symbol", "bucket_start").agg(
        F.min_by("open", F.struct("first_ts", "open")).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", F.struct("last_ts", "close")).alias("close"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.sum("n_ticks").alias("n_ticks"),
    )


def maintain_ohlc_mv(
    spark: SparkSession,
    table_dir: str,
    mv_dir: str,
    symbol_col: str = "source_symbol",
    ts_col: str = "timestamp",
    price_col: str = "ltp",
) -> int | None:
    """Incrementally maintain an hourly-OHLC materialized view over a
    snapshot table: aggregate ONLY the data directories added since
    the last maintained version, merge with the existing view via the
    mergeable-partial algebra, and publish the new view as an atomic
    snapshot commit of its own (so the MV is itself time-travelable
    and a crashed refresh changes nothing).

    This is the batch complement of the streaming keyed-merge sink:
    the streaming path maintains the view continuously; this one
    catches up after bulk backfills at the cost of reading only the
    NEW data — O(increment), never O(table).

    Returns the new MV version, or None if there was nothing new.
    """
    import json
    import os

    versions = list_snapshots(table_dir)
    if not versions:
        return None
    latest = versions[-1]
    state_path = os.path.join(mv_dir, "_last_table_version")
    last = -1
    if os.path.exists(state_path):
        with open(state_path) as f:
            last = json.load(f)["table_version"]
    if latest == last:
        return None

    with open(_manifest_path(table_dir, latest)) as f:
        new_dirs = set(json.load(f)["data_dirs"])
    if last >= 0:
        with open(_manifest_path(table_dir, last)) as f:
            new_dirs -= set(json.load(f)["data_dirs"])
    if not new_dirs:
        return None
    increment = spark.read.parquet(
        *[os.path.join(table_dir, d) for d in sorted(new_dirs)]
    )
    partial = _ohlc_partial(increment, symbol_col, ts_col, price_col)
    try:
        current = read_snapshot(spark, mv_dir)
        merged = _ohlc_merge(current.unionByName(partial))
    except FileNotFoundError:
        merged = _ohlc_merge(partial)
    mv_version = snapshot_commit(merged, mv_dir, mode="overwrite")
    with open(state_path, "w") as f:
        json.dump({"table_version": latest}, f)
    return mv_version


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


def read_snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CDC-style incremental read: the rows ADDED between two snapshot
    versions, obtained by scanning only the data directories present
    in ``to_version`` but not in ``since_version`` — O(increment)
    regardless of table size.  This is the consumer-facing form of the
    diff :func:`maintain_ohlc_mv` uses internally: a downstream job
    that processed version N catches up to version M by reading the
    delta, never the table.

    Append-only semantics: directories retired by ``overwrite`` or
    :func:`snapshot_merge` are NOT subtracted (parquet dirs can't
    express deletions); merge consumers should treat the delta as an
    upsert batch keyed like the merge.  Returns an empty, schema-
    preserving frame when nothing changed.
    """
    import os

    new_m = _load_manifest(table_dir, to_version)
    old_m = _load_manifest(table_dir, since_version)
    delta = [d for d in new_m["data_dirs"] if d not in set(old_m["data_dirs"])]
    if not delta:
        any_dir = new_m["data_dirs"][0]
        return spark.read.parquet(os.path.join(table_dir, any_dir)).limit(0)
    return spark.read.parquet(*[os.path.join(table_dir, d) for d in delta])


def compact_snapshots(
    spark: SparkSession,
    table_dir: str,
    max_dirs: int = 8,
    stats_col: str | None = None,
    bloom_col: str | None = None,
) -> int | None:
    """OPTIMIZE for snapshot tables: when the manifest references more
    than ``max_dirs`` data directories (the small-files problem every
    incremental ingest creates), rewrite them as ONE directory and
    commit the result as a new version — readers never block, old
    versions stay time-travelable until vacuumed, and a crashed
    compaction leaves only an orphan dir.

    With ``stats_col`` the compacted directory gets fresh manifest
    stats; per-directory pruning resets to the single combined range,
    which is the expected trade of compaction (fewer, bigger files) —
    run :func:`zorder_write`-style clustering first when range
    locality must survive.

    Returns the new version, or None if already compact.
    """
    manifest = _load_manifest(table_dir, None)
    if len(manifest["data_dirs"]) <= max_dirs:
        return None
    # preserve the table's index configuration across the rewrite:
    # dropping the stats/bloom entries would silently break pruning
    # and break read_snapshot_lookup outright
    if stats_col is None:
        stats_col = _manifest_stats_col(manifest)
    if bloom_col is None:
        bloom_col = _manifest_bloom_col(manifest)
    full = read_snapshot(spark, table_dir)
    return snapshot_commit(
        full,
        table_dir,
        mode="overwrite",
        stats_col=stats_col,
        bloom_col=bloom_col,
    )


def vacuum_snapshots(table_dir: str, keep_last: int = 1) -> list[str]:
    """Physically delete data directories referenced ONLY by snapshots
    older than the ``keep_last`` newest (and their manifests), plus
    orphan dirs no manifest ever referenced (failed jobs).  Returns
    the removed directories.

    Safe by construction: the union of the surviving manifests' dirs
    is computed first, and nothing in it is touched — concurrent
    readers of surviving versions are unaffected (the object-store
    discipline Delta's VACUUM follows)."""
    import json
    import os
    import shutil

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
