"""SparkSession factory.

Configs are chosen for cluster-scale execution and are equally safe on
``local[*]``:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting),
  so an initial over-partitioned shuffle is cheap and skewed symbol
  keys do not straggle.
- UTC session timezone: all reference timestamps are naive wall-clock
  (parquet TIMESTAMP_NTZ / pandas datetime64), and correctness oracles
  compare wall-clock values.
- ``nanosAsLong`` because the driver fixtures carry nanosecond parquet
  timestamps, which Spark 4 otherwise refuses to read (the fixture
  loader converts the long back to a timestamp column).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dimension tables (bhavcopy ~2k symbols; region/nation/supplier)
    # should always broadcast; 64m is still tiny next to executor memory.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Cached/persisted plans materialize with their static shuffle
    # partitioning unless AQE is allowed to re-plan them; without this
    # a persisted index (e.g. tfidf_cosine_pairs' inverted index) at
    # the stock 200 shuffle partitions runs every downstream stage over
    # 200 near-empty cache blocks — measured 26 s vs 2.2 s at sf0.1.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


def get_spark(
    app_name: str = "financial-data-ingestion-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``shuffle_partitions`` sizes the *initial* shuffle parallelism; AQE
    coalesces downward at runtime, so on a big cluster pass a large
    value (e.g. 2-3x total cores) and let AQE trim.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


_SHIPPED_SESSIONS: set[int] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors via ``addPyFile``.

    Pandas-UDF / mapInPandas closures reference module-level functions,
    which cloudpickle serializes *by reference* — the worker must be
    able to ``import financial_data_ingestion_pipeline_spark``.  When the driver
    runs from another working directory (the external verify harness)
    or on a real cluster, that import fails unless the package is
    shipped.  Zipping once per session is idempotent and costs ~ms.
    """
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if fname.endswith(".py"):
                        full = os.path.join(root, fname)
                        rel = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


_CONF_ENSURED: set[str] = set()


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine confs to an existing session.

    Used when the session is created by an external harness (the
    driver's verify loop) rather than :func:`get_spark`.  Applied once
    per SparkContext: it is called on EVERY table load, and each
    ``conf.set`` is a py4j round-trip — measurable driver-side fixed
    cost across a 148-query run.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _CONF_ENSURED:
        return spark
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.adaptive.enabled",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    ):
        try:
            spark.conf.set(key, ENGINE_CONF[key])
        except Exception:  # pragma: no cover - conf may be static in some builds
            pass
    ship_package(spark)
    _CONF_ENSURED.add(app_id)
    return spark


def cached_count(df) -> int:
    """``df.count()`` memoized on the DataFrame OBJECT.

    Auto-sizing operators (LSH band ladder, IVF seed stride) need the
    corpus row count before they can build a plan; calling several of
    them — or the same one repeatedly — against the same session-pinned
    table re-runs an identical count job each time.  A DataFrame is an
    immutable logical plan, so its count is stable for as long as the
    underlying files are (the same contract ``persist()`` relies on);
    the memo lives on the object, NOT on the plan or path, so a caller
    that re-reads a mutated table gets a fresh object and a fresh
    count.  Fixture loads are object-memoized per (app, dir, name) in
    ``sources/fixtures.py``, which is what makes this effective for
    repeated analytics over one corpus.
    """
    n = getattr(df, "_fdip_count", None)
    if n is None:
        n = df.count()
        try:
            df._fdip_count = n
        except Exception:  # pragma: no cover - exotic DataFrame proxy
            pass
    return n


def register_persisted(df):
    """Track a DataFrame an operator persisted on the caller's behalf.

    Operators that return a LAZY result over a ``persist(DISK_ONLY)``
    subtree (tfidf weighted index, winnow posting, dsir occurrence
    stream) cannot unpersist it themselves — the caller hasn't
    consumed the result yet.  CacheManager dedupes identical
    canonicalized plans, so repeated calls on the same input are free,
    but a long-lived session running these over MANY DISTINCT inputs
    accumulates disk-cache entries without bound.  Such sessions call
    :func:`evict_persisted` at their job boundaries (bench.py does,
    between queries' lifecycles; corpus_pipeline does after its final
    write).  Weak-free by design: entries are dropped on eviction.
    """
    _PERSISTED.append(df)
    return df


_PERSISTED: list = []


def evict_persisted(blocking: bool = False) -> int:
    """Unpersist every operator-registered cache entry (see
    :func:`register_persisted`); returns how many were evicted.

    Call at job boundaries AFTER consumers have finished reading the
    frames derived from these caches.  Most entries are plain
    DISK_ONLY persists recomputable from lineage, so a straggling
    read merely recomputes — but the alternating persist/ckpt loop
    operators (connected components, ``graph.tree_depths``) return a
    persist-mode frame whose lineage bottoms out in a PRIOR round's
    localCheckpoint whose blocks the loop already freed: a read
    issued after eviction would hit missing checkpoint blocks instead
    of recomputing.  Evict-then-re-read is therefore not supported;
    re-run the operator instead (bench.py and corpus_pipeline both
    evict only once a query/batch lifecycle is fully consumed)."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception:  # pragma: no cover - session already stopped
            pass
    return n


def fan_out(df, min_partitions: int | None = None):
    """Ensure at least cluster-parallel partitioning before a
    CPU-heavy projection stage (hash chains, shingling, sketch
    lanes).

    Motivation: partial aggregation runs inside the SCAN stage, so a
    source with fewer splits than cores (one unsplittable row group, a
    single gzip shard) serializes the whole map-side computation onto
    one task no matter how wide the cluster is.  This helper is a
    NO-OP whenever the scan is already parallel — at production scale
    (thousands of files/row groups) it never fires; it repartitions
    only the pathologically under-split case, where one narrow
    round-robin shuffle is far cheaper than a single-core hash pass.

    Guards: streams pass through (no ``.rdd`` on a streaming frame);
    so does any plan that already contains an Exchange — its
    parallelism is ``spark.sql.shuffle.partitions`` by construction,
    AND touching ``.rdd`` on a shuffling plan under AQE would
    materialize the upstream stages into a throwaway QueryExecution
    (the whole pipeline would run twice).  Only for the remaining
    case — a shuffle-free scan/projection — is ``rdd.getNumPartitions``
    consulted, where it reads file-split metadata without running a
    job.  Round-robin redistribution is safe here because every
    consumer aggregates with commutative combiners (min / sum /
    bit_or), never order-sensitive folds.
    """
    if df.isStreaming:
        return df
    if "Exchange" in df._jdf.queryExecution().sparkPlan().toString():
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
