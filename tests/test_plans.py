"""Physical-plan assertions: the layout/pushdown promises the engine
makes for scale must be visible in the optimized plan, not just hoped
for (SURVEY.md §4)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from financial_data_ingestion_pipeline_spark.operators import warehouse
from financial_data_ingestion_pipeline_spark.schemas import WAREHOUSE_SCHEMA


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def wh_path(spark, tmp_path_factory):
    import datetime as dt

    rows = []
    for d in (4, 5, 6):
        for i in range(10):
            rows.append(
                ("ALPHA", dt.datetime(2022, 4, d, 9, 0, i), 100.0 + i,
                 5.0, 0.0, 99.5, 10.0, 100.5, 12.0)
            )
    df = spark.createDataFrame(rows, WAREHOUSE_SCHEMA).withColumn(
        "trade_date", F.to_date("timestamp")
    )
    path = str(tmp_path_factory.mktemp("wh") / "second_level_data")
    warehouse.write_warehouse(df, path, mode="overwrite")
    return path


def test_date_filter_prunes_partitions(spark, wh_path):
    """A trade_date predicate must become partition pruning (the engine's
    replacement for the reference's timestamp b-tree, dp:253-256)."""
    wh = warehouse.read_warehouse(spark, wh_path)
    q = wh.filter(F.col("trade_date") == "2022-04-05")
    plan = _formatted_plan(q)
    assert "PartitionFilters" in plan
    # pruning actually applied: only one of three date partitions read
    assert q.count() == 10
    scan_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "2022-04-05" in scan_line or "isnotnull" in scan_line


def test_symbol_predicate_pushed_to_scan(spark, wh_path):
    wh = warehouse.read_warehouse(spark, wh_path)
    plan = _formatted_plan(wh.filter(F.col("source_symbol") == "ALPHA"))
    assert "PushedFilters" in plan
    assert "EqualTo(source_symbol,ALPHA)" in plan


def test_projection_prunes_columns(spark, wh_path):
    wh = warehouse.read_warehouse(spark, wh_path)
    plan = _formatted_plan(wh.select("source_symbol", "ltp"))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "ltp" in read_schema
    assert "bid_qty" not in read_schema  # untouched columns never leave parquet


def test_golden_join_broadcasts(spark, wh_path):
    """The bhavcopy-sized dimension side must broadcast (J1)."""
    from financial_data_ingestion_pipeline_spark.operators.quality import (
        ohlc_reconciliation,
    )

    wh = warehouse.read_warehouse(spark, wh_path)
    golden = spark.createDataFrame(
        [("ALPHA", 100.0, 109.0, 100.0, 109.0)],
        "SYMBOL string, OPEN double, HIGH double, LOW double, CLOSE double",
    )
    plan = _formatted_plan(ohlc_reconciliation(wh, golden))
    assert "BroadcastHashJoin" in plan


def test_ann_plans_fused_scan_single_shuffle(spark, sf_dir):
    """Every top-k path (exact and both ANN) must be the fused shape:
    one mapInPandas corpus scan emitting local top-k, then exactly ONE
    exchange (the per-query merge) — no cartesian/nested-loop product,
    no join at all, and no corpus-sized sort."""
    from financial_data_ingestion_pipeline_spark.functions import similarity
    from financial_data_ingestion_pipeline_spark.functions.ivf_pretrained import (
        CENTROIDS,
    )
    from financial_data_ingestion_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qids = list(range(10))
    knn = similarity.cosine_topk(emb, qids, k=5)
    lsh = similarity.ann_lsh_topk(emb, qids, k=5)
    ivf = similarity.ivf_topk(emb, qids, k=5, centroids=CENTROIDS)
    for name, df in (("knn", knn), ("lsh", lsh), ("ivf", ivf)):
        plan = _formatted_plan(df)
        assert "MapInPandas" in plan, name
        # formatted mode prints each node once in the tree and once in
        # the detail section -> 2 mentions per physical Exchange node
        assert plan.count("Exchange") == 2, f"{name}: {plan.count('Exchange')}"
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "Sort " not in plan, name  # ranking is slice-of-sorted-set


def test_dedup_self_joins_reuse_exchanges(spark, sf_dir):
    """Each pair-finding self-join must compute its expensive
    signature/posting subplan once, not once per side.  Two valid
    mechanisms: Catalyst exchange reuse (a ReusedExchange in the final
    adaptive plan) for the persist-free operators, or the sigs pin
    (both join sides reading ONE cached materialization — two
    TableCacheQueryStage reads of the pinned frame) for operators that
    persist the narrow signature frame (simhash_pairs since round 11:
    exchange reuse only covered the shuffle BELOW the aggregate and
    the majority decode re-ran per side)."""
    from financial_data_ingestion_pipeline_spark.functions import dedup
    from financial_data_ingestion_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    cases = {
        "minhash": dedup.minhash_lsh_pairs(docs, threshold=0.8),
        "ngram": dedup.ngram_jaccard_pairs(docs, threshold=0.5),
        "simhash": dedup.simhash_pairs(dedup.simhash(docs)),
    }
    for name, df in cases.items():
        df.collect()  # adaptive reuse is only visible in the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        shared_once = (
            "ReusedExchange" in plan
            or plan.count("TableCacheQueryStage") >= 2
        )
        assert shared_once, f"{name}: signature subplan not shared"


def test_partitioned_topk_uses_window_group_limit(spark, sf_dir):
    """The rank<=k filter must compile to WindowGroupLimit (per-group
    top-k pushed below the shuffle) — the scalable form of per-customer
    LIMIT: no customer's full order history is ever sorted whole."""
    import __spark_entry__ as contract

    df = contract.queries()["top_orders_per_customer"](spark, sf_dir)
    plan = _formatted_plan(df)
    assert "WindowGroupLimit" in plan


def test_late_priority_is_semi_join(spark, sf_dir):
    """EXISTS must stay a semi-join: one output row per order no matter
    how many lines match, and no row duplication before the agg."""
    import __spark_entry__ as contract

    plan = _formatted_plan(
        contract.queries()["late_priority"](spark, sf_dir)
    )
    assert "LeftSemi" in plan


def test_pack_sequences_no_global_window(spark, sf_dir):
    """The corpus-wide prefix sum must never be a single-partition
    window over the full corpus: the only unpartitioned window runs on
    per-bucket totals (one row per bucket).  In the physical plan the
    full-data Window node carries the _bucket partition key."""
    import __spark_entry__ as contract

    plan = _formatted_plan(contract.queries()["pack_sequences"](spark, sf_dir))
    specs = [
        ln for ln in plan.splitlines() if "windowspecdefinition(" in ln
    ]
    # two Window ops: per-doc cumsum partitioned by _bucket, plus the
    # bucket-offset scan over one row per bucket (the only global one)
    partitioned = [ln for ln in specs if "windowspecdefinition(_bucket" in ln]
    assert partitioned, f"no bucket-partitioned window found: {specs}"
    # and the result must broadcast the tiny offset table, not shuffle docs
    assert "BroadcastHashJoin" in plan


def test_q19_disjunction_stays_single_equi_join(spark, sf_dir):
    """The OR-of-conjunctions predicate must ride ONE p_partkey
    equi-join as a filter — not a cartesian, not one join per
    disjunct."""
    import __spark_entry__ as contract

    plan = _formatted_plan(
        contract.queries()["brand_promo_revenue"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    # detail-section node headers: "(n) <JoinType>[ [codegen id : k]]"
    joins = re.findall(r"^\(\d+\) (\w+Join)", plan, flags=re.MULTILINE)
    assert len(joins) == 1, joins


def test_budget_sample_single_exchange_running_frame(spark, sf_dir):
    """One hash exchange on the stratum key feeding one running-frame
    Window — the quota filter is a post-window predicate, not a join,
    and no unbounded-following (per-row re-evaluated) frame appears."""
    import __spark_entry__ as contract

    plan = _formatted_plan(contract.queries()["budget_sample"](spark, sf_dir))
    assert plan.count("Exchange (") == 1
    assert "unboundedfollowing" not in plan.lower()


def test_scd2_single_exchange(spark, sf_dir):
    """The SCD2 build is exactly one exchange + one Window (lead) —
    no self-join on the inequality."""
    import __spark_entry__ as contract

    plan = _formatted_plan(contract.queries()["scd2_history"](spark, sf_dir))
    assert plan.count("Exchange (") == 1
    assert "Join" not in plan


def test_countmin_estimation_broadcasts_sketch(spark, sf_dir):
    """The CM sketch is at most depth x width rows — estimation must be
    a broadcast join, never a shuffle of the probe side on (lane,
    bucket)."""
    import __spark_entry__ as contract

    plan = _formatted_plan(contract.queries()["heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_repetition_stats_partial_aggregates(spark, sf_dir):
    """All repetition statistics are per-document functions, so the
    round-11 array-side form must plan ZERO exchanges — no shuffle of
    gram text, no per-doc join, no cartesian/nested-loop join.  (The
    earlier explode+hash-aggregate forms asserted map-side
    partial_count here; with no aggregate left there is nothing to
    partially aggregate.)"""
    import __spark_entry__ as contract

    plan = _formatted_plan(
        contract.queries()["repetition_stats"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange (" not in plan  # zero shuffles: per-row state only


def test_domain_caps_partial_group_limit_before_shuffle(spark, sf_dir):
    """One hash exchange on the domain key — and the rank<=cap filter
    must compile to a PARTIAL WindowGroupLimit below it, so every task
    pre-truncates its domains to the cap before anything shuffles (a
    hot domain ships cap rows per task, not its full history)."""
    import __spark_entry__ as contract

    plan = _formatted_plan(contract.queries()["domain_caps"](spark, sf_dir))
    # tree-line match only (formatted mode repeats nodes in the detail
    # section as "(n) Exchange")
    assert plan.count("Exchange (") == 1
    assert "WindowGroupLimit" in plan
    assert ", Partial" in plan  # map-side truncation below the exchange


def test_waiting_suppliers_single_fact_shuffle(spark, sf_dir):
    """The Q21 EXISTS/NOT-EXISTS pair must stay ONE per-order aggregate
    (no correlated lineitem self-joins): exactly one join of lineitem
    against orders, the supplier name join broadcast, and no cartesian
    anywhere."""
    import __spark_entry__ as contract

    plan = _formatted_plan(
        contract.queries()["waiting_suppliers"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # supplier name lookup
    # lineitem appears once: the rewrite never re-scans the fact table
    assert plan.count("lineitem.parquet") == 1


def test_min_cost_supplier_broadcasts_dims_and_aggregate(spark, sf_dir):
    """The Q2 correlated-MIN rewrite must broadcast every dimension arm
    AND the per-part min frame — the fact table is the only big side,
    so no shuffle join appears at all."""
    import __spark_entry__ as contract

    plan = _formatted_plan(
        contract.queries()["min_cost_supplier"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_order_count_distribution_preserves_outer_join(spark, sf_dir):
    """Q13's priority filter sits INSIDE the join condition: the plan
    must keep LeftOuter (zero-order customers survive) — a WHERE-style
    rewrite would silently turn it inner."""
    import __spark_entry__ as contract

    plan = _formatted_plan(
        contract.queries()["order_count_distribution"](spark, sf_dir)
    )
    assert "LeftOuter" in plan


def test_shuffle_order_no_global_window(spark, sf_dir):
    """The epoch-shuffle rank must compose from a bucket-partitioned
    window (full data) + a window over one row per bucket — never a
    single-task sort of the whole corpus; the offsets broadcast back."""
    import __spark_entry__ as contract

    plan = _formatted_plan(contract.queries()["shuffle_order"](spark, sf_dir))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    partitioned = [ln for ln in specs if "windowspecdefinition(_bucket" in ln]
    assert partitioned, f"no bucket-partitioned window found: {specs}"
    assert "BroadcastHashJoin" in plan


def test_knn_join_blocked_no_cross_join(spark, sf_dir):
    """The kNN self-join must block on the quantizer cell (equi-join),
    never a cartesian, and the per-query top-k must compile to
    WindowGroupLimit so candidate lists truncate before the sort."""
    import __spark_entry__ as contract

    plan = _formatted_plan(contract.queries()["knn_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_bloom_probe_broadcasts_filter(spark, sf_dir):
    """The sparse word table must broadcast into the probe join (it is
    at most m/32 rows) and the build must be a single bit_or hash
    aggregate — no sort, no extra exchange beyond the word groupBy."""
    import __spark_entry__ as contract

    plan = _formatted_plan(contract.queries()["bloom_dedup_probe"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_unintended_cartesian_in_any_contract_query(spark):
    """Sweep EVERY contract query's optimized plan: no CartesianProduct
    anywhere, and BroadcastNestedLoopJoin only where a 1-row scalar
    frame is intentionally cross-joined (global thresholds/stats) —
    the whitelist below.  A new operator that accidentally plans a
    cross join fails here before it ever reaches the bench."""
    import __spark_entry__ as contract

    # 1-row broadcast scalar joins (global aggregate riding back over
    # the corpus scan) — BNLJ with a single-row build side is a
    # map-side literal, not a quadratic join
    scalar_bnlj_ok = {
        "sample_temperature",      # min stratum count
        "idle_rich_customers",     # global balance threshold
        "value_concentration",     # global revenue total + group count
        "k_anonymity",             # class-count/total-rows 1-row frame
        "tfidf_topterms",          # corpus doc count
        "embedding_quantize",      # per-dim min/max stats row
        "range_buckets",           # global row-count total
        "zorder_stats",            # dimension min/max ranges row
        "join_cardinality_estimate",  # two 1-row KMV sketch frames
        "bm25_topk",               # corpus N / total-token count row
        "hybrid_topk",             # same corpus-totals row via its BM25 arm
        "tfidf_cosine_pairs",      # corpus doc-count row for idf weights
        "association_rules",       # basket-universe count row
        "token_surprisal",         # corpus total-token count row
        "curriculum_order",        # corpus doc-count row for stage cuts
        "winnow_overlap_pairs",    # corpus doc-count row for the df cap
        "winnow_probe",            # same cap row, batch-vs-corpus form
    }
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in contract.queries().items():
        plan = _formatted_plan(fn(spark, sf))
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in scalar_bnlj_ok:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, f"unintended cross joins: {offenders}"


def test_plan_budgets_hold_for_every_contract_query(spark):
    """Plan-regression gate (round-4 verdict #1/#3, round-5 #2): every
    contract query must stay within the budget committed in
    PLAN_AUDIT.md on FIVE axes — LIVE exchanges and scans of the
    returned plan, the exchanges printed inside cached (pinned)
    subtrees (``cached_ex``), plus the checkpoint count and the
    exchanges hidden inside checkpointed subtrees
    (``ckpts``/``ckpt_ex``).  The last three close both
    materialization blind spots: truncating lineage moves shuffle cost
    out of the returned plan (the audit hook still sees it), and
    pinning a subtree moves its cost into an InMemoryRelation the
    naive count would either miss or double-charge
    (``materialize.tree_counts`` splits it out) — so a refactor can't
    dodge its budget by checkpointing OR persisting the expensive
    half.  A refactor that silently adds a shuffle, scan, checkpoint,
    or pinned shuffle fails HERE, not three rounds later in a bench
    regression.  Accepting a deliberate plan change = regenerating the
    audit (`python tools/plan_report.py`) and committing the new
    budgets alongside the code.  Queries running meaningfully UNDER
    budget are reported as a warning so PLAN_AUDIT.md gets refreshed
    after improvements too (round-5 advice).
    """
    import re
    import warnings

    import __spark_entry__ as contract
    from financial_data_ingestion_pipeline_spark import materialize as mat

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    budgets: dict[str, tuple[int, int, int, int, int]] = {}
    with open(os.path.join(repo, "PLAN_AUDIT.md")) as f:
        for line in f:
            m = re.match(
                r"\| (\w+) \| (\d+) \| \d+ \| \d+ \| \d+ \| (\d+) "
                r"\| (\d+) \| \d+ \| (\d+) \| (\d+) \| \d+ \| \d+ \|",
                line,
            )
            if m:
                budgets[m.group(1)] = tuple(
                    int(m.group(i)) for i in (2, 3, 4, 5, 6)
                )
    assert len(budgets) > 100, "PLAN_AUDIT.md table parse failed"

    # pinned to the SF the committed budgets were generated at —
    # checkpoint counts in iterative queries are data-dependent
    sf = "/root/testdata/sf0.001"
    # budgets describe COLD plans: earlier tests in a shared session
    # leave persisted indexes in the CacheManager, and the optimizer
    # substitutes InMemoryRelation / re-partitions cache output
    # (canChangeCachedPlanOutputPartitioning), shifting exchange and
    # scan counts in either direction — clear it so the audit measures
    # the same plans tools/plan_report.py committed
    spark.catalog.clearCache()
    offenders = {}
    slack = {}
    missing = []
    for name, fn in contract.queries().items():
        if name not in budgets:
            missing.append(name)
            continue
        ckpts: list = []
        with mat.audit(ckpts):
            df = fn(spark, sf)
            tc = mat.physical_counts(df)
        n_ex, n_scan = tc["exchanges"], tc["scans"]
        n_cx = tc["cached_ex"]
        n_ck = len(ckpts)
        ck_ex = sum(c["exchanges"] for c in ckpts)
        bx, bs, bcx, bck, bckex = budgets[name]
        if (
            n_ex > bx or n_scan > bs or n_cx > bcx
            or n_ck > bck or ck_ex > bckex
        ):
            offenders[name] = (
                f"exchanges {n_ex}>{bx} / scans {n_scan}>{bs} / "
                f"cached_ex {n_cx}>{bcx} / "
                f"ckpts {n_ck}>{bck} / ckpt_ex {ck_ex}>{bckex}"
            )
        elif (
            (bx - n_ex) + (bs - n_scan) + (bcx - n_cx)
            + (bck - n_ck) + (bckex - ck_ex)
        ) >= 2:
            slack[name] = (
                f"actual ex={n_ex}/scan={n_scan}/cached_ex={n_cx}"
                f"/ckpts={n_ck}/ckpt_ex={ck_ex}"
                f" vs budget {bx}/{bs}/{bcx}/{bck}/{bckex}"
            )
    assert not missing, (
        f"queries absent from PLAN_AUDIT.md (run tools/plan_report.py): {missing}"
    )
    assert not offenders, f"plan budget regressions: {offenders}"
    if slack:
        warnings.warn(
            "plans improved beyond budget — refresh PLAN_AUDIT.md "
            f"(tools/plan_report.py): {slack}"
        )


def test_materialize_audit_sees_checkpointed_subtrees(spark):
    """The plan-budget blind-spot hook (round-5 verdict #2): inside
    materialize.audit, every localCheckpoint records the exchanges and
    scans of the subtree it truncates — the costs that vanish from the
    returned plan.  Outside the context, nothing is patched."""
    from financial_data_ingestion_pipeline_spark import materialize as mat

    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("event_type")
        .count()
    )
    collected: list = []
    with mat.audit(collected):
        pinned = df.localCheckpoint(eager=True)
    assert len(collected) == 1
    assert collected[0]["exchanges"] >= 1  # the groupBy shuffle
    assert collected[0]["scans"] == 1
    assert collected[0]["eager"] is True
    # the checkpointed frame's own plan hides that cost — the hook is
    # the only witness
    plan = _formatted_plan(pinned)
    assert "Scan parquet" not in plan.split("\n\n")[0]
    # patch removed on exit: a checkpoint outside the context records
    # nothing
    df.localCheckpoint(eager=True)
    assert len(collected) == 1


def test_span_probe_never_broadcasts_corpus_side(spark, sf_dir):
    """Codifies the round-9 heaps1 lesson: Catalyst's row estimate for
    an aggregate/distinct over posexplode output is rows(input) — off
    by the per-doc fan-out — so the corpus anchor set of the RECOMPUTE
    probe used to be broadcast on estimate and OOM'd the driver at the
    10x decade.  The in-flight corpus side must plan a sort-merge
    join (the hint); the parquet-backed index probe keeps adaptive
    freedom (real stats)."""
    from pyspark.sql import functions as F

    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        span_cross_spans,
    )
    from financial_data_ingestion_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = span_cross_spans(
        docs.filter(F.col("doc_id") % 10 == 7),
        docs.filter(F.col("doc_id") % 10 != 7),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the ONLY join in this op is the membership semi-join — no
    # broadcast of the corpus anchor set anywhere
    assert "BroadcastHashJoin" not in plan


def test_overlap_matrix_posting_is_pinned(spark, sf_dir):
    """_overlap_matrix must serve its three consumers (sizes + both
    gram-join sides) from ONE pinned posting with real stats — the
    derived posting's bogus estimate previously broadcast a
    corpus-vocab-sized build side (round-9 heaps1 OOM)."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        source_overlap,
    )
    from financial_data_ingestion_pipeline_spark.sources import load_table

    df = source_overlap(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan  # the pinned posting
    from financial_data_ingestion_pipeline_spark.session import (
        evict_persisted,
    )

    evict_persisted()
