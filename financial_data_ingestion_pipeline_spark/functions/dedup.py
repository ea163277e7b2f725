"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design
------------
- **Exact** dedup is a single hash-aggregate on the content key (one
  shuffle, map-side partial agg).
- **MinHash+LSH** follows the classic shingle -> k minhashes -> b bands
  -> bucket-join pipeline: signatures are computed in one codegen'd
  projection (higher-order functions over the shingle array, no
  explode of the shingle set), candidates come from a self-equi-join on
  the band key (shuffle keyed by band bucket — AQE skew-join handles
  hot buckets), and only candidate pairs pay the exact-Jaccard
  verification join.  Nothing is ever collected to the driver.
- **SimHash** is one projection per document (64-bit signature via
  per-bit majority over token hashes) + the same band-bucket join idea
  on 15-bit chunks for candidate pairs (hamming <= d implies chunk
  equality for some chunk when d < chunks).
- MinHash values are fixed-width md5-hex substrings compared as
  strings: lexicographic order on fixed-length lowercase hex equals
  numeric order, and md5 is engine-portable, which keeps every step
  oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import hash64, tokens, word_ngrams
from ..session import fan_out

DEFAULT_NUM_PERM = 12
DEFAULT_BANDS = 4  # rows per band = NUM_PERM / BANDS = 3
SHINGLE_N = 3


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups: one row per duplicated content value with
    the keeper id (min id) and copy count.  Single hash aggregate on
    md5(text) — the grouping key is the 32-char digest, not the full
    document, so the shuffle stays narrow at 100 TB."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The deduplicated corpus: keep the min-id row per distinct text.
    The content hash is projected ONCE and both the groupBy and the
    join key reuse the projected column — one md5 per row per side,
    not two."""
    hashed = docs.withColumn("__h", F.md5(F.col(text_col)))
    keepers = hashed.groupBy("__h").agg(F.min(id_col).alias("keep_id"))
    return (
        hashed.join(keepers, "__h")
        .filter(F.col(id_col) == F.col("keep_id"))
        .drop("__h", "keep_id")
    )


def shingles(text_col: Column | str, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles as an array column (see
    :func:`..text.word_ngrams` for the slice/zip construction notes)."""
    return word_ngrams(text_col, n, distinct=True)


def minhash_signatures(
    posting: DataFrame,
    num_perm: int = DEFAULT_NUM_PERM,
    doc_col: str = "doc",
    gram_col: str = "gram",
) -> DataFrame:
    """Per-doc minhash signature columns ``s0..s{k-1}`` from a (doc,
    gram) posting table.  Permutation ``i`` is a 16-hex-char window of
    ``md5(i//2 || ':' || s)`` — the 32-hex digest carries TWO
    independent 64-bit lanes (chars 1-16 and 17-32, the same
    disjoint-window trick as ``sketches.kmv_digest_cols``), so ``k``
    permutations cost ``k/2`` md5 evaluations per posting row.
    Fixed-width hex strings order identically to their numeric value,
    and md5 makes the signature portable across engines.

    The digests are hoisted into a projection BEFORE the aggregate:
    Spark does not share common subexpressions across aggregate update
    expressions, so two ``min(substring(md5(...)))`` aggs over the
    same digest would hash twice.  One codegen'd aggregate pass with
    map-side partial MIN.  (The single-projection alternative —
    ``array_min(transform(...))`` per permutation — re-evaluates the
    whole shingle expression per permutation in interpreted mode;
    measured ~10x slower.)

    The per-lane MIN aggregates stay on the HEX STRINGS even though
    ``min(string)`` buffers are not hash-aggregatable (the plan is a
    SortAggregate).  Round-11 A/B of the "obvious" fix — parsing each
    64-bit window into a sign-bias-flipped long (``u XOR 2^63``) so
    the aggregation hash-aggregates over primitive MINs, re-encoding
    identical hex post-agg: the conv-based parse cost MORE than the
    sort it saved (string-min 2.0-2.4 s vs long-min 3.7-4.2 s and
    decimal-min 4.2 s for the 12-lane aggregate over the sf0.1
    posting, min-of-3 steady state).  The sort is cheap because the
    posting arrives doc-clustered from the explode (near-sorted runs),
    while ``conv`` is an interpreted per-row string parse ×2 per lane.
    """
    n_digests = (num_perm + 1) // 2
    with_digests = posting.select(
        F.col(doc_col),
        *[
            F.md5(F.concat(F.lit(f"{j}:"), F.col(gram_col))).alias(f"__mh{j}")
            for j in range(n_digests)
        ],
    )
    sig_aggs = [
        F.min(
            F.substring(F.col(f"__mh{i // 2}"), 1 + 16 * (i % 2), 16)
        ).alias(f"s{i}")
        for i in range(num_perm)
    ]
    return with_digests.groupBy(doc_col).agg(*sig_aggs)


def minhash_band_keys(
    num_perm: int = DEFAULT_NUM_PERM, bands: int = DEFAULT_BANDS
) -> Column:
    """Array of LSH band keys (band index || that band's signature rows)
    over ``s0..s{num_perm-1}`` columns."""
    rows = num_perm // bands
    keys = [
        F.concat_ws(
            "|",
            F.lit(f"B{b}"),
            *[F.col(f"s{b * rows + j}") for j in range(rows)],
        )
        for b in range(bands)
    ]
    return F.array(*keys)


def _jaccard_from_sizes(inter: Column) -> Column:
    union = F.col("sz_a") + F.col("sz_b") - inter
    return F.round(inter.cast("double") / union, 6)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH, exact-Jaccard verified.

    Pipeline (every shuffle narrow — shingle arrays never ride a join):

    1. shingle arrays projected from source (the construction is an
       interpreted higher-order expression — each pass evaluates it
       exactly once per row);
    2. explode to a (doc, gram) posting table; minhash signatures as
       one codegen'd groupBy with ``num_perm`` partial-MIN aggregates;
    3. band keys -> self-equi-join on ``band_key`` over (doc, band_key)
       rows -> distinct candidate ``(id_a, id_b)`` pairs (AQE skew-join
       splits hot buckets);
    4. verification counts shingle COLLISIONS restricted to candidate
       pairs: candidates (broadcast-small) fan out to id_a's posting
       rows, an equi-join on (id_b, gram) keeps the shared grams, and
       a count-aggregate is |A ∩ B| — the shingle arrays themselves
       never ride a shuffle, and set sizes travel as one extra integer
       on each posting row.

    No ``persist()`` anywhere: the band self-join reuses one shuffle
    (Catalyst's ReusedExchange — both sides canonicalize identically),
    and the verification pass recomputes the posting from source rather
    than pinning a corpus-sized cache in executor storage — at 100 TB a
    cache of the shingle arrays cannot fit and would evict uselessly,
    while an extra source scan is linear and cheap.

    Pairs whose shingle sets share nothing never surface (no collision
    rows), so pass ``threshold > 0`` — a zero-overlap pair is jaccard 0
    anyway.  Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    base = fan_out(docs).select(
        F.col(id_col).alias("doc"), shingles(text_col).alias("sh")
    )
    posting = base.select(
        "doc", F.size("sh").alias("sz"), F.explode("sh").alias("gram")
    )
    bands_df = minhash_signatures(posting, num_perm).select(
        "doc", F.explode(minhash_band_keys(num_perm, bands)).alias("band_key")
    )
    # Band self-join strategy left to the planner (round-12 A/B): a
    # forced sort-merge was tried — it makes ReuseExchange share one
    # Exchange(band_key)(Generate(SortAgg)) pipeline, running the
    # 12-lane signature aggregate once instead of twice — but the
    # extra exchange stage measured +10-23% at sf0.1 (quiet-box
    # matched-control pairs), and at the 100x decade the planner
    # already picks the same SMJ unhinted (the band posting's size
    # estimate grows with the source, so no estimate-blind broadcast
    # hazard exists here, unlike span_dedup's df table): the hint
    # changed behavior only at the scale where it lost.  Reverted.
    cands = (
        bands_df.select(F.col("doc").alias("id_a"), "band_key")
        .join(bands_df.select(F.col("doc").alias("id_b"), "band_key"), "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification joins ride xxhash64 of the gram, not the string:
    # (id, gram) shuffle rows shrink to two longs (same trade measured
    # 2x on ngram_jaccard_pairs at sf1), and xxhash64 costs a fraction
    # of the md5-based portable hash per gram.  The signatures above
    # keep the RAW gram — hashing first would change every minhash
    # value and break oracle replay.  Caveat: the oracle
    # cross-validates the intersection on STRINGS, so a 64-bit hash
    # collision between two distinct shared-candidate grams
    # (p ~ |grams|^2 / 2^65 per pair — negligible but nonzero) would
    # inflate n_inter here and show up as an oracle mismatch rather
    # than staying bit-exact; parity is collision-free-in-practice,
    # not unconditional.
    #
    # Round-12 (guide §2.3/§8): ONE posting pass instead of two.  The
    # old two-sided form fanned id_a's rows out over broadcast
    # candidates and then equi-joined the ENTIRE posting again as the
    # id_b probe — a third shingle evaluation/scan, and a probe side
    # that planned as a corpus-sized broadcast at bench estimates (the
    # estimate-blind OOM class) / a full-corpus (id, gram) shuffle at
    # real scale.  Candidates ARE sparse (that is the point of LSH),
    # so the pair list fans out as a broadcast MEMBERSHIP table (each
    # pair -> its two member docs) against one posting pass; shuffled
    # bytes drop from |posting| + Σ|A| to Σ(|A|+|B|), and ONE
    # pair-keyed aggregation computes the intersection ARRAY-side
    # (shingle sets are distinct per doc, so |A ∩ B| =
    # size(array_intersect) of the two collected hash lists — the
    # per-pair buffer is bounded by the two documents' own shingle
    # counts).  A first cut aggregated per (pair, gram) then per pair;
    # the second exchange measured +14% at sf0.1, so the one-exchange
    # array form replaced it.
    memb = cands.select(
        "id_a",
        "id_b",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("doc"),
    )
    hashed = posting.select(
        "doc", "sz", F.xxhash64(F.col("gram")).alias("gram")
    )
    inter_counts = (
        hashed.join(F.broadcast(memb), "doc")
        .groupBy("id_a", "id_b")
        .agg(
            F.size(
                F.array_intersect(
                    F.collect_list(
                        F.when(F.col("doc") == F.col("id_a"), F.col("gram"))
                    ),
                    F.collect_list(
                        F.when(F.col("doc") == F.col("id_b"), F.col("gram"))
                    ),
                )
            ).cast("long").alias("n_inter"),
            F.max(
                F.when(F.col("doc") == F.col("id_a"), F.col("sz"))
            ).alias("sz_a"),
            F.max(
                F.when(F.col("doc") == F.col("id_b"), F.col("sz"))
            ).alias("sz_b"),
        )
        # pairs with NO shared gram never surfaced from the old inner
        # join on gram; drop them before the jaccard so the output set
        # is identical for any threshold
        .filter(F.col("n_inter") >= 1)
    )
    return (
        inter_counts.withColumn("jaccard", _jaccard_from_sizes(F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = SHINGLE_N,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing at least one shingle
    (inverted-index join, the exact counterpart of the LSH path).

    Because shingle sets are distinct per document, the number of
    posting-list collisions per pair IS the intersection size — so the
    self-join runs on narrow ``(doc, gram)`` rows and a count-aggregate
    produces |A ∩ B| directly.  The shingle arrays themselves are never
    shuffled (the naive formulation carries both arrays through every
    gram collision — at 100 TB that is the whole corpus duplicated per
    shared shingle).  Doc set sizes join back on the (tiny) per-doc
    size table to finish Jaccard.

    ``max_df`` guards the quadratic hot key: a shingle present in d
    documents yields d^2/2 join rows, so one boilerplate phrase across
    a 100 TB corpus is a key AQE cannot split enough.  Grams with
    document frequency > max_df are dropped from the posting table
    (standard practice — their Jaccard contribution for genuinely
    similar pairs is covered by their rarer co-shingles, while
    boilerplate-only pairs are noise; intersection counts are therefore
    a lower bound when the cap fires).  Pass ``None`` to disable.

    Plan shape: set sizes ride the posting rows (one extra integer), and
    the df cap is a window count INSIDE the self-join's own gram
    shuffle — the whole operator evaluates the (interpreted, expensive)
    shingle expression exactly once per document, with no side passes.

    The join key is ``xxhash64`` of the shingle, not the shingle
    string: posting rows shrink from ~40 wire bytes to 8 and the
    join/window compare longs instead of strings — measured 2x
    end-to-end at sf1 with the (pricier) md5-based hash (68.7 s ->
    33.9 s steady-state); xxhash64 computes the same-shaped key at a
    fraction of the per-gram hashing cost (it is Spark's own shuffle
    hash, one JVM intrinsic pass, vs MessageDigest + hex + conv).
    The hash value is engine-INTERNAL — only doc ids and counts reach
    the output — so no oracle parity rides on it; a 64-bit collision
    (~|grams|²/2^65) could merge two shingles and perturb one
    intersection count, the same negligible-but-nonzero caveat as
    minhash_lsh_pairs' verification join.
    """
    base = docs.select(
        F.col(id_col).alias("doc"), shingles(text_col, n).alias("sh")
    )
    posting = base.select(
        "doc", F.size("sh").alias("sz"), F.explode("sh").alias("gram")
    ).select("doc", "sz", F.xxhash64(F.col("gram")).alias("gram"))
    if max_df is not None:
        # count per gram over the hash-partitioned posting: same
        # partitioning the self-join needs, so the filter costs no
        # extra exchange and no second shingle evaluation
        w_df = Window.partitionBy("gram")
        posting = (
            posting.withColumn("__df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    # merge hint (round 12): left to estimates the planner BROADCASTS
    # the entire windowed posting as the build side (a corpus-derived
    # frame whose rows(docs) estimate is off by the shingle fan-out —
    # the estimate-blind OOM class at scale).  Forced sort-merge, both
    # sides are the IDENTICAL Window(Exchange(gram)) pipeline: the
    # exchange is computed once and reused, the window's gram sort
    # already satisfies the merge order (no extra sort), and AQE can
    # skew-split hot grams (it cannot split a broadcast probe).
    inter_counts = (
        posting.select(F.col("doc").alias("id_a"), F.col("sz").alias("sz_a"), "gram")
        .join(
            posting.select(
                F.col("doc").alias("id_b"), F.col("sz").alias("sz_b"), "gram"
            ).hint("merge"),
            "gram",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("sz_a").alias("sz_a"),
            F.first("sz_b").alias("sz_b"),
        )
    )
    return (
        inter_counts.withColumn("jaccard", _jaccard_from_sizes(F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """Per-document SimHash signature (default 60 bits, from the 60-bit
    portable token hash): bit b of the signature is the majority vote of
    bit b across the document's distinct token hashes.

    Implemented as explode_outer(distinct tokens) -> one hash per (doc,
    token) row -> groupBy(doc) with the per-bit counts PACKED three to
    a long: counter for bit b rides in a 20-bit lane of aggregate
    ``b // 3``, so the aggregation buffer is 20 longs instead of 60
    (3x narrower partial-agg rows on the shuffle; counts are exact for
    documents up to 2^20 distinct tokens — beyond any real document).
    ``explode_outer`` + ``count(h)`` keep one output row per input
    document even when text is NULL (signature 0, n_distinct_tokens 0)
    — a plain explode would silently drop those documents.  Everything
    stays inside whole-stage codegen with map-side partial aggregation;
    the alternative single-projection form (per-bit higher-order
    ``aggregate`` over the token-hash array) re-evaluates the md5 + hex
    conversion of every token once per bit in interpreted mode —
    measured ~20x slower at sf0.1.

    The lane expressions are built as SQL strings (one ``F.expr`` per
    aggregate), not chained Column methods: the 240-node Column-API
    chain cost ~0.7 s of py4j round-trips per FRESH plan — driver-side
    fixed cost paid on every call — while the parser ingests the same
    tree from 20 strings in ~0 (measured 1.2 s -> 0.55 s per fresh
    simhash plan at sf0.1, execution unchanged).
    """
    lanes = 3
    lane_width = 20
    lane_mask = (1 << lane_width) - 1
    tok_hashes = docs.select(
        F.col(id_col),
        F.explode_outer(F.array_distinct(tokens(text_col))).alias("tok"),
    ).select(F.col(id_col), hash64(F.col("tok")).alias("h"))
    packed = []
    for g in range(0, bits, lanes):
        terms = " + ".join(
            f"shiftleft(shiftright(h, {b}) & 1L, {j * lane_width})"
            for j, b in enumerate(range(g, min(g + lanes, bits)))
        )
        packed.append(F.expr(f"sum({terms})").alias(f"p{g // lanes}"))
    per_doc = tok_hashes.groupBy(id_col).agg(F.count("h").alias("__n"), *packed)
    # Majority decode: bit b of the signature = (2*cnt_b > n).  As a
    # Column expression this is a 60-way CASE tree whose ANALYSIS cost
    # (~0.8 s per fresh plan on the driver) dwarfs its execution —
    # per-query fixed cost the bench pays once per call and a 100 TB
    # run pays once, period.  Decoded instead with one Arrow-batched
    # pandas_udf over the 21 aggregate columns: exact int64 numpy bit
    # math (identical values), O(|docs|) rows, and a plan tree of one
    # node.  The per-TOKEN work above stays pure JVM codegen.
    n_groups = (bits + lanes - 1) // lanes

    @F.pandas_udf("long")
    def _decode(n, *lanes_cols):
        import numpy as np
        import pandas as pd

        nv = n.to_numpy(dtype=np.int64)
        lv = [c.to_numpy(dtype=np.int64) for c in lanes_cols]
        sig = np.zeros(len(nv), np.int64)
        for b in range(bits):
            cnt = (lv[b // lanes] >> ((b % lanes) * lane_width)) & lane_mask
            sig |= (2 * cnt > nv).astype(np.int64) << b
        return pd.Series(sig)

    return per_doc.select(
        F.col(id_col),
        _decode(F.col("__n"), *[F.col(f"p{i}") for i in range(n_groups)])
        .alias("simhash"),
        F.col("__n").cast("long").alias("n_distinct_tokens"),
    )


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Union-find over the whole edge set in ONE executor task.

    Correct physical choice when the edge set is small: the near-dup
    subgraph of a deduplicated corpus is orders of magnitude smaller
    than the corpus itself (most documents are singletons and never
    enter this function's input).  Runs executor-side via mapInArrow
    — no driver collect — and replaces ~log(diameter) shuffle rounds
    with one narrow repartition(1).  Arrow batches feed numpy with no
    pandas block-manager in between: int64 columns convert zero-copy,
    so the per-edge transfer cost is the wire bytes, not DataFrame
    assembly (mapInPandas measured ~1.5us/edge; this path ~0.2us).
    """
    import numpy as np
    import pyarrow as pa

    def run(batches):
        srcs, dsts = [], []
        for b in batches:
            srcs.append(
                b.column(b.schema.get_field_index("src")).to_numpy(
                    zero_copy_only=False
                )
            )
            dsts.append(
                b.column(b.schema.get_field_index("dst")).to_numpy(
                    zero_copy_only=False
                )
            )
        if not srcs:
            return
        u = np.concatenate(srcs).astype(np.int64, copy=False)
        v = np.concatenate(dsts).astype(np.int64, copy=False)
        # compact ids to 0..n-1; np.unique sorts, so index order
        # preserves id order and the min INDEX maps to the min ID
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        ui, vi = inv[: len(u)], inv[len(u) :]
        label = np.arange(len(nodes))
        while True:
            # one vectorized round of the same algorithm the
            # distributed loop runs: neighbor-min (both directions of
            # the undirected edge) + pointer doubling
            nl = label.copy()
            np.minimum.at(nl, ui, label[vi])
            np.minimum.at(nl, vi, label[ui])
            nl = np.minimum(nl, nl[nl])
            if np.array_equal(nl, label):
                break
            label = nl
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes), pa.array(nodes[label])], ["node", "label"]
        )

    return edges.repartition(1).mapInArrow(run, "node long, label long")


def neardup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 30,
    local_edge_threshold: int = 2_000_000,
    max_contract_rounds: int = 3,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document
    gets the MIN doc id of its component as ``cluster_id`` (singletons
    keep their own id) — the step that turns pairwise dedup output into
    keep-one-per-group decisions.

    Adaptive physical strategy (statistics-driven, in the AQE spirit —
    the edge count is known for free once the edge set materializes):

    * ``|edges| <= local_edge_threshold`` — single-task min-label
      propagation (``_cc_single_task``): the near-dup subgraph of a
      mostly-unique corpus is tiny relative to the corpus, so one
      vectorized executor task beats any shuffle loop.  The threshold
      is a DATA-MOVEMENT bound, not a compute bound: the numpy kernel
      converges 20M edges in <1 s, but repartition(1) + Arrow transfer
      of the rows costs ~1.5 us/edge single-threaded (round-6 sf1
      measurement: 51 s for 34M edges), so 2M (~3 s worst) is where
      one task stops being the fastest plan.
    * above the threshold — min-star CONTRACTION rounds first (Kiveris
      et al., "Connected Components in MapReduce and Beyond"): every
      node relabels to ``min(self, neighbors)`` via one map-combined
      groupBy, then edges contract to distinct (label_a, label_b)
      non-self pairs — both node-map joins are AQE-broadcastable
      (node-count-sized, far smaller than edges).  A near-dup clique
      collapses to nothing in ONE round, so the dominant dense-cluster
      mass vanishes at full map-side parallelism; 34M sf1 edges
      contract to a residual the single-task kernel finishes in
      milliseconds.  Chains/long paths contract slowly by design, so
      after ``max_contract_rounds`` any residual still above the
      threshold falls back to distributed min-label propagation WITH
      path doubling (three narrow shuffles per round, ~log2(diameter)
      rounds, early exit on no change).

    Every path yields identical labels (min-id per component is a
    fixpoint of all three), replayable by any engine with recursive
    CTEs — the driver oracle uses DuckDB's ``WITH RECURSIVE``
    reachability to cross-check bit-for-bit.
    """
    # one row per undirected pair — duplicate edges are harmless to
    # both strategies (min is idempotent), so no distinct() shuffle.
    # Materialization is DISK_ONLY persist (materialize.pin), NOT
    # localCheckpoint: the round-7 fresh-session A/B (3 reps, caches
    # cleared between reps, two alternating session pairs) measured
    # persist faster across the whole CC family — neardup_clusters
    # 2.31/2.60 → 1.45/1.50 s, canonical_docs 2.05/3.31 → 1.66/1.50 s,
    # semantic_dedup 1.32/1.53 → 0.98/0.85 s, triangle_counts
    # 2.05 → 0.86-0.96 s sf0.1 — the checkpoint path re-materializes
    # its blocks on every run while the persisted plans are
    # CacheManager-reusable, and even the cold first run wins.  (An
    # earlier same-session interleaved A/B showed the opposite because
    # the ckpt runs silently reused the persist runs' cached
    # subtrees.)  Persist also keeps lineage: stale loop rounds are
    # unpersisted immediately (safe — a consumer would recompute), and
    # an executor loss mid-loop recomputes lost partitions instead of
    # failing the query — the round-5/6 verdict concern.
    from financial_data_ingestion_pipeline_spark.materialize import Pinned

    half = Pinned(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        mode="persist",
    )
    # the count reads the just-materialized cache and picks the
    # physical strategy, AQE-style
    n_edges = half.df.count()
    compose = None  # original node -> contracted-representative map
    if n_edges > local_edge_threshold:
        # min-star contraction: shrink the graph at full parallelism
        # before any single-task or loop strategy touches it.  Round 0
        # (which kills the dominant clique mass) persists; later
        # rounds checkpoint — consecutive persist rounds multiply the
        # nested plan string ~4x each (Pinned docstring), and a deep
        # chain residual is exactly the case that reaches them.
        for rnd in range(max_contract_rounds):
            mode = "persist" if rnd == 0 else "ckpt"
            nbr = half.df.select(
                F.col("src").alias("node"), F.col("dst").alias("nbr")
            ).unionByName(
                half.df.select(
                    F.col("dst").alias("node"), F.col("src").alias("nbr")
                )
            )
            m1 = Pinned(
                nbr.groupBy("node")
                .agg(F.min("nbr").alias("mn"))
                .select(
                    "node", F.least(F.col("node"), F.col("mn")).alias("lbl")
                ),
                mode=mode,
            )
            # compose node -> representative across rounds (maps are
            # node-count-sized — far below the edge set — so the join
            # broadcasts under AQE)
            if compose is None:
                compose_new = m1
            else:
                compose_new = Pinned(
                    compose.df.join(
                        m1.df.select(
                            F.col("node").alias("lbl"), F.col("lbl").alias("lbl2")
                        ),
                        "lbl",
                        "left",
                    ).select(
                        "node", F.coalesce(F.col("lbl2"), F.col("lbl")).alias("lbl")
                    ),
                    mode=mode,
                )
            contracted = Pinned(
                half.df.join(
                    m1.df.select(
                        F.col("node").alias("src"), F.col("lbl").alias("la")
                    ),
                    "src",
                )
                .join(
                    m1.df.select(
                        F.col("node").alias("dst"), F.col("lbl").alias("lb")
                    ),
                    "dst",
                )
                .select(
                    F.least("la", "lb").alias("src"),
                    F.greatest("la", "lb").alias("dst"),
                )
                .filter(F.col("src") != F.col("dst"))
                .distinct(),
                mode=mode,
            )
            # everything this round consumed is re-materialized in the
            # new pins: the old edge set, the old compose, and (once
            # merged) this round's m1 can release their storage —
            # persist rounds keep lineage (a late reader recomputes),
            # ckpt rounds release their block ids directly
            half.release()
            if compose is not None:
                compose.release()
                m1.release()
            compose = compose_new
            half = contracted
            n_edges = half.df.count()
            if n_edges <= local_edge_threshold:
                break
    if n_edges <= local_edge_threshold:
        # every contract consumer reads the labels once, and a second
        # consumer replays only the (pinned) edge frame through one
        # union-find task — cheaper than always paying an extra
        # materialization job here.  The edge cache outlives this call
        # for the lazy result to read; session.evict_persisted reaps
        # it at the caller's job boundary (recompute-safe).
        labels = _cc_single_task(half.df)
    else:
        edges = half.df.unionByName(
            half.df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # iterate over edge-touched nodes ONLY: in a dedup graph almost
        # the whole corpus is singletons whose label can never change —
        # they join back (label = own id) after convergence, so loop
        # state is O(|near-dup subgraph|), not O(corpus)
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node").cast("long"))
        )
        prev = None  # last round's Pinned
        for it in range(max_iters):
            nbr_min = (
                edges.join(
                    labels.select(
                        F.col("node").alias("dst"), F.col("label").alias("nbr_label")
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("nbr_label").alias("nbr_min"))
                .withColumnRenamed("src", "node")
            )
            hop = labels.join(
                labels.select(
                    F.col("node").alias("label"), F.col("label").alias("hop_label")
                ),
                "label",
            ).select("node", "hop_label")
            # alternate persist (executor-loss-recomputable) and ckpt
            # (lineage truncation) rounds: each persist round
            # references the previous state ~3x, so consecutive
            # persist rounds grow the plan — and its nested
            # cached-plan STRING, rendered per action for the SQL
            # listener — geometrically (a pure-persist 30-round loop
            # OOMed the driver on generateTreeString)
            updated = Pinned(
                labels.join(nbr_min, "node", "left")
                .join(hop, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nbr_min"), F.col("label")),
                        F.coalesce(F.col("hop_label"), F.col("label")),
                    ).alias("label"),
                    (
                        (F.col("nbr_min") < F.col("label"))
                        | (F.col("hop_label") < F.col("label"))
                    ).alias("__changed"),
                ),
                mode="persist" if (it % 2) == 0 else "ckpt",
            )
            # the new pin is materialized: the previous iteration's
            # storage can go — without this, a D-diameter graph holds
            # D corpus-sized label snapshots at once
            if prev is not None:
                prev.release()
            prev = updated
            changed = (
                updated.df.filter(F.col("__changed")).limit(1).count()
            )
            labels = updated.df.drop("__changed")
            if changed == 0:
                break
        # converged: the final labels cache serves every read, so the
        # edge cache's storage can go now (for the persist path the
        # lineage stays intact — only a post-eviction recompute would
        # rebuild it)
        half.release()
    if compose is not None:
        # expand contracted labels back to original nodes: a rep absent
        # from the residual graph was a whole component (its label is
        # itself) — the coalesce covers it
        labels = compose.df.join(
            labels.select(F.col("node").alias("lbl"), "label"), "lbl", "left"
        ).select(
            "node", F.coalesce(F.col("label"), F.col("lbl")).alias("label")
        )
    # singletons rejoin here with their own id; the loop frame is
    # backed by the final pinned cache (registered — evicted at the
    # caller's job boundary once reads are done; a persist-mode final
    # round's lineage crosses released ckpt blocks, so evict-then-
    # re-read is not supported — see session.evict_persisted)
    ids = docs.select(F.col(id_col))
    return ids.join(labels, ids[id_col] == labels["node"], "left").select(
        ids[id_col],
        F.coalesce(F.col("label"), ids[id_col].cast("long")).alias("cluster_id"),
    )


def simhash_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 60,
    chunks: int = 4,
    pin_sigs: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance, found via the
    chunk-pigeonhole trick: if hamming(a,b) <= max_hamming < chunks,
    some ``bits/chunks``-bit chunk is identical, so an equi-join per
    chunk finds all such pairs without a cross join."""
    width = bits // chunks
    mask = (1 << width) - 1
    chunk_key = [
        F.shiftrightunsigned(F.col(sig_col), c * width).bitwiseAND(F.lit(mask)).alias("chunk_val")
        for c in range(chunks)
    ]
    # The signature frame is pinned (DISK_ONLY, lineage kept, evicted
    # at the caller's job boundary): both join sides read it, and the
    # hoped-for ReusedExchange only covers the shuffle BELOW the
    # signature aggregate — the broadcast build side re-ran the
    # majority decode and chunk explode above the reused shuffle
    # (round-11 plan audit: 2-4 _decode ArrowEvalPython nodes per
    # simhash-family query).  Sigs are (doc, long, long) — a few bytes
    # per document, never the text.  ``pin_sigs=False`` for callers
    # that immediately pin the PAIR stream (the CC cluster pipelines):
    # there the single pairs materialization already rides AQE's
    # stage reuse across the two join sides, and the extra sigs
    # materialization job measured as pure overhead (round-11 A/B:
    # neardup_clusters ~1.4 s unpinned vs ~2.4 s double-pinned sf0.1,
    # while standalone simhash_pairs wins with the pin, 1.22 → 0.72).
    # The join key packs (chunk index, chunk value) into ONE long —
    # integer hashing and 8-byte shuffle rows instead of a string key.
    if pin_sigs:
        from financial_data_ingestion_pipeline_spark.materialize import pin

        sigs = pin(sigs)
    exploded = sigs.select(
        F.col(id_col).alias("doc"),
        F.col(sig_col).alias("sig"),
        F.posexplode(F.array(*chunk_key)),
    ).select(
        "doc",
        "sig",
        (F.shiftleft(F.col("pos").cast("long"), width) + F.col("col")).alias("chunk"),
        F.col("pos"),
    )
    l = exploded.select(
        F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"), "chunk", "pos"
    )
    r = exploded.select(
        F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"), "chunk"
    )
    # Exactly-once emission WITHOUT a dedup shuffle: a pair matching in
    # k chunks appears k times in the join output, but every copy
    # carries both signatures, so "is this the FIRST matching chunk?"
    # is a map-side predicate on sig_a XOR sig_b (chunk c matches iff
    # its slice of the XOR is zero).  Keeping only pos == first match
    # emits each surviving pair exactly once — the old
    # dropDuplicates(id_a, id_b) exchange (a full shuffle of the pair
    # stream; 34M rows at sf1) disappears from the plan entirely.
    # (built as one SQL string: a chained-when Column costs ~60 py4j
    # round-trips of driver-side fixed cost per fresh plan — see the
    # simhash() docstring for the measurement)
    x = F.expr("sig_a ^ sig_b")
    first_match = F.expr(
        "case "
        + " ".join(
            f"when shiftrightunsigned(sig_a ^ sig_b, {c * width}) "
            f"& {mask}L = 0L then {c}"
            for c in range(chunks)
        )
        + " end"
    )
    pairs = (
        l.join(r, "chunk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(x).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .filter(F.col("pos") == first_match)
        .select("id_a", "id_b", "hamming")
    )
    return pairs


def span_dedup(
    docs: DataFrame,
    width: int = 10,
    max_df: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-document span deduplication: split every document
    into consecutive ``width``-word chunks, drop every occurrence of any
    chunk that appears in more than ``max_df`` distinct documents, and
    reassemble what survives.

    Plan shape (three narrow stages, no all-pairs anywhere — and chunk
    TEXT never rides a shuffle; only 16-byte hashes and int positions
    move between stages):

    1. one projection tokenizes and chunks each doc, then ``posexplode``
       emits the slim occurrence table ``(doc, pos, md5(chunk))``;
    2. a hash-aggregate on the chunk hash computes document frequency
       (map-side combined — boilerplate chunks collapse to one row per
       partition before the exchange, so a hot chunk costs its df only
       once per task, never a quadratic join like a naive self-join on
       chunk text would);
    3. occurrences join the df table on the hash (AQE handles residual
       skew) and ONE per-doc aggregation collects total chunk count and
       the sorted positions of survivors — ints only, bounded by the
       doc's own chunk count.  The position list then joins back to the
       per-doc chunk ARRAY (id-keyed, one row per doc, never exploded)
       and ``clean_text`` is re-assembled locally with
       ``transform(kept_pos, p -> chunks[p])`` — the only stage that
       moves text is this single id-keyed join of un-exploded docs.

    Row-preserving by construction: the final join hangs off the
    chunked projection (one row per input doc), so fully-boilerplate
    documents (every chunk dropped) and empty documents (no non-blank
    chunk at all) still emit a row with empty ``clean_text``.

    Output: id, n_chunks, n_dropped, clean_text.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
    )
    n_chunks = F.ceil(F.size(F.col("t")) / F.lit(float(width))).cast("int")
    chunked = toks.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(F.col("t"), i * width + 1, width), " "
            ),
        ).alias("chunks"),
    )
    occ = (
        chunked.select("id", F.posexplode("chunks").alias("pos", "chunk"))
        .filter(F.trim(F.col("chunk")) != "")
        .select("id", "pos", F.md5(F.col("chunk")).alias("h"))
    )
    if max_df == 1:
        # Round 11: at the C4 default (max_df=1) "df > 1" is exactly
        # "two occurrences of h carry different doc ids", so ONE
        # h-clustered window pass with O(1) min/max state replaces the
        # count_distinct aggregate + join-back: the occurrence stream
        # is computed (and the corpus tokenized) once instead of
        # twice, the two distinct-agg exchanges collapse into the
        # window's single exchange, and the broadcast of the
        # DISTINCT-CHUNK df table — corpus-sized at 100 TB, exactly
        # the estimate-blind broadcast class the heaps1 OOM rule bans
        # — disappears.  Hot-chunk skew is no worse: the old join
        # colocated a hot h's occurrences in one task too.
        w_h = Window.partitionBy("h")
        flagged = occ.select(
            "id",
            "pos",
            (F.min("id").over(w_h) != F.max("id").over(w_h)).alias("__dup"),
        )
        per_doc = flagged.groupBy("id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.array_sort(
                F.collect_list(F.when(~F.col("__dup"), F.col("pos")))
            ).alias("kept_pos"),
        )
    else:
        df_table = occ.groupBy("h").agg(
            F.count_distinct(F.col("id")).alias("df")
        )
        # Every h in occ is in df_table by construction, so the inner
        # join is row-preserving over occ; collect_list skips the NULLs
        # the df>max_df branch produces, yielding kept positions only.
        per_doc = (
            occ.join(df_table, "h")
            .groupBy("id")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("df") <= max_df, F.col("pos"))
                    )
                ).alias("kept_pos"),
            )
        )
    return (
        chunked.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_chunks"), F.lit(0)).alias("n_chunks"),
            (
                F.coalesce(F.col("n_chunks"), F.lit(0))
                - F.coalesce(F.size("kept_pos"), F.lit(0))
            ).alias("n_dropped"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.col("kept_pos"),
                        lambda p: F.col("chunks")[p],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: per training document, how much of it
    overlaps (distinct word ``n``-grams) with ANY document in the
    held-out evaluation set.

    The eval side collapses to one globally-distinct gram-hash set
    before the join — by design benchmark suites are tiny next to the
    training corpus, so that set broadcasts (``broadcast_eval=True``)
    and contamination scoring is a map-side hit-tagging join over the
    training scan: zero shuffle of training data.  With a large eval
    side, pass ``broadcast_eval=False`` for a plain shuffle join on the
    16-byte gram hash (never the gram text).

    The contamination score is reported in parts-per-million computed
    with INTEGER arithmetic (``1e6 * shared DIV total``) — a rounded
    float ratio of small ints can land exactly on a rounding boundary
    (e.g. 1/128) where engines' tie rules differ; integer floor-division
    cannot.

    Output: id, n_grams, n_shared, contamination_ppm, contaminated.
    """
    grams = lambda df: df.select(  # noqa: E731
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.col(text_col), n, distinct=True)).alias("g"),
    ).select("id", F.md5(F.col("g")).alias("h"))
    eval_grams = grams(eval_docs).select("h").distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    # ONE training pass: a left join against the (distinct) eval set
    # tags each gram with a hit marker, and a single aggregation counts
    # total and shared grams together — the two-consumer form (semi-join
    # + separate totals) tokenized and hashed the training corpus twice
    # and shuffled two aggregations.  Eval grams are distinct, so the
    # left join can never duplicate a training row.
    tagged = grams(train).join(
        eval_grams.withColumn("__hit", F.lit(1)), "h", "left"
    )
    counts = tagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("__hit").alias("n_shared"),
    )
    ppm = (F.lit(1000000) * F.coalesce(F.col("n_shared"), F.lit(0))).cast(
        "long"
    ) / F.col("n_grams")
    return counts.select(
        F.col("id").alias(id_col),
        "n_grams",
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        F.floor(ppm).alias("contamination_ppm"),
        (F.floor(ppm) >= 500000).alias("contaminated"),
    )


def dedup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Deduplicate a NEW ingest batch against an EXISTING corpus — the
    daily production path, where re-pairing the whole corpus against
    itself (as :func:`minhash_lsh_pairs` does) would redo work that
    never changes.

    Two checks, both expressed as joins against corpus-side key sets
    that an ingest pipeline would materialize once and reuse:

    * ``exact_dup`` — md5(text) semi-join against the corpus's distinct
      content hashes (16 bytes per corpus doc);
    * ``near_dup`` — MinHash LSH band keys (same signature construction
      as the intra-corpus pass) semi-joined against the corpus's
      distinct band-key set.  A batch doc sharing ANY band with any
      corpus doc is flagged.

    Both joins key on short hashes, never text; the batch side is
    typically orders of magnitude smaller than the corpus, so AQE
    broadcasts the batch-derived sides while the corpus key sets
    stream.  Output: one row per batch doc —
    ``doc_id, exact_dup, near_dup, keep``
    (``keep = NOT (exact_dup OR near_dup)``).
    """
    corpus_hashes = corpus.select(F.md5(F.col(text_col)).alias("h")).distinct()
    corpus_posting = corpus.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col)).alias("gram")
    )
    corpus_bands = (
        minhash_signatures(corpus_posting, num_perm)
        .select(F.explode(minhash_band_keys(num_perm, bands)).alias("band_key"))
        .distinct()
    )
    batch_keyed = batch.select(
        F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("h")
    )
    exact_ids = (
        batch_keyed.join(corpus_hashes, "h", "left_semi")
        .select("doc")
        .withColumn("exact_dup", F.lit(True))
    )
    posting = batch.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col)).alias("gram")
    )
    batch_bands = minhash_signatures(posting, num_perm).select(
        "doc", F.explode(minhash_band_keys(num_perm, bands)).alias("band_key")
    )
    near_ids = (
        batch_bands.join(corpus_bands, "band_key", "left_semi")
        .select("doc")
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    out = (
        batch.select(F.col(id_col).alias("doc"))
        .join(exact_ids, "doc", "left")
        .join(near_ids, "doc", "left")
    )
    exact = F.coalesce(F.col("exact_dup"), F.lit(False))
    near = F.coalesce(F.col("near_dup"), F.lit(False))
    return out.select(
        F.col("doc").alias(id_col),
        exact.alias("exact_dup"),
        near.alias("near_dup"),
        (~(exact | near)).alias("keep"),
    )


def dedup_incremental_split(
    docs: DataFrame,
    batch_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """:func:`dedup_incremental` when batch and corpus are
    id-predicate splits of ONE table (the replay/backfill shape:
    "re-dedup day 7's docs against everything else").

    ``batch_pred`` is a callable ``Column -> Column`` applied to the id
    column; rows where it is true play the batch, the rest the corpus.
    Row-for-row identical to
    ``dedup_incremental(docs.filter(p), docs.filter(~p))`` — a doc's
    md5 and minhash signature do not depend on which side it lands on
    — but computed from ONE pass over the shared scan instead of two:
    the recompute form runs the shingle+explode+minhash aggregate (the
    dominant cost — ~2 s alone over the sf0.1 posting, see
    :func:`minhash_signatures`) once per side over disjoint subsets of
    the same rows, plus four separate text scans.  Here the signature
    aggregate runs once over all docs and the per-doc results are
    split AFTERWARDS by the id predicate; the (doc, md5) and
    (doc, s0..s{k-1}) frames are narrow per-doc rows (tens of bytes vs
    the text), i.e. the sublinear pin class, so both are
    persist-pinned and every downstream consumer (batch keys, corpus
    key sets, the output id base) reads the materialized rows instead
    of re-scanning text.  Scans 4 -> 2, signature aggregates 2 -> 1,
    and at 100 TB the corpus text is read once, not twice.
    """
    from financial_data_ingestion_pipeline_spark.materialize import pin

    is_batch = batch_pred(F.col("doc"))
    hashed = pin(
        docs.select(F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("h")),
    )
    posting = docs.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col)).alias("gram")
    )
    sigs = pin(minhash_signatures(posting, num_perm))
    banded = sigs.select(
        "doc", F.explode(minhash_band_keys(num_perm, bands)).alias("band_key")
    )
    corpus_hashes = hashed.filter(~is_batch).select("h").distinct()
    corpus_bands = banded.filter(~is_batch).select("band_key").distinct()
    exact_ids = (
        hashed.filter(is_batch)
        .join(corpus_hashes, "h", "left_semi")
        .select("doc")
        .withColumn("exact_dup", F.lit(True))
    )
    near_ids = (
        banded.filter(is_batch)
        .join(corpus_bands, "band_key", "left_semi")
        .select("doc")
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    out = (
        hashed.filter(is_batch)
        .select("doc")
        .join(exact_ids, "doc", "left")
        .join(near_ids, "doc", "left")
    )
    exact = F.coalesce(F.col("exact_dup"), F.lit(False))
    near = F.coalesce(F.col("near_dup"), F.lit(False))
    return out.select(
        F.col("doc").alias(id_col),
        exact.alias("exact_dup"),
        near.alias("near_dup"),
        (~(exact | near)).alias("keep"),
    )


def select_canonical(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Choose the surviving representative of every near-dup cluster:
    highest quality score wins, ties to the smallest id — the
    keep-decision step that turns :func:`neardup_clusters` output into
    an actionable dedup (drop ``is_canonical = false``; singleton
    clusters keep their only member).

    One window per cluster id over cluster-sized rows — the corpus
    text never appears; at 100 TB this stage touches two narrow
    tables (membership + scores).

    Output: id, cluster, score, cluster_size, is_canonical.
    """
    joined = clusters.join(quality.select(id_col, score_col), id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    wc = Window.partitionBy(cluster_col)
    return (
        joined.withColumn("__rk", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .select(
            id_col,
            cluster_col,
            score_col,
            "cluster_size",
            (F.col("__rk") == 1).alias("is_canonical"),
        )
    )


def repeated_spans(
    docs: DataFrame,
    min_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_key: bool = False,
) -> DataFrame:
    """Exact repeated-substring spans: every maximal character span of
    length >= ``min_len`` whose text occurs at least twice in the
    corpus (across documents OR within one) — the ExactSubstr
    deduplication signal of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", which removes verbatim repeats
    that MinHash/SimHash (whole-doc estimates) and chunk dedup
    (word-aligned fixed windows) both miss.

    Lee et al. build a corpus suffix array; a distributed engine gets
    the same answer set from fixed-length ANCHORS: hash the
    ``min_len``-char substring at EVERY character position.  Any
    repeated substring of length M >= min_len contributes
    ``M - min_len + 1`` repeated anchors at consecutive positions, so
    merging consecutive repeated-anchor runs (gaps-and-islands per
    document) reconstructs each maximal repeated span exactly — no
    suffix sorting, no pair join, nothing quadratic:

    1. one projection emits the slim anchor table ``(doc, pos, h)``
       (``xxhash64`` — the anchor key is ENGINE-INTERNAL, never in
       the output, so the cheap JVM hash applies; the portable-md5
       idiom is only for oracle-replayed keys, and this oracle groups
       the raw substring instead);
    2. a ``groupBy(h).count()`` (true map-side partial aggregation: a
       boilerplate anchor repeated 10^8 times costs ONE row per map
       task on the shuffle, and the reduce side sees at most
       one partial per task) filters to the repeated-hash set, which a
       left-semi join marks back onto the anchors — Catalyst/AQE
       broadcasts the repeated set when it fits (the common case:
       repeated content is a small corpus fraction), so the anchor
       table usually never shuffles on ``h`` at all; the sort-merge
       fallback is AQE-skew-splittable.  (The first draft used
       ``count().over(Window.partitionBy(h))`` — WindowExec does NO
       partial aggregation, so every occurrence of a hot boilerplate
       hash landed in one task: the skew class the winnow cap exists
       for, with no cap here.  Round-8 A/B on Heaps fixtures with a
       1%-mass repeated paragraph: see SCALE_AUDIT_HEAPS.md.)
    3. per-document gaps-and-islands over the surviving positions
       (lag + running sum windows, partitioned by doc — bounded by the
       document's own length) merges overlapping anchors into maximal
       spans.

    The anchor projection runs twice (once under the count, once under
    the probe) — 2x embarrassingly-parallel xxhash64 CPU buys never
    materializing the corpus-sized anchor table to cache/disk.

    Caveat NOT shared with the suffix-array original: two DIFFERENT
    substrings colliding on the 64-bit hash (~|anchors|²/2^65 — a
    handful of merged counts at 100 TB) can mark an unrepeated anchor
    as repeated.  The oracle groups the RAW substring (the true Lee
    et al. semantics), so every contract run also empirically
    certifies that no collision affected the output at fixture scale.

    Output: ``doc_id, span_start (1-based char), span_len`` per
    maximal repeated span; with ``with_key=True`` also ``span_key``
    (xxhash64 of the span's own text via :func:`_key_spans` — the
    content key keep-one cut policies group occurrences on).
    """
    from financial_data_ingestion_pipeline_spark.materialize import pin

    occ = _span_anchors(docs, min_len, id_col, text_col)
    # pin the repeated-hash set: the planner's estimate for an
    # aggregate over posexplode output is rows(docs) — off by the
    # ~chars-per-doc fan-out — so without real stats the semi-join
    # build side gets broadcast on ESTIMATE, OOMing the driver the
    # moment duplication is heavy (observed at the heaps1 decade,
    # round 9).  The DISK_ONLY persist + count gives the optimizer
    # the ACTUAL size, so the round-8 broadcast win survives exactly
    # when the repeated set genuinely fits and degrades to the
    # AQE-skew-splittable SMJ when it does not.  The pinned frame is
    # O(repeated hashes) — the flagged fraction, never the corpus.
    repeated = pin(
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("h"),
    )
    kept = occ.join(repeated, "h", "left_semi").select("doc", "pos")
    spans = _anchor_spans(kept, min_len, id_col)
    if with_key:
        spans = _key_spans(docs, spans, id_col, text_col)
    return spans


def _key_spans(
    docs: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Attach each span's CONTENT key: ``span_key = xxhash64`` of the
    span's own text (one narrow join back to the doc table — the span
    frame carries only positions, never text).  The key is
    ENGINE-INTERNAL, exactly like the anchor hash: keep-one policies
    group on it, and their oracles group the RAW span substring
    instead, so every contract run certifies no collision changed
    which occurrence survived."""
    d = docs.select(
        F.col(id_col).alias("doc"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    )
    return (
        spans.withColumnRenamed(id_col, "doc")
        .join(d, "doc")
        .select(
            F.col("doc").alias(id_col),
            "span_start",
            "span_len",
            F.xxhash64(
                F.expr(
                    "substring(__t, cast(span_start as int),"
                    " cast(span_len as int))"
                )
            ).alias("span_key"),
        )
    )


def _span_anchors(
    docs: DataFrame, min_len: int, id_col: str, text_col: str
) -> DataFrame:
    """The ExactSubstr anchor table ``(doc, pos, h)``: xxhash64 of the
    ``min_len``-char substring at every 1-based char position.  Shared
    by :func:`repeated_spans` (within-corpus) and
    :func:`span_cross_spans` (batch-vs-corpus) — both MUST hash
    identically or a probe silently misses corpus anchors."""
    from financial_data_ingestion_pipeline_spark.session import fan_out

    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = fan_out(
        docs.select(F.col(id_col).alias("doc"), txt.alias("t"))
    ).select(
        "doc",
        "t",
        F.greatest(
            F.length("t") - F.lit(min_len - 1), F.lit(0)
        ).alias("n_a"),
    )
    return base.filter(F.col("n_a") >= 1).select(
        "doc",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, n_a), i -> "
                f"xxhash64(substring(t, i, {min_len})))"
            )
        ).alias("p0", "h"),
    ).select("doc", (F.col("p0") + 1).alias("pos"), "h")


def _anchor_spans(kept: DataFrame, min_len: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of surviving anchor positions into
    maximal spans: consecutive (gap <= ``min_len``) anchors of one doc
    collapse to ``(doc, span_start, span_len)``.  Windows partition by
    doc — bounded by the document's own length, never the corpus."""
    w_doc = Window.partitionBy("doc").orderBy("pos")
    islands = kept.withColumn(
        "__new",
        F.when(
            F.lag("pos").over(w_doc).isNull()
            | (F.col("pos") > F.lag("pos").over(w_doc) + F.lit(min_len)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "__island",
        F.sum("__new").over(
            w_doc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy("doc", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + F.lit(min_len)).alias("span_len"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("span_start").cast("long"),
            F.col("span_len").cast("long"),
        )
    )


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    validate: bool = False,
) -> DataFrame:
    """Apply span-level dedup: remove every flagged ``(span_start,
    span_len)`` character span from its document and stitch the
    remainder back together — the ACTION half of ExactSubstr
    deduplication (Lee et al. 2022 cut the duplicated substring text
    itself rather than dropping whole documents; detection is
    :func:`repeated_spans` / :func:`span_cross_spans`).

    This implements the conservative both-copies cut (every flagged
    occurrence goes); keep-one-occurrence policies need a content key
    per span, which the detection ops deliberately do not ship (the
    anchor hash is engine-internal).

    Plan shape: spans are already maximal and non-overlapping per doc
    (gaps-and-islands output), so the complement segments fall out of
    one per-doc window pass — ``lag`` of each span's end yields the
    segment before it, plus one tail segment per doc — and the clean
    text is an ordered array_join of ``substring`` slices: one join
    with the doc table, windows partitioned by doc (bounded by the
    doc's own span count), no explode of text.  Docs with no flagged
    spans pass through unchanged via the left join.

    CONTRACT: spans must be non-overlapping and duplicate-free per
    doc — what :func:`repeated_spans` / :func:`span_cross_spans`
    emit by construction.  Hand-built spans
    that violate it produce UNDEFINED output (an overlapping span's
    preceding segment goes negative and is silently dropped; a
    duplicated span row emits its preceding segment twice).  Pass
    ``validate=True`` to assert the invariant instead (one extra
    aggregate over the spans frame — O(spans), never corpus-sized —
    raising ``ValueError`` with the violating doc count).

    Output: ``doc_id, clean_text, n_cut, cut_chars``.
    """
    d = docs.select(
        F.col(id_col).alias("doc"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    )
    sp = spans.select(
        F.col(id_col).alias("doc"),
        F.col("span_start").cast("long").alias("s"),
        F.col("span_len").cast("long").alias("l"),
    )
    w = Window.partitionBy("doc").orderBy("s")
    if validate:
        # invariant: each span starts at or after the previous span's
        # end (catches overlaps AND duplicate rows, whose lag end
        # s+l > s).  One O(spans) action, never corpus-sized.
        bad = (
            sp.withColumn("__prev_end", F.lag(F.col("s") + F.col("l")).over(w))
            .filter(F.col("__prev_end") > F.col("s"))
            .select("doc")
            .distinct()
            .count()
        )
        if bad:
            raise ValueError(
                f"cut_spans: overlapping or duplicate spans in {bad} "
                "doc(s) — spans must be the non-overlapping maximal "
                "output of repeated_spans/span_cross_spans"
            )
    # segment BEFORE each span: (prev span end + 1) .. (span start - 1)
    pre = sp.withColumn(
        "seg_start", F.coalesce(F.lag(F.col("s") + F.col("l")).over(w),
                                F.lit(1)),
    ).select(
        "doc", "seg_start", (F.col("s") - F.col("seg_start")).alias("seg_len")
    )
    # tail segment per doc: after the last span to end of text
    tail = (
        sp.groupBy("doc")
        .agg(
            F.max(F.col("s") + F.col("l")).alias("seg_start"),
            F.count(F.lit(1)).alias("n_cut"),
            F.sum("l").alias("cut_chars"),
        )
    )
    segs = pre.unionByName(
        tail.select("doc", "seg_start", F.lit(None).cast("long").alias("seg_len"))
    )
    pieces = (
        segs.join(d, "doc")
        .select(
            "doc",
            "seg_start",
            F.expr(
                "substring(t, seg_start, cast(coalesce(seg_len,"
                " greatest(0, length(t) - seg_start + 1)) as int))"
            ).alias("piece"),
        )
        .groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_start", "piece"))
                    ),
                    lambda x: x["piece"],
                ),
                "",
            ).alias("clean_text")
        )
    )
    cut = pieces.join(tail.select("doc", "n_cut", "cut_chars"), "doc")
    return (
        d.join(cut, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("clean_text"), F.col("t")).alias("clean_text"),
            F.coalesce(F.col("n_cut"), F.lit(0)).cast("long").alias("n_cut"),
            F.coalesce(F.col("cut_chars"), F.lit(0)).cast("long").alias(
                "cut_chars"
            ),
        )
    )


def cut_repeated_spans(
    docs: DataFrame,
    min_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    policy: str = "all",
) -> DataFrame:
    """End-to-end ExactSubstr deduplication: detect maximal repeated
    spans (:func:`repeated_spans`) and cut them (:func:`cut_spans`) —
    detection and action in one call, the shape a corpus pipeline
    schedules.

    ``policy``:

    * ``"all"`` — cut EVERY flagged occurrence (the conservative
      both-copies cut; also what Lee et al. 2022's released tool does
      by default).
    * ``"keep_first"`` — keep ONE canonical occurrence per span
      CONTENT group — the min-``(doc_id, span_start)`` occurrence —
      and cut the rest (the keep-one policy a corpus curator usually
      wants: the text survives exactly once).  Occurrences group on
      the span's content key (:func:`_key_spans`); the survivor is
      picked with a partial-aggregating ``groupBy(span_key).min``
      plus one join back (broadcast when the distinct-span frame
      fits) — NOT a window over ``span_key``, which would land every
      occurrence of a boilerplate span in one task (the skew class
      the round-8 ``repeated_spans`` fix removed).

    Keep-one caveat inherent to span-level grouping: two docs whose
    shared text merged into DIFFERENT maximal spans (one doc's repeat
    extends further, or two nearby repeats fused into one island)
    carry different span contents and so survive independently —
    maximality is per-doc, the content group is exact-text.

    Plan shape: the detection spans frame feeds MULTIPLE consumers
    downstream (``cut_spans`` reads it twice — the pre-segments and
    the per-doc tail — and keep_first adds the group-min and join
    passes), and detection itself is the expensive 2-pass anchor
    projection over the corpus, so the spans frame is pinned
    (DISK_ONLY, O(flagged spans) — the smallest frame in the
    pipeline: one row per maximal repeated span) so detection runs
    ONCE per call instead of once per consumer.  Round-9 fresh-session
    alternating A/B at sf0.1 (median of 3 steady-state mins): unpinned
    3.09 s / pinned 1.17 s (policy=all), 4.22 / 1.75 (keep_first),
    cold first runs within noise of each other — see SPAN_CUT_AB.md.
    """
    if policy not in ("all", "keep_first"):
        raise ValueError(f"policy: 'all' or 'keep_first', got {policy!r}")
    from financial_data_ingestion_pipeline_spark.materialize import pin

    spans = pin(
        repeated_spans(
            docs, min_len=min_len, id_col=id_col, text_col=text_col,
            with_key=(policy == "keep_first"),
        ),
    )
    if policy == "keep_first":
        firsts = spans.groupBy("span_key").agg(
            F.min(F.struct(F.col(id_col), F.col("span_start"))).alias("__f")
        )
        spans = (
            spans.join(firsts, "span_key")
            .filter(
                (F.col(id_col) != F.col("__f")[id_col])
                | (F.col("span_start") != F.col("__f.span_start"))
            )
            .select(id_col, "span_start", "span_len")
        )
    return cut_spans(
        docs, spans, id_col=id_col, text_col=text_col,
    )


# dup_ppm numerator in decimal(38,0): long arithmetic would silently
# wrap (ANSI off) once span_chars exceeds ~9.2e12 (9.2e18 / 1e6) —
# multi-TB-per-source corpora hit that; the DuckDB oracle errors
# instead of wrapping, so the long form diverges exactly at scale.
_DUP_PPM_EXPR = (
    "cast(span_chars as decimal(38,0)) * 1000000"
    " div greatest(n_chars, 1)"
)


def span_stats(
    docs: DataFrame,
    min_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source ExactSubstr duplication profile — the curator's
    "how duplicated is each dump" signal (Lee et al. 2022 report the
    fraction of tokens inside duplicated substrings per corpus; this
    is the char-level per-source form): for every source, the doc
    count, total chars, docs carrying at least one repeated span, the
    repeated-span char mass, span count, and the integer duplication
    rate ``dup_ppm = 10^6 * span_chars div n_chars``.

    Plan shape: :func:`repeated_spans` detection (with its pinned
    repeated-hash set), one per-doc aggregate of span lengths (narrow:
    doc, chars), one join back to the doc table's (id, source, length)
    projection — document text is never re-shuffled — and a final
    per-source aggregate (source-count-sized output).  Exact integer
    math end to end, so the oracle replays bit-for-bit.

    Output: ``source, n_docs, n_chars, docs_with_spans, n_spans,
    span_chars, dup_ppm``.
    """
    spans = repeated_spans(
        docs, min_len=min_len, id_col=id_col, text_col=text_col
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_len").alias("__span_chars"),
        F.count(F.lit(1)).alias("__n_spans"),
    )
    d = docs.select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).cast("long").alias(
            "__chars"
        ),
    )
    return (
        d.join(per_doc, id_col, "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__chars").alias("n_chars"),
            F.count("__span_chars").alias("docs_with_spans"),
            F.sum(F.coalesce(F.col("__n_spans"), F.lit(0))).alias("n_spans"),
            F.sum(F.coalesce(F.col("__span_chars"), F.lit(0))).alias(
                "span_chars"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_chars",
            "docs_with_spans",
            "n_spans",
            "span_chars",
            # decimal numerator (see _DUP_PPM_EXPR) — same fix class
            # as the tpch_q1/rolling_stats exact micro-units
            F.expr(_DUP_PPM_EXPR).cast("long").alias("dup_ppm"),
        )
    )


def span_cross_spans(
    batch: DataFrame,
    corpus: DataFrame,
    min_len: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Batch-vs-corpus ExactSubstr contamination: maximal spans (>=
    ``min_len`` chars) in BATCH documents whose text occurs anywhere
    in the CORPUS — the ingest-time form of :func:`repeated_spans`,
    answering "which parts of today's arrivals are verbatim copies of
    the standing corpus" without scoring batch-internal repeats.

    The corpus side is anchored in-flight; this is the
    oracle-checkable contract surface.

    Membership, not df, decides: the corpus side reduces to its
    DISTINCT anchor hashes (map-side combined; boilerplate costs one
    row per task), and the batch anchors keep their positions through
    one left-semi join (broadcast when the corpus anchor set fits,
    AQE-skew-splittable SMJ otherwise).

    Output: ``doc_id (batch), span_start (1-based char), span_len``.
    """
    batch_occ = _span_anchors(batch, min_len, id_col, text_col)
    corpus_h = (
        _span_anchors(corpus, min_len, id_col, text_col)
        .select("h")
        .distinct()
    )
    # merge hint: the corpus anchor set is corpus-sized BY DEFINITION
    # (one distinct hash per distinct min_len-gram — same order as the
    # corpus), yet the planner estimates the distinct-over-posexplode
    # at rows(corpus docs) and broadcasts it, OOMing the driver at the
    # heaps1 decade (round 9).  The in-flight side can never be safely
    # broadcast, so force the AQE-skew-splittable sort-merge join.
    kept = (
        batch_occ.join(corpus_h.hint("merge"), "h", "left_semi")
        .select("doc", "pos")
    )
    return _anchor_spans(kept, min_len, id_col)


def source_overlap(
    docs: DataFrame,
    n: int = SHINGLE_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise shingle overlap between SOURCES (dumps, crawls,
    datasets): for every source pair, the exact count and Jaccard of
    their distinct word-``n``-gram sets — the corpus-curation signal
    for "how much of dump B is already in dump A" before committing
    to a full cross-dump dedup pass.

    Plan shape: one explode to a DISTINCT ``(source, gram)`` posting
    (distinct inside the gram shuffle, so a phrase repeated across a
    whole source costs one row), a posting self-join on the gram —
    a gram's fan-out is bounded by the SOURCE count (tens), never the
    corpus, so the join is linear in distinct grams — and per-source
    distinct sizes to finish exact Jaccard by inclusion-exclusion.
    Grams join as raw strings: the oracle cross-validates the same
    strings, no hash caveat.

    Output: ``src_a, src_b (src_a < src_b), n_inter, n_a, n_b,
    jaccard`` (6 dp).
    """
    return _overlap_matrix(_source_posting(docs, n, text_col, source_col))


def _source_posting(
    docs: DataFrame, n: int, text_col: str, source_col: str
) -> DataFrame:
    """DISTINCT ``(src, gram)`` posting — the per-source shingle SET.
    Shared by :func:`source_overlap` and :func:`merge_overlap_postings`:
    the set-union property (distinct of a union == union of distincts,
    re-distincted) is what lets a batch fold into a standing posting
    without recomputing history."""
    return (
        docs.select(
            F.col(source_col).alias("src"),
            F.explode(shingles(text_col, n)).alias("gram"),
        )
        .distinct()
    )


def _overlap_matrix(posting: DataFrame) -> DataFrame:
    """Inclusion-exclusion Jaccard matrix over a distinct
    ``(src, gram)`` posting (see :func:`source_overlap` for the plan
    shape and output contract).

    The posting is pinned (DISK_ONLY) first: it feeds THREE consumers
    (per-source sizes + both sides of the gram self-join), and a
    derived posting (explode->distinct) carries a rows(docs) estimate
    — off by the shingle fan-out — under which the planner broadcast
    the gram join's build side and OOM'd the driver at the heaps1
    decade (round 9).  Post-pin the optimizer sees the ACTUAL posting
    size: small postings still broadcast, corpus-vocab-sized ones get
    the shuffled join.  The pinned frame is the per-source shingle SET,
    the query's own working set, so caching it is not a leak."""
    from financial_data_ingestion_pipeline_spark.materialize import pin

    posting = pin(posting.select("src", "gram"))
    sizes = posting.groupBy("src").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        posting.select(F.col("src").alias("src_a"), "gram")
        .join(posting.select(F.col("src").alias("src_b"), "gram"), "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("src").alias("src_a"), F.col("sz").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("src").alias("src_b"), F.col("sz").alias("n_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_inter",
            "n_a",
            "n_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def merge_overlap_postings(
    posting: DataFrame,
    batch: DataFrame,
    n: int = SHINGLE_N,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Fold an ingest batch into a standing ``(src, gram)`` posting —
    the incremental step of cross-dump contamination tracking: shingle
    ONLY the new documents, union with the standing sets, and
    re-distinct (grams the batch shares with history collapse back to
    one row).  ``_overlap_matrix(merge_overlap_postings(...))`` is
    equal to ``source_overlap`` recomputed over the full corpus by the
    set-union property — the invariant the ``source_overlap_merge``
    contract query checks against the full-recompute oracle.

    The distinct is posting-sized (distinct grams x sources), never
    corpus-sized: history is already a set, and the batch's raw
    explode deduplicates inside the same shuffle."""
    return (
        posting.select("src", "gram")
        .unionByName(_source_posting(batch, n, text_col, source_col))
        .distinct()
    )
