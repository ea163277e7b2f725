"""Behavioral tests for the LLM-pipeline operators: approximate paths
(LSH) checked against exact baselines, dedup checked against injected
duplicates, multimodal plumbing checked end-to-end."""

import pytest
from pyspark.sql import functions as F

from financial_data_ingestion_pipeline_spark.functions import (
    dedup,
    multimodal,
    similarity,
    text,
)
from financial_data_ingestion_pipeline_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_ann_lsh_recall_vs_exact(emb):
    qids = list(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_topk(emb, qids, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"multiprobe LSH recall too low: {recall}"
    # the fixture is isotropic — the ANN worst case (top-5 neighbors sit
    # at cosine ~0.35 vs ~0 for random pairs), so recall 0.9 costs a
    # ~0.75 candidate rate here; the clustered test below shows the
    # same defaults pruning hard when the data has structure
    n = emb.count()
    n_cand = similarity.lsh_candidate_pairs(emb, qids).count()
    assert n_cand < 0.85 * len(qids) * n, f"LSH admits ~everything: {n_cand}"


def _clustered_embeddings(spark, n_clusters=20, per_cluster=150, dim=64):
    """Deterministic clustered corpus (what real embedding tables look
    like): well-separated centers + small within-cluster noise."""
    import numpy as np

    rng = np.random.RandomState(7)
    cents = rng.randn(n_clusters, dim) * 3.0
    rows = []
    vid = 0
    for c in cents:
        pts = c + rng.randn(per_cluster, dim) * 0.3
        for p in pts:
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")


def test_ann_prunes_on_clustered_data(spark):
    """On clustered data (the realistic 100 TB case), LSH tuned for the
    data's actual neighbor angles reaches ~full recall while scoring
    only a few percent of the corpus — proof the bucketing genuinely
    prunes and the fixture candidate rate is a property of isotropic
    data, not of the code.  (Module defaults trade candidates for
    recall on the isotropic fixture; on clustered corpora you raise
    bits_per_table and drop the multiprobe radius.)"""
    emb = _clustered_embeddings(spark)
    qids = list(range(10))
    params = dict(num_planes=24, bits_per_table=12, num_tables=8, multiprobe=1)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_topk(emb, qids, k=5, **params).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"clustered LSH recall too low: {recall}"
    n = emb.count()
    n_cand = similarity.lsh_candidate_pairs(emb, qids, **params).count()
    rate = n_cand / (len(qids) * n)
    assert rate < 0.15, f"LSH candidate rate on clustered data: {rate}"


def test_embedding_neardup_lsh_is_subset_of_exact(emb):
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.3, exact=True
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.3, exact=False
        ).collect()
    }
    assert lsh <= exact


def test_embedding_neardup_lsh_matches_candidate_join_reference(emb):
    """The round-12 block-kernel LSH form must produce EXACTLY the
    round-11 candidate-join semantics: every pair sharing >= 1 LSH
    bucket whose fold-exact cosine rounds to >= threshold, with the
    identical sim value.  Reference computed from first principles
    (numpy fold kernels + the same plane/table constructions)."""
    import numpy as np

    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        plane_coeffs,
        table_indices,
    )
    from financial_data_ingestion_pipeline_spark.functions.vectorized import (
        np_seq_matmul,
        np_seq_sqnorm,
    )

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], np.int64)
    V = np.stack([np.asarray(r.embedding, np.float64) for r in rows])
    planes = np.array(plane_coeffs(16, 64, "hp"), np.float64)
    tables = table_indices(16, 4, 4, stride=4)
    bits = (np_seq_matmul(V, planes) > 0.0).astype(np.int64)
    buckets = {}  # bucket key -> member row indexes
    for t, idxs in enumerate(tables):
        keys = sum(bits[:, p] << j for j, p in enumerate(idxs)) + 16 * t
        for row, key in enumerate(keys):
            buckets.setdefault(int(key), []).append(row)
    sq = np_seq_sqnorm(V)
    expected = {}
    for members in buckets.values():
        for i in members:
            for j in members:
                if ids[i] < ids[j] and (ids[i], ids[j]) not in expected:
                    dot = np_seq_matmul(V[i : i + 1], V[j : j + 1])[0, 0]
                    sim = np.round(dot / np.sqrt(sq[i] * sq[j]), 6)
                    if sim >= 0.3:
                        expected[(int(ids[i]), int(ids[j]))] = float(sim)
    got = {
        (r.id_a, r.id_b): r.sim
        for r in similarity.embedding_near_duplicates(
            emb, threshold=0.3, exact=False
        ).collect()
    }
    assert got == expected


def test_block_kernel_rejects_non_integral_ids_before_any_job(spark, emb):
    """Every path into the block-local kernel (LSH, exact+block,
    semantic_dedup) rejects a non-integral id column on the driver at
    call time, naming the column and type, before any job runs."""
    str_ids = emb.withColumn("vec_id", F.col("vec_id").cast("string"))
    calls = (
        lambda: similarity.embedding_near_duplicates(str_ids, 0.9),
        lambda: similarity.embedding_near_duplicates(
            str_ids, 0.9, auto_bits=True
        ),
        lambda: similarity.embedding_near_duplicates(
            str_ids, 0.9, exact=True, block_col="label"
        ),
        lambda: similarity.semantic_dedup(str_ids, "auto"),
    )
    sc = spark.sparkContext
    sc.setJobGroup("non_integral_ids", "must run no job")
    try:
        for call in calls:
            with pytest.raises(ValueError, match="'vec_id'.*string"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("non_integral_ids") == []


def test_minhash_finds_injected_duplicates(spark, docs):
    # copy 5 docs under new ids: near-dup pairs (jaccard 1.0) must surface
    copies = docs.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    pairs = dedup.minhash_lsh_pairs(docs.unionByName(copies), threshold=0.8)
    found = {(r.id_a, r.id_b, r.jaccard) for r in pairs.collect()}
    for i in range(5):
        assert (i, i + 1_000_000, 1.0) in found


def test_exact_dedup_with_injected_duplicates(spark, docs):
    copies = docs.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    both = docs.unionByName(copies)
    groups = dedup.exact_duplicates(both)
    rows = groups.collect()
    assert len(rows) == 3
    assert all(r.n_copies == 2 and r.keep_id < 3 for r in rows)
    deduped = dedup.dedup_exact(both)
    assert deduped.count() == docs.count()
    assert deduped.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_simhash_pairs_match_bruteforce(spark, docs):
    """The chunk-pigeonhole candidate join returns EXACTLY the pair
    set of the O(n^2) brute force — the cross-validation of the LSH
    trick itself.  This pin lived in the DuckDB oracle as a deliberate
    brute-force replay until the heaps2 decade made O(n^2) infeasible
    there (500k docs = 125e9 sig comparisons); the oracle now replays
    the pigeonhole construction and THIS test carries the
    completeness proof on a corpus where brute force is cheap."""
    sigs = dedup.simhash(docs)
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs(sigs, max_hamming=3).collect()
    }
    raw = [(r.doc_id, r.simhash) for r in sigs.collect()]
    raw.sort()
    want = set()
    for i in range(len(raw)):
        for j in range(i + 1, len(raw)):
            d = bin(raw[i][1] ^ raw[j][1]).count("1")
            if d <= 3:
                want.add((raw[i][0], raw[j][0], d))
    assert got == want and len(want) > 0


def test_simhash_identical_docs_distance_zero(spark, docs):
    copies = docs.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    sigs = dedup.simhash(docs.unionByName(copies))
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_pairs(sigs).collect()}
    for i in range(3):
        assert pairs.get((i, i + 1_000_000)) == 0


def test_image_feature_extraction(spark):
    media = multimodal.synthesize_media_table(spark, n=32)
    feats = multimodal.extract_image_features(media).collect()
    assert len(feats) == 32
    meta = {r.media_id: (r.meta.width, r.meta.height) for r in media.collect()}
    for r in feats:
        assert (r.width, r.height) == meta[r.media_id]
        assert r.n_bytes >= 8
        assert 0.0 <= r.mean_byte <= 255.0


def test_image_resize_roundtrip(spark):
    """Resized fake images stay decodable: dims come back as the
    target, payload is the NN-resampled byte stream."""
    media = multimodal.synthesize_media_table(spark, n=16)
    resized = multimodal.resize_images(media, target_w=32, target_h=32)
    feats = {r.media_id: r for r in
             multimodal.extract_image_features(resized).collect()}
    assert len(feats) == 16
    orig = {r.media_id: bytes(r.content) for r in media.collect()}
    for mid, r in feats.items():
        assert (r.width, r.height) == (32, 32)
        body = orig[mid][8:]
        expect = bytes(body[(i * len(body)) // 1024] for i in range(1024)) if body else b""
        assert r.n_bytes == 8 + len(expect)
        if expect:
            assert r.mean_byte == sum(expect) / len(expect)


def test_frame_sampling_shape(spark):
    media = multimodal.synthesize_media_table(spark, n=8)
    frames = multimodal.sample_frames(media, every_n_bytes=64, max_frames=4)
    pdf = frames.toPandas()
    assert set(pdf.columns) == {"media_id", "frame_index", "frame_bytes"}
    assert pdf.groupby("media_id").size().max() <= 4
    assert (pdf.frame_index >= 0).all()


def test_decoder_stub_raises_on_garbage(spark):
    import pandas as pd

    from financial_data_ingestion_pipeline_spark.functions.multimodal import (
        _stub_decode,
    )

    with pytest.raises(NotImplementedError):
        _stub_decode(b"\x00")


def test_ann_ivf_recall_vs_exact(emb):
    """Pretrained-quantizer path (the production pattern and the
    ``queries()`` entry): recall >= 0.9 at the tuned n_probe."""
    from financial_data_ingestion_pipeline_spark.functions.ivf_pretrained import (
        CENTROIDS,
    )

    qids = list(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, qids, k=5, centroids=CENTROIDS).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall too low: {recall}"


def test_ivfpq_recall_vs_exact(emb):
    """IVF-PQ (frozen coarse quantizer + frozen per-subspace codebooks,
    ADC compressed-domain ranking): recall >= 0.9 at the tuned pool.
    The exact re-rank makes every RETURNED sim exact, so precision of
    the survivors is 1.0 by construction — only recall can degrade."""
    qids = list(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(emb, qids, k=5, pool=100).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF-PQ recall too low: {recall}"


def test_ivfpq_pool_is_compressed_domain(emb):
    """The ADC pool stage must rank with PQ codes only: a pool smaller
    than the candidate set still returns k rows per query and every sim
    it reports equals the exact cosine (re-rank contract)."""
    qids = [0, 1]
    res = similarity.ivfpq_topk(emb, qids, k=3, pool=10).collect()
    assert len(res) == 6
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == [1, 2, 3]
        sims = [r.sim for r in sorted(rows, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


def test_quality_classify_monotone_and_exact(docs):
    """The linear gate is integer-exact and monotone: recomputing the
    logit from the emitted integer features reproduces it exactly, and
    keep <=> logit >= 0."""
    from financial_data_ingestion_pipeline_spark.functions.text import (
        QUALITY_WEIGHTS as W,
        quality_classify,
    )

    rows = quality_classify(docs).collect()
    assert len(rows) > 0
    for r in rows:
        logit = (
            W["bias"]
            + W["cap_tokens"] * r.cap_tokens
            + W["stop_ppm"] * r.stop_ppm
            + W["punct_ppm"] * r.punct_ppm
            + W["digit_ppm"] * r.digit_ppm
            + W["len_milli"] * r.len_milli
        )
        assert r.logit_micro == logit
        assert r.keep == (logit >= 0)
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < len(rows), "gate should separate the fixture"


def test_embedding_drift_exact_and_self_consistent(emb):
    """Integer-grid drift stats: counts add up to the corpus per
    dimension, and comparing a split against ITSELF is exactly zero
    drift (the integer math has no float-mean noise to leak)."""
    res = similarity.embedding_drift(emb).collect()
    assert len(res) == 64
    n = emb.count()
    for r in res:
        assert r.n_a + r.n_b <= n
        assert r.shift_abs_ppm >= 0
        assert r.shift_sign in (-1, 0, 1)
    same = similarity.embedding_drift(emb, split_a="train", split_b="train")
    for r in same.collect():
        assert r.shift_abs_ppm == 0 and r.shift_sign == 0


def test_ann_ivf_training_path(emb):
    """On-the-fly distributed Lloyd training end-to-end: a freshly
    trained coarse quantizer at a modest probe budget still finds most
    true neighbors (exact-recall gate is the pretrained test above)."""
    qids = list(range(10))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            emb, qids, k=5, n_cells=16, n_probe=8, refine_iters=1
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"trained-IVF recall too low: {recall}"


def test_ivf_centroids_shape_and_assignment_coverage(emb):
    cents = similarity.train_ivf_centroids(emb, n_cells=8, refine_iters=1)
    assert len(cents) == 8
    dim = len(emb.select("embedding").first()[0])
    assert all(len(c) == dim for c in cents)
    # every vector lands in exactly one cell; cells jointly cover corpus
    assigned = emb.select(
        similarity._nearest_cell(F.col("embedding"), cents).alias("cell")
    )
    n_cells_used = assigned.distinct().count()
    assert assigned.count() == emb.count()
    assert n_cells_used >= 2  # refinement produced a non-degenerate quantizer


def test_quality_flags_detects_repetition(spark):
    good = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))  # 60 varied
    spammy = " ".join(["buy now"] * 60)  # one bigram dominates
    dup_lines = "\n".join(["same line here"] * 10)
    docs = spark.createDataFrame(
        [(1, good), (2, spammy), (3, dup_lines)], "doc_id: long, text: string"
    )
    rows = {r.doc_id: r for r in text.quality_flags(docs).collect()}
    assert rows[1].passes_quality
    assert not rows[2].passes_quality  # top_bigram_frac ~ 0.5
    assert rows[2].top_bigram_frac >= 0.4
    assert not rows[3].passes_quality  # dup_line_frac = 0.9
    assert rows[3].dup_line_frac == 0.9
    assert rows[1].n_tokens == 60


def test_repetition_stats_char_fractions(spark):
    varied = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
    spammy = " ".join(["buy now"] * 60)  # one bigram carries ~all chars
    dup_lines = "\n".join(["same line here"] * 10) + "\nunique tail line"
    docs = spark.createDataFrame(
        [(1, varied), (2, spammy), (3, dup_lines), (4, None), (5, "")],
        "doc_id: long, text: string",
    )
    rows = {r.doc_id: r for r in text.repetition_stats(docs).collect()}
    assert len(rows) == 5  # row-preserving incl. NULL/empty text
    assert rows[1].passes_repetition
    assert not rows[2].passes_repetition
    # "buy now" (60x) and "now buy" (59x) split the bigram mass ~50/50
    assert rows[2].top_2gram_char_frac >= 0.5
    assert rows[2].dup_5gram_char_frac == 1.0
    assert not rows[3].passes_repetition
    # 10 x "same line here" (14 chars) dup'd, 16-char tail unique
    assert rows[3].dup_line_char_frac == round(140 / 156, 6)
    for d in (4, 5):
        assert rows[d].dup_line_char_frac == 0.0
        assert rows[d].top_2gram_char_frac == 0.0
        assert rows[d].passes_repetition


def test_budget_sample_quota_semantics(spark):
    docs = spark.createDataFrame(
        [(i, "a" if i < 20 else "b", 100) for i in range(30)],
        "doc_id long, source string, n_chars long",
    )
    out = text.budget_sample(docs, budgets={"a": 450}).collect()
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r.stratum, []).append(r)
    # 100-char docs against a 450 budget: 4 under, the 5th crosses and
    # is included (overshoot-not-undershoot), the 6th is out
    assert len(by_stratum["a"]) == 5
    assert max(r.cum_cost for r in by_stratum["a"]) == 500
    assert "b" not in by_stratum  # no budget entry -> contributes nothing
    # deterministic: identical survivors on re-run
    again = {r.doc_id for r in text.budget_sample(docs, budgets={"a": 450}).collect()}
    assert again == {r.doc_id for r in out}


def test_domain_caps_deterministic_cap(spark):
    docs = spark.createDataFrame(
        [(i, "big" if i < 50 else "small") for i in range(60)],
        "doc_id: long, source: string",
    )
    out = text.domain_caps(docs, cap=10, domain_col="source").collect()
    by_dom = {}
    for r in out:
        by_dom.setdefault(r.domain, []).append(r)
    assert len(by_dom["big"]) == 10  # capped
    assert len(by_dom["small"]) == 10  # under cap -> all kept
    assert sorted(r.domain_rank for r in by_dom["big"]) == list(range(1, 11))
    # deterministic: same survivors on re-run
    again = {(r.doc_id, r.domain_rank) for r in
             text.domain_caps(docs, cap=10, domain_col="source").collect()}
    assert again == {(r.doc_id, r.domain_rank) for r in out}


def test_pii_scan_counts_and_redacts(spark):
    doc = (
        "contact me at john.doe@example.com or +1 555 123 4567, "
        "server 192.168.1.10, docs https://example.com/a?b=1 end"
    )
    docs = spark.createDataFrame([(1, doc), (2, "clean text")],
                                 "doc_id: long, text: string")
    rows = {r.doc_id: r for r in text.pii_scan(docs).collect()}
    r = rows[1]
    assert (r.n_emails, r.n_ipv4, r.n_urls, r.n_phones) == (1, 1, 1, 1)
    for token in ("<EMAIL>", "<IP>", "<URL>", "<PHONE>"):
        assert token in r.redacted
    assert "example.com/a" not in r.redacted and "555" not in r.redacted
    assert rows[2].redacted == "clean text"
    assert rows[2].n_emails == 0


@pytest.mark.parametrize("threshold", [2_000_000, 0])
def test_neardup_clusters_connected_components(spark, threshold):
    # chain 1-2-3 plus pair (10, 11): transitive closure must put the
    # whole chain in cluster 1 even though (1, 3) is not a direct pair.
    # threshold=0 forces the distributed path-doubling loop; the default
    # takes the single-task union-find — results must be identical.
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id: long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: long, id_b: long"
    )
    got = {r.doc_id: r.cluster_id
           for r in dedup.neardup_clusters(
               docs, pairs, local_edge_threshold=threshold).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}
    # release the final-checkpoint blocks so later cache assertions see
    # a clean session (in production the ContextCleaner reaps them on GC)
    pmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(pmap.keySet().toArray()):
        pmap.get(rid).unpersist(True)


def test_neardup_clusters_contraction_paths_agree(spark):
    """All four physical strategies — single-task, pure loop,
    contraction+single-task, contraction+loop — must produce identical
    labels (round-6: min-star contraction added for graphs whose edge
    sets are too big to ship to one task)."""
    import random

    rnd = random.Random(7)
    # cliques + chains + singletons: cliques contract in one round,
    # chains exercise multi-round + residual-loop paths
    edges = [(b, b + i) for b in (100, 200) for i in range(1, 6)]
    edges += [(b + i, b + j) for b in (100, 200)
              for i in range(1, 5) for j in range(i + 1, 6)]
    edges += [(300 + i, 301 + i) for i in range(12)]  # chain
    rnd.shuffle(edges)
    nodes = sorted({n for e in edges for n in e} | {999})
    docs_df = spark.createDataFrame([(n,) for n in nodes], "doc_id: long")
    pairs = spark.createDataFrame(edges, "id_a: long, id_b: long")

    def labels(**kw):
        return {
            r.doc_id: r.cluster_id
            for r in dedup.neardup_clusters(docs_df, pairs, **kw).collect()
        }

    base = labels()  # single-task
    assert base[105] == 100 and base[205] == 200 and base[312] == 300
    assert base[999] == 999
    assert labels(local_edge_threshold=0, max_contract_rounds=0) == base
    assert labels(local_edge_threshold=10, max_contract_rounds=3) == base
    assert labels(local_edge_threshold=1, max_contract_rounds=1) == base
    pmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(pmap.keySet().toArray()):
        pmap.get(rid).unpersist(True)


def test_split_assign_deterministic_and_proportional(spark, docs):
    a = {r.doc_id: r.split for r in text.split_assign(docs).collect()}
    b = {r.doc_id: r.split for r in text.split_assign(docs).collect()}
    assert a == b  # hash-based: stable across runs (unlike randomSplit)
    from collections import Counter

    frac = Counter(a.values())
    n = len(a)
    assert 0.80 <= frac["train"] / n <= 0.97
    assert frac["val"] > 0 and frac["test"] > 0
    # different seed -> different assignment
    c = {r.doc_id: r.split for r in text.split_assign(docs, seed="other").collect()}
    assert c != a


def test_vocab_and_tfidf_shapes(spark):
    rows = [
        (1, "apple banana apple cherry"),
        (2, "banana banana durian"),
        (3, "apple elderberry"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    vocab = {r.token: (r.rank, r.n_occurrences, r.n_docs)
             for r in text.vocab_topk(docs, k=3).collect()}
    # apple and banana tie at 3 occurrences -> alphabetical tie-break
    assert vocab["apple"] == (1, 3, 2)
    assert vocab["banana"] == (2, 3, 2)
    assert len(vocab) == 3
    top = {r.doc_id: r.term for r in text.tfidf_topterms(docs, top_n=1).collect()}
    # rarest term in each doc wins (df=1 beats df=2 at equal tf)
    assert top[2] == "banana"  # tf=2 outweighs durian's rarity edge? no:
    # banana: tf=2, df=2 -> 2*(4/3)=2.667; durian: tf=1, df=1 -> 1*2=2.0
    assert top[3] == "elderberry"


def test_dedup_leaves_no_cached_rdds(spark, docs):
    """The pair-finding dedup family must not accumulate executor
    storage across repeated calls in a long-lived session (VERDICT r1
    #5).  The corpus-sized paths stay cache-free (self-joins rely on
    ReusedExchange instead of persist()); the one sanctioned pin —
    simhash_pairs' narrow (doc, long, long) signature frame (round
    11) — must be REGISTERED, so ``evict_persisted`` at the job
    boundary returns the session to its starting storage footprint.
    (Snapshot-diff: the iterative clusters op legitimately leaves its
    final checkpoint behind until GC.)"""
    from financial_data_ingestion_pipeline_spark.session import evict_persisted

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    sigs = dedup.simhash(docs)
    dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
    dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    mid = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert mid == before, f"{mid - before} RDDs cached by unpinned ops"
    dedup.simhash_pairs(sigs).collect()
    evict_persisted(blocking=True)
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before, f"{after - before} RDDs survived eviction"


def test_neardup_clusters_unpersists_intermediates(spark):
    """Iteration N's checkpoint blocks must be released once N+1 is
    materialized — a D-diameter graph must not hold D corpus-sized
    label snapshots at once.  Only the final checkpoint (backing the
    returned frame) plus nothing else may remain."""
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id: long")
    # a 30-node chain: forces many propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a: long, id_b: long"
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    # threshold=0 forces contraction rounds + the iterative distributed
    # path under test (a chain contracts slowly by design)
    out = dedup.neardup_clusters(docs, pairs, local_edge_threshold=0)
    got = {r.doc_id: r.cluster_id for r in out.collect()}
    assert all(got[i] == 0 for i in range(31))  # whole chain -> cluster 0
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # the returned frame legitimately reads TWO checkpoints (final
    # labels + the contraction compose map); anything beyond that is a
    # leaked intermediate
    assert after - before <= 2, f"{after - before} checkpoints left (expected <=2)"
    pmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(pmap.keySet().toArray()):
        pmap.get(rid).unpersist(True)


def test_ngram_df_cap_bounds_hot_shingle(spark):
    """A boilerplate shingle shared by every document is a quadratic
    join key; with the df cap those collisions never happen, and pairs
    whose only overlap is boilerplate don't surface."""
    boiler = "all rights reserved worldwide"
    rows = [(i, f"unique{i}a unique{i}b unique{i}c unique{i}d " + boiler)
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.01, max_df=100)
    assert capped.count() == 0  # 300^2/2 boilerplate pairs suppressed
    # cap off: the same corpus yields every boilerplate-only pair
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.01, max_df=None)
    assert uncapped.count() == 300 * 299 // 2


def test_simhash_null_text_keeps_row(spark, docs):
    """One output row per input document even for NULL text (signature
    0, zero tokens) — explode_outer regression guard."""
    with_null = docs.select("doc_id", "text").limit(3).unionByName(
        spark.createDataFrame([(999_999, None)], "doc_id: long, text: string")
    )
    sigs = {r.doc_id: r for r in dedup.simhash(with_null).collect()}
    assert len(sigs) == 4
    assert sigs[999_999].simhash == 0
    assert sigs[999_999].n_distinct_tokens == 0


def test_audio_feature_extraction(spark):
    media = multimodal.synthesize_media_table(spark, n=16, media_type="audio")
    feats = multimodal.extract_audio_features(media).collect()
    assert len(feats) == 16
    for r in feats:
        assert r.n_samples > 0
        assert 0.0 <= r.rms <= 1.0
        assert 0.0 <= r.peak <= 1.0


def test_dedup_incremental_flags(spark):
    """Batch docs are flagged against the corpus only: an exact copy of
    a corpus doc, a near copy (one word changed in a long doc), and a
    fresh doc; intra-batch duplicates are NOT flagged (that's the
    intra-corpus operator's job)."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        dedup_incremental,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    near = base.replace("lazy", "sleepy", 1)
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, base), (11, near), (12, "brand new content nothing alike"),
         (13, "brand new content nothing alike")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup_incremental(batch, corpus).collect()}
    assert len(rows) == 4
    assert rows[10].exact_dup and rows[10].near_dup and not rows[10].keep
    assert not rows[11].exact_dup and rows[11].near_dup and not rows[11].keep
    assert rows[12].keep and rows[13].keep  # intra-batch dup not flagged


def test_dedup_incremental_split_parity(spark):
    """The single-pass split form returns row-for-row what the
    two-frame recompute form returns on the same id-predicate split —
    a doc's md5 / minhash signature does not depend on which side it
    lands on, so sharing the scan cannot change the flags.  Covers
    the batch/corpus shapes the contract query uses (exact dup, near
    dup, fresh doc, intra-batch dup)."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        dedup_incremental,
        dedup_incremental_split,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    near = base.replace("lazy", "sleepy", 1)
    docs = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text here"),
         (10, base), (11, near), (12, "brand new content nothing alike"),
         (13, "brand new content nothing alike")],
        "doc_id long, text string",
    )
    pred = lambda c: c >= 10  # noqa: E731 - the contract query's shape
    want = sorted(
        map(
            tuple,
            dedup_incremental(
                docs.filter(F.col("doc_id") >= 10),
                docs.filter(F.col("doc_id") < 10),
            ).collect(),
        )
    )
    got = sorted(map(tuple, dedup_incremental_split(docs, pred).collect()))
    assert got == want
    # and the flags themselves are the known-good ones
    rows = {t[0]: t for t in got}
    assert rows[10][1] and rows[10][2] and not rows[10][3]
    assert not rows[11][1] and rows[11][2] and not rows[11][3]
    assert rows[12][3] and rows[13][3]


def test_dedup_index_parity_and_append_maintenance(spark, tmp_path_factory):
    """The materialized-index path returns row-for-row what the
    recompute path returns, and appending a new ingest's keys keeps the
    index valid (set-union maintenance, no rebuild)."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        build_dedup_index,
        dedup_incremental,
        dedup_incremental_indexed,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, base), (11, base.replace("lazy", "sleepy", 1)),
         (12, "brand new content nothing alike")],
        "doc_id long, text string",
    )
    path = str(tmp_path_factory.mktemp("dedup_index"))
    build_dedup_index(corpus, path)
    want = sorted(map(tuple, dedup_incremental(batch, corpus).collect()))
    got = sorted(
        map(tuple, dedup_incremental_indexed(batch, spark, path).collect())
    )
    assert got == want
    # append maintenance: add batch-doc 12's keys; it now reads as dup
    kept = batch.filter(F.col("doc_id") == 12)
    build_dedup_index(kept, path, mode="append")
    again = {
        r.doc_id: r
        for r in dedup_incremental_indexed(batch, spark, path).collect()
    }
    assert again[12].exact_dup and not again[12].keep
    assert again[11].near_dup  # prior corpus keys still present


def test_lm_coverage_bounds_and_known_floor(docs):
    """Every bigram occurring >= min_count corpus-wide is 'known', so
    coverage is a ratio in [0, 1e6]; a doc duplicated >= min_count
    times must score exactly 1e6 (all its bigrams are known)."""
    rows = text.lm_coverage(docs, min_count=3).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0 <= r.n_known_bigrams <= r.n_bigrams
        assert 0 <= r.coverage_ppm <= 1_000_000
    # inject a doc repeated 3x: its bigrams all reach min_count
    spark = docs.sparkSession
    extra = spark.createDataFrame(
        [(10_001 + i, "alpha beta gamma delta epsilon", "en", "inj", 30)
         for i in range(3)],
        docs.schema,
    )
    scored = text.lm_coverage(docs.unionByName(extra), min_count=3)
    inj = {r.doc_id: r for r in scored.filter(F.col("doc_id") > 10_000).collect()}
    assert len(inj) == 3
    for r in inj.values():
        assert r.coverage_ppm == 1_000_000
        assert r.n_bigrams == 4


def test_quantize_embeddings_range_and_extremes(emb):
    """Codes are integer checksums over [0, 255]; the per-dim min maps
    to 0 and the max to 255, so across the corpus the first-dim codes
    must cover both extremes; constant dims quantize to 0."""
    out = similarity.quantize_embeddings(emb).collect()
    assert len(out) == emb.count()
    dim = len(emb.first().embedding)
    firsts = set()
    for r in out:
        assert r.n_dims == dim
        assert 0 <= r.code_first <= 255 and 0 <= r.code_last <= 255
        assert 0 <= r.code_sum <= 255 * dim
        firsts.add(r.code_first)
    assert 0 in firsts and 255 in firsts
    # constant dimension → code 0 everywhere (mx == mn guard)
    spark = emb.sparkSession
    const = spark.createDataFrame(
        [(i, [1.5] * 4) for i in range(5)], "vec_id long, embedding array<float>"
    )
    crows = similarity.quantize_embeddings(const).collect()
    assert all(r.code_sum == 0 for r in crows)


def test_bm25_ranking_semantics(spark):
    """BM25 on a hand-built corpus: rarer term dominates a common one,
    higher tf beats lower tf, and a longer document scores below a
    shorter one with the same tf (length normalization)."""
    from financial_data_ingestion_pipeline_spark.functions import text as t

    rows = [
        (1, "rare common pad1 pad2"),          # rare once, short
        (2, "rare rare common pad1"),          # rare twice
        (3, "common pad1 pad2 pad3"),          # no rare
        (4, "rare common " + " ".join(f"p{i}" for i in range(20))),  # long
        (5, "common common pad1 pad2"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = t.bm25_topk(docs, ("rare", "common"), top_k=5).collect()
    score = {r.doc_id: r.score for r in out}
    hits = {r.doc_id: r.n_hits for r in out}
    assert hits[1] == 2 and hits[3] == 1
    # tf monotonicity on the rare term
    assert score[2] > score[1]
    # docs containing the rare term outrank rare-free docs
    assert min(score[1], score[2], score[4]) > max(score[3], score[5])
    # length normalization: same tf profile, longer doc scores lower
    assert score[1] > score[4]


def test_bm25_topk_plan_is_distributed_topk(spark, docs):
    """The corpus-wide ranking must compile to TakeOrderedAndProject
    (per-partition top-k, merged), never a single-task global sort
    over every document's score."""
    from financial_data_ingestion_pipeline_spark.functions import text as t

    df = t.bm25_topk(docs, ("merge", "window", "spark"), top_k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_phrase_search_counts_overlapping(spark):
    """Overlapping occurrences must all count (replace()-style
    substring tricks miss them), sub-token matches must not."""
    from financial_data_ingestion_pipeline_spark.functions import text as t

    rows = [
        (1, "a a a b"),            # "a a" overlaps twice
        (2, "xa a ax"),            # no token-exact match
        (3, "a a"),                # exact-length doc
        (4, "b c d"),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r.doc_id: r.n_occurrences for r in t.phrase_search(docs, "a a").collect()}
    assert out == {1: 2, 3: 1}


def test_hybrid_topk_rrf_fusion(spark, docs, emb):
    """RRF top-k: membership comes only from the two arm pools, the
    fused score is the exact integer RRF of the reported ranks, and
    ordering is (score desc, id asc)."""
    terms = ("merge", "window", "spark")
    pool, k, rrf_k = 25, 10, 60
    fused = text.hybrid_topk(docs, emb, terms, query_id=3, k=k, pool=pool).collect()
    assert len(fused) == k
    bm = {r.doc_id: r.rank for r in text.bm25_topk(docs, terms, top_k=pool).collect()}
    nn = {
        r.neighbor_id: r.rank
        for r in similarity.cosine_topk(emb, [3], k=pool).collect()
    }
    scale = text.RRF_SCALE
    for row in fused:
        assert row.bm25_rank == bm.get(row.doc_id, 0)
        assert row.vec_rank == nn.get(row.doc_id, 0)
        expect = 0
        if row.bm25_rank:
            expect += scale // (rrf_k + row.bm25_rank)
        if row.vec_rank:
            expect += scale // (rrf_k + row.vec_rank)
        assert row.rrf_score == expect
        assert row.rrf_score > 0  # member of at least one pool
    ranks = [(-r.rrf_score, r.doc_id) for r in sorted(fused, key=lambda r: r.rank)]
    assert ranks == sorted(ranks)


def test_sq8_topk_recall_vs_exact(emb):
    """SQ8 codes keep enough geometry that the pool re-rank recovers
    nearly all exact top-5 neighbors; re-ranked sims must EQUAL the
    exact cosine for every reported pair."""
    qids = list(range(10))
    exact = similarity.cosine_topk(emb, qids, k=5).collect()
    exact_pairs = {(r.query_id, r.neighbor_id): r.sim for r in exact}
    sq8 = similarity.sq8_topk(emb, qids, k=5, pool=20).collect()
    assert len(sq8) == 50
    recall = sum(
        1 for r in sq8 if (r.query_id, r.neighbor_id) in exact_pairs
    ) / len(exact_pairs)
    assert recall >= 0.9, f"SQ8 pool recall too low: {recall}"
    full = {
        (r.query_id, r.neighbor_id): r.sim
        for r in similarity.cosine_topk(emb, qids, k=50).collect()
    }
    for r in sq8:
        assert r.sim == full[(r.query_id, r.neighbor_id)]


def test_hard_negatives_label_mismatch_and_ranking(emb):
    """Every mined negative has a different label from its anchor, and
    per-anchor results are the top-k of the label-mismatched candidate
    set (cross-checked against a brute-force driver computation)."""
    qids = [0, 1, 2]
    out = similarity.hard_negative_topk(emb, qids, k=5).collect()
    assert len(out) == 15
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out:
        assert labels[r.query_id] != labels[r.neighbor_id]
    # brute force: full knn at large k, filter mismatches, take 5
    full = similarity.cosine_topk(emb, qids, k=400).collect()
    for q in qids:
        negs = [
            (r.neighbor_id, r.sim)
            for r in sorted(full, key=lambda r: r.rank)
            if r.query_id == q and labels[r.neighbor_id] != labels[q]
        ][:5]
        mined = [
            (r.neighbor_id, r.sim)
            for r in sorted(out, key=lambda r: r.rank)
            if r.query_id == q
        ]
        assert mined == negs


def test_tfidf_cosine_pairs_finds_injected_neardups(spark):
    """Two docs sharing most trigrams score near 1; unrelated docs
    score 0; identical docs score exactly 1.0 (idf reweighting lowers
    but does not break near-dup affinity)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base + " extra"),          # near-dup of 1
        (3, "one two three four five six seven eight nine ten"),
        (4, base),                     # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.sim
        for r in text.tfidf_cosine_pairs(docs, threshold=0.0, n=3).collect()
    }
    assert out[(1, 4)] == 1.0
    assert out[(1, 2)] > 0.6
    assert (1, 3) not in out and (2, 3) not in out and (3, 4) not in out


def test_bpe_encode_counts_and_compression(docs):
    """Frozen-merges BPE: piece counts are bounded by char counts,
    merges actually compress the fixture (somewhere pieces < chars),
    and non-alphabetic tokens pass through one-to-one."""
    from financial_data_ingestion_pipeline_spark.functions.text import bpe_encode

    rows = bpe_encode(docs).collect()
    assert len(rows) > 0
    compressed = 0
    for r in rows:
        # every word yields at least one piece, at most one per char
        assert r.n_bpe_pieces >= r.n_tokens - r.n_alpha_words
        alpha_pieces = r.n_bpe_pieces - (r.n_tokens - r.n_alpha_words)
        assert alpha_pieces <= r.alpha_chars
        if 0 < alpha_pieces < r.alpha_chars:
            compressed += 1
        if r.n_alpha_words:
            assert r.compression_permille >= 1000
    assert compressed > 0, "merges should compress some fixture docs"


def test_bpe_encode_matches_python_reference(docs):
    """Spark's distinct-vocab Arrow encoder equals a direct Python
    canonical-BPE reference on the fixture's documents."""
    import re

    from financial_data_ingestion_pipeline_spark.functions.bpe_pretrained import (
        MERGES,
    )
    from financial_data_ingestion_pipeline_spark.functions.text import (
        bpe_encode,
        bpe_word_pieces,
    )

    token_re = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
    ranks = {pair: i for i, pair in enumerate(MERGES)}

    got = {r.doc_id: r.n_bpe_pieces for r in bpe_encode(docs).collect()}
    for row in docs.select("doc_id", "text").limit(50).collect():
        toks = token_re.findall((row.text or "").lower())
        want = sum(
            bpe_word_pieces(t, ranks) if re.fullmatch(r"[a-z]+", t) else 1
            for t in toks
        )
        assert got[row.doc_id] == want, row.doc_id


def test_null_text_matches_oracle(spark):
    """Engine and DuckDB oracle agree on documents with NULL text:
    both treat NULL as '' (one empty token), so a NULL-text row yields
    identical counts on both sides (advisor finding, round 3 — the
    fixtures contain no NULLs, so this parity is pinned here)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from financial_data_ingestion_pipeline_spark.functions.text import (
        bpe_encode,
        quality_classify,
        token_surprisal,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["the merge join is fast", None, "hash hash table"],
            "lang": ["en", "en", "en"],
            "source": ["s", "s", "s"],
            "n_chars": [22, 0, 15],
        }
    )
    sdf = spark.createDataFrame(
        pdf.astype(object).where(pd.notnull(pdf), None),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    oracles = entry_mod.oracle_sql()
    from financial_data_ingestion_pipeline_spark.functions.text import (
        sample_stratified,
        text_stats,
    )

    def _check(name, df):
        got = df.toPandas().sort_values("doc_id", ignore_index=True)
        want = (
            con.execute(oracles[name]).df().sort_values("doc_id", ignore_index=True)
        )
        got = got[sorted(got.columns)]
        want = want[sorted(want.columns)]
        assert list(got.columns) == list(want.columns), name
        for c in got.columns:
            assert (
                got[c].astype(str).tolist() == want[c].astype(str).tolist()
            ), (name, c)

    for name, fn in (
        ("token_surprisal", token_surprisal),
        ("bpe_encode", bpe_encode),
        ("quality_classify", quality_classify),
        ("text_stats", text_stats),
    ):
        _check(name, fn(sdf))
    # sample_stratified only PROJECTS text (never computes on it), so
    # NULL passes through identically on both sides — bare `text` in
    # its oracle is parity BY construction, pinned here (advisor,
    # round 4: the uniform-coalesce rule applies to computed text, not
    # to passthrough projections).
    _check(
        "sample_stratified",
        sample_stratified(
            sdf,
            {"de": 1000, "en": 300, "es": 1000, "fr": 1000, "zh": 500},
        ),
    )
    # canonical_docs: quality formula reads coalesce(text,'') on both
    # sides; the NULL doc still clusters (simhash keeps the row) and
    # ranks by its zero-ish quality.
    from financial_data_ingestion_pipeline_spark.functions import dedup

    pairs = dedup.simhash_pairs(dedup.simhash(sdf), max_hamming=3)
    clusters = dedup.neardup_clusters(sdf, pairs)
    quality = text_stats(sdf).select("doc_id", "quality_score")
    _check("canonical_docs", dedup.select_canonical(clusters, quality))


def test_exact_rerank_pool_empty_queries(spark, emb):
    """Zero query vectors -> empty frame with the output schema, not
    IndexError (advisor finding: sq8_topk/ivfpq_topk funnel here)."""
    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        exact_rerank_pool,
    )

    pool = spark.createDataFrame([], "query_id long, neighbor_id long")
    out = exact_rerank_pool(emb, pool, [], k=5)
    assert out.columns == ["query_id", "neighbor_id", "sim"]
    assert out.count() == 0


def test_token_surprisal_orders_rarity(docs, spark):
    """Rare-token docs must out-rank common-token docs, and the bit
    math is exactly floor(log2(N div c))."""
    from financial_data_ingestion_pipeline_spark.functions.text import (
        token_surprisal,
        tokens,
    )

    res = {r.doc_id: r for r in token_surprisal(docs).collect()}
    assert len(res) == docs.count()
    # recompute one doc by hand from the corpus vocab
    posting = docs.select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = {r.tok: r.c for r in
             posting.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).collect()}
    n_total = sum(vocab.values())
    some = posting.filter(F.col("doc_id") == 0).collect()
    want_bits = sum((n_total // vocab[r.tok]).bit_length() - 1 for r in some)
    assert res[0].total_bits == want_bits
    assert res[0].avg_millibits == (1000 * want_bits) // max(len(some), 1)


def test_bpe_fertility_separates_languages(docs):
    """The merges were trained on the corpus (mostly 'en'-profile
    text): every language slice reports consistent integer ratios, and
    totals reconcile with the per-doc encoder."""
    from financial_data_ingestion_pipeline_spark.functions.text import (
        bpe_encode,
        bpe_fertility,
    )

    rows = {r.lang: r for r in bpe_fertility(docs).collect()}
    assert rows
    enc = bpe_encode(docs).collect()
    total_pieces = sum(
        r.n_bpe_pieces - (r.n_tokens - r.n_alpha_words) for r in enc
    )
    assert total_pieces == sum(r.n_bpe_pieces for r in rows.values())
    for r in rows.values():
        assert r.fertility_permille >= 1000  # >= one piece per word
        assert 1000 <= r.compression_permille  # >= one char per piece
        assert r.fertility_permille == (1000 * r.n_bpe_pieces) // max(r.n_alpha_words, 1)


def test_embedding_drift_empty_split_is_null(spark):
    """A corpus slice where one split has no members reports NULL
    drift (explicitly, in both engines) instead of a div-by-zero."""
    rows = [(i, [float(i)] * 4) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # choose split names so one side is guaranteed empty on 3 ids
    res = similarity.embedding_drift(
        emb, split_a="train", split_b="val"
    ).collect()
    assert len(res) == 4
    for r in res:
        if r.n_a == 0 or r.n_b == 0:
            assert r.shift_abs_ppm is None and r.shift_sign is None


def test_lsh_auto_bits_ladder_matches_oracle_case():
    """The integer ladder (smallest b in [4,16] with n <= 125*2^b) and
    the SQL CASE ladder the oracle embeds must agree everywhere,
    including the exact power-of-two boundaries — this is the seam
    that keeps auto-sized LSH oracle-replayable at any SF."""
    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        lsh_auto_bits,
    )

    def sql_case(n: int) -> int:
        for b in range(4, 16):
            if n <= 125 * (1 << b):
                return b
        return 16

    probes = [0, 1, 124, 125, 126, 500, 1999, 2000, 2001, 3999, 4000]
    probes += [125 * (1 << b) + d for b in range(4, 17) for d in (-1, 0, 1)]
    probes += [10**9]
    for n in probes:
        assert lsh_auto_bits(n) == sql_case(n), n
    # historical constants preserved at the committed fixture sizes
    assert lsh_auto_bits(500) == 4 and lsh_auto_bits(2000) == 4


def test_winnow_probe_cap_counts_fingerprintless_docs(spark):
    """winnow_cross_pairs' df-cap N is ``corpus.count()``, the TOTAL
    document count, fingerprint-less docs included.

    Construction pins the boundary exactly: 17 identical docs share
    one fingerprint (df=17) in a 1700-doc corpus of which 1683 are
    fingerprint-less.  N=1700 -> cap = max(16, 17) = 17 -> the pair
    rows survive; a posting-derived N=17 would give cap 16 and
    silently drop them.
    """
    from financial_data_ingestion_pipeline_spark.functions.text import (
        winnow_cross_pairs,
    )

    shared = "abcdefghijkl"  # 12 chars, k=5/w=8 -> exactly 1 fingerprint
    rows = [(i, shared) for i in range(17)]
    rows += [(100 + i, "ab") for i in range(1683)]  # len < k: no postings
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    batch = spark.createDataFrame([(9000, shared)], "doc_id long, text string")

    got = {
        (r.batch_doc, r.corpus_doc): r.n_shared
        for r in winnow_cross_pairs(batch, corpus, min_shared=1).collect()
    }
    assert got == {(9000, i): 1 for i in range(17)}, (
        "cap must be 17 (total docs), not 16 (posting docs)"
    )


def test_persisted_cache_registry_evicts(spark):
    """Operators that persist on the caller's behalf register the
    entry; evict_persisted() drops them all (round-6 advice: unbounded
    disk-cache growth over many distinct inputs in long sessions)."""
    from financial_data_ingestion_pipeline_spark import session as S
    from financial_data_ingestion_pipeline_spark.functions.text import (
        tfidf_cosine_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(30)],
        "doc_id long, text string",
    )
    before = len(S._PERSISTED)
    tfidf_cosine_pairs(docs).count()
    assert len(S._PERSISTED) > before, "operator must register its persist"
    evicted = S.evict_persisted()
    assert evicted >= 1
    assert S._PERSISTED == []


def test_pinned_release_frees_both_modes(spark):
    """materialize.Pinned releases storage for persist AND ckpt mode
    (DataFrame.unpersist is a no-op for checkpoints — Pinned tracks
    the block ids instead)."""
    from financial_data_ingestion_pipeline_spark import materialize as mat

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    before = mat.persistent_rdd_ids(spark)

    p = mat.Pinned(df.groupBy((df.id % 7).alias("k")).count(),
                   mode="persist")
    assert p.df.count() == 7
    p.release()

    c = mat.Pinned(df.groupBy((df.id % 5).alias("k")).count(), mode="ckpt")
    assert c.df.count() == 5
    assert c.ids, "ckpt mode must capture its block ids"
    c.release()

    import time
    for _ in range(20):  # unpersist(False) is async; poll briefly
        leaked = mat.persistent_rdd_ids(spark) - before
        if not leaked:
            break
        time.sleep(0.25)
    assert not leaked, f"leaked persistent RDDs: {leaked}"


def test_ivf_cells_auto_ladder_matches_oracle_formula():
    """The engine ladder and the SQL formula the oracle embeds
    (greatest(32, 1 << length(bin(q-1))) with q=(n+63)//64) must agree
    everywhere, including power-of-two boundaries, and must land on
    the historical 32-cell constant at every driver fixture size."""
    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        ivf_cells_auto,
    )

    def sql_formula(n: int) -> int:
        # greatest(32, 1 << ((length(bin((greatest(n,1)-1)//2)) + 1) // 2))
        q = (max(n, 1) - 1) // 2
        bitlen = len(bin(q)[2:])  # SQL bin(0) = '0' -> length 1
        return max(32, 1 << ((bitlen + 1) // 2))

    probes = [0, 1, 2, 63, 64, 65, 200, 500, 2000, 2047, 2048, 2049]
    probes += [(1 << b) + d for b in range(1, 40) for d in (-1, 0, 1)]
    probes += [20_000, 10**9]
    for n in probes:
        assert ivf_cells_auto(n) == sql_formula(n), n
    # historical constants at committed fixture sizes (bit-identical
    # results to the frozen-quantizer records)
    assert ivf_cells_auto(20) == 32      # sf0.001
    assert ivf_cells_auto(200) == 32     # sf0.01
    assert ivf_cells_auto(2000) == 32    # sf0.1
    assert ivf_cells_auto(20_000) == 128  # sf1: the balanced regime
    # sqrt asymptotics: assignment (n*cells) and intra-cell pairs
    # (n^2/cells) both ~n^1.5
    assert ivf_cells_auto(2_000_000) == 1024


def test_knn_join_auto_matches_explicit_seed_centroids(spark, sf_dir):
    """centroids='auto' == knn_join with the explicitly derived seed
    quantizer (same ladder, same stride seeds)."""
    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        auto_seed_centroids,
        knn_join,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = auto_seed_centroids(emb)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in knn_join(emb, "auto", k=2).collect()
    }
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.sim)
        for r in knn_join(emb, seeds, k=2).collect()
    }
    assert got == want and got


def test_repeated_spans_matches_python_reference(spark):
    """ExactSubstr anchors: maximal >=16-char repeated spans equal a
    brute-force single-node reference on adversarial cases — exact
    16-char repeat, long cross-doc repeat, within-doc repeat, two
    islands separated by a short gap, and a unique-text doc."""
    L = 16
    rep = "ABCDEFGHIJKLMNOP"        # exactly L chars
    long_rep = "the quick brown fox jumps over the lazy dog once"
    rows = [
        (1, f"xx{rep}yy unique one {long_rep} tail1"),
        (2, f"zz{rep}qq other stuff {long_rep} tail2"),
        (3, f"self {rep} and again {rep} self"),   # within-doc repeat
        (4, "entirely unique text with no repeats anywhere here ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_len)
        for r in dedup.repeated_spans(docs, min_len=L).collect()
    }

    from collections import Counter

    anchors = Counter()
    pos = {}
    for did, t in rows:
        pos[did] = []
        for i in range(len(t) - L + 1):
            anchors[t[i : i + L]] += 1
            pos[did].append((i + 1, t[i : i + L]))
    want = set()
    for did, _t in rows:
        kept = [p for p, a in pos[did] if anchors[a] >= 2]
        if not kept:
            continue
        start = prev = kept[0]
        for p in kept[1:]:
            if p > prev + L:
                want.add((did, start, prev - start + L))
                start = p
            prev = p
        want.add((did, start, prev - start + L))
    assert got == want
    assert any(d == 3 for d, _s, _l in got), "within-doc repeat found"
    assert not any(d == 4 for d, _s, _l in got), "unique doc clean"


def test_source_overlap_exact_jaccard(spark):
    """Known gram sets -> exact intersection/union counts."""
    rows = [
        (1, "a b c d", "s1"),       # grams: {a b c, b c d}
        (2, "a b c x", "s2"),       # grams: {a b c, b c x}
        (3, "p q r s", "s3"),       # grams: {p q r, q r s}
        (4, "b c d e", "s2"),       # adds {b c d, c d e} to s2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.src_a, r.src_b): (r.n_inter, r.n_a, r.n_b, r.jaccard)
        for r in dedup.source_overlap(docs).collect()
    }
    # s1={abc,bcd}, s2={abc,bcx,bcd,cde}, s3 disjoint
    assert got[("s1", "s2")] == (2, 2, 4, 0.5)
    assert ("s1", "s3") not in got and ("s2", "s3") not in got


def test_margin_mining_matches_python_reference(spark):
    """Margin ppm against a numpy reference in one quantizer cell:
    same kNN, same integer margin formula, cross-label only."""
    import numpy as np

    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        knn_join,
        margin_mining_pairs,
    )

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((14, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = [i % 2 for i in range(14)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], labels[i]) for i in range(14)],
        "vec_id long, embedding array<float>, label int",
    )
    cents = [[1.0] + [0.0] * 7]  # one cell: every pair is a candidate
    k = 3
    got = {
        (r.query_id, r.neighbor_id): r.margin_ppm
        for r in margin_mining_pairs(
            emb, cents, k=k, min_margin_ppm=0, dim=8
        ).collect()
    }
    nn = {
        (r.query_id, r.neighbor_id): r.sim
        for r in knn_join(emb, cents, k=k, dim=8).collect()
    }
    deg = {}
    for (q, _n), s in nn.items():
        d6, cnt = deg.get(q, (0, 0))
        deg[q] = (d6 + round(s * 1_000_000), cnt + 1)
    want = {}
    for (q, n), s in nn.items():
        s6 = round(s * 1_000_000)
        if s6 <= 0 or labels[q] == labels[n]:
            continue
        dq6, nq = deg[q]
        dn6, nn_ = deg[n]
        den = dq6 * nn_ + dn6 * nq
        if den <= 0:
            continue
        want[(q, n)] = (2_000_000 * s6 * nq * nn_) // den
    assert got == want and got


def test_span_index_probe_matches_recompute(spark, tmp_path):
    """build_span_index + span_probe_index == span_cross_spans (the
    winnow_probe relationship for ExactSubstr): same xxhash64 anchor
    kernel, same membership semi-join, so the indexed probe never
    re-anchors corpus text yet returns identical spans."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        build_span_index,
        span_cross_spans,
        span_probe_index,
    )

    boiler = "the quick brown fox jumps over the lazy dog again"
    corpus = spark.createDataFrame(
        [
            (0, f"unique alpha text one {boiler} and a unique coda"),
            (1, "completely different corpus content with no repeats"),
            (2, f"another document carrying {boiler} in the middle"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, f"fresh arrival that copies {boiler} verbatim"),
            (101, "novel arrival sharing nothing with the corpus"),
            (102, "completely different corpus content with no repeats"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "span_idx")
    build_span_index(corpus, path)

    key = lambda df: {  # noqa: E731
        (r.doc_id, r.span_start, r.span_len) for r in df.collect()
    }
    got = key(span_probe_index(batch, spark, path))
    want = key(span_cross_spans(batch, corpus))
    assert got == want
    # doc 100 copies the boilerplate, doc 102 copies doc 1 wholesale,
    # doc 101 contaminates nothing
    assert {d for d, _s, _l in got} == {100, 102}
    # doc 102 is a verbatim copy: one maximal span covering everything
    spans_102 = [(s, ln) for d, s, ln in got if d == 102]
    assert spans_102 == [(1, len("completely different corpus content "
                                 "with no repeats"))]


def test_knn_cross_join_matches_bruteforce_in_cell(spark):
    """knn_cross_join's forward top-k equals a numpy brute force when
    one cell holds everything (single-centroid quantizer): the cell
    blocking is the only approximation, so inside a cell the kernel
    must be exact."""
    import numpy as np

    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        knn_cross_join,
    )

    rng = np.random.default_rng(11)
    dim = 6
    A = rng.standard_normal((5, dim))
    B = rng.standard_normal((20, dim))
    one_cell = [[1.0] * dim]  # every vector lands in cell 0
    schema = "vec_id long, embedding array<float>"
    queries = spark.createDataFrame(
        [(i, [float(x) for x in A[i]]) for i in range(5)], schema
    )
    corpus = spark.createDataFrame(
        [(100 + j, [float(x) for x in B[j]]) for j in range(20)], schema
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_cross_join(queries, corpus, one_cell, k=3, dim=dim).collect()
    }
    # float32 round-trip: rank on the same values Spark saw
    A32 = A.astype(np.float32).astype(np.float64)
    B32 = B.astype(np.float32).astype(np.float64)
    sims = (A32 @ B32.T) / np.outer(
        np.linalg.norm(A32, axis=1), np.linalg.norm(B32, axis=1)
    )
    for i in range(5):
        order = sorted(
            range(20), key=lambda j: (-round(sims[i, j], 6), 100 + j)
        )
        for rk, j in enumerate(order[:3], start=1):
            assert got[(i, rk)] == 100 + j


def test_cut_spans_edge_positions(spark):
    """Span cuts at every position class: middle, start, end,
    whole-document, and no-span passthrough; the end-to-end form cuts
    BOTH copies of a shared sentence (Lee et al. conservative cut)."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        cut_repeated_spans,
        cut_spans,
    )

    docs = spark.createDataFrame(
        [
            (0, "AAAA" + "x" * 20 + "BBBB"),
            (1, "y" * 20 + "tail kept"),
            (2, "head kept " + "z" * 20),
            (3, "totally clean document"),
            (4, "w" * 20),
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(0, 5, 20), (1, 1, 20), (2, 11, 20), (4, 1, 20)],
        "doc_id long, span_start long, span_len long",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_cut, r.cut_chars)
        for r in cut_spans(docs, spans).collect()
    }
    assert got == {
        0: ("AAAABBBB", 1, 20),
        1: ("tail kept", 1, 20),
        2: ("head kept ", 1, 20),
        3: ("totally clean document", 0, 0),
        4: ("", 1, 20),
    }

    shared = "<<the shared sentence here>>"
    docs2 = spark.createDataFrame(
        [(0, f"unique head {shared} unique tail"),
         (1, f"other text {shared} different end")],
        "doc_id long, text string",
    )
    got2 = {
        r.doc_id: r.clean_text
        for r in cut_repeated_spans(docs2, min_len=16).collect()
    }
    # the maximal repeated span includes the shared surrounding spaces
    assert got2 == {0: "unique headunique tail",
                    1: "other textdifferent end"}

def test_cut_repeated_spans_keep_first_policy(spark):
    """keep_first keeps the min-(doc_id, span_start) occurrence per
    span CONTENT group and cuts the rest: cross-doc (lowest doc id
    survives), single-doc-two-copies (first position survives), edge
    positions (survivor at doc start / cut at doc end), and validation
    that policy='all' still cuts everything."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        cut_repeated_spans,
    )

    # boundaries picked so every occurrence of `shared` is the SAME
    # maximal span content: the chars flanking each copy differ per
    # occurrence (so no cross-boundary 16-gram is repeated), and the
    # doc-3 gap is a run of 22 DISTINCT chars (a run of one repeated
    # char would itself carry repeated 16-grams and fuse the islands)
    shared = "<<the shared sentence here>>"    # 28 chars, one group
    shared2 = "##another repeated sentence##"  # doc-3-only group
    gap = "0123456789abcdefghijkl"             # 22 chars > min_len
    docs = spark.createDataFrame(
        [
            # cross-doc: doc 0 survives, doc 1 and 2 are cut
            (0, f"q1{shared}q2"),
            (1, f"r3{shared}r4"),
            (2, f"{shared} at doc start"),
            # single doc, two copies far apart: first kept, second cut
            (3, f"A{shared2}{gap}{shared2}Z"),
            (4, "a document with no repeats anywhere at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_cut)
        for r in cut_repeated_spans(docs, min_len=16,
                                    policy="keep_first").collect()
    }
    assert got == {
        0: (f"q1{shared}q2", 0),        # canonical survivor (min doc)
        1: ("r3r4", 1),
        2: (" at doc start", 1),        # cut at doc start edge
        3: (f"A{shared2}{gap}Z", 1),    # first copy kept, second cut
        4: ("a document with no repeats anywhere at all", 0),
    }

    # both-copies policy on the same input cuts every occurrence
    got_all = {
        r.doc_id: r.n_cut
        for r in cut_repeated_spans(docs, min_len=16, policy="all").collect()
    }
    assert got_all == {0: 1, 1: 1, 2: 1, 3: 2, 4: 0}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="policy"):
        cut_repeated_spans(docs, policy="bogus")


def test_cut_spans_validate_rejects_overlaps(spark):
    """validate=True raises on overlapping or duplicated span rows
    (the undefined-output class the docstring warns about); clean
    spans pass through the validator unchanged."""
    import pytest as _pytest

    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        cut_spans,
    )

    docs = spark.createDataFrame(
        [(0, "abcdefghijklmnopqrstuvwxyz")], "doc_id long, text string"
    )
    overlapping = spark.createDataFrame(
        [(0, 1, 10), (0, 5, 10)],
        "doc_id long, span_start long, span_len long",
    )
    with _pytest.raises(ValueError, match="overlapping or duplicate"):
        cut_spans(docs, overlapping, validate=True).collect()

    duplicated = spark.createDataFrame(
        [(0, 3, 5), (0, 3, 5)],
        "doc_id long, span_start long, span_len long",
    )
    with _pytest.raises(ValueError, match="overlapping or duplicate"):
        cut_spans(docs, duplicated, validate=True).collect()

    clean = spark.createDataFrame(
        [(0, 1, 5), (0, 10, 5)],
        "doc_id long, span_start long, span_len long",
    )
    got = cut_spans(docs, clean, validate=True).collect()
    assert got[0].clean_text == "fghi" + "opqrstuvwxyz"


def test_span_stats_per_source_duplication(spark):
    """Exact per-source duplication profile: a shared sentence between
    sources a and b is counted into both sources' span char mass; the
    clean source c reports zero; ppm is integer div."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        span_stats,
    )

    shared = "<<the shared sentence here>>"  # 28 chars
    docs = spark.createDataFrame(
        [
            (1, f"q1{shared}q2", "a"),
            (2, f"r3{shared}r4", "b"),
            (3, "totally unique text with no repeats", "c"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r.asDict() for r in span_stats(docs, min_len=16).collect()}
    la = len(f"q1{shared}q2")
    assert got["a"] == {
        "source": "a", "n_docs": 1, "n_chars": la, "docs_with_spans": 1,
        "n_spans": 1, "span_chars": 28,
        "dup_ppm": 1_000_000 * 28 // la,
    }
    assert got["b"]["span_chars"] == 28 and got["b"]["docs_with_spans"] == 1
    assert got["c"] == {
        "source": "c", "n_docs": 1,
        "n_chars": len("totally unique text with no repeats"),
        "docs_with_spans": 0, "n_spans": 0, "span_chars": 0, "dup_ppm": 0,
    }


def test_unimax_allocation_waterfilling(spark):
    """The published UniMax recurrence: ascending-capacity visit
    order, per-language epoch cap, unused small-language budget flows
    to larger languages; exact integer division."""
    import pytest as _pytest

    from financial_data_ingestion_pipeline_spark.functions.text import (
        unimax_allocation,
    )

    # lang token counts: x=2 (doc '  ' splits to 3? no: 'a b' -> 2),
    # sizes via explicit words
    docs = spark.createDataFrame(
        [
            (1, "a b", "x"),                  # x: 2 tokens
            (2, "a b c d e f", "y"),          # y: 6 tokens
            (3, "a b c d e f g h i j k l", "z"),  # z: 12 tokens
        ],
        "doc_id long, text string, lang string",
    )
    # budget 18, max_epochs 1 -> caps: x=2, y=6, z=12; visit x,y,z:
    #   x: share 18//3=6, alloc min(2,6)=2, rem 16
    #   y: share 16//2=8, alloc min(6,8)=6, rem 10
    #   z: share 10//1=10, alloc min(12,10)=10
    got = {r.lang: r.asDict() for r in
           unimax_allocation(docs, budget_tokens=18).collect()}
    assert got["x"]["alloc_tokens"] == 2 and got["x"]["epochs_ppm"] == 1_000_000
    assert got["y"]["alloc_tokens"] == 6
    assert got["z"]["alloc_tokens"] == 10
    assert got["z"]["epochs_ppm"] == 1_000_000 * 10 // 12

    # epoch cap 2 doubles capacity; budget above total capacity leaves
    # every language at its cap
    got2 = {r.lang: r.asDict() for r in
            unimax_allocation(docs, budget_tokens=10_000,
                              max_epochs=2).collect()}
    assert all(got2[k]["alloc_tokens"] == got2[k]["cap_tokens"]
               for k in got2)
    assert got2["z"]["cap_tokens"] == 24

    # zero budget allocates nothing; bad args raise
    got3 = {r.lang: r.alloc_tokens for r in
            unimax_allocation(docs, budget_tokens=0).collect()}
    assert got3 == {"x": 0, "y": 0, "z": 0}
    with _pytest.raises(ValueError):
        unimax_allocation(docs, budget_tokens=-1)
    with _pytest.raises(ValueError):
        unimax_allocation(docs, budget_tokens=5, max_epochs=0)


def test_unimax_sample_epochs_and_remainder(spark):
    """The realized mixture: a language whose allocation covers its
    corpus twice yields every doc at epochs {0,1}; a language with a
    partial allocation yields full epochs for all docs plus the
    hash-ordered remainder prefix (crossing doc included); total
    scheduled tokens overshoot-never-undershoot each allocation."""
    from financial_data_ingestion_pipeline_spark.functions.text import (
        unimax_allocation,
        unimax_sample,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b", "x"), (2, "c d", "x"),            # x: 4 tokens
            (3, "a b c d e f g h", "y"),
            (4, "a b c d e f g h", "y"),                 # y: 16 tokens
        ],
        "doc_id long, text string, lang string",
    )
    # budget 14, epochs 2: caps x=8, y=32; visit x then y:
    #   x: share 14//2=7, alloc min(8,7)=7 -> full=7//4=1, rem=3
    #   y: share 7//1=7,  alloc min(32,7)=7 -> full=0, rem=7
    alloc = {r.lang: r.alloc_tokens for r in
             unimax_allocation(docs, 14, max_epochs=2).collect()}
    assert alloc == {"x": 7, "y": 7}
    rows = unimax_sample(docs, 14, max_epochs=2).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append((r.doc_id, r.epoch))
    # x: both docs at epoch 0 (full), plus the epoch-1 remainder
    #   prefix — rem=3 tokens spans BOTH 2-token docs (before=0 < 3
    #   and before=2 < 3: the crossing doc is included)
    x = sorted(by_lang["x"])
    assert [(d, e) for d, e in x if e == 0] == [(1, 0), (2, 0)]
    assert len([1 for _, e in x if e == 1]) == 2
    # y: no full epoch, one-doc prefix at epoch 0 (rem=7 < 8 tokens,
    #   crossing doc included)
    assert len(by_lang["y"]) == 1 and by_lang["y"][0][1] == 0
    # overshoot-never-undershoot per allocation
    tok = {1: 2, 2: 2, 3: 8, 4: 8}
    for lang in ("x", "y"):
        sched = sum(tok[d] for d, _ in by_lang[lang])
        assert sched >= alloc[lang]


def test_span_stats_dup_ppm_decimal_no_wrap(spark):
    """dup_ppm at the multi-TB-per-source boundary: the decimal
    numerator stays exact where plain long 1000000*span_chars wraps
    negative (~9.2e12 span chars).  Evaluates the exact expression
    span_stats uses (_DUP_PPM_EXPR) so the regression is on the
    shipped arithmetic, not a reimplementation."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        _DUP_PPM_EXPR,
    )

    # 9.3e12 span chars of 1e13 total: 1e6*9.3e12 = 9.3e18 > 2^63-1
    row = spark.createDataFrame(
        [(9_300_000_000_000, 10_000_000_000_000)],
        "span_chars long, n_chars long",
    ).selectExpr(f"cast(({_DUP_PPM_EXPR}) as long) as dup_ppm").head()
    assert row.dup_ppm == 930_000
    # the plain long form FAILS here: ARITHMETIC_OVERFLOW under ANSI
    # (Spark 4 default), a silent negative wrap with ANSI off —
    # either way not the exact answer the decimal form returns
    try:
        wrapped = spark.createDataFrame(
            [(9_300_000_000_000, 10_000_000_000_000)],
            "span_chars long, n_chars long",
        ).selectExpr(
            "1000000 * span_chars div greatest(n_chars, 1) as d"
        ).head().d
    except Exception:
        wrapped = None  # ANSI: the query crashes outright
    assert wrapped != 930_000


def test_unimax_null_lang_convention(spark):
    """NULL lang: waterfilled, visited LAST among equal caps (the
    oracle's ORDER BY ... NULLS LAST) — a str(None)=="None" sort key
    would visit it mid-order and steal the larger trailing share; the
    realized sample drops NULL-lang docs (inner join == the oracle's
    USING join)."""
    from financial_data_ingestion_pipeline_spark.functions.text import (
        unimax_allocation,
        unimax_sample,
    )

    docs = spark.createDataFrame(
        [
            # 10 tokens each, equal caps -> visit order decides who
            # gets the larger post-division share
            (1, "a b c d e f g h i j", None),
            (2, "a b c d e f g h i j", "Z"),
        ],
        "doc_id long, text string, lang string",
    )
    # budget 15, epochs 1, caps 10/10: first visited gets 15//2=7,
    # second gets 8//1=8.  NULLS LAST => "Z" first (7), NULL last (8).
    # The "None"-string bug sorts NULL before "Z" ('N' < 'Z') -> 7/8
    # swapped.
    got = {r.lang: r.alloc_tokens for r in
           unimax_allocation(docs, budget_tokens=15).collect()}
    assert got == {"Z": 7, None: 8}
    # sample: NULL-lang docs never appear; Z's partial epoch does
    rows = unimax_sample(docs, budget_tokens=15).collect()
    assert all(r.lang is not None for r in rows)
    assert {(r.doc_id, r.epoch) for r in rows} == {(2, 0)}


# ---------------------------------------------------------------------------
# round-11 optimization equivalence tests: restructured operators must
# compute exactly what their pre-optimization forms computed
# ---------------------------------------------------------------------------


def test_countmin_sketch_from_counts_matches_occurrence_form(spark):
    """Sketch built from (term, count) must equal the occurrence-stream
    sketch cell for cell (commutativity of the per-cell sum)."""
    from financial_data_ingestion_pipeline_spark.functions import sketches

    occ = spark.createDataFrame(
        [(w,) for w in ["a", "b", "a", "c", "a", "b", "d"] * 5],
        "term string",
    )
    counts = occ.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    direct = {
        (r.lane, r.bucket): r.cnt
        for r in sketches.countmin_sketch(occ, "term").collect()
    }
    from_counts = {
        (r.lane, r.bucket): r.cnt
        for r in sketches.countmin_sketch_from_counts(
            counts, "term", "n"
        ).collect()
    }
    assert direct == from_counts


def test_quality_flags_carry_cols_matches_join_form(spark):
    """carry_cols must reproduce exactly the rows a per-doc join back
    to the source would have produced (the pre-round-11 shape)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " * 30, "src0", "en"),
            (2, " ".join(["buy now"] * 40), "src1", "de"),
            (3, None, "src0", None),
        ],
        "doc_id long, text string, source string, lang string",
    )
    carried = text.quality_flags(docs, carry_cols=("source", "lang"))
    plain = text.quality_flags(docs).join(
        docs.select("doc_id", "source", "lang"), "doc_id"
    )
    cols = sorted(carried.columns)
    assert sorted(plain.columns) == cols
    a = sorted(map(tuple, carried.select(*cols).collect()))
    b = sorted(map(tuple, plain.select(*cols).collect()))
    assert a == b


def test_bpe_encode_preserves_docs_without_alpha_words(spark):
    """The explode_outer fold must still emit one row per doc when a
    doc has no [a-z]+ token at all (the old shape's left join did)."""
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "123 456 !!!"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.bpe_encode(docs).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[2].n_alpha_words == 0
    assert rows[2].n_bpe_pieces == rows[2].n_tokens  # 1 piece per token
    assert rows[2].alpha_chars == 0


def test_repetition_stats_single_scan_plan(spark):
    """The round-11 shape: one source scan, no per-doc join — the
    segment-kind recovery from posexplode positions must not
    reintroduce extra scans of the document table."""
    docs = spark.createDataFrame(
        [(1, "a b c d e\nf g h"), (2, "x y")], "doc_id long, text string"
    )
    plan = (
        text.repetition_stats(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # one LogicalRDD scan of the input, no Join operator anywhere
    assert plan.count("LogicalRDD") == 1
    assert "Join" not in plan
