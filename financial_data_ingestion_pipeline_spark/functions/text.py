"""Text-analysis operators for large-scale training-data pipelines.

All expressions are native ``pyspark.sql.functions`` (JVM-side, inside
whole-stage codegen) — no Python UDFs anywhere in this module, so the
hot path stays vectorized at 100 TB.  Hashes use md5 substrings, which
every engine (Spark, DuckDB, Trino) computes identically, making
results oracle-checkable bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.warehouse import write_batch_partition

#: Tiny function-word profiles for the language-ID heuristic.  The
#: point is a deterministic, vectorizable n-gram/stopword scorer with
#: the shape of a real LID pass (fastText/CLD-style), not linguistic
#: completeness.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "that"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es": ("el", "la", "de", "y", "es", "que", "un", "por"),
    "fr": ("le", "la", "et", "est", "un", "que", "pour", "dans"),
}

#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.col(text) if isinstance(text, str) else text, r"\s+")


def hash64(col: Column) -> Column:
    """Deterministic 60-bit positive hash from md5 — identical in any
    engine that has md5 + hex parsing (used by oracles for parity;
    engine-internal paths may use xxhash64 for speed)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_ngrams(text_col: Column | str, n: int, distinct: bool = False) -> Column:
    """Word n-grams as an array column (higher-order functions only —
    the n-gram set never explodes into rows here; callers explode when
    they need posting tables).

    Built from ``n`` aligned ``slice``s zipped with concat, NOT
    ``transform(sequence, i -> element_at(toks, i+j))``: ``slice`` and
    ``zip_with`` evaluate the tokenization once per row, while a lambda
    body re-evaluates its inlined child (the regex split of the whole
    document) once per *element* — measured ~6x slower on 300-char docs.
    Documents shorter than ``n`` tokens yield one whole-text gram.
    """
    out = word_ngrams_from_tokens(tokens(text_col), n)
    return F.array_distinct(out) if distinct else out


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """:func:`word_ngrams` over an ALREADY-TOKENIZED array column.
    Callers that need several gram sizes from one document project the
    token array once (a materialized attribute CollapseProject will
    not inline back — ``split`` is non-cheap when referenced more than
    once) and slice it per ``n``, instead of re-splitting the text per
    gram size."""
    n_grams = F.size(toks) - (n - 1)
    parts = [F.slice(toks, j + 1, n_grams) for j in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def text_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality statistics: length, token counts,
    punctuation / stopword ratios, and a composite quality score.

    One narrow projection over the scan; every metric is a Column
    expression so the whole thing codegens into a single pass.
    NULL text counts as '' (uniform NULL semantics across the text
    family — a NULL doc still gets a stats row, with zero counts).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(txt)
    n_chars = F.length(txt)
    n_tokens = F.size(toks)
    n_bpe = F.size(F.regexp_extract_all(F.lower(txt), F.lit(TOKEN_REGEX), 0))
    n_punct = F.size(F.regexp_extract_all(txt, F.lit(r"[^a-zA-Z0-9\s]"), 0))
    stop = LANG_PROFILES["en"]
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stop)))
    # try_divide: a zero-length (coalesced-NULL) doc yields NULL
    # ratios, matching DuckDB's NULL-on-zero-divisor semantics instead
    # of raising under ANSI mode
    punct_ratio = F.round(F.try_divide(n_punct.cast("double"), n_chars), 6)
    stop_ratio = F.round(F.try_divide(n_stop.cast("double"), n_tokens), 6)
    avg_token_len = F.round(F.try_divide(n_chars.cast("double"), n_tokens), 6)
    # Quality heuristic: long-enough docs with a healthy stopword rate
    # and low punctuation density (C4/Gopher-rule flavored).
    quality = F.round(
        F.least(n_tokens.cast("double") / 50.0, F.lit(1.0))
        * (1.0 - punct_ratio)
        * (0.5 + stop_ratio),
        6,
    )
    # counts cast to long: external oracles (DuckDB len()) emit BIGINT
    return docs.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_punct.cast("long").alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        avg_token_len.alias("avg_token_len"),
        quality.alias("quality_score"),
    )


#: Frozen integer weights for the linear quality classifier (micro
#: units).  Stand-in for a distilled fasttext-style model: positive
#: evidence from document length and stopword density (prose-ness),
#: negative from punctuation/digit density and degenerate token length.
QUALITY_WEIGHTS = {
    "bias": -400_000,
    "cap_tokens": 800,      # x min(n_tokens, 500)
    "stop_ppm": 3,          # x stopword parts-per-million of tokens
    "punct_ppm": -2,        # x punctuation ppm of chars
    "digit_ppm": -3,        # x digit ppm of chars
    "len_milli": -20,       # x avg token length in milli-chars
}


def quality_classify(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Model-based quality filtering: a linear classifier with frozen
    INTEGER weights over exact integer features — the deterministic
    skeleton of the fasttext/logistic quality gate every LLM data
    pipeline runs after the rule-based (Gopher) pass.

    Every feature is exact integer arithmetic (``div``, not float
    division), so the logit and the keep/drop decision are
    bit-identical in any engine — no sigmoid is needed for a
    threshold decision, monotonicity does the job.

    One narrow projection, single codegen pass, no shuffle; the same
    shape as :func:`text_stats` and equally scan-bound at 100 TB.

    Output: (doc_id, cap_tokens, stop_ppm, punct_ppm, digit_ppm,
    len_milli, logit_micro, keep).
    """
    w = weights or QUALITY_WEIGHTS
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(txt)
    stop = LANG_PROFILES["en"]
    n_chars = F.length(txt).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = F.size(
        F.regexp_extract_all(txt, F.lit(r"[^a-zA-Z0-9\s]"), 0)
    ).cast("long")
    n_digit = F.size(F.regexp_extract_all(txt, F.lit(r"[0-9]"), 0)).cast("long")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stop))).cast("long")
    feats = docs.select(
        F.col(id_col),
        F.least(n_tokens, F.lit(500)).alias("cap_tokens"),
        n_chars.alias("_nc"),
        n_tokens.alias("_nt"),
        n_punct.alias("_np"),
        n_digit.alias("_nd"),
        n_stop.alias("_ns"),
    )
    feats = feats.select(
        id_col,
        "cap_tokens",
        F.expr("(1000000 * _ns) div greatest(_nt, 1)").alias("stop_ppm"),
        F.expr("(1000000 * _np) div greatest(_nc, 1)").alias("punct_ppm"),
        F.expr("(1000000 * _nd) div greatest(_nc, 1)").alias("digit_ppm"),
        F.expr("(1000 * _nc) div greatest(_nt, 1)").alias("len_milli"),
    )
    logit = (
        F.lit(int(w["bias"]))
        + F.lit(int(w["cap_tokens"])) * F.col("cap_tokens")
        + F.lit(int(w["stop_ppm"])) * F.col("stop_ppm")
        + F.lit(int(w["punct_ppm"])) * F.col("punct_ppm")
        + F.lit(int(w["digit_ppm"])) * F.col("digit_ppm")
        + F.lit(int(w["len_milli"])) * F.col("len_milli")
    ).cast("long")
    return feats.select(
        id_col,
        "cap_tokens",
        "stop_ppm",
        "punct_ppm",
        "digit_ppm",
        "len_milli",
        logit.alias("logit_micro"),
        (logit >= 0).alias("keep"),
    )


def bpe_word_pieces(word: str, ranks: dict[tuple[str, str], int]) -> int:
    """Canonical BPE encode of one word: repeatedly merge the
    lowest-rank adjacent pair (one left-to-right sweep per step) until
    no mergeable pair remains.  Returns the piece count.

    For a TRAINED merge list (a merge producing token T precedes every
    merge consuming T — guaranteed by ``scripts/train_bpe_merges.py``)
    this equals applying the merges sequentially in rank order, one
    sweep each, which is what the DuckDB oracle replays
    (property-tested in tests/test_properties.py).
    """
    pieces: tuple[str, ...] = tuple(word)
    while len(pieces) > 1:
        best = None
        best_rank = len(ranks)
        for pr in zip(pieces, pieces[1:]):
            r = ranks.get(pr)
            if r is not None and r < best_rank:
                best, best_rank = pr, r
        if best is None:
            break
        a, b = best
        out: list[str] = []
        i = 0
        while i < len(pieces):
            if i + 1 < len(pieces) and pieces[i] == a and pieces[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(pieces[i])
                i += 1
        pieces = tuple(out)
    return len(pieces)


def bpe_encode(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: list[tuple[str, str]] | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Apply a FROZEN byte-pair-encoding merge list (trained offline by
    ``scripts/train_bpe_merges.py`` — 1,024 merges, the production
    tokenizer pattern) and report per-document subword statistics —
    real BPE token counting, not the regex proxy.

    Scale shape — vocabulary-level, not occurrence-level: postings
    collapse to per-``(doc, word)`` counts (map-side combine), the
    DISTINCT word vocabulary is encoded ONCE by an Arrow-batched
    canonical BPE kernel (:func:`bpe_word_pieces`, merge-rank dict in
    the task closure), and the per-word piece counts join back onto the
    per-doc counts.  At 100 TB the same word is never re-encoded per
    occurrence, the Python work is O(distinct vocabulary), and the
    merge table can grow to a production 32k vocab without deepening
    any Catalyst plan (the old chained-``F.replace`` form grew the
    expression tree linearly with merge count).  Numbers and
    punctuation count as one token each (no merges).

    Round-11 (guide §2.4): the per-doc token counts ride the posting
    aggregation as GROUP KEYS (per-doc constants) instead of a second
    corpus scan joined back per doc — the old shape planned a
    corpus-row-sized sort-merge left join whose only job was
    re-attaching two integers.  Row preservation for docs with no
    alpha words comes from ``explode_outer`` (one NULL-word row that
    the left vocab join carries through with zero pieces).
    ``carry_cols`` propagates additional per-doc columns (lang) the
    same way for rollups (:func:`bpe_fertility`).

    Output: (doc_id, n_tokens, n_alpha_words, n_bpe_pieces,
    alpha_chars, compression_permille[, carry_cols...]).
    """
    if merges is None:
        from financial_data_ingestion_pipeline_spark.functions.bpe_pretrained import (
            MERGES,
        )

        merges = MERGES
    ranks = {pair: i for i, pair in enumerate(merges)}
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(txt)
    alpha = F.filter(toks, lambda t: t.rlike("^[a-z]+$"))

    @F.pandas_udf("long")
    def _pieces(words: pd.Series) -> pd.Series:
        return words.map(lambda w: bpe_word_pieces(w, ranks))

    key_cols = [id_col, "n_tokens", "n_alpha_words", *carry_cols]
    # two-step select: a select that mixes a generator with derived
    # expressions plans those expressions ABOVE the Generate — i.e.
    # once per exploded word, not once per doc (measured 15x on this
    # op).  Materializing the array and the counts first makes the
    # generator input and every carried column a plain attribute.
    # chained so each non-cheap expression is evaluated ONCE: split in
    # step 1 (referenced twice in step 2), the rlike filter in step 2
    # (referenced twice in step 3) — CollapseProject keeps projections
    # whose merge would duplicate a non-cheap expression
    pre = (
        docs.select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            toks.alias("__toks"),
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.size(F.col("__toks")).cast("long").alias("n_tokens"),
            F.filter(
                F.col("__toks"), lambda t: t.rlike("^[a-z]+$")
            ).alias("__alpha"),
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.col("n_tokens"),
            F.size(F.col("__alpha")).cast("long").alias("n_alpha_words"),
            F.col("__alpha"),
        )
    )
    # pinned: the per-doc word counts feed BOTH the vocabulary (which
    # the Arrow BPE kernel encodes once per distinct word) and the
    # piece-count join — unpinned, the tokenize+explode+aggregate
    # pipeline runs once per consumer.  The frame is vocabulary-per-doc
    # scale (distinct alpha words + three ints per doc), well under the
    # corpus text it derives from — the winnow-posting DISK_ONLY trade.
    from financial_data_ingestion_pipeline_spark.materialize import pin

    word_counts = pin(
        pre.select(
            *key_cols,
            F.explode_outer(F.col("__alpha")).alias("word"),
        )
        .groupBy(*key_cols, "word")
        .agg(F.count(F.lit(1)).alias("cnt")),
        mode="persist",
    )
    vocab = (
        word_counts.select("word")
        .filter(F.col("word").isNotNull())
        .distinct()
        .select("word", _pieces(F.col("word")).alias("pieces"))
    )
    per_doc = (
        word_counts.join(vocab, "word", "left")
        .groupBy(*key_cols)
        .agg(
            F.sum(F.col("pieces") * F.col("cnt")).alias("alpha_pieces"),
            F.sum(F.length("word") * F.col("cnt")).alias("alpha_chars"),
        )
    )
    n_bpe = (
        F.coalesce(F.col("alpha_pieces"), F.lit(0))
        + F.col("n_tokens")
        - F.col("n_alpha_words")
    ).cast("long")
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_alpha_words",
        n_bpe.alias("n_bpe_pieces"),
        F.coalesce(F.col("alpha_chars"), F.lit(0)).cast("long").alias("alpha_chars"),
        F.expr(
            "CAST((1000 * coalesce(alpha_chars, 0))"
            " div greatest(coalesce(alpha_pieces, 0), 1) AS BIGINT)"
        ).alias("compression_permille"),
        *[F.col(c) for c in carry_cols],
    )


def token_surprisal(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unigram-LM surprisal scoring with EXACT integer bits — the
    perplexity-proxy ranking a filter pipeline uses to surface gibberish
    (high surprisal) and boilerplate (low), without the cross-engine
    ``ln``/libm ulp drift a real perplexity would carry.

    Per token: ``bits = floor(log2(N / c))`` computed as
    ``length(bin(N div c)) - 1`` — pure integer division plus a binary
    string length, bit-identical in any engine.  Per document: token
    count, total bits over occurrences, and average surprisal in
    milli-bits (exact integer division).

    Plan shape: one corpus gram count with map-side combine (hot tokens
    collapse per partition), the 1-row corpus total broadcast back over
    the tiny vocab (an intentional scalar BNLJ), one posting-vocab join,
    one per-doc aggregate.  Document text never rides a shuffle.

    Output: (doc_id, n_tokens, total_bits, avg_millibits).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    posting = docs.select(
        F.col(id_col), F.explode_outer(tokens(txt)).alias("tok")
    )
    vocab = posting.filter(F.col("tok").isNotNull()).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = vocab.agg(F.sum("c").alias("n_total"))
    scored_vocab = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        (F.length(F.bin(F.expr("n_total div c"))) - 1)
        .cast("long")
        .alias("bits"),
    )
    return (
        posting.join(scored_vocab, "tok", "left")
        .groupBy(id_col)
        .agg(
            F.count("tok").alias("n_tokens"),
            F.coalesce(F.sum("bits"), F.lit(0)).cast("long").alias("total_bits"),
        )
        .select(
            id_col,
            "n_tokens",
            "total_bits",
            F.expr(
                "CAST((1000 * total_bits) div greatest(n_tokens, 1) AS BIGINT)"
            ).alias("avg_millibits"),
        )
    )


def lang_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic language ID: score each language profile by stopword
    hits, pick the argmax (ties broken by profile order).

    Emits per-language hit counts plus ``lang_pred`` so downstream
    filters can threshold on confidence.  Pure Column expressions.
    """
    toks = tokens(text_col)

    # NB: the lambda must take exactly one parameter — PySpark treats a
    # second parameter (even with a default) as the array-index column.
    def in_profile(words):
        return lambda t: t.isin(*words)

    hit_cols = {
        lang: F.size(F.filter(toks, in_profile(words)))
        for lang, words in LANG_PROFILES.items()
    }
    langs = list(LANG_PROFILES)
    best = F.lit(langs[0])
    best_hits = hit_cols[langs[0]]
    for lang in langs[1:]:
        is_better = hit_cols[lang] > best_hits
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_hits = F.when(is_better, hit_cols[lang]).otherwise(best_hits)
    return docs.select(
        F.col(id_col),
        *[hit_cols[lang].cast("long").alias(f"hits_{lang}") for lang in langs],
        best.alias("lang_pred"),
        F.round(
            best_hits.cast("double") / F.greatest(F.size(toks), F.lit(1)), 6
        ).alias("lang_confidence"),
    )


def quality_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    max_top_token_frac: float = 0.20,
    max_top_bigram_frac: float = 0.18,
    max_dup_line_frac: float = 0.30,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher/C4-style repetition and shape filters, one row per doc.

    Distributed shape (round-11 optimization — guide §2.4): ONE corpus
    scan, no per-doc join.  Line stats are per-doc scalar expressions,
    so they ride the tagged token/bigram explode as extra GROUP KEYS
    (constants within a doc — same groups, no extra aggregate state,
    a few bytes wider shuffle keys) instead of a separate scan joined
    back on doc_id; at real scale that join is a corpus-row-sized
    exchange pair on both sides.  The token array is projected once
    and shared by the token and bigram branches of the explode (the
    old form re-split the text per branch).  Then (doc, term) count ->
    per-doc conditional max/sum — two narrow map-side-combined
    shuffles.  NULL text is treated as empty.  Thresholds follow the
    published Gopher rules (doc length bounds, repeated-line fraction,
    top-gram mass).

    ``carry_cols`` propagates additional per-doc columns (source,
    lang) through the aggregation the same key-riding way, appended
    after the standard output columns — so rollups over them
    (:func:`corpus_report`) need no join either.

    Output: doc_id, n_lines, dup_line_frac, n_tokens, top_token_frac,
    top_bigram_frac, mean_token_len, passes_quality[, carry_cols...].
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, "\n")
    # NULL ids dropped explicitly: the old line⋈gram inner join
    # dropped them implicitly, and the join is gone
    base = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        lines.alias("__lines"),
        tokens(txt).alias("__toks"),
    )
    # One explode carries both gram kinds; no tag column is needed
    # because the kind is recoverable from the term itself — a bigram
    # always contains the joining space, a token never does — so the
    # count groupBy keys on (doc, term) alone and a token string can
    # never collide with a bigram string.
    key_cols = [id_col, "n_lines", "dup_line_frac", *carry_cols]
    # line scalars materialize in a second projection BELOW the
    # generator: a select that mixes a generator with derived
    # expressions plans those expressions above the Generate — i.e.
    # array_distinct over the line array once per exploded term
    # instead of once per doc
    base = base.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("__toks"),
        F.size(F.col("__lines")).cast("long").alias("n_lines"),
        F.round(
            1.0
            - F.size(F.array_distinct(F.col("__lines"))).cast("double")
            / F.size(F.col("__lines")),
            6,
        ).alias("dup_line_frac"),
    )
    tagged = base.select(
        *key_cols,
        F.explode(
            F.concat(
                F.col("__toks"),
                word_ngrams_from_tokens(F.col("__toks"), 2),
            )
        ).alias("term"),
    )
    # the kind test and the char weight are hoisted into a projection:
    # Spark does not share common subexpressions across aggregate
    # update expressions, so testing contains(' ') inside each of the
    # six conditional aggregates would re-evaluate it six times per
    # (doc, term) row
    counts = (
        tagged.groupBy(*key_cols, "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            *key_cols,
            "c",
            F.col("term").contains(" ").alias("is_bg"),
            (F.length("term") * F.col("c")).alias("chars"),
        )
    )
    bg = F.col("is_bg")
    tok = ~bg
    gram_stats = counts.groupBy(*key_cols).agg(
        F.sum(F.when(tok, F.col("c"))).alias("tok_total"),
        F.max(F.when(tok, F.col("c"))).alias("tok_top"),
        F.sum(F.when(tok, F.col("chars"))).alias("tok_len"),
        F.sum(F.when(bg, F.col("c"))).alias("bg_total"),
        F.max(F.when(bg, F.col("c"))).alias("bg_top"),
        F.sum(F.when(bg, F.col("chars"))).alias("bg_len"),
    )
    # the historical per-kind inner joins emitted a doc only if it had
    # BOTH >=1 token and >=1 bigram; the conditional aggregate form
    # keeps that contract with a null filter
    gram_stats = gram_stats.filter(
        F.col("tok_total").isNotNull() & F.col("bg_total").isNotNull()
    )

    top_token_frac = F.round(
        F.col("tok_top").cast("double") / F.col("tok_total"), 6
    )
    top_bigram_frac = F.round(
        F.col("bg_top").cast("double") / F.col("bg_total"), 6
    )
    mean_token_len = F.round(
        F.col("tok_len").cast("double") / F.col("tok_total"), 6
    )
    passes = (
        (F.col("tok_total") >= min_tokens)
        & (F.col("tok_total") <= max_tokens)
        & (top_token_frac <= max_top_token_frac)
        & (top_bigram_frac <= max_top_bigram_frac)
        & (F.col("dup_line_frac") <= max_dup_line_frac)
        & (mean_token_len >= 3.0)
        & (mean_token_len <= 10.0)
    )
    return gram_stats.select(
        F.col(id_col),
        "n_lines",
        "dup_line_frac",
        F.col("tok_total").alias("n_tokens"),
        top_token_frac.alias("top_token_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        mean_token_len.alias("mean_token_len"),
        passes.alias("passes_quality"),
        *[F.col(c) for c in carry_cols],
    )


def corpus_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-(source, lang) corpus health rollup — the dashboard query a
    training-data pipeline runs after every ingest: document counts,
    token volume, average token length, and the quality-filter pass
    rate, composed from :func:`quality_flags`.

    The doc-level frame is narrow (a handful of numeric columns), so
    the rollup is one small shuffle on the grouping key.  Averages sum
    as DECIMAL first (shuffle-order independent) and divide once.
    ``source``/``lang`` ride :func:`quality_flags`'s own aggregation
    keys (``carry_cols``) — no doc-level join back to the source
    (round-11: the join was a second corpus scan plus a
    corpus-row-sized exchange pair at scale).

    Output: source, lang, n_docs, total_tokens, avg_token_len, pass_rate.
    """
    joined = quality_flags(
        docs, id_col=id_col, text_col=text_col,
        carry_cols=(source_col, lang_col),
    )
    dec6 = lambda c: F.col(c).cast("decimal(28,6)")  # noqa: E731
    n = F.count(F.lit(1))
    return joined.groupBy(
        F.col(source_col).alias("source"), F.col(lang_col).alias("lang")
    ).agg(
        n.alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # decimal SUM (exact) -> ONE double division -> round: decimal
        # division semantics differ across engines, double division
        # doesn't
        F.round(F.sum(dec6("mean_token_len")).cast("double") / n, 6).alias(
            "avg_token_len"
        ),
        F.round(
            (
                F.sum(F.when(F.col("passes_quality"), 1).otherwise(0)).cast("double")
                / n
            ),
            6,
        ).alias("pass_rate"),
    )


#: Redaction patterns — intersection of Java-regex and RE2 syntax
#: (character classes + bounded quantifiers, no backrefs/lookaround),
#: so external oracles replay them verbatim.
URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+?\d[\d -]{7,}\d"

#: (pattern, placeholder) in redaction order: URLs swallow embedded
#: emails/digits first, then emails, then addresses, then phone runs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("urls", URL_RE, "<URL>"),
    ("emails", EMAIL_RE, "<EMAIL>"),
    ("ipv4", IPV4_RE, "<IP>"),
    ("phones", PHONE_RE, "<PHONE>"),
)


def pii_scan(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII detection + redaction for training-data scrubbing: per-type
    match counts (on the raw text) and a redacted copy with placeholders
    substituted in :data:`PII_PATTERNS` order.  One codegen'd
    projection — counts and the four chained ``regexp_replace`` passes
    all happen in a single scan, nothing leaves the map side.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    counts = [
        F.size(F.regexp_extract_all(txt, F.lit(pat), 0))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = txt
    for _, pat, placeholder in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, placeholder)
    return docs.select(F.col(id_col), *counts, redacted.alias("redacted"))


def split_expr(
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
    buckets: int = 100,
    seed: str = "split",
) -> Column:
    """The split-assignment RULE as a Column (md5 bucket of (seed, id)
    mapped to train/val/test ranges) — the single source of truth
    shared by :func:`split_assign` and every operator that needs the
    same populations without a join (e.g. the embedding-drift
    monitor).  Changing the convention here changes it everywhere."""
    bucket = (
        hash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
        % buckets
    )
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def split_assign(
    docs: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    val_pct: int = 5,
    buckets: int = 100,
    seed: str = "split",
) -> DataFrame:
    """Deterministic hash-based train/val/test assignment — the
    reproducible alternative to ``randomSplit`` (whose output depends
    on partitioning): bucket = md5-hash of (seed, id) mod ``buckets``,
    then contiguous bucket ranges map to splits.  Pure projection, no
    shuffle, stable across runs/engines/cluster sizes, and any engine
    recomputes the same assignment from the id alone.

    Output: id, bucket, split (train|val|test).
    """
    bucket = hash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))) % buckets
    split = split_expr(id_col, train_pct, val_pct, buckets, seed)
    return docs.select(
        F.col(id_col), bucket.cast("long").alias("bucket"), split.alias("split")
    )


def sample_stratified(
    docs: DataFrame,
    rates_permille: dict[str, int],
    default_permille: int = 0,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    seed: str = "samp",
) -> DataFrame:
    """Deterministic per-stratum downsampling — the reproducible,
    engine-portable alternative to ``df.sampleBy`` (whose output depends
    on partition layout and RNG seeding): a document survives iff its
    md5 bucket (0..999) is below its stratum's per-mille rate.  Pure
    map-side projection + filter, no shuffle, stable under repartition/
    re-run/engine change, and the SAME rows are kept at any corpus
    scale — exactly what a training-data mixture spec needs (e.g. "keep
    30% of en, all of de") to be auditable.

    Output: the surviving rows plus their ``sample_bucket``.
    """
    bucket = (
        hash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))) % 1000
    )
    rate = F.lit(default_permille)
    for stratum, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(stratum_col) == stratum, F.lit(permille)).otherwise(
            rate
        )
    return docs.withColumn("sample_bucket", bucket.cast("long")).filter(
        F.col("sample_bucket") < rate
    )


def budget_sample(
    docs: DataFrame,
    budgets: dict[str, int],
    cost_col: str = "n_chars",
    id_col: str = "doc_id",
    stratum_col: str = "source",
    seed: str = "budget",
) -> DataFrame:
    """Budget-constrained mixture sampling: fill each stratum's quota
    ("1M tokens of code, 3M of web") with documents taken in
    DETERMINISTIC md5-hash order until the quota is reached — the
    token-budget counterpart of :func:`sample_stratified`'s rates.  A
    document is kept iff the cumulative cost BEFORE it is still under
    its stratum's budget (so the crossing document is included and the
    sample slightly overshoots, never undershoots, the quota); strata
    without a budget entry contribute nothing.

    Hash order makes the selection a reproducible corpus spec: the same
    documents survive at any partitioning, cluster size, or engine.
    One running-frame window per stratum (cumulative LONG sum — exact);
    since the order is a uniform hash, an extreme stratum can be
    pre-filtered by hash threshold ~ ``margin * budget / total_cost``
    before the window, the same two-phase trick
    :func:`domain_caps` documents.

    Output: id, stratum, cost, cum_cost (inclusive) for kept rows.
    """
    hk = hash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    budget = F.lit(None).cast("long")
    for stratum, b in sorted(budgets.items()):
        budget = F.when(F.col(stratum_col) == stratum, F.lit(int(b))).otherwise(
            budget
        )
    cost = F.col(cost_col).cast("long")
    return (
        docs.select(
            F.col(id_col),
            F.col(stratum_col).alias("stratum"),
            cost.alias("cost"),
            hk.alias("__hk"),
            budget.alias("__budget"),
        )
        .withColumn("cum_cost", F.sum("cost").over(
            Window.partitionBy("stratum")
            .orderBy("__hk", id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
        .filter(
            F.col("__budget").isNotNull()
            & (F.col("cum_cost") - F.col("cost") < F.col("__budget"))
        )
        .select(id_col, "stratum", "cost", "cum_cost")
    )


def vocab_topk(
    docs: DataFrame,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide token frequency top-k (tokenizer-training prep):
    explode -> one hash-aggregate on the token (map-side combined, the
    shuffle carries one row per distinct token per partition) -> global
    rank.  The final sort runs on vocabulary-sized data, orders of
    magnitude smaller than the corpus.  Ties break on the token string
    so the cut is deterministic.

    Output: rank, token, n_occurrences, n_docs.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    # bounded: global window over the VOCAB-sized count frame (distinct
    # tokens, Heaps-sublinear), already reduced by the groupBy above —
    # never document- or corpus-sized
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("rank", "token", "n_occurrences", "n_docs")
    )


def tfidf_topterms(
    docs: DataFrame,
    top_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top characteristic terms per document by smoothed tf-idf.

    The idf factor is the RATIO form ``(N+1)/(df+1)`` rather than its
    logarithm: a single IEEE division is bit-identical in every engine,
    while ``ln`` is a libm call whose last ulp differs across
    platforms — the log is monotone in the ratio, so per-document term
    RANKING is unchanged and the score stays oracle-exact.  Shape
    (round 11): explode -> (doc, term) tf counts -> df as a count over
    a term-partitioned window INSIDE the tf frame (the
    :func:`tfidf_cosine_pairs` idiom — one exchange where the
    groupBy(term)+join form needed two and re-derived the tf pipeline
    per consumer) -> per-doc rank window.

    Output: doc_id, term, tf, df, score (round 6), rank <= top_n.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    # corpus size rides as a broadcast 1-row frame: the whole operator
    # stays one lazy plan, no driver-side action at build time
    n_row = docs.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.crossJoin(F.broadcast(n_row))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * (
                    (F.col("__n") + F.lit(1)).cast("double")
                    / (F.col("df") + F.lit(1)).cast("double")
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_n)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5,),
    max_dup_line_char_frac: float = 0.20,
    max_top_gram_frac: dict[int, float] | None = None,
    max_dup_gram_frac: dict[int, float] | None = None,
) -> DataFrame:
    """Gopher-style repetition signals measured in CHARACTERS — the
    companion to :func:`quality_flags` (which counts lines/grams):
    machine-generated boilerplate repeats long spans, so weighting by
    span length catches what occurrence counts miss.

    Per document:

    * ``dup_line_char_frac`` — fraction of line characters inside lines
      that occur more than once in the document;
    * ``top_{n}gram_char_frac`` (n in ``top_ns``) — characters of the
      single most frequent word n-gram (count x length) over all n-gram
      characters; the top gram is max by (count, gram) so ties are
      deterministic in any engine;
    * ``dup_{n}gram_char_frac`` (n in ``dup_ns``) — characters inside
      n-grams occurring more than once, over all n-gram characters;
    * ``passes_repetition`` — Gopher-rule thresholds over the above.

    Distributed shape (round-11, second pass — guide §1.2/§2.4):
    every statistic here is a PER-DOCUMENT function of the document's
    own lines/grams, so the operator needs ZERO shuffles: one corpus
    scan, lines + token array projected once (split is non-cheap and
    referenced repeatedly; CollapseProject keeps materialized
    attributes), and per gram kind one ``array_sort`` plus one
    ``aggregate`` walk over the sorted array computes the duplicate
    char mass and the (count, gram)-max run in a single pass — runs of
    equal grams are adjacent after the sort, and ascending order makes
    "ties toward the lexicographically larger gram" the natural
    last-run-wins update.  Document text never rides an exchange and
    there is no explode: the round-11 first-pass single-generate form
    still shuffled every gram STRING (≈ Σn × token chars) through its
    (doc, kind, term) hash aggregate, which quiet-box A/B measured
    20-40% SLOWER at sf0.1 than even the old 4-scan branch form; this
    form beats both and is the 100-TB ideal (guide §1.3: zero
    fundamental shuffles required — all state is per-row).  The
    interpreted lambda walk is O(grams) per doc with O(1) state,
    bounded by the document's own length.  NULL text counts as empty
    (fractions 0.0).
    """
    top_thresholds = {2: 0.20, 3: 0.18, 4: 0.16}
    dup_thresholds = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    if max_top_gram_frac:
        top_thresholds.update(max_top_gram_frac)
    if max_dup_gram_frac:
        dup_thresholds.update(max_dup_gram_frac)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    all_ns = sorted(set(top_ns) | set(dup_ns))

    # NULL ids dropped explicitly (the pre-round-11 line⋈gram inner
    # join dropped them implicitly; both later forms keep the filter).
    base = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.split(txt, "\n").alias("__k0"),
        tokens(txt).alias("__toks"),
    )
    base = base.select(
        F.col(id_col),
        F.col("__k0"),
        *[
            word_ngrams_from_tokens(F.col("__toks"), n).alias(f"__k{n}")
            for n in all_ns
        ],
    )

    def total_chars(arr: str) -> Column:
        # total occurrence chars of the kind = Σ length(gram)
        return F.aggregate(
            F.col(arr),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x).cast("long"),
        )

    def run_walk(arr: str) -> Column:
        # One pass over the SORTED kind array: equal grams are
        # adjacent, so per-element state (prev, run length) recovers
        # every per-gram count c without a hash table.  Emits
        #   dup   = Σ_{grams with c>1} c * length(gram)
        #   bestc / bestg = max by (c, gram)  [run' >= bestc updates:
        #     later runs carry strictly larger grams in sorted order,
        #     so >= IS the ties-toward-larger-gram rule of the
        #     struct-max form]
        # dup accounting: the 2nd occurrence of a run adds 2*len (both
        # retroactively), each further occurrence adds len — total
        # c*len, exactly the old sum(when(c>1, c*len)).
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("dup"),
            F.lit(0).cast("long").alias("bestc"),
            F.lit(None).cast("string").alias("bestg"),
        )

        def step(s, x):
            run = F.when(x.eqNullSafe(s["prev"]), s["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            ln = F.length(x).cast("long")
            dup = s["dup"] + (
                F.when(run == 2, F.lit(2) * ln)
                .when(run > 2, ln)
                .otherwise(F.lit(0).cast("long"))
            )
            upd = run >= s["bestc"]
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                dup.alias("dup"),
                F.when(upd, run).otherwise(s["bestc"]).alias("bestc"),
                F.when(upd, x).otherwise(s["bestg"]).alias("bestg"),
            )

        return F.aggregate(
            F.array_sort(F.col(arr)),
            init,
            step,
            lambda s: F.struct(
                s["dup"].alias("dup"),
                s["bestc"].alias("bestc"),
                s["bestg"].alias("bestg"),
            ),
        )

    stats = base.select(
        F.col(id_col),
        total_chars("__k0").alias("line_chars"),
        run_walk("__k0").alias("__w0"),
        *[total_chars(f"__k{n}").alias(f"__total_{n}") for n in all_ns],
        *[run_walk(f"__k{n}").alias(f"__w{n}") for n in all_ns],
    )

    frac = lambda num, den: F.when(  # noqa: E731
        den > 0, F.round(num.cast("double") / den, 6)
    ).otherwise(F.lit(0.0))
    dup_line_char_frac = frac(
        F.col("__w0.dup"), F.col("line_chars")
    ).alias("dup_line_char_frac")
    out_cols = [F.col(id_col), dup_line_char_frac]
    for n in top_ns:
        top_chars = F.length(F.col(f"__w{n}.bestg")) * F.col(f"__w{n}.bestc")
        out_cols.append(
            frac(top_chars, F.col(f"__total_{n}")).alias(
                f"top_{n}gram_char_frac"
            )
        )
    for n in dup_ns:
        out_cols.append(
            frac(F.col(f"__w{n}.dup"), F.col(f"__total_{n}")).alias(
                f"dup_{n}gram_char_frac"
            )
        )
    result = stats.select(*out_cols)
    passes = F.col("dup_line_char_frac") <= max_dup_line_char_frac
    for n in top_ns:
        passes = passes & (
            F.col(f"top_{n}gram_char_frac") <= top_thresholds[n]
        )
    for n in dup_ns:
        passes = passes & (
            F.col(f"dup_{n}gram_char_frac") <= dup_thresholds[n]
        )
    return result.withColumn("passes_repetition", passes)


def domain_caps(
    docs: DataFrame,
    cap: int = 100,
    id_col: str = "doc_id",
    domain_col: str = "source",
    seed: str = "cap",
) -> DataFrame:
    """Per-domain document cap (RefinedWeb/C4 practice: no single site
    may dominate the corpus): keep at most ``cap`` documents per domain,
    chosen by DETERMINISTIC hash order — md5 of (seed, id) ranks the
    domain's documents, so the survivors are a uniform sample that is
    stable across runs, partitionings, and engines (reproducible corpus
    spec, same property as :func:`sample_stratified`).

    Shape: one window rank per domain over (hash, id), which Spark
    compiles to a PARTIAL ``WindowGroupLimit`` below the exchange
    (plan-asserted in ``tests/test_plans.py``): every task truncates
    its slice of each domain to ``cap`` rows before anything shuffles,
    so a hot domain ships ``cap x tasks`` rows — not its full history —
    and the post-shuffle sort runs on that bounded set.  That is the
    skew story at 100 TB; no manual salting or count-based prefilter
    needed.

    Output: id, domain, domain_rank (1-based within the kept sample).
    """
    hk = hash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(domain_col).orderBy("__hk", id_col)
    return (
        docs.select(F.col(id_col), F.col(domain_col), hk.alias("__hk"))
        .withColumn("domain_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("domain_rank") <= cap)
        .select(
            F.col(id_col),
            F.col(domain_col).alias("domain"),
            "domain_rank",
        )
    )


def fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprints: md5 of the whitespace/punct-normalized
    text plus a 60-bit numeric hash (rolling-hash role, dp-style
    reconciliation key for dedup joins)."""
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        F.col(id_col),
        F.md5(normalized).alias("fingerprint_md5"),
        hash64(normalized).alias("fingerprint_h64"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing local fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS algorithm): hash every character ``k``-gram, slide a
    window of ``w`` consecutive hashes, and in each window select the
    minimum hash (ties to the RIGHTMOST position, the paper's rule
    that maximizes selection reuse between overlapping windows).  The
    distinct (position, hash) selections are the document's
    fingerprints — the standard local near-dup/plagiarism signature
    with a guaranteed match of any shared substring of length
    ``k + w - 1``.

    Shape: the WHOLE computation is ARRAY-LOCAL inside one projection
    (gram hashes, windows, per-window argmin are higher-order
    functions over each row's own text, and the within-doc
    ``array_distinct`` dedupes overlapping windows' repeated
    selections row-side) — no explode of the gram stream, no per-doc
    window shuffle, no wide stage at all: (doc, pos, fp) rows are
    unique by construction, so there is not even a final distinct.
    Documents shorter than ``k`` chars (or NULL) contribute no rows;
    documents with fewer than ``w`` grams get one whole-document
    window.

    Output: id, pos (1-based k-gram offset), fp (60-bit hash).
    """
    from financial_data_ingestion_pipeline_spark.session import fan_out

    txt = F.coalesce(F.col(text_col), F.lit(""))
    # The whole op is one CPU-dense interpreted-lambda projection
    # (higher-order functions don't enter whole-stage codegen), so an
    # under-split source would serialize it onto one core — fan_out
    # round-robins only that pathological case (no-op at real scale).
    base = fan_out(
        docs.select(F.col(id_col).alias("doc"), txt.alias("t"))
    ).select(
        "doc",
        "t",
        F.greatest(F.length("t") - F.lit(k - 1), F.lit(0)).alias("n_g"),
    )
    hashes = F.when(
        F.col("n_g") >= 1,
        F.expr(
            f"transform(sequence(1, n_g), i -> "
            f"cast(conv(substring(md5(substring(t, i, {k})), 1, 15), 16, 10)"
            f" as bigint))"
        ),
    ).otherwise(F.expr("array()"))
    n_wins = F.greatest(
        F.col("n_g") - F.lit(w - 1), F.least(F.col("n_g"), F.lit(1))
    )
    base = base.select(
        "doc", hashes.alias("hs"), n_wins.alias("n_w")
    )
    # Per window j: m = min(slice), selected pos = j - 1 + rightmost
    # index of m in the slice (array_max over an indicator transform —
    # symmetric SQL in DuckDB, no reverse/position divergence).  The
    # slice and its min are HOISTED through nested transforms so each
    # is evaluated once per window, not once per element — lambda
    # bodies are interpreted and Catalyst does not CSE inside them
    # (unhoisted form measured ~10x slower).
    sel = F.when(
        F.col("n_w") >= 1,
        F.expr(
            f"array_distinct(transform("
            f"transform("
            f"transform(sequence(1, n_w), "
            f"j -> named_struct('j', j, 'win', slice(hs, j, {w}))), "
            f"s -> named_struct('j', s.j, 'win', s.win, "
            f"'m', array_min(s.win))), "
            f"s -> named_struct("
            f"'pos', s.j - 1 + array_max(transform("
            f"sequence(1, size(s.win)), "
            f"i -> IF(element_at(s.win, i) = s.m, i, 0))), "
            f"'fp', s.m)))"
        ),
    ).otherwise(F.expr("array()"))
    return base.select("doc", F.explode(sel).alias("s")).select(
        F.col("doc").alias(id_col),
        F.col("s.pos").cast("long").alias("pos"),
        F.col("s.fp").alias("fp"),
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 8,
    min_shared: int = 3,
    max_df_permille: int = 10,
    max_df_floor: int = 16,
    max_df_ceiling: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` winnowing
    fingerprints — the MOSS overlap join: because winnowing guarantees
    a selected hash inside every shared substring of length
    ``k + w - 1``, a pair with substantial copied text MUST collide
    here, making this the exact local-overlap counterpart to the
    estimated global similarity of MinHash.

    For pair detection only the SET of selected hashes matters, not
    their positions, so the per-doc fingerprint set is built entirely
    array-side (window minima, ``array_distinct`` — one slice and one
    min per window, no argmax) and explodes into a narrow
    ``(doc, fp)`` posting table.  The df cap rides the posting
    shuffle's own partitioning as a window count (the
    :func:`~financial_data_ingestion_pipeline_spark.functions.dedup.ngram_jaccard_pairs`
    idiom): a boilerplate fingerprint's d^2/2 join fan-out is a key
    AQE cannot split — dropping it bounds the self-join per key
    (shared counts become a lower bound when the cap fires); df < 2
    rows cannot pair and are dropped by the same filter.

    The cap is ``max(floor, min(ceiling, permille * N_docs / 1000))``
    from a broadcast corpus count.  The permille term keeps tiny
    corpora from stranding ordinary fingerprints behind a fixed
    threshold; the ABSOLUTE ceiling (default 64 — MOSS itself ignores
    fingerprints shared by more than an absolute number of
    submissions) is what makes the op linear at scale: with a cap
    ∝ N, every head fingerprint admits df² ∝ N² pair collisions —
    the round-7 Heaps-law decade measured Σdf² x80 for 10x data
    (cap 50 → 500) and an x11 runtime ratio; on realistic
    (Heaps-law) corpora an ordinary fingerprint's df stays ~flat as
    the corpus grows, so only boilerplate crosses an absolute
    ceiling and dropping it just makes ``n_shared`` the usual lower
    bound.  Integer arithmetic, replayed exactly by the oracle's
    scalar subquery.

    Output: id_a, id_b (id_a < id_b), n_shared.
    """
    n_row = docs.select(F.count(F.lit(1)).alias("__n"))
    # The self-join would re-derive the interpreted winnow projection
    # once per side; the exploded posting is ~w-fold smaller than the
    # corpus text, so DISK_ONLY-persist it (lineage kept, audit-visible,
    # CacheManager-deduped — the tfidf-index trade) and run the
    # CPU-dense pass once.
    from pyspark import StorageLevel

    from financial_data_ingestion_pipeline_spark.session import register_persisted

    posting = (
        register_persisted(
            _winnow_posting(docs, k, w, id_col, text_col).persist(
                StorageLevel.DISK_ONLY
            )
        )
        .crossJoin(F.broadcast(n_row))
    )
    cap = F.greatest(
        F.lit(max_df_floor),
        F.least(
            F.lit(max_df_ceiling),
            F.expr(f"({max_df_permille} * __n) div 1000"),
        ),
    )
    w_df = Window.partitionBy("fp")
    posting = (
        posting.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= cap))
        .select("doc", "fp")
    )
    return (
        posting.select(F.col("doc").alias("id_a"), "fp")
        .join(posting.select(F.col("doc").alias("id_b"), "fp"), "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _winnow_posting(
    docs: DataFrame, k: int, w: int, id_col: str, text_col: str
) -> DataFrame:
    """Position-free winnow posting table ``(doc, fp)`` — one row per
    distinct selected hash per document, built entirely array-side
    (window minima + ``array_distinct``; no argmax since pair/probe
    consumers never need positions).  Shared by the overlap self-join,
    the index builder, and the streaming index maintainer."""
    from financial_data_ingestion_pipeline_spark.session import fan_out

    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = fan_out(
        docs.select(F.col(id_col).alias("doc"), txt.alias("t"))
    ).select(
        "doc",
        "t",
        F.greatest(F.length("t") - F.lit(k - 1), F.lit(0)).alias("n_g"),
    )
    hashes = F.when(
        F.col("n_g") >= 1,
        F.expr(
            f"transform(sequence(1, n_g), i -> "
            f"cast(conv(substring(md5(substring(t, i, {k})), 1, 15), 16, 10)"
            f" as bigint))"
        ),
    ).otherwise(F.expr("array()"))
    n_wins = F.greatest(
        F.col("n_g") - F.lit(w - 1), F.least(F.col("n_g"), F.lit(1))
    )
    base = base.select("doc", hashes.alias("hs"), n_wins.alias("n_w"))
    fps = F.when(
        F.col("n_w") >= 1,
        F.expr(
            f"array_distinct(transform("
            f"transform(sequence(1, n_w), j -> slice(hs, j, {w})), "
            f"win -> array_min(win)))"
        ),
    ).otherwise(F.expr("array()"))
    return base.select("doc", F.explode(fps).alias("fp"))


def build_winnow_index(
    corpus: DataFrame,
    path: str,
    k: int = 5,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Materialize the corpus-side winnow posting table that
    :func:`winnow_overlap_pairs` derives on the fly — the MOSS member
    of the build-once/probe-every-ingest index family
    (exact → ``content_hashes``, MinHash → ``band_keys``,
    vectors → the PQ code index).  Re-fingerprinting an unchanged
    100 TB corpus per daily batch would be the dominant pure-waste
    cost; the index is per-doc rows, so appending the postings of
    kept batch docs keeps it valid — no rebuild.

    Layout: ``{path}/fingerprints`` parquet ``(doc, fp, batch_id)``,
    partitioned by ``batch_id`` so the streaming maintainer
    (``streaming/winnow_stream.py``) can land each micro-batch as its
    own idempotent partition; the batch builder writes batch_id=0.
    ``{path}/meta`` records each partition's TOTAL document count
    (``batch_id, n_docs``) — including docs too short to emit any
    fingerprint — so :func:`winnow_probe_index`'s df cap uses the same
    N as :func:`winnow_cross_pairs`' ``corpus.count()``; deriving N
    from the postings instead would disagree at cap boundaries
    whenever the corpus contains fingerprint-less docs.
    """
    _write_winnow_partition(corpus, path, 0, k, w, id_col, text_col, True)


def append_to_winnow_index(
    batch: DataFrame,
    path: str,
    batch_id: int,
    k: int = 5,
    w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Land one ingest batch's posting rows and document count as its
    own idempotent ``batch_id`` partition of a
    :func:`build_winnow_index` layout (dynamic partition overwrite: a
    replay rewrites only its own partition, so posting rows never
    duplicate — duplicates would inflate every pair's ``n_shared`` and
    the probe cap's df counts).  The batch-mode sibling of the
    streaming maintainer (``streaming/winnow_stream.py``)."""
    _write_winnow_partition(batch, path, batch_id, k, w, id_col, text_col)


def _write_winnow_partition(
    docs: DataFrame, path: str, batch_id: int, k: int, w: int,
    id_col: str, text_col: str, rebuild: bool = False,
) -> None:
    """Both halves of one winnow index partition, in lockstep: the
    posting rows and the meta doc count (see :func:`build_winnow_index`)."""
    write_batch_partition(
        _winnow_posting(docs, k, w, id_col, text_col),
        f"{path}/fingerprints", batch_id, rebuild,
    )
    write_batch_partition(
        docs.select(F.count(F.lit(1)).alias("n_docs")),
        f"{path}/meta", batch_id, rebuild,
    )


def winnow_probe_index(
    batch: DataFrame,
    spark,
    path: str,
    k: int = 5,
    w: int = 8,
    min_shared: int = 3,
    max_df_permille: int = 10,
    max_df_floor: int = 16,
    max_df_ceiling: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Probe an ingest batch against a :func:`build_winnow_index`
    layout: which (batch doc, corpus doc) pairs share at least
    ``min_shared`` fingerprints — :func:`winnow_overlap_pairs`
    restricted to batch x corpus, with NO fingerprint pass over
    corpus text (only the batch side winnows itself; the corpus side
    is an index scan).

    The df cap is computed on the INDEX side (boilerplate lives in
    the corpus) with the same data-derived integer formula, N being
    the TOTAL number of indexed documents from the index's ``meta``
    table — the identical N :func:`winnow_cross_pairs` gets from
    ``corpus.count()``, including fingerprint-less docs, so the two
    "identical by construction" paths agree even at cap boundaries.
    (Pre-meta index layouts fall back to ``count_distinct(doc)`` over
    the postings, which undercounts by the fingerprint-less docs.)

    Output: batch_id_doc (batch side), corpus_doc, n_shared.
    """
    index = spark.read.parquet(f"{path}/fingerprints")
    try:
        n_row = (
            spark.read.parquet(f"{path}/meta")
            .select(F.sum("n_docs").cast("long").alias("__n"))
        )
    except Exception:  # pragma: no cover - pre-meta layout fallback
        n_row = index.select(F.count_distinct(F.col("doc")).alias("__n"))
    batch_posting = _winnow_posting(batch, k, w, id_col, text_col)
    return _winnow_cross_from_postings(
        batch_posting,
        index.select("doc", "fp"),
        n_row,
        min_shared,
        max_df_permille,
        max_df_floor,
        max_df_ceiling,
    )


def winnow_cross_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    w: int = 8,
    min_shared: int = 3,
    max_df_permille: int = 10,
    max_df_floor: int = 16,
    max_df_ceiling: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The RECOMPUTE form of :func:`winnow_probe_index`: batch x
    corpus winnow overlap with the corpus fingerprinted in-flight —
    the same relationship :func:`...dedup.dedup_incremental` has to
    its indexed variant.  An ingest pipeline materializes the corpus
    posting once (:func:`build_winnow_index`) and probes; this form
    exists for one-shot jobs and as the oracle-checkable contract
    surface (identical results by construction — both call the shared
    capped cross join).

    Output: batch_doc, corpus_doc, n_shared.
    """
    n_row = corpus.select(F.count(F.lit(1)).alias("__n"))
    return _winnow_cross_from_postings(
        _winnow_posting(batch, k, w, id_col, text_col),
        _winnow_posting(corpus, k, w, id_col, text_col),
        n_row,
        min_shared,
        max_df_permille,
        max_df_floor,
        max_df_ceiling,
    )


def _winnow_cross_from_postings(
    batch_posting: DataFrame,
    corpus_posting: DataFrame,
    n_row: DataFrame,
    min_shared: int,
    max_df_permille: int,
    max_df_floor: int,
    max_df_ceiling: int = 64,
) -> DataFrame:
    """Shared capped batch x corpus fingerprint join: the df cap is
    computed on the CORPUS side (boilerplate lives in the standing
    corpus) from the broadcast 1-row count frame, same data-derived
    integer formula as :func:`winnow_overlap_pairs`."""
    cap = F.greatest(
        F.lit(max_df_floor),
        F.least(
            F.lit(max_df_ceiling),
            F.expr(f"({max_df_permille} * __n) div 1000"),
        ),
    )
    w_df = Window.partitionBy("fp")
    capped = (
        corpus_posting.crossJoin(F.broadcast(n_row))
        .withColumn("__df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("__df") <= cap)
        .select(F.col("doc").alias("corpus_doc"), "fp")
    )
    return (
        batch_posting.select(F.col("doc").alias("batch_doc"), "fp")
        .join(capped, "fp")
        .groupBy("batch_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def sample_temperature(
    docs: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    stratum_col: str = "source",
    seed: str = "temp",
) -> DataFrame:
    """Temperature-based mixture resampling: per-stratum keep rates are
    DERIVED FROM THE DATA so the sampled corpus's stratum weights are
    proportional to ``n^alpha`` (the multilingual/LLM "temperature"
    scheme — alpha < 1 upweights small sources).  Rate for stratum s is
    ``n_s^(alpha-1)`` normalized so the smallest stratum keeps
    everything, quantized to per-mille, applied with the same
    deterministic md5-bucket filter as :func:`sample_stratified` — so
    the sample is reproducible row-for-row at any scale and in any
    engine.

    Two tiny aggregates (stratum counts, their min) broadcast back over
    one corpus scan: no corpus shuffle at all.  For ``alpha = 0.5`` the
    weight is computed as a sqrt RATIO (IEEE sqrt is correctly rounded
    everywhere, unlike ``pow``/``ln``), making the per-mille rates —
    and therefore the exact surviving row set — bit-reproducible across
    engines; other alphas use ``pow`` and stay deterministic within
    Spark but may drift an ulp across engines.

    Output: ``id, stratum, sample_bucket, rate_permille`` for surviving
    rows.
    """
    counts = docs.groupBy(F.col(stratum_col).alias("_stratum")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    n_min = counts.agg(F.min("_n").alias("_n_min"))
    if abs(alpha - 0.5) < 1e-12:
        weight = F.sqrt(F.col("_n_min").cast("double")) / F.sqrt(
            F.col("_n").cast("double")
        )
    else:
        weight = F.pow(F.col("_n").cast("double"), F.lit(alpha - 1.0)) / F.pow(
            F.col("_n_min").cast("double"), F.lit(alpha - 1.0)
        )
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "_stratum",
        F.floor(F.lit(1000.0) * weight).cast("long").alias("rate_permille"),
    )
    bucket = (
        hash64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))) % 1000
    )
    return (
        docs.withColumn("sample_bucket", bucket.cast("long"))
        .join(F.broadcast(rates), F.col(stratum_col) == F.col("_stratum"))
        .filter(F.col("sample_bucket") < F.col("rate_permille"))
        .select(
            F.col(id_col),
            F.col(stratum_col),
            "sample_bucket",
            "rate_permille",
        )
    )


def unimax_allocation(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: int = 1,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer
    and More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): distribute a total training-token ``budget_tokens``
    across languages with a per-language epoch cap, by
    ascending-capacity WATERFILLING — visit languages in ascending
    ``(cap, lang)`` order, give each ``min(cap, remaining_budget div
    remaining_langs)``; whatever a small language cannot absorb (its
    cap binds) flows to the larger languages visited later.  This is
    the published alternative to temperature sampling
    (:func:`sample_temperature`) that never over-epochs low-resource
    languages.

    Scale shape: ONE distributed aggregate produces the per-language
    token counts — a LANGUAGE-count-sized frame (tens of rows at any
    corpus size) — and the sequential waterfilling recurrence runs on
    that bounded frame driver-side with exact integer arithmetic (the
    collect is language-count-sized, never corpus-sized; the
    recurrence is inherently sequential, so distributing it would buy
    nothing and cost a shuffle).  Deterministic: integer ``div``,
    ascending ``(cap, lang)`` visit order; the oracle replays the same
    recurrence as a recursive CTE, bit-for-bit.

    Output: ``lang, n_tokens, cap_tokens, alloc_tokens, epochs_ppm``
    (``epochs_ppm = 10^6 * alloc div n_tokens`` — 1e6 means the full
    corpus is seen exactly once).
    """
    if budget_tokens < 0 or max_epochs < 1:
        raise ValueError("budget_tokens >= 0 and max_epochs >= 1 required")
    counts = (
        docs.groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.sum(
                F.size(tokens(F.coalesce(F.col(text_col), F.lit(""))))
            ).cast("long").alias("n_tokens")
        )
    )
    rows = counts.collect()  # bounded: one row per language
    out = _waterfill(rows, budget_tokens, max_epochs)
    return docs.sparkSession.createDataFrame(
        out,
        "lang string, n_tokens long, cap_tokens long, alloc_tokens long,"
        " epochs_ppm long",
    )


def _waterfill(rows, budget_tokens: int, max_epochs: int):
    """The UniMax ascending-cap waterfilling recurrence over collected
    per-language token counts (``lang``/``n_tokens`` rows) — shared by
    :func:`unimax_allocation` and :func:`unimax_sample` so the realized
    sample can derive its counts from its own pinned per-doc frame
    without a second corpus pass while staying allocation-identical.

    NULL lang convention (matches the oracle exactly): a NULL lang
    group IS waterfilled, visited LAST among equal caps (DuckDB
    ORDER BY ... NULLS LAST) — str(None) == "None" would have sorted
    it mid-order among real language codes."""
    items = sorted(
        (int(r["n_tokens"]) * int(max_epochs), r["lang"] is None,
         r["lang"] or "", int(r["n_tokens"]))
        for r in rows
    )
    items = [(cap, lang if not isnull else None, n)
             for cap, isnull, lang, n in items]
    remaining, m = int(budget_tokens), len(items)
    out = []
    for cap, lang, n in items:
        share = remaining // m
        alloc = min(cap, share)
        remaining -= alloc
        m -= 1
        out.append(
            (lang, n, cap, alloc, (1_000_000 * alloc) // n if n else 0)
        )
    return out


def unimax_sample(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    seed: str = "unimax",
) -> DataFrame:
    """Materialize the UniMax mixture :func:`unimax_allocation`
    computes: one ``(doc, epoch)`` row per scheduled pass over each
    document.  A language whose allocation is ``alloc`` tokens out of
    ``total`` corpus tokens contributes every document
    ``alloc div total`` times (full epochs) plus a deterministic
    md5-hash-ordered PREFIX of documents filling the remainder — a
    document is in the partial epoch iff the cumulative token count
    BEFORE it is under the remainder (the crossing document included,
    the same overshoot-never-undershoot convention as
    :func:`budget_sample`).

    Scale shape: per-language allocation constants come from the
    driver-side waterfilling (language-count-sized) and broadcast-join
    onto one narrow per-doc projection ``(id, lang, tokens, hash)``;
    full epochs explode from a ``sequence`` column (no corpus
    self-join).  The remainder prefix needs a running token sum in
    hash order — and a language can be MOST of a 100 TB corpus, so a
    single ``Window.partitionBy(lang)`` cumsum would land one
    language's every document in one task.  Instead the two-level
    distributed prefix sum (the ``pack_sequences``/``shuffle_order``
    trick): the hash's high 10 bits form a BUCKET that is a PREFIX of
    the ``(hk, id)`` sort key, so per-(lang, bucket) within-bucket
    cumsums plus per-language bucket-offset cumsums (a bounded
    1024-row frame per language) compose to the exact global running
    sum with no data-sized single-task window.  Hash order makes the
    realized mixture a reproducible corpus spec.

    Output: ``doc_id, lang, n_tokens, epoch`` (epoch 0-based; partial
    epoch rows carry the highest epoch number).

    NULL lang convention (engine == oracle by construction): a NULL
    lang group is waterfilled in :func:`unimax_allocation` (visited
    last among equal caps), but its documents do NOT appear in the
    realized sample — the inner equi-join on ``lang`` here and the
    oracle's ``JOIN ... USING (lang)`` both drop NULL keys.  Callers
    that want NULL-lang docs sampled should bucket them under a
    sentinel code (e.g. ``und``) before calling.
    """
    from financial_data_ingestion_pipeline_spark.materialize import pin

    # same input contract as unimax_allocation (the round-11 single-pass
    # rewrite stopped routing through it, which silently dropped this
    # guard: a negative budget would waterfill garbage instead of
    # raising)
    if budget_tokens < 0 or max_epochs < 1:
        raise ValueError("budget_tokens >= 0 and max_epochs >= 1 required")
    # ONE tokenize pass (round 11): the old form ran the corpus
    # tokenize four times — once inside unimax_allocation's counts
    # aggregate and once per consumer of the per-doc projection (full
    # epochs, bucket offsets, within-bucket cumsum).  The narrow
    # (id, lang, n_tokens, hk) frame — four scalar columns per doc,
    # the sublinear pin class — is pinned, the waterfilling counts
    # aggregate over the PIN (identical recurrence via _waterfill, so
    # allocation parity is by construction), and every downstream
    # branch reads the pin.
    # eager=False: the collect() two lines down materializes the pin —
    # an eager count here was a redundant extra job.  Safe ONLY because
    # no downstream join strategy depends on this pin's statistics
    # (consts joins are explicit F.broadcast); pins whose ACTUAL size
    # must reach the planner (source_overlap's posting, repeated_spans'
    # survivor set) stay eager — lazy pins carry no stats at plan time
    # and the estimate-blind broadcast OOM class returns.
    keyed = pin(
        docs.select(
            F.col(id_col),
            F.col(lang_col).alias("lang"),
            F.size(tokens(F.coalesce(F.col(text_col), F.lit("")))).cast(
                "long"
            ).alias("n_tokens"),
            hash64(
                F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
            ).alias("__hk"),
        ),
        mode="persist",
        eager=False,
    )
    alloc_rows = (
        keyed.groupBy("lang").agg(F.sum("n_tokens").alias("n_tokens"))
    ).collect()  # bounded: one row per language
    alloc = _waterfill(alloc_rows, budget_tokens, max_epochs)
    spark = docs.sparkSession
    consts = spark.createDataFrame(
        [
            (
                lang,
                alloc_tokens // max(n_tokens, 1),
                alloc_tokens
                - (alloc_tokens // max(n_tokens, 1)) * n_tokens,
            )
            for lang, n_tokens, _cap, alloc_tokens, _ppm in alloc
        ],
        "lang string, full_epochs long, rem_tokens long",
    )
    per_doc = keyed.join(F.broadcast(consts), "lang")
    full = per_doc.filter(F.col("full_epochs") >= 1).select(
        id_col,
        "lang",
        "n_tokens",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("full_epochs") - 1)
        ).alias("epoch"),
    )
    # two-level exact prefix sum: bucket = high 10 bits of the 60-bit
    # hash — a PREFIX of the (hk, id) order, so bucket-offset +
    # within-bucket cumsums compose to the global running sum
    bucketed = per_doc.withColumn(
        "__bucket", F.expr(f"__hk div {1 << 50}")
    )
    # bounded: per-language window over the <=1024-row bucket-summary
    # frame of the two-level prefix-sum design, never the doc table
    w_buckets = (
        Window.partitionBy("lang")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("lang", "__bucket")
        .agg(F.sum("n_tokens").alias("__bt"))
        .withColumn(
            "__offset", F.coalesce(F.sum("__bt").over(w_buckets), F.lit(0))
        )
        .select("lang", "__bucket", "__offset")
    )
    w_in = (
        Window.partitionBy("lang", "__bucket")
        .orderBy("__hk", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    partial = (
        bucketed.withColumn(
            "__within", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
        )
        .join(offsets, ["lang", "__bucket"])
        .filter(F.col("__offset") + F.col("__within") < F.col("rem_tokens"))
        .select(
            id_col, "lang", "n_tokens",
            F.col("full_epochs").alias("epoch"),
        )
    )
    return full.unionByName(partial)


def dsir_weights(
    docs: DataFrame,
    target_sources: tuple[str, ...],
    n: int = 2,
    buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much its hashed n-gram
    feature distribution looks like a TARGET slice of the corpus
    (e.g. the curated/wiki-like sources) versus the raw mixture, so a
    downstream sampler can upweight target-like documents.

    Features are word ``n``-grams hashed into ``buckets`` buckets
    (the paper's hashed bag-of-ngrams).  The per-bucket log importance
    ratio is quantized to EXACT integer arithmetic so the scores are
    bit-identical in any engine (same scheme as the integer
    contamination ppm / floor-log2 tricks used elsewhere):

        s_b = floor(log2( (2^20 * (target_b + 1)) div (raw_b + 1) )) - 20

    computed as ``length(bin(ratio)) - 21`` — add-one smoothing, one
    integer division, no libm.  A document's quantized log-weight is
    the exact int64 sum ``sum(count_b * s_b)`` over its buckets.

    Distributed shape (survives 100 TB): ONE fan_out'd corpus scan
    explodes grams to a slim hashed (doc, src, bucket) stream,
    DISK_ONLY-persisted; the raw+target distribution rollup
    (≤ ``buckets`` rows, broadcast back as the score table) and the
    per-doc weight sum are two cheap aggregates of that stream.  No
    corpus-sized shuffle carries gram text, only int bucket ids.

    Output: id, n_feats, logw_q (higher = more target-like).
    """
    from financial_data_ingestion_pipeline_spark.session import fan_out

    # fan_out: the tokenize+md5 gram pass is a CPU-dense projection
    # whose consumers all aggregate with commutative combiners; an
    # under-split source would run it on one core (no-op at scale).
    occ = fan_out(
        docs.select(
            F.col(id_col).alias("doc"),
            F.col(source_col).alias("src"),
            F.coalesce(F.col(text_col), F.lit("")).alias("t"),
        )
    ).select(
        "doc",
        "src",
        F.explode(word_ngrams(F.col("t"), n)).alias("g"),
    ).select(
        "doc", "src", F.pmod(hash64(F.col("g")), F.lit(buckets)).alias("b")
    )
    # Weights are LINEAR in gram counts, so no (doc, bucket) histogram
    # is ever materialized — a near-1:1 pre-aggregate (59-gram docs
    # scattered over 1024 buckets combine almost nothing) would build
    # million-group hash tables inside the scan stage for zero shuffle
    # savings.  Instead both consumers aggregate the hashed gram
    # stream directly: the distribution rollup keeps a
    # ``buckets``-sized map table, the per-doc sum a docs-sized one.
    # The stream itself (3 slim int/str columns, an order of magnitude
    # smaller than the corpus text) is DISK_ONLY-persisted so the
    # tokenize+hash pass over the corpus runs ONCE, not once per
    # consumer — same trade as the tfidf inverted index: lineage kept
    # (recomputable on executor loss), visible to the plan-budget
    # audit, deduped across calls by the CacheManager.
    from pyspark import StorageLevel

    from financial_data_ingestion_pipeline_spark.session import register_persisted

    occ = register_persisted(occ.persist(StorageLevel.DISK_ONLY))
    is_tgt = F.col("src").isin(list(target_sources))
    dists = occ.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.sum(F.when(is_tgt, F.lit(1)).otherwise(F.lit(0))).alias("t"),
    )
    scale = 1 << 20
    ratio = F.greatest(
        F.expr(f"({scale} * (t + 1)) div (r + 1)"), F.lit(1)
    )
    score = dists.select(
        "b", (F.length(F.bin(ratio)) - F.lit(21)).cast("long").alias("s")
    )
    return (
        occ.join(F.broadcast(score), "b")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("s").alias("logw_q"),
        )
        .select(F.col("doc").alias(id_col), "n_feats", "logw_q")
    )


def dsir_score_table(
    docs: DataFrame,
    target_sources: tuple[str, ...],
    n: int = 2,
    buckets: int = 1024,
    text_col: str = "text",
    source_col: str = "source",
) -> dict[int, int]:
    """FIT step of :func:`dsir_weights` alone: the per-bucket quantized
    log importance ratios as a plain dict, collected to the driver —
    legal because the result is bounded by ``buckets`` (a constant,
    never data-sized), exactly like the trained BPE/PQ/IVF constant
    tables.  The frozen table is what a streaming scorer
    (``streaming/dsir_stream.py``) or a cross-cluster export consumes;
    buckets absent from the fit corpus score 0 (the smoothed ratio of
    two empty counts), which callers should use as the lookup default.
    """
    occ = docs.select(
        F.col(source_col).alias("src"),
        F.explode(
            word_ngrams(F.coalesce(F.col(text_col), F.lit("")), n)
        ).alias("g"),
    ).select("src", F.pmod(hash64(F.col("g")), F.lit(buckets)).alias("b"))
    is_tgt = F.col("src").isin(list(target_sources))
    dists = occ.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.sum(F.when(is_tgt, F.lit(1)).otherwise(F.lit(0))).alias("t"),
    )
    scale = 1 << 20
    ratio = F.greatest(F.expr(f"({scale} * (t + 1)) div (r + 1)"), F.lit(1))
    score = dists.select(
        "b", (F.length(F.bin(ratio)) - F.lit(21)).cast("long").alias("s")
    )
    return {int(r["b"]): int(r["s"]) for r in score.collect()}


def lm_coverage(
    docs: DataFrame,
    min_count: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-LM coverage scoring — the exact-arithmetic core of a
    CCNet/KenLM-style language-model quality filter: how much of each
    document is covered by n-grams the corpus itself has seen often?
    Documents full of rare/never-repeated bigrams (boilerplate noise,
    mangled encodings, gibberish) score low; fluent text built from
    common constructions scores high.  Unlike a perplexity, every
    output here is an integer count or a single IEEE division of two
    integers — bit-reproducible in any engine, no ``ln`` ulp drift.

    Plan shape (round 11): ONE pass over the exploded bigram postings.
    The corpus gram count rides a gram-partitioned window INSIDE the
    posting stream (the same count-over-window idiom as
    :func:`tfidf_cosine_pairs` / ``span_dedup``'s fast path), so the
    separate gram aggregate, the join back onto the postings, and the
    second tokenize pass all disappear — and no vocabulary-sized
    survivor table is ever a join build side.  Both per-doc counters
    come out of one aggregate (``count(*)`` and a conditional sum).
    The bigram arrays are built with slice/zip_with (no
    re-tokenization per element) and the document text itself never
    rides a shuffle.

    Skew trade (stated honestly — the round-11 docstring claimed
    parity with the join form, which was wrong): this window shuffles
    RAW gram occurrences hash-partitioned by gram with no map-side
    combine, so every occurrence of a hot Zipfian bigram lands in one
    sort+window task — where the old two-pass form shuffled map-side-
    combined ``(gram, count)`` partials and probed a BroadcastHashJoin
    (hot grams never colocated, but the survivor table was an
    estimate-blind vocabulary-sized broadcast, the heaps1 OOM class).
    Matched-control A/B at sf0.1 (round 12, 2 alternating 5-rep pairs):
    window form 1.03/1.08 vs join form 1.19/1.37 ctrl-normalized — the
    window form wins at every measurable scale and is kept.  At a true
    100 TB corpus, if hot-bigram stragglers appear (AQE skew handling
    splits joins, NOT windows), the escape hatch is a salted two-level
    count — per-(gram, salt) partials composed by a second
    vocab-sized window — at the cost of one extra exchange.

    Output: ``id, n_bigrams, n_known_bigrams, coverage_ppm`` (ppm as
    exact integer division).
    """
    grams = docs.select(
        F.col(id_col),
        F.explode(
            word_ngrams(F.coalesce(F.col(text_col), F.lit("")), 2)
        ).alias("gram"),
    )
    counted = grams.withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return (
        counted.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("_cnt") >= min_count, F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_known_bigrams"),
        )
        .withColumn(
            "coverage_ppm",
            F.expr("(1000000 * n_known_bigrams) div n_bigrams"),
        )
    )


def bpe_pair_counts(
    docs: DataFrame,
    top_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Adjacent-character-pair frequencies inside words — the statistic
    the first BPE merge round maximizes (tokenizer-training prep, the
    step before ``vocab_topk``-style token counting exists at all).

    Plan shape: words explode once (narrow); each word's character
    pairs come from the same aligned-slice construction as
    :func:`word_ngrams` but over ``split(word, '')`` — evaluated once
    per row, not per element; the pair aggregate is one map-side-
    combined hash agg, so a hot pair ("th", "er") collapses per
    partition before the shuffle.  The final top-k ranks
    vocabulary-sized data.

    Output: ``rank, pair, n_occurrences`` (ties break on the pair
    string for a deterministic cut).
    """
    words = docs.select(
        F.explode(tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))).alias(
            "w"
        )
    ).filter(F.length("w") >= 2)
    chars = F.split(F.col("w"), "")
    n_pairs = F.size(chars) - 1
    pairs = F.zip_with(
        F.slice(chars, 1, n_pairs),
        F.slice(chars, 2, n_pairs),
        lambda a, b: F.concat(a, b),
    )
    counts = (
        words.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    # bounded: global window over the distinct-PAIR count frame
    # (vocab^2-capped, Heaps-sublinear in practice), post-groupBy
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("rank", "pair", "n_occurrences")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 retrieval scoring (Robertson k1=1.2, b=0.75) over the
    corpus for a literal query, top-k by score — the ranking half of a
    search/RAG retrieval stage, as one declarative plan.

    Engine-exact numerics: k1 and b are the rationals 6/5 and 3/4, so
    each term's score reduces to a ratio of two EXACT integers,

        num = (2N - 2df + 1) * 44 * total_tokens * tf
        den = (2df + 1) * (20*total_tokens*tf + 6*total_tokens
                           + 18*dl*N),

    evaluated with ONE IEEE division per term (bit-identical in every
    engine; no libm).  The per-document score adds the per-term
    divisions in fixed query order, so the sum is reproducible too.
    The idf is the +0.5-smoothed Robertson ratio WITHOUT the log: the
    log is monotone, per-term, and shared by every document, so top-k
    membership can shift only where the true BM25 would reorder terms
    across documents — acceptable for a deterministic contract; swap
    in ``ln`` when cross-engine bit-parity is not required.  Integer
    products stay under 2^63 up to ~10M docs x 1k tokens; beyond that
    cast the cores to decimal.

    Shape (round 11): ONE tokenize pass.  The old form tokenized the
    corpus in two pipelines (doc lengths, then explode+filter+groupBy
    for tf), each with two consumers — four tokenize scans in the
    static plan.  Per-query-term tf is per-doc array arithmetic
    (``size(filter(toks, = t))``), so the whole per-doc input to BM25
    is one wide narrow-typed projection: (id, dl, tf_0..tf_{q-1}).
    The token array is materialized in a sub-projection below it
    (split is non-cheap and referenced q+1 times).  That frame is
    pinned (DISK_ONLY, id + q+2 longs per doc — the sublinear pin
    class; ``eager=False`` so CONSTRUCTING the query stays fully lazy —
    the first action materializes the pin, matching the "no driver-side
    action at build time" contract of the sibling operators; round-11's
    eager count ran a corpus scan per construction), the corpus totals
    AND per-term document frequencies come back as ONE 1-row broadcast
    aggregate over it, and scoring reads it again without a second
    scan: no (doc, term) shuffle at all, vs the old plan's explode +
    pivot aggregate.  No UDFs, no collect.

    Output: doc_id, n_hits, score, rank (1..top_k).
    """
    from financial_data_ingestion_pipeline_spark.materialize import pin

    toked = docs.select(
        F.col(id_col),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"),
    )
    def _tf(term: str) -> Column:
        return F.size(
            F.filter(F.col("__toks"), lambda x: x == F.lit(term))
        ).cast("long")

    per_doc = toked.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("__dl"),
        *[_tf(t).alias(f"__tf_{i}") for i, t in enumerate(query_terms)],
    )
    per_doc = pin(per_doc, mode="persist", eager=False)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__total"),
        *[
            F.sum(
                F.when(F.col(f"__tf_{i}") > 0, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias(f"__df_{i}")
            for i in range(len(query_terms))
        ],
    )
    base = per_doc.crossJoin(F.broadcast(stats))
    return _bm25_score_wide(base, query_terms, top_k, id_col)


def _bm25_rank(
    dl: DataFrame,
    tf: DataFrame,
    totals: DataFrame,
    query_terms: tuple[str, ...],
    top_k: int,
    id_col: str,
) -> DataFrame:
    """BM25 ranking from long-format tf: (doc lengths, per-(doc,
    query-term) tf, 1-row corpus totals) -> top-k.  The inverted-index
    path (:func:`bm25_index_topk`) pivots its pruned postings here and
    ends in the same :func:`_bm25_score_wide` core as the corpus-scan
    path (:func:`bm25_topk`), so the two produce identical rankings by
    construction.  (Docs absent from ``tf`` carry NULL __tf_i/__df_i
    after the left join — the scoring core zeroes them exactly as the
    scan path's explicit 0 counts.)"""
    dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    pivoted = (
        tf.join(F.broadcast(dfreq), "__term")
        .groupBy(id_col)
        .agg(
            *[
                F.max(
                    F.when(F.col("__term") == t, F.col("__tf"))
                ).alias(f"__tf_{i}")
                for i, t in enumerate(query_terms)
            ],
            *[
                F.max(
                    F.when(F.col("__term") == t, F.col("__df"))
                ).alias(f"__df_{i}")
                for i, t in enumerate(query_terms)
            ],
        )
    )
    base = dl.join(pivoted, id_col, "left").crossJoin(F.broadcast(totals))
    return _bm25_score_wide(base, query_terms, top_k, id_col)


def _bm25_score_wide(
    base: DataFrame,
    query_terms: tuple[str, ...],
    top_k: int,
    id_col: str,
) -> DataFrame:
    """Shared BM25 scoring core over the wide per-doc frame
    (``__dl, __n, __total, __tf_i, __df_i`` — tf/df may be NULL for
    docs without that term; they coalesce to 0 and score 0.0)."""

    def term_score(i: int) -> Column:
        tf_c = F.coalesce(F.col(f"__tf_{i}"), F.lit(0)).cast("long")
        df_c = F.coalesce(F.col(f"__df_{i}"), F.lit(0)).cast("long")
        num = (
            (F.lit(2) * F.col("__n") - F.lit(2) * df_c + F.lit(1))
            * F.lit(44)
            * F.col("__total")
            * tf_c
        )
        den = (F.lit(2) * df_c + F.lit(1)) * (
            F.lit(20) * F.col("__total") * tf_c
            + F.lit(6) * F.col("__total")
            + F.lit(18) * F.col("__dl") * F.col("__n")
        )
        return F.when(
            tf_c > 0, num.cast("double") / den.cast("double")
        ).otherwise(F.lit(0.0))

    score = term_score(0)
    for i in range(1, len(query_terms)):
        score = score + term_score(i)
    n_hits = sum(
        (
            F.when(F.coalesce(F.col(f"__tf_{i}"), F.lit(0)) > 0, 1).otherwise(0)
            for i in range(len(query_terms))
        ),
        F.lit(0),
    ).cast("long")
    # orderBy + limit compiles to TakeOrderedAndProject — a distributed
    # per-partition top-k merged on the driver, never a global sort; the
    # rank window then runs over only the k survivors.
    top = (
        base.withColumn("score", score)
        .withColumn("n_hits", n_hits)
        .select(id_col, "n_hits", "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_k)
    )
    # bounded: global window over the top_k-row frame the .limit()
    # above already reduced — k rows, one task by design
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def phrase_search(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching (the positional-index query of an IR
    stack) as ONE narrow projection: count the word n-grams equal to
    the phrase — overlapping occurrences included, which substring
    ``replace`` tricks undercount.  No explode, no posting join, no
    shuffle; the filter runs inside the scan's codegen stage, so at
    100 TB this is a full-scan-speed grep with token-exact semantics.

    For repeated-phrase workloads, build the n-gram posting table once
    and semi-join instead; for a single ad-hoc phrase, the scan IS the
    cheapest plan — there's nothing to index.

    Output: doc_id, n_occurrences (matching docs only).
    """
    n = len(phrase.split())
    grams = word_ngrams(F.coalesce(F.col(text_col), F.lit("")), n)
    n_occ = F.size(F.filter(grams, lambda g: g == F.lit(phrase)))
    return (
        docs.select(F.col(id_col), n_occ.cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


#: RRF rank-score scale: integer-exact (2^63 ≫ scale/(k+1)), and
#: ``scale div (rrf_k + rank)`` is the same exact integer in every
#: engine — no float reciprocal, no cross-engine rounding.
RRF_SCALE = 10**12


def hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: tuple[str, ...],
    query_id: int,
    k: int = 10,
    pool: int = 50,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vecs: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion —
    the standard RAG first-stage: BM25 ranks and exact-cosine ranks
    are each truncated to a candidate ``pool`` and fused as

        rrf = (SCALE div (rrf_k + bm25_rank))
            + (SCALE div (rrf_k + vec_rank))

    in EXACT integer arithmetic (a document missing from one list
    contributes 0 for that list), then re-ranked to the final top-k.

    Plan shape: both arms end in their own distributed top-``pool``
    (TakeOrderedAndProject / single-shuffle top-k), so the fusion join
    touches at most ``2*pool`` rows regardless of corpus size — the
    fusion stage is driver-trivial at any scale, and each arm keeps
    its own 100 TB story (:func:`bm25_topk`,
    :func:`~financial_data_ingestion_pipeline_spark.functions.similarity.cosine_topk`).

    Output: ``doc_id, bm25_rank, vec_rank, rrf_score, rank`` (ranks 0
    when the doc missed that arm's pool; top-k by score desc, id asc).
    """
    from financial_data_ingestion_pipeline_spark.functions.similarity import (
        cosine_topk,
    )

    bm = bm25_topk(docs, query_terms, top_k=pool, id_col=id_col,
                   text_col=text_col).select(
        F.col(id_col), F.col("rank").alias("bm25_rank")
    )
    nn = cosine_topk(
        embeddings, [query_id], k=pool, id_col=vec_id_col, vec_col=vec_col,
        query_vecs=query_vecs,
    ).select(F.col("neighbor_id").alias(id_col), F.col("rank").alias("vec_rank"))
    # full-outer fusion as union + max-groupBy: Spark can't broadcast a
    # full outer join, so the join form plans a sort-merge join even for
    # these two <= pool-row frames; the union groups in ONE tiny
    # shuffle, and max() recovers each arm's rank (0 = missed the pool)
    arms = bm.select(
        F.col(id_col),
        F.col("bm25_rank").cast("long").alias("bm25_rank"),
        F.lit(0).cast("long").alias("vec_rank"),
    ).unionByName(
        nn.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("bm25_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
        )
    )
    fused = (
        arms.groupBy(id_col)
        .agg(
            F.max("bm25_rank").alias("bm25_rank"),
            F.max("vec_rank").alias("vec_rank"),
        )
        .withColumn(
            "rrf_score",
            (
                F.when(
                    F.col("bm25_rank") > 0,
                    F.expr(f"{RRF_SCALE}L div ({rrf_k} + bm25_rank)"),
                ).otherwise(F.lit(0).cast("long"))
                + F.when(
                    F.col("vec_rank") > 0,
                    F.expr(f"{RRF_SCALE}L div ({rrf_k} + vec_rank)"),
                ).otherwise(F.lit(0).cast("long"))
            ).cast("long"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )
    # bounded: global window over the k-row fused frame (post-limit)
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return fused.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# inverted text index
# ---------------------------------------------------------------------------

TEXT_INDEX_BUCKETS = 64


def _term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side replica of the posting layout's bucket function
    (``hash64(term) % n_buckets``) so queries can compute which
    partitions to prune to without touching data."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % n_buckets


def build_text_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = TEXT_INDEX_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "overwrite",
) -> None:
    """Materialize the inverted index a production retrieval stack
    queries instead of re-scanning raw text: under ``path``,

    - ``postings/`` — (doc_id, __term, __tf) parquet PARTITIONED BY the
      term's hash bucket: every term's postings live wholly inside one
      of ``n_buckets`` directories, so a query's scan prunes to
      |query-term buckets| / n_buckets of the index bytes no matter how
      large the corpus (the columnar analog of a posting-list seek, the
      same layout trick as the IVF cell partitions).
    - ``doclen/`` — (doc_id, __dl) document lengths.
    - ``stats/``  — one row: (__n, __total) corpus totals.

    Build cost is one tokenize + one (doc, term) count shuffle — the
    same work ONE :func:`bm25_topk` call pays for its query terms,
    amortized over every future query.  Raise ``n_buckets`` with corpus
    size to keep per-bucket files task-sized."""
    toks_arr = tokens(F.coalesce(F.col(text_col), F.lit("")))
    tf = (
        docs.select(F.col(id_col), F.explode(toks_arr).alias("__term"))
        .groupBy(id_col, "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .withColumn(
            "bucket", F.pmod(hash64(F.col("__term")), F.lit(n_buckets)).cast("int")
        )
    )
    (
        tf.repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path + "/postings")
    )
    dl = docs.select(
        F.col(id_col), F.size(toks_arr).cast("long").alias("__dl")
    )
    dl.write.mode(mode).parquet(path + "/doclen")
    dl.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__total")
    ).write.mode(mode).parquet(path + "/stats")


def bm25_index_topk(
    spark,
    path: str,
    query_terms: tuple[str, ...],
    top_k: int = 10,
    n_buckets: int = TEXT_INDEX_BUCKETS,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k served from a :func:`build_text_index` layout —
    identical output to :func:`bm25_topk` (same ranking core, df/tf
    read from postings instead of recomputed), but the raw text is
    never touched: the postings scan prunes to the query terms'
    buckets (partition pruning, computed driver-side from the same
    hash), document lengths join only for scored candidates, and the
    1-row stats frame broadcasts."""
    buckets = sorted({_term_bucket(t, n_buckets) for t in query_terms})
    tf = (
        spark.read.parquet(path + "/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("__term").isin(*query_terms))
        .select(id_col, "__term", "__tf")
    )
    dl = spark.read.parquet(path + "/doclen")
    totals = spark.read.parquet(path + "/stats")
    return _bm25_rank(dl, tf, totals, query_terms, top_k, id_col)


def append_to_text_index(
    new_docs: DataFrame,
    path: str,
    n_buckets: int = TEXT_INDEX_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental maintenance: append the new batch's postings and
    doc lengths into the bucketed layout (new files inside the buckets
    they touch — nothing rewritten), then refresh the 1-row stats
    frame from the doclen table.  df/tf stay correct because a term's
    postings — old and new — share a bucket; queries aggregate df at
    read time over the pruned scan."""
    spark = new_docs.sparkSession
    toks_arr = tokens(F.coalesce(F.col(text_col), F.lit("")))
    tf = (
        new_docs.select(F.col(id_col), F.explode(toks_arr).alias("__term"))
        .groupBy(id_col, "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
        .withColumn(
            "bucket", F.pmod(hash64(F.col("__term")), F.lit(n_buckets)).cast("int")
        )
    )
    tf.repartition("bucket").write.mode("append").partitionBy("bucket").parquet(
        path + "/postings"
    )
    new_docs.select(
        F.col(id_col), F.size(toks_arr).cast("long").alias("__dl")
    ).write.mode("append").parquet(path + "/doclen")
    stats = (
        spark.read.parquet(path + "/doclen")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__total"))
        .collect()[0]
    )
    spark.createDataFrame(
        [(stats["__n"], stats["__total"])], "__n long, __total long"
    ).write.mode("overwrite").parquet(path + "/stats")


#: Integer idf scale for :func:`tfidf_cosine_pairs` — weights are
#: ``tf * ((IDF_SCALE * N) div df)``, exact int64s.
IDF_SCALE = 1000


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = None,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weighted text-similarity pairs: cosine over integer tf-idf
    vectors, emitted for every ``id_a < id_b`` with sim >= threshold —
    the weighted complement to the exact-Jaccard / MinHash / SimHash
    family (rare shared terms count more than boilerplate).  ``n``
    selects the term basis (word n-grams; 1 = unigrams) — on
    small-vocabulary corpora a higher ``n`` keeps document frequencies
    low enough that the posting self-join stays sparse.

    Engine-exactness: term weights are EXACT integers
    ``w = tf * ((1000 * N) div df)`` (integer division), pair dots and
    norms accumulate ``w_a * w_b`` as DECIMAL(38,0) — order-independent
    exact sums that any engine reproduces (DuckDB HUGEINT) — and the
    only floating point anywhere is the final
    ``dot / sqrt(sq_a * sq_b)`` (exact-to-double conversions, one IEEE
    multiply/sqrt/divide, round 6).  Decimal38 holds corpora to ~1e9
    docs x 1e3-token vocab slices before the sq sums saturate; shard
    the vocabulary if you exceed that.

    Scale shape: the term posting self-join is O(sum df^2) like every
    inverted-index pair generator — ``max_df`` caps hot terms exactly
    as :func:`~financial_data_ingestion_pipeline_spark.functions.dedup.ngram_jaccard_pairs`
    does (dropped terms leave BOTH the dots and the norms, so the
    cosine stays consistent); per-doc norms ride a vocabulary-pruned
    narrow aggregate, and only (id_a, id_b, partial-dot) rows shuffle.

    Output: id_a, id_b, sim (round 6).
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(
            word_ngrams(F.coalesce(F.col(text_col), F.lit("")), n)
        ).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # Document frequency via a term-partitioned window instead of a
    # groupBy(term)+join pair: one shuffle where the join form needed
    # two, no broadcast of the (unbounded, rare-term-heavy) vocabulary,
    # and — decisively — the materialized index comes out HASH-
    # PARTITIONED AND SORTED BY term, so the posting self-join below
    # runs with zero additional exchanges.
    tfdf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    if max_df is not None:
        tfdf = tfdf.filter(F.col("df") <= max_df)
    n_row = docs.select(F.count(F.lit(1)).alias("__n"))
    weighted = (
        tfdf.crossJoin(F.broadcast(n_row))
        .select(
            F.col(id_col),
            "term",
            (
                F.col("tf")
                * F.expr(f"({IDF_SCALE}L * __n) div df")
            ).cast("decimal(38,0)").alias("w"),
        )
    )
    # `weighted` feeds THREE consumers (norms + both posting sides);
    # without materialization Spark re-derives the tf/df/weight
    # pipeline once per consumer (round-3 plan audit: 19 exchanges /
    # 12 scans for one call; round-6 static plan still 15/8 with only
    # runtime AQE reuse).  DISK_ONLY persist pins the df-capped
    # inverted index — vocabulary-pruned, far smaller than the corpus,
    # safe to pin at 100 TB — while KEEPING lineage: recomputable on
    # executor loss (unlike localCheckpoint, round-5 verdict concern)
    # and fully visible to the plan-budget audit (no lineage-
    # truncation blind spot).  The CacheManager dedupes repeated
    # calls by canonicalized plan, so long sessions don't accumulate
    # copies; DISTINCT inputs do accumulate — registered for
    # session.evict_persisted() at the caller's job boundary.
    from pyspark import StorageLevel

    from financial_data_ingestion_pipeline_spark.session import register_persisted

    weighted = register_persisted(weighted.persist(StorageLevel.DISK_ONLY))
    # Norms are doc-count-sized and consumed twice (sq_a, sq_b): two
    # cheap aggregates over the cached index — not worth their own
    # materialization (round-6 A/B: eager localCheckpoint 2.37 s,
    # lazy ckpt 2.56 s, DISK_ONLY persist 2.23 s, AQE-reuse-only
    # 2.07 s at sf0.1 steady state; the no-materialization plan
    # statically re-derives the tokenize/window pipeline 4x and would
    # re-scan the corpus at 100 TB, so persist wins on plan shape).
    norms = weighted.groupBy(id_col).agg(
        F.sum(F.col("w") * F.col("w")).alias("sq")
    )
    a = weighted.select(
        F.col(id_col).alias("id_a"), "term", F.col("w").alias("w_a")
    )
    b = weighted.select(
        F.col(id_col).alias("id_b"), "term", F.col("w").alias("w_b")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )
    return (
        dots.join(norms.select(F.col(id_col).alias("id_a"), F.col("sq").alias("sq_a")), "id_a")
        .join(norms.select(F.col(id_col).alias("id_b"), F.col("sq").alias("sq_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("sq_a").cast("double") * F.col("sq_b").cast("double")),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def bpe_fertility(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Per-language tokenizer fertility — the evaluation every
    multilingual tokenizer goes through: how many subword pieces per
    word (fertility) and characters per piece (compression) does the
    frozen merge list achieve on each language's slice of the corpus?
    Languages the merges were not trained for show fertility near the
    character count; the training language compresses.

    Pure composition: :func:`bpe_encode` per document (the language
    riding its aggregation keys via ``carry_cols`` — no per-doc join
    back to the source), rolled up with exact integer sums — ratios
    are integer per-mille divisions, so the report is engine-exact.

    Output: (lang, n_docs, n_alpha_words, n_bpe_pieces, alpha_chars,
    fertility_permille, compression_permille).
    """
    enc = bpe_encode(
        docs, id_col=id_col, text_col=text_col, merges=merges,
        carry_cols=(lang_col,),
    )
    if lang_col != "lang":
        enc = enc.withColumnRenamed(lang_col, "lang")
    agg = (
        enc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_alpha_words").alias("n_alpha_words"),
            F.sum(
                F.col("n_bpe_pieces") - (F.col("n_tokens") - F.col("n_alpha_words"))
            ).alias("n_bpe_pieces"),
            F.sum("alpha_chars").alias("alpha_chars"),
        )
    )
    return agg.select(
        "lang",
        "n_docs",
        F.col("n_alpha_words").cast("long").alias("n_alpha_words"),
        F.col("n_bpe_pieces").cast("long").alias("n_bpe_pieces"),
        F.col("alpha_chars").cast("long").alias("alpha_chars"),
        F.expr(
            "CAST((1000 * n_bpe_pieces) div greatest(n_alpha_words, 1) AS BIGINT)"
        ).alias("fertility_permille"),
        F.expr(
            "CAST((1000 * alpha_chars) div greatest(n_bpe_pieces, 1) AS BIGINT)"
        ).alias("compression_permille"),
    )


def compact_winnow_index(spark, src_path: str, dst_path: str) -> None:
    """Compact a :func:`build_winnow_index` layout into a fresh
    single-partition index at ``dst_path``: posting rows union as-is
    (they are per-doc, so no cross-batch dedup applies), the meta
    doc-count partitions fold to one total row — the probe's df-cap N
    is preserved exactly.  New-path discipline shared with the other
    index compactions (``dedup._compact_posting_table``)."""
    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        _compact_posting_table,
    )

    _compact_posting_table(
        spark, src_path, dst_path, "fingerprints", ("doc", "fp"),
        "compact_winnow_index", distinct=False,
    )
    write_batch_partition(
        spark.read.parquet(f"{src_path}/meta")
        .select(F.sum("n_docs").cast("long").alias("n_docs"))
        .coalesce(1),
        f"{dst_path}/meta", 0, rebuild=True,
    )
