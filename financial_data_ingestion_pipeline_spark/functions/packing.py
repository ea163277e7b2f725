"""Sequence packing and document chunking for LLM-training pipelines.

Two deterministic, fully distributed operators:

``pack_sequences``
    GPT-style concat-and-chunk packing: documents are laid end-to-end
    in ``id`` order into one global token stream, which is then cut
    into fixed-length training sequences.  A document that straddles a
    cut belongs to every sequence it overlaps — exactly the semantics
    of causal-LM pretraining batches.  The global prefix sum is
    computed with a two-level scan (within-bucket window + tiny
    bucket-offset window), never a single-partition global window, so
    the plan holds at 100 TB: the only single-task stage touches one
    row per ``bucket_docs`` documents.

``chunk_documents``
    Sliding character windows (size ``chunk_chars``, stride
    ``chunk_chars - overlap``) exploded one row per chunk — the
    retrieval-indexing side of the same pipeline.  Pure
    ``sequence``/``explode``/``substring`` column expressions; the
    text column is read once and never shuffled (chunk rows carry an
    md5 plus offsets, not the chunk text, unless asked).

Both are exactly replayable in ANSI SQL (window cumsum +
``generate_series``), so they carry full DuckDB oracles in the driver
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import TOKEN_REGEX

__all__ = ["pack_sequences", "chunk_documents", "batch_by_length"]


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_docs: int = 4096,
) -> DataFrame:
    """Map each document onto the fixed-length training sequences it
    occupies when the corpus is concatenated in ``id_col`` order and
    cut every ``seq_len`` tokens.

    Output (one row per document x overlapped sequence):
      ``doc_id, seq_id, doc_tokens, start_offset, tokens_in_seq,
      offset_in_seq``

    Token counts use the BPE-ish pre-tokenizer regex shared with
    ``text_stats`` (letter runs / digit runs / single punctuation).
    Zero-token documents occupy no sequence and emit no rows.

    Scale design: a naive ``Window.orderBy(id)`` cumsum is a single
    task over the whole corpus.  Instead the prefix sum is a two-level
    scan tree: (1) per-bucket cumsum where ``bucket = id DIV
    bucket_docs`` (parallel, bounded partitions), (2) an ordered cumsum
    over the per-bucket totals — one row per ``bucket_docs`` docs, so
    at 10^10 documents the serial stage sees ~2.4M tiny rows — then a
    broadcast join back.  All downstream math is column arithmetic +
    one ``explode``.
    """
    n_tok = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), 0)
    ).cast("long")
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("doc_tokens"),
        (F.col(id_col).cast("long") / F.lit(bucket_docs))
        .cast("long")
        .alias("_bucket"),
    )

    in_bucket = Window.partitionBy("_bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    per_doc = per_doc.withColumn(
        "_local_start", F.coalesce(F.sum("doc_tokens").over(in_bucket), F.lit(0))
    )

    bucket_totals = per_doc.groupBy("_bucket").agg(
        F.sum("doc_tokens").alias("_bucket_tokens")
    )
    # bounded: global window over the BUCKET-SUMMARY frame (one row per
    # bucket, fixed fan-out) — the two-level prefix-sum design keeps the
    # single-task window off the data-sized frame
    prior_buckets = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_offsets = bucket_totals.select(
        "_bucket",
        F.coalesce(F.sum("_bucket_tokens").over(prior_buckets), F.lit(0)).alias(
            "_bucket_start"
        ),
    )

    placed = per_doc.join(F.broadcast(bucket_offsets), "_bucket").select(
        "doc_id",
        "doc_tokens",
        (F.col("_bucket_start") + F.col("_local_start")).alias("start_offset"),
    )

    first_seq = (F.col("start_offset") / seq_len).cast("long")
    last_seq = (
        (F.col("start_offset") + F.col("doc_tokens") - 1) / seq_len
    ).cast("long")
    seqs = placed.withColumn(
        "seq_id",
        F.explode(
            F.when(
                F.col("doc_tokens") > 0, F.sequence(first_seq, last_seq)
            ).otherwise(F.array().cast("array<long>"))
        ),
    )
    seq_begin = F.col("seq_id") * seq_len
    begin_in_seq = F.greatest(F.col("start_offset"), seq_begin)
    end_in_seq = F.least(
        F.col("start_offset") + F.col("doc_tokens"), seq_begin + seq_len
    )
    return seqs.select(
        "doc_id",
        "seq_id",
        "doc_tokens",
        "start_offset",
        (end_in_seq - begin_in_seq).alias("tokens_in_seq"),
        (begin_in_seq - seq_begin).alias("offset_in_seq"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_text: bool = False,
) -> DataFrame:
    """Explode each document into sliding character windows of
    ``chunk_chars`` with ``overlap`` chars shared between neighbours
    (stride ``chunk_chars - overlap``).

    Output: ``doc_id, chunk_id, chunk_start, chunk_len, chunk_md5``
    (+ ``chunk_text`` when ``with_text``).  ``chunk_start`` is
    0-based; chunk ``k`` covers ``[k*stride, k*stride + chunk_chars)``
    clipped to the document; empty documents emit no chunks.

    Everything is a column expression over one scan — no shuffle at
    all (`explode` is a narrow op), so this is embarrassingly parallel
    at any scale; the output carries hashes and offsets rather than
    chunk text by default so downstream joins stay narrow.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    n = F.length(F.col(text_col)).cast("long")
    starts = F.when(n > 0, F.sequence(F.lit(0).cast("long"), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<long>")
    )
    chunked = docs.select(
        F.col(id_col).alias("doc_id"),
        n.alias("_n"),
        F.col(text_col).alias("_text"),
        F.posexplode(starts).alias("chunk_id", "chunk_start"),
    )
    chunk_text = F.substring(
        F.col("_text"), (F.col("chunk_start") + 1).cast("int"), chunk_chars
    )
    out = chunked.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_start",
        F.least(F.lit(chunk_chars).cast("long"), F.col("_n") - F.col("chunk_start")).alias(
            "chunk_len"
        ),
        F.md5(chunk_text).alias("chunk_md5"),
        chunk_text.alias("chunk_text"),
    )
    return out if with_text else out.drop("chunk_text")


def shuffle_order(
    docs: DataFrame,
    seed: str = "epoch0",
    n_shards: int = 16,
    id_col: str = "doc_id",
    bucket_hex_chars: int = 2,
) -> DataFrame:
    """Deterministic epoch shuffle: assign every document its position
    in a seeded global random permutation (and the training shard that
    position lands in).  Re-running with the same seed reproduces the
    exact order on any cluster size or engine; a new epoch is just a
    new seed.

    The permutation is the sort by ``md5(seed || ':' || id)``.  The
    global rank is computed WITHOUT a single-partition global window:
    the first ``bucket_hex_chars`` hex chars of the key are a *prefix*
    of the sort key, so bucketing by them preserves the global order
    between buckets — rank = (cumulative size of earlier buckets) +
    (rank within bucket).  Stage 1 is a parallel per-bucket window,
    stage 2 a window over one row per bucket (256 rows at the default),
    broadcast back.  Same scan-tree shape as :func:`pack_sequences`,
    same 100 TB story.

    Output: ``id, global_pos (0-based), shard = global_pos % n_shards``
    — round-robin sharding interleaves the permutation across output
    files so every shard is an unbiased sample of the corpus.
    """
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    per_doc = docs.select(
        F.col(id_col),
        key.alias("_key"),
    ).withColumn("_bucket", F.substring("_key", 1, bucket_hex_chars))

    sizes = per_doc.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    # bounded: global window over one row per bucket (16^bucket_hex_chars
    # rows max), never the doc table — two-level prefix-sum design
    prior = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "_bucket",
        F.coalesce(F.sum("_n").over(prior), F.lit(0)).alias("_off"),
    )
    w_in = Window.partitionBy("_bucket").orderBy("_key", id_col)
    pos = (F.col("_off") + F.row_number().over(w_in) - 1).cast("long")
    return (
        per_doc.join(F.broadcast(offsets), "_bucket")
        .select(F.col(id_col), pos.alias("global_pos"))
        .withColumn("shard", (F.col("global_pos") % n_shards).cast("long"))
    )


def batch_by_length(
    docs: DataFrame,
    batch_size: int = 8,
    bucket_width: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed training batches — the OTHER standard LLM
    batching strategy next to :func:`pack_sequences`: group documents
    of similar token length so each padded batch wastes the minimum
    ``batch_max - len`` tokens (dynamic batching a la fairseq /
    sentence-transformers, made deterministic).

    Documents are bucketed by ``n_tokens div bucket_width``, ordered
    within the bucket by (n_tokens, id), and cut into consecutive
    ``batch_size`` groups.  The within-bucket rank uses a TWO-LEVEL
    scan: ranks within each (bucket, n_tokens) slice (parallel window
    keyed by the full token count — a PREFIX of the sort key, so
    slice-order composes to bucket order), plus a per-slice offset
    window over one row per distinct (bucket, length) — at most
    ``bucket_width`` rows per bucket, broadcast back.  A hot length
    bucket therefore parallelizes across its distinct lengths instead
    of sorting on one task; only an adversarial corpus where ONE
    (bucket, exact-length) pair dominates still serializes, and then
    padding-optimal batching is trivial anyway (all rows same length —
    any split works, so pre-salt the id order upstream if needed).

    Output, one row per document: ``id, n_tokens, bucket, batch_idx,
    pos_in_batch`` — ``(bucket, batch_idx)`` is the physical batch key.
    Aggregate ``max(n_tokens) - n_tokens`` over it for padding waste.
    """
    n_tok = F.size(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"))
    per_doc = docs.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
    ).withColumn(
        "bucket", (F.col("n_tokens") / bucket_width).cast("long")
    )
    # one row per distinct (bucket, n_tokens): counts -> within-bucket
    # running offsets (ordered by n_tokens — the sort-key prefix)
    sizes = per_doc.groupBy("bucket", "n_tokens").agg(
        F.count(F.lit(1)).alias("_n")
    )
    prior = (
        Window.partitionBy("bucket")
        .orderBy("n_tokens")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        "bucket",
        "n_tokens",
        F.coalesce(F.sum("_n").over(prior), F.lit(0)).alias("_off"),
    )
    w_slice = Window.partitionBy("bucket", "n_tokens").orderBy(id_col)
    pos = (F.col("_off") + F.row_number().over(w_slice) - 1).cast("long")
    return (
        per_doc.join(F.broadcast(offsets), ["bucket", "n_tokens"])
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("bucket"),
            F.floor(pos / batch_size).cast("long").alias("batch_idx"),
            (pos % batch_size).cast("long").alias("pos_in_batch"),
        )
    )


def curriculum_order(
    docs: DataFrame,
    n_stages: int = 4,
    band_width: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Difficulty-ordered training curriculum: every document gets its
    position in the easy-to-hard global order and the training stage
    that position falls into — curriculum learning made deterministic
    and engine-replayable.

    Difficulty is the exact integer unigram surprisal
    (:func:`text.token_surprisal` — ``avg_millibits``): low = built
    from common corpus constructions (easy), high = rare-token-dense
    (hard).  The global rank sorts by (difficulty, id) WITHOUT a
    single-task global window, using the same two-level trick as
    :func:`shuffle_order`: coarse difficulty bands (``difficulty div
    band_width`` — a PREFIX of the sort key) rank in parallel, band
    offsets come from a window over one row per band, broadcast back.
    Stages are equal position slices: ``stage = (n_stages * pos) div
    N`` with the 1-row corpus count broadcast into the projection (an
    intentional scalar BNLJ).

    Output: (id, difficulty_millibits, global_pos, stage).
    """
    from .text import token_surprisal

    # the banded rank references this frame THREE times (band sizes,
    # the rank join, the total) — materialize so the surprisal subtree
    # runs once instead of once per reference (the graph-op lesson:
    # self-referenced frames replay upstream).  DISK_ONLY persist, not
    # localCheckpoint: round-7 A/B ~equal speed (0.53 vs 0.50 s sf0.1)
    # and persist keeps lineage — recomputable on executor loss and
    # visible to the plan-budget audit.
    from financial_data_ingestion_pipeline_spark.materialize import pin

    scored = pin(
        token_surprisal(docs, id_col=id_col, text_col=text_col).select(
            F.col(id_col),
            F.col("avg_millibits").alias("difficulty_millibits"),
        ),
    )
    banded = scored.withColumn(
        "_band", F.expr(f"difficulty_millibits div {band_width}")
    )
    sizes = banded.groupBy("_band").agg(F.count(F.lit(1)).alias("_n"))
    # bounded: global window over one row per difficulty band (score
    # range / band_width rows), never the doc table
    prior = Window.orderBy("_band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "_band",
        F.coalesce(F.sum("_n").over(prior), F.lit(0)).alias("_off"),
    )
    w_in = Window.partitionBy("_band").orderBy(
        "difficulty_millibits", id_col
    )
    pos = (F.col("_off") + F.row_number().over(w_in) - 1).cast("long")
    total = banded.agg(F.count(F.lit(1)).alias("_total"))
    return (
        banded.join(F.broadcast(offsets), "_band")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            "difficulty_millibits",
            pos.alias("global_pos"),
            "_total",
        )
        .select(
            id_col,
            "difficulty_millibits",
            "global_pos",
            F.expr(f"CAST(({n_stages} * global_pos) div _total AS BIGINT)")
            .alias("stage"),
        )
    )
