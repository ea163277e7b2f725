"""End-to-end LLM training-corpus pipeline — the ``documents``-side
counterpart of the tick pipeline in ``plans/pipeline.py``.

Chains the operator families into the standard corpus-preparation DAG
(the shape of C4/RefinedWeb/Dolma builds):

    raw docs
      -> quality gate        (Gopher-style shape/repetition filters)
      -> language gate       (stopword-profile LID)
      -> exact dedup         (md5 hash-aggregate, min-id keeper)
      -> near-dup prune      (MinHash LSH pairs, greedy lower-id wins)
      -> span cut            (ExactSubstr repeated-span removal,
                              Lee et al. 2022 placement: after
                              near-dedup, before caps)
      -> per-domain cap      (deterministic hash-ranked survivors)
      -> train/val/test split(hash buckets)
      -> epoch shuffle       (seeded permutation + round-robin shards)
      -> partitioned write   (parquet, partitionBy(split))

Every stage is a deterministic DataFrame transform from this package —
re-running the pipeline on the same input reproduces the identical
corpus byte-for-byte, which is the reproducibility contract an LLM
data release needs.  Stage-by-stage surviving-row counts are written
alongside the corpus as a one-file CSV report (the same operational
pattern as the reference pipeline's quality reports, dp:175-186).

Scale notes: stages communicate by id (narrow columns); document text
joins back exactly once at write time.  The stage counts cost one
action per stage — at 100 TB, pass ``count_stages=False`` and read
the counts off the final partitioned output instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dedup, text
from ..functions.packing import shuffle_order

__all__ = ["run_corpus_pipeline"]


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    min_tokens: int = 5,
    near_dup_threshold: float = 0.8,
    span_min_len: int | None = 16,
    span_policy: str = "keep_first",
    domain_cap: int = 100,
    n_shards: int = 8,
    seed: str = "epoch0",
    count_stages: bool = True,
) -> dict[str, int]:
    """Run the corpus build; returns the stage->surviving-count report
    (also written to ``<out_dir>/reports/stage_counts.csv``).

    The span-cut stage (ExactSubstr, ``dedup.cut_repeated_spans``)
    runs where Lee et al. 2022 place it — after whole-doc near-dedup,
    before domain caps — and MODIFIES text rather than dropping docs,
    so its stage count equals near_dedup's; the report carries the
    cut volume as ``span_cut_docs_modified``.  ``span_policy``
    defaults to ``keep_first`` (one canonical occurrence survives);
    ``span_min_len=None`` disables the stage."""
    counts: dict[str, int] = {}

    def _record(name: str, df: DataFrame) -> None:
        if count_stages:
            counts[name] = df.count()

    _record("raw", docs)

    # 1. quality gate
    qf = text.quality_flags(docs, id_col=id_col, text_col=text_col,
                            min_tokens=min_tokens)
    quality_ids = qf.filter(F.col("passes_quality")).select(id_col)
    gated = docs.join(quality_ids, id_col, "left_semi")
    _record("quality", gated)

    # 2. language gate: keep docs whose detected language is non-null
    lid = text.lang_id(gated, id_col=id_col, text_col=text_col)
    lang_ids = lid.filter(F.col("lang_pred").isNotNull()).select(id_col)
    langed = gated.join(lang_ids, id_col, "left_semi")
    _record("language", langed)

    # 3. exact dedup
    exact = dedup.dedup_exact(langed, id_col=id_col, text_col=text_col)
    _record("exact_dedup", exact)

    # 4. near-dup prune: greedy lower-id-survives over LSH pairs
    pairs = dedup.minhash_lsh_pairs(
        exact, id_col=id_col, text_col=text_col,
        threshold=near_dup_threshold,
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    neared = exact.join(drops, id_col, "left_anti")
    _record("near_dedup", neared)

    # 5. span cut (ExactSubstr): remove repeated >= span_min_len-char
    # spans that whole-doc near-dedup cannot see; text is REWRITTEN in
    # place (docs survive), keeping the downstream id-based stages
    # untouched.  Schema/column order preserved for the byte-identical
    # re-run contract.
    if span_min_len is not None:
        cols = neared.columns
        cut = dedup.cut_repeated_spans(
            neared, min_len=span_min_len, id_col=id_col,
            text_col=text_col, policy=span_policy,
        )
        neared = (
            neared.drop(text_col)
            .join(
                cut.select(
                    id_col, F.col("clean_text").alias(text_col), "n_cut"
                ),
                id_col,
            )
        )
        if count_stages:
            counts["span_cut_docs_modified"] = (
                neared.filter(F.col("n_cut") > 0).count()
            )
        neared = neared.select(*cols)

    # 6. per-domain cap
    capped_ids = text.domain_caps(
        neared, cap=domain_cap, id_col=id_col, domain_col=domain_col
    ).select(id_col)
    capped = neared.join(capped_ids, id_col, "left_semi")
    _record("domain_cap", capped)

    # 7. split + 8. shuffle/shard (train order only matters for train)
    splits = text.split_assign(capped, id_col=id_col)
    order = shuffle_order(capped, seed=seed, n_shards=n_shards, id_col=id_col)
    final = (
        capped.join(splits.select(id_col, "split"), id_col)
        .join(order.select(id_col, "global_pos", "shard"), id_col)
    )

    # 9. partitioned write
    final.write.mode("overwrite").partitionBy("split").parquet(
        os.path.join(out_dir, "corpus")
    )
    _record("written", spark.read.parquet(os.path.join(out_dir, "corpus")))

    if count_stages:
        report = spark.createDataFrame(
            sorted(counts.items()), "stage string, n_docs long"
        )
        report.coalesce(1).write.mode("overwrite").option(
            "header", True
        ).csv(os.path.join(out_dir, "reports", "stage_counts"))
    return counts


def run_incremental_ingest(
    spark: SparkSession,
    batch: DataFrame,
    corpus_table: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    span_index_dir: str | None = None,
    span_min_len: int = 16,
) -> dict[str, int]:
    """The DAILY path the batch pipeline bootstraps: gate a new ingest
    batch, dedup it against the MATERIALIZED corpus key index (no pass
    over corpus text — O(|batch| + |index|)), append survivors to the
    corpus as ONE atomic snapshot commit, and append their keys to the
    index so tomorrow's batch probes today's docs too.

    With ``span_index_dir`` set, the batch ALSO runs the ExactSubstr
    contamination loop against the standing span index
    (``dedup.build_span_index`` layout — the batch sibling of
    ``streaming/span_stream.py::probe_and_maintain_span_index``):
    probe first (which spans of today's arrivals copy the corpus
    verbatim), QUARANTINE the span table under the batch's own
    idempotent partition at ``{span_index_dir}/quarantine``, CUT the
    contaminated spans out of the batch text, and — after the corpus
    commit — append the survivors' anchors so tomorrow's batch probes
    today's docs.  Probe-before-append means a batch never matches
    itself.  A missing index is the clean first-day bootstrap (probe
    skipped, anchors still appended).

    Crash-safety note: the snapshot commit lands before every index
    append, so a crash between them leaves an index MISSING some keys
    — which can only re-admit a future duplicate, never lose data; the
    next full ``build_dedup_index`` / ``build_span_index`` rebuild
    reconciles.  (The opposite order could drop documents forever.)

    Returns stage counts: ``batch, gated, unique, appended_version``
    (+ ``span_contaminated_docs, span_batch_id`` when the span loop
    runs).
    """
    from ..functions.dedup import build_dedup_index, dedup_incremental_indexed
    from ..operators.warehouse import snapshot_commit

    counts: dict[str, int] = {"batch": batch.count()}

    qf = text.quality_flags(batch, id_col=id_col, text_col=text_col,
                            min_tokens=min_tokens)
    gated = batch.join(
        qf.filter(F.col("passes_quality")).select(id_col), id_col, "left_semi"
    )
    lid = text.lang_id(gated, id_col=id_col, text_col=text_col)
    gated = gated.join(
        lid.filter(F.col("lang_pred").isNotNull()).select(id_col),
        id_col, "left_semi",
    )
    counts["gated"] = gated.count()

    span_batch_id: int | None = None
    if span_index_dir is not None:
        gated, span_batch_id = _span_contamination_probe_and_cut(
            spark, gated, span_index_dir, counts,
            span_min_len, id_col, text_col,
        )

    flags = dedup_incremental_indexed(
        gated, spark, index_dir, id_col=id_col, text_col=text_col
    )
    from financial_data_ingestion_pipeline_spark.materialize import Pinned

    # commit + index append(s) all read survivors: materialize it so the
    # gate + dedup pipeline runs once.  Two regimes:
    #
    # * no span loop — DISK_ONLY persist (recomputable on executor loss
    #   mid-commit; the only consumer after an index write is that
    #   write itself, so cache invalidation is harmless);
    # * span loop ON — localCheckpoint, REQUIRED for correctness, not
    #   perf: survivors' lineage reads BOTH index paths (the content
    #   index via the dedup flags, the span index via the probe/cut),
    #   and the content-index append triggers Spark's path refresh,
    #   which uncaches the persisted frame — the span-anchor append
    #   that follows would silently re-derive survivors AGAINST THE
    #   POST-APPEND INDEX (keep=False everywhere -> an EMPTY anchor
    #   partition, tomorrow's probes blind to today's docs).  Lineage
    #   truncation makes the later consumers immune; an executor loss
    #   mid-commit now fail-stops the batch instead — the idempotent
    #   dynamic-overwrite partitions and snapshot versioning make the
    #   rerun safe (the same fail-stop-over-silent-corruption trade as
    #   the streaming keyed-merge sink, streaming/sink.py).
    survivors = gated.join(
        flags.filter(F.col("keep")).select(id_col), id_col, "left_semi"
    )
    survivors_pin = Pinned(
        survivors, mode="ckpt" if span_index_dir is not None else "persist"
    )
    survivors = survivors_pin.df
    counts["unique"] = survivors.count()

    counts["appended_version"] = snapshot_commit(
        survivors, corpus_table, mode="append"
    )
    build_dedup_index(
        survivors, index_dir, id_col=id_col, text_col=text_col, mode="append"
    )
    if span_index_dir is not None:
        # append AFTER the corpus commit (crash between = missing keys,
        # re-admittable duplicates only — never lost documents)
        from ..functions.dedup import append_to_span_index

        append_to_span_index(
            survivors, span_index_dir, span_batch_id,
            min_len=span_min_len, id_col=id_col, text_col=text_col,
        )
    survivors_pin.release()  # ckpt: frees the RDD blocks; persist:
    # unpersist (all consumers done; lineage remains)
    # batch boundary: drop any operator-registered DISK_ONLY caches
    # (gate/dedup internals) so a long-lived ingest session doesn't
    # accumulate cache entries across batches — all recomputable
    from financial_data_ingestion_pipeline_spark.session import evict_persisted

    evict_persisted()
    return counts


def _span_contamination_probe_and_cut(
    spark: SparkSession,
    gated: DataFrame,
    span_index_dir: str,
    counts: dict[str, int],
    span_min_len: int,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, int]:
    """One batch turn of the ExactSubstr contamination loop (see
    :func:`run_incremental_ingest`): allocate the next ``batch_id``
    above the index's current max (the batch-mode analog of the
    streaming maintainer's ``partition_base`` rule — a re-attached
    ingest can never dynamic-overwrite history), probe the gated batch
    against the standing anchors, quarantine the span table under the
    batch's own idempotent partition, and return the batch with the
    contaminated spans CUT out of its text (schema/column order
    preserved).  Missing index = first-day bootstrap: nothing to probe
    yet, ``batch_id=0``."""
    from pyspark.sql.utils import AnalysisException

    from ..functions.dedup import cut_spans, span_probe_index
    from ..materialize import pin
    from ..operators.warehouse import is_missing_path, write_batch_partition

    try:
        existing_max = (
            spark.read.parquet(f"{span_index_dir}/anchors")
            .agg(F.max("batch_id"))
            .first()[0]
        )
    except AnalysisException as e:
        if not is_missing_path(e):
            raise
        existing_max = None
    batch_id = 0 if existing_max is None else int(existing_max) + 1
    counts["span_batch_id"] = batch_id
    if existing_max is None:
        counts["span_contaminated_docs"] = 0
        return gated, batch_id

    # pin: the probe feeds three consumers (count, quarantine write,
    # cut) — DISK_ONLY persist, evicted at the batch boundary by
    # evict_persisted(), recomputable on executor loss
    spans = pin(
        span_probe_index(
            gated, spark, span_index_dir,
            min_len=span_min_len, id_col=id_col, text_col=text_col,
        ),
        mode="persist",
    )
    counts["span_contaminated_docs"] = spans.select(id_col).distinct().count()
    write_batch_partition(spans, f"{span_index_dir}/quarantine", batch_id)
    cols = gated.columns
    cut = cut_spans(gated, spans, id_col=id_col, text_col=text_col)
    gated = (
        gated.drop(text_col)
        .join(cut.select(id_col, F.col("clean_text").alias(text_col)), id_col)
        .select(*cols)
    )
    return gated, batch_id


def main(argv: list[str] | None = None) -> None:
    """CLI: ``python -m financial_data_ingestion_pipeline_spark.plans.corpus_pipeline \
    <docs_parquet_or_jsonl> <out_dir> [--jsonl] [--cap N] [--threshold T]``"""
    import argparse

    from ..session import get_spark

    p = argparse.ArgumentParser(description="LLM corpus build pipeline")
    p.add_argument("input", help="documents parquet dir/file (or JSONL with --jsonl)")
    p.add_argument("out_dir")
    p.add_argument("--jsonl", action="store_true", help="input is JSONL")
    p.add_argument("--cap", type=int, default=100, help="per-domain doc cap")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="near-dup jaccard threshold")
    p.add_argument("--min-tokens", type=int, default=5)
    p.add_argument("--span-min-len", type=int, default=16,
                   help="ExactSubstr span-cut minimum span chars")
    p.add_argument("--span-policy", choices=("keep_first", "all"),
                   default="keep_first",
                   help="span-cut policy: keep one canonical occurrence "
                        "or cut every occurrence")
    p.add_argument("--no-span-cut", action="store_true",
                   help="disable the ExactSubstr span-cut stage")
    args = p.parse_args(argv)

    spark = get_spark(app_name="corpus-pipeline")
    if args.jsonl:
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        from ..sources.jsonl import quarantine_split, read_jsonl

        schema = StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ])
        docs, _dead = quarantine_split(read_jsonl(spark, args.input, schema))
    else:
        docs = spark.read.parquet(args.input)
    counts = run_corpus_pipeline(
        spark, docs, args.out_dir,
        min_tokens=args.min_tokens,
        span_min_len=None if args.no_span_cut else args.span_min_len,
        span_policy=args.span_policy,
        near_dup_threshold=args.threshold,
        domain_cap=args.cap,
    )
    for stage, n in counts.items():
        print(f"{stage}: {n}")


if __name__ == "__main__":
    main()
