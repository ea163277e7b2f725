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
