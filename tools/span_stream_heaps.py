"""Heaps-scale end-to-end certification of the streaming span loop
(round-9 verdict task #5).

Drives the two streaming ExactSubstr maintainers through a REAL
multi-batch file stream over the heaps1 decade corpus (50k docs,
10x sf0.1) and proves stream == batch semantics at that scale:

1. ``maintain_span_index`` over N file-stream batches — the final
   index's distinct anchor-hash set must EQUAL
   ``build_span_index``'s over the same documents in one batch.
2. ``cut_and_maintain_span_index`` over the same N batches — the
   cleaned documents (id, text, n_cut) and the final anchor set must
   EQUAL a sequential batch replay of the same loop (probe -> cut ->
   land -> anchor-append per batch, same order), and probing both
   indexes with a fresh batch must return identical span tables.

Prints the markdown record (runtime + parity verdicts) to stdout;
SPAN_STREAM_HEAPS.md is the committed copy.  The pytest twins
(test_streaming_smoke.py) cover the same semantics at sf-tiny; this
tool is the scale evidence.

Usage: python tools/span_stream_heaps.py [--docs-dir D] [--batches N]

Runs on local[$SPARK_GRAFT_CPUS] (default: every core).  The default
corpus is ``testdata_heaps1/`` in this checkout, made by
``python tools/gen_sf.py testdata_heaps1 --scale 10 --heaps``.
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

DOCS = os.path.join(REPO, "testdata_heaps1", "documents.parquet")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def main() -> None:
    args = sys.argv[1:]
    docs_path, n_batches = DOCS, 5
    i = 0
    while i < len(args):
        if args[i] == "--docs-dir":
            docs_path = args[i + 1]; i += 2
        elif args[i] == "--batches":
            n_batches = int(args[i + 1]); i += 2
        else:
            raise SystemExit("usage: span_stream_heaps.py"
                             " [--docs-dir D] [--batches N]")

    from pyspark.sql import functions as F

    from financial_data_ingestion_pipeline_spark.functions.dedup import (
        append_to_span_index,
        build_span_index,
        cut_spans,
        span_probe_index,
    )
    from financial_data_ingestion_pipeline_spark.session import get_spark
    from financial_data_ingestion_pipeline_spark.streaming.span_stream import (
        cut_and_maintain_span_index,
        maintain_span_index,
    )

    spark = get_spark(
        app_name="fdip-span-stream-heaps",
        master=f"local[{CPUS}]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false",
                    "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from calibration import drift

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    cal = drift(spark, "local32")

    work = tempfile.mkdtemp(prefix="span_stream_heaps_")
    docs = spark.read.parquet(docs_path).select("doc_id", "text")
    n_docs = docs.count()

    # deterministic equal-width batches by doc_id hash bucket; each
    # batch lands as ONE file (coalesce(1)) so maxFilesPerTrigger=1
    # replays the exact logical batch sequence — batch BOUNDARIES are
    # semantics here (a doc is probed against anchors of strictly
    # earlier batches only), so file == batch must hold
    landing = os.path.join(work, "landing")
    batches = []
    for b in range(n_batches):
        bdf = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(n_batches))
                          == b)
        bdf.coalesce(1).write.parquet(os.path.join(landing, f"b{b}"))
        batches.append(bdf)
        time.sleep(0.05)  # strictly increasing mtimes -> stable order

    report: list[str] = []

    def stream(fn_name: str, **kw):
        src = (spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", 1)
               .parquet(f"{landing}/*/"))
        t0 = time.perf_counter()
        if fn_name == "maintain":
            q = maintain_span_index(
                src, kw["index"], os.path.join(work, "ckpt_maintain"))
        else:
            q = cut_and_maintain_span_index(
                src, kw["index"], kw["clean"], kw["spans"],
                os.path.join(work, "ckpt_cut"))
        q.awaitTermination()
        return round(time.perf_counter() - t0, 2)

    # ---- 1. plain maintainer vs one-shot batch builder -------------
    idx_stream = os.path.join(work, "idx_stream")
    t_maintain = stream("maintain", index=idx_stream)
    idx_batch = os.path.join(work, "idx_batch")
    t0 = time.perf_counter()
    build_span_index(docs, idx_batch)
    t_build = round(time.perf_counter() - t0, 2)
    a_stream = spark.read.parquet(f"{idx_stream}/anchors").select(
        "h").distinct()
    a_batch = spark.read.parquet(f"{idx_batch}/anchors").select(
        "h").distinct()
    only_s = a_stream.exceptAll(a_batch).count()
    only_b = a_batch.exceptAll(a_stream).count()
    n_anchors = a_batch.count()
    maintain_ok = only_s == 0 and only_b == 0
    report.append(
        f"| maintain_span_index == build_span_index | "
        f"{'PASS' if maintain_ok else 'FAIL'} | {n_anchors} distinct "
        f"anchors; stream-only {only_s}, batch-only {only_b}; stream "
        f"{t_maintain}s / batch {t_build}s |")

    # ---- 2. cut loop vs sequential batch replay ---------------------
    idx_cut = os.path.join(work, "idx_cut")
    clean_out = os.path.join(work, "clean_stream")
    spans_out = os.path.join(work, "spans_stream")
    t_cut = stream("cut", index=idx_cut, clean=clean_out, spans=spans_out)

    # batch replay: same batches, same order, same primitives
    idx_ref = os.path.join(work, "idx_ref")
    ref_clean = []
    t0 = time.perf_counter()
    for b, bdf in enumerate(batches):
        if os.path.exists(f"{idx_ref}/anchors"):
            spans = span_probe_index(bdf, spark, idx_ref)
        else:
            spans = spark.createDataFrame(
                [], "doc_id long, span_start long, span_len long")
        cut = cut_spans(bdf, spans)
        cleaned = (bdf.drop("text")
                   .join(cut.select("doc_id",
                                    F.col("clean_text").alias("text"),
                                    "n_cut"), "doc_id")
                   .select("doc_id", "text", "n_cut")
                   .localCheckpoint(eager=True))
        ref_clean.append(cleaned)
        append_to_span_index(cleaned, idx_ref, batch_id=b + 1)
    t_replay = round(time.perf_counter() - t0, 2)

    got = spark.read.parquet(clean_out).select("doc_id", "text", "n_cut")
    ref = ref_clean[0]
    for c in ref_clean[1:]:
        ref = ref.unionAll(c)
    clean_diff = (got.exceptAll(ref).count()
                  + ref.exceptAll(got).count())
    ai_stream = spark.read.parquet(f"{idx_cut}/anchors").select(
        "h").distinct()
    ai_ref = spark.read.parquet(f"{idx_ref}/anchors").select(
        "h").distinct()
    idx_diff = (ai_stream.exceptAll(ai_ref).count()
                + ai_ref.exceptAll(ai_stream).count())
    n_cut_docs = got.filter("n_cut > 0").count()
    cut_ok = clean_diff == 0 and idx_diff == 0
    report.append(
        f"| cut_and_maintain == sequential batch replay | "
        f"{'PASS' if cut_ok else 'FAIL'} | clean-row diff {clean_diff}, "
        f"anchor diff {idx_diff}; {n_cut_docs} docs cut; stream {t_cut}s"
        f" / replay {t_replay}s |")

    # ---- 3. probe parity with a fresh batch -------------------------
    # the probe batch COPIES corpus text under new doc ids (every ~97th
    # doc, id-shifted) so the probe is guaranteed non-trivial — a
    # disjoint-vocabulary batch would certify 0 == 0 spans, which
    # proves nothing about the probe path
    probe_batch = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    p_stream = span_probe_index(probe_batch, spark, idx_cut)
    p_ref = span_probe_index(probe_batch, spark, idx_ref)
    probe_diff = (p_stream.exceptAll(p_ref).count()
                  + p_ref.exceptAll(p_stream).count())
    n_probe = p_stream.count()
    probe_ok = probe_diff == 0 and n_probe > 0
    report.append(
        f"| span_probe_index(stream idx) == probe(replay idx) | "
        f"{'PASS' if probe_ok else 'FAIL'} | {n_probe} spans on a fresh "
        f"corpus-copy batch (must be > 0), diff {probe_diff} |")

    ok = maintain_ok and cut_ok and probe_ok
    fh = sys.stdout
    fh.write("# SPAN_STREAM_HEAPS — streaming span loop at the "
             "heaps1 decade\n\n")
    fh.write(
        f"Corpus: `{docs_path}` ({n_docs} docs, 10x sf0.1), split "
        f"into {n_batches} file-stream batches "
        f"(`maxFilesPerTrigger=1`), local[{CPUS}], 16g.  Stream == "
        "batch semantics asserted three ways; generated by "
        "`tools/span_stream_heaps.py`.  Drift probe: "
        f"{cal['probe_s']} s vs ref {cal['probe_ref_s']} s "
        f"(drift_factor {cal['drift_factor']}).\n\n")
    fh.write("| assertion | verdict | detail |\n|---|---|---|\n")
    fh.write("\n".join(report) + "\n")
    fh.write(f"\n**Overall: {'PASS' if ok else 'FAIL'}.**\n")
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
