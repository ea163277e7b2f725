"""Crash-resume proof: failure injection at the seams the corpus
pipeline claims to be reproducible across.

The claim under test (docstring of `plans/corpus_pipeline.py`): a
corpus build that dies between stages (or leaves a partial output)
reproduces the exact same corpus when re-run — the reproducible
data-release contract.
"""

from __future__ import annotations

import glob
import os

import pytest

# slow tier (round 12): every test here re-runs a multi-stage corpus
# build around an injected crash (the two biggest are ~280 s and
# ~200 s) — run with `-m slow`
pytestmark = pytest.mark.slow


class Boom(RuntimeError):
    """Injected failure standing in for a killed driver/executor."""


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.select(cols).collect())


def test_corpus_pipeline_crash_between_stages_then_rerun(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill the corpus build between the domain-cap stage and the
    shuffle/write, then re-run into the same directory: the finished
    corpus must be row-identical to an uninterrupted build into a
    clean directory, with no orphan files in the output tree."""
    import financial_data_ingestion_pipeline_spark.plans.corpus_pipeline as cp
    from financial_data_ingestion_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")

    # baseline: uninterrupted run
    clean_out = str(tmp_path / "clean")
    cp.run_corpus_pipeline(spark, docs, clean_out, min_tokens=5)
    baseline = _rows(spark.read.parquet(clean_out + "/corpus"))

    crash_out = str(tmp_path / "crashy")
    real_shuffle = cp.shuffle_order

    def dying_shuffle(*args, **kwargs):
        raise Boom("killed between domain-cap and shuffle stages")

    monkeypatch.setattr(cp, "shuffle_order", dying_shuffle)
    with pytest.raises(Boom):
        cp.run_corpus_pipeline(spark, docs, crash_out, min_tokens=5)
    monkeypatch.setattr(cp, "shuffle_order", real_shuffle)
    # nothing was published for the corpus
    assert not os.path.exists(os.path.join(crash_out, "corpus", "_SUCCESS"))

    # resume = re-run the deterministic build into the same directory
    counts = cp.run_corpus_pipeline(spark, docs, crash_out, min_tokens=5)
    assert _rows(spark.read.parquet(crash_out + "/corpus")) == baseline
    assert counts["written"] == len(baseline)

    # output tree is clean: only split partitions + _SUCCESS
    entries = os.listdir(os.path.join(crash_out, "corpus"))
    assert all(
        e == "_SUCCESS" or e.startswith("split=") or e.startswith(".")
        for e in entries
    ), entries


def test_corpus_pipeline_overwrites_partial_output(spark, sf_dir, tmp_path):
    """A run that died MID-WRITE leaves partial parquet under
    corpus/; the re-run's overwrite mode must replace it wholesale —
    the rerun result equals a clean run, junk rows don't survive."""
    import financial_data_ingestion_pipeline_spark.plans.corpus_pipeline as cp
    from financial_data_ingestion_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")

    clean_out = str(tmp_path / "clean")
    cp.run_corpus_pipeline(spark, docs, clean_out, min_tokens=5)
    baseline = _rows(spark.read.parquet(clean_out + "/corpus"))

    # fake a torn write: partial parquet data already under corpus/,
    # no _SUCCESS marker
    partial_out = str(tmp_path / "partial")
    junk = spark.createDataFrame(
        [(999_999, "junk row from the dead attempt", "xx", "junk", 1,
          0, 0, "train")],
        "doc_id long, text string, lang string, source string, "
        "n_chars int, global_pos long, shard int, split string",
    )
    junk.write.partitionBy("split").parquet(
        os.path.join(partial_out, "corpus")
    )
    os.remove(os.path.join(partial_out, "corpus", "_SUCCESS"))

    cp.run_corpus_pipeline(spark, docs, partial_out, min_tokens=5)
    got = _rows(spark.read.parquet(partial_out + "/corpus"))
    assert got == baseline  # junk gone, corpus identical to clean run
    assert glob.glob(os.path.join(partial_out, "corpus", "_SUCCESS"))
