"""JSONL corpus source — the interchange format of LLM training
data (one JSON document per line, typically gzip'd, sharded across
thousands of files).

The reference pipeline's only sources are CSV trees and zips
(``data_platform_final.py`` dp:53-94); a 100 TB training-data engine
additionally speaks JSONL.  Same design stance as the CSV path:

- **explicit schema, never inference** — schema inference reads the
  whole dataset twice and silently unifies drifting types; production
  scans pass a fixed ``StructType`` so the JSON parser vectorizes and
  bad documents surface instead of widening columns.
- **corrupt-record quarantine, not job failure** — one mangled line
  among billions must not kill an ingest.  PERMISSIVE mode routes
  unparseable lines into a quarantine column (the cleaning layer's
  garbage->NULL philosophy, dp:82-88, applied to whole records);
  :func:`quarantine_split` separates them for a dead-letter sink.
- **line-splittable parallelism** — JSONL with per-line records splits
  on newlines, so every HDFS/S3 block becomes a task without any
  up-front listing work beyond the file manifest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

#: Column that PERMISSIVE parsing routes unparseable lines into.
CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> DataFrame:
    """Read a JSONL file/tree with a fixed schema.

    The returned frame carries an extra ``_corrupt_record`` string
    column: NULL for clean rows, the raw line for unparseable ones.
    Pass the result to :func:`quarantine_split` to separate the dead
    letters.

    Implementation note: this reads the tree as *text* and parses with
    ``from_json`` instead of ``spark.read.json``.  Spark forbids
    queries that touch only the corrupt-record column of a raw JSON
    scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) and
    its documented workaround is caching the scan — a non-starter at
    corpus scale.  text + ``from_json`` has no such restriction, is
    the same single pass over the bytes, and keeps the raw line
    available for the dead-letter sink for free.
    """
    parse_schema = StructType(
        [f for f in schema.fields if f.name != CORRUPT_COL]
        + [StructField(CORRUPT_COL, StringType())]
    )
    parsed = spark.read.text(path).select(
        F.from_json(
            F.col("value"),
            parse_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("_r")
    )
    return parsed.select("_r.*")


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows, dead_letters) from a :func:`read_jsonl` frame.

    Clean rows drop the quarantine column; dead letters keep only the
    raw line (everything else is NULL for a corrupt row anyway).
    """
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad
