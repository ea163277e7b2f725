"""Tick-data ingestion: zips -> CSV tree -> raw tick DataFrame (S1-S2, F8).

The reference (``data_platform_final.py``) does this as two sequential
Airflow tasks: ``extract_zip_files`` (dp:53-59) unzips every archive in
a folder, then ``transform_data_to_parquet`` (dp:60-94) walks the
extracted tree and converts one CSV at a time with pandas.  Here the
whole tree is ONE lazy scan, cleaned and landed straight into the
warehouse by ``plans.pipeline`` (no intermediate parquet copy):

- ``spark.read.csv`` over the directory tree (``recursiveFileLookup``)
  replaces the ``os.walk`` loop (dp:73-76) — every file split becomes a
  Spark task, so per-file sequential work turns into source parallelism.
- the trading day is recovered from the folder name
  ``STOCK_TICK_DDMMYYYY`` (``convert_folder_name``, dp:15-32) as a
  *column* via ``input_file_name()`` + ``regexp_extract`` — no driver
  loop.
- zip handling has two paths: a driver-side ``extract_zip_files``
  mirroring dp:53-59 for small batches, and a fully distributed
  ``read_zipped_tick_csvs`` (``binaryFile`` scan + ``mapInPandas``
  unzip) for the 100 TB case where a driver-side unzip is the
  bottleneck — each executor opens its own archives and emits raw tick
  rows, so ingest scales with the number of zip files.
"""

from __future__ import annotations

import os
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TICK_RAW_SCHEMA

#: folder convention STOCK_TICK_DDMMYYYY (dp:16); the regex also accepts
#: a path separator or end-of-string after the date digits.
_FOLDER_DATE_RE = r"STOCK_TICK_(\d{2})(\d{2})(\d{4})"


def extract_zip_files(zip_folder: str, out_dir: str | None = None) -> list[str]:
    """Driver-side unzip of every ``*.zip`` in ``zip_folder`` (dp:53-59).

    Kept for small batches / parity with the reference; the scale path
    is :func:`read_zipped_tick_csvs`.  Returns the extraction roots.
    """
    out_dir = out_dir or os.path.join(zip_folder, "extracted_data")
    os.makedirs(out_dir, exist_ok=True)
    roots = []
    for name in sorted(os.listdir(zip_folder)):
        if name.endswith(".zip"):
            with zipfile.ZipFile(os.path.join(zip_folder, name)) as zf:
                zf.extractall(out_dir)
            roots.append(out_dir)
    return roots


def folder_trade_date(path_col=None):
    """Column expression: trading day parsed from the folder name in the
    file path (``convert_folder_name``, dp:15-32), NULL if absent."""
    path_col = F.input_file_name() if path_col is None else path_col
    dd = F.regexp_extract(path_col, _FOLDER_DATE_RE, 1)
    mm = F.regexp_extract(path_col, _FOLDER_DATE_RE, 2)
    yyyy = F.regexp_extract(path_col, _FOLDER_DATE_RE, 3)
    return F.when(
        dd != "", F.make_date(yyyy.cast("int"), mm.cast("int"), dd.cast("int"))
    ).otherwise(F.lit(None).cast("date"))


def read_tick_csvs(spark: SparkSession, root: str) -> DataFrame:
    """Scan every per-ticker CSV under ``root`` as ONE DataFrame (S2).

    Fixed schema (no inference — SURVEY.md §1.3); adds ``source_file``
    and folder-derived ``trade_date`` columns.  One Spark task per file
    split replaces the reference's per-file loop (dp:73-94).
    """
    raw = spark.read.csv(
        root,
        header=True,
        schema=TICK_RAW_SCHEMA,
        recursiveFileLookup=True,
        pathGlobFilter="*.csv",
    )
    return raw.withColumn("source_file", F.input_file_name()).withColumn(
        "trade_date", folder_trade_date()
    )


def read_zipped_tick_csvs(spark: SparkSession, zip_glob: str) -> DataFrame:
    """Distributed zip ingest (S1 at scale): ``binaryFile`` scan of the
    archives + per-executor unzip via ``mapInPandas``.

    Each zip becomes one input row (path, bytes); the Arrow-batched
    python worker opens the archive and parses every member CSV with
    pandas, emitting raw tick rows tagged with ``source_file`` and the
    folder-derived ``trade_date``.  Ingest throughput scales with the
    number of archives — no driver-side extraction step at all.
    """
    import re

    import pandas as pd

    out_schema = "source_file STRING, trade_date DATE, " + ", ".join(
        f"{f.name} STRING" for f in TICK_RAW_SCHEMA.fields
    )
    raw_cols = [f.name for f in TICK_RAW_SCHEMA.fields]
    date_re = re.compile(_FOLDER_DATE_RE)

    def unzip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        for batch in batches:
            for _, row in batch.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    for member in zf.namelist():
                        if not member.endswith(".csv"):
                            continue
                        try:
                            pdf = pd.read_csv(io.BytesIO(zf.read(member)), dtype=str)
                        except (pd.errors.EmptyDataError, pd.errors.ParserError):
                            # one zero-byte/garbled member must not fail
                            # the task (and with it the whole ingest job)
                            # — mirror the cleaning layer's garbage->NULL
                            # philosophy by skipping it
                            continue
                        for c in raw_cols:
                            if c not in pdf.columns:
                                pdf[c] = None
                        pdf = pdf[raw_cols]
                        m = date_re.search(member) or date_re.search(row["path"])
                        pdf.insert(0, "source_file", f"{row['path']}!{member}")
                        pdf.insert(
                            1,
                            "trade_date",
                            pd.Timestamp(
                                year=int(m.group(3)), month=int(m.group(2)), day=int(m.group(1))
                            ).date()
                            if m
                            else None,
                        )
                        yield pdf

    archives = spark.read.format("binaryFile").load(zip_glob).select("path", "content")
    return archives.mapInPandas(unzip, schema=out_schema)
