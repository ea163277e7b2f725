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
- zips are unpacked on the driver by ``extract_zip_files``, mirroring
  dp:53-59; the scan then reads the extracted tree.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TICK_RAW_SCHEMA

#: folder convention STOCK_TICK_DDMMYYYY (dp:16); the regex also accepts
#: a path separator or end-of-string after the date digits.
_FOLDER_DATE_RE = r"STOCK_TICK_(\d{2})(\d{2})(\d{4})"


def extract_zip_files(zip_folder: str, out_dir: str | None = None) -> list[str]:
    """Driver-side unzip of every ``*.zip`` in ``zip_folder`` (dp:53-59).

    Returns the extraction roots.
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
