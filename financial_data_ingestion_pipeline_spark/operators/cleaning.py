"""Tick cleaning / normalization (dp:77-94, 223-250; P1-P5, F1-F3).

The reference's per-file pandas loop becomes one declarative ``select``
over the whole distributed dataset: suffix strip via regexp_replace
(P1, no Python UDF — dp:79's ``.apply`` lambda is U1, eliminated),
Date+' '+Time -> timestamp (P2), numeric coercion with NULL-on-garbage
(P3, ``try_cast`` = ``pd.to_numeric(errors='coerce')``), projection
(P4) and warehouse renames (P5).  The entire transform whole-stage
codegens into a single pass over the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import TICK_MEASURES, TICK_TO_WAREHOUSE


def clean_ticks(raw: DataFrame, symbol_suffix: str = r"\.NSE$") -> DataFrame:
    """Raw tick CSV rows (:func:`...sources.ingest.read_tick_csvs`) ->
    cleaned tick schema (dp:79-90) plus the ``trade_date`` key.

    - ``Ticker``: strip the exchange suffix (dp:79).
    - ``Timestamp``: parse ``Date || ' ' || Time`` (dp:80); unparseable
      -> NULL (``try_to_timestamp``).
    - measures: string -> double, garbage -> NULL (dp:82-88).
    - ``trade_date``: the tick's day, ``to_date(Timestamp)``, or the
      folder's day when the timestamp does not parse — the warehouse
      partition, so an undated tick lands with the rest of its day.
    """
    ts = F.try_to_timestamp(F.concat_ws(" ", "Date", "Time")).cast(
        "timestamp_ntz"
    )
    return raw.select(
        F.regexp_replace(F.col("Ticker"), symbol_suffix, "").alias("Ticker"),
        ts.alias("Timestamp"),
        *[F.expr(f"try_cast({c} AS double)").alias(c) for c in TICK_MEASURES],
        F.coalesce(F.to_date(ts), F.col("trade_date")).alias("trade_date"),
    )


def to_warehouse(clean: DataFrame) -> DataFrame:
    """Cleaned tick schema -> warehouse column names (dp:228-238, P5),
    keeping the ``trade_date`` partition key."""
    return clean.select(
        *[F.col(src).alias(dst) for src, dst in TICK_TO_WAREHOUSE.items()],
        "trade_date",
    )


def parse_event_props(
    events: DataFrame,
    props_schema: str = "k BIGINT",
    props_col: str = "props",
) -> DataFrame:
    """Schema-on-read flattening of the JSON ``props`` payload.

    ``from_json`` with an EXPLICIT schema (never ``schema_of_json``
    inference, which needs a driver-side sample pass and can drift
    between runs): parsing happens JVM-side inside the projection —
    whole-stage codegen, no Python — and malformed or missing keys
    become NULL, matching the cleaning layer's garbage->NULL policy.
    The struct is flattened in the same select, so Catalyst prunes
    unreferenced JSON fields from the parse.

    Output: the event row with each payload field as a typed column.
    """
    parsed = events.withColumn(
        "__p", F.from_json(F.col(props_col), props_schema)
    )
    fields = parsed.schema["__p"].dataType.fieldNames()
    return parsed.select(
        *[c for c in events.columns if c != props_col],
        *[F.col(f"__p.{f}").alias(f) for f in fields],
    )
