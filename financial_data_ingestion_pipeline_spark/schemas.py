"""Explicit schemas (SURVEY.md §1.3-1.4).

The reference infers CSV types with pandas then coerces
(``data_platform_final.py:77-90``); production Spark paths never infer —
every source gets a fixed StructType, and bad numeric strings become
NULL via ``try_cast`` (the distributed analog of
``pd.to_numeric(errors='coerce')``, dp:82-88).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Raw per-ticker tick CSV (dp:79-90).  Measures arrive as strings and
#: may be dirty; cleaning casts them with try_cast -> NULL on garbage.
TICK_RAW_SCHEMA = T.StructType(
    [
        T.StructField("Ticker", T.StringType()),
        T.StructField("Date", T.StringType()),
        T.StructField("Time", T.StringType()),
        T.StructField("LTP", T.StringType()),
        T.StructField("BuyPrice", T.StringType()),
        T.StructField("BuyQty", T.StringType()),
        T.StructField("SellPrice", T.StringType()),
        T.StructField("SellQty", T.StringType()),
        T.StructField("LTQ", T.StringType()),
        T.StructField("OpenInterest", T.StringType()),
    ]
)

#: Cleaned tick schema (projection at dp:90).
TICK_CLEAN_SCHEMA = T.StructType(
    [
        T.StructField("Ticker", T.StringType()),
        T.StructField("Timestamp", T.TimestampNTZType()),
        T.StructField("LTP", T.DoubleType()),
        T.StructField("BuyPrice", T.DoubleType()),
        T.StructField("BuyQty", T.DoubleType()),
        T.StructField("SellPrice", T.DoubleType()),
        T.StructField("SellQty", T.DoubleType()),
        T.StructField("LTQ", T.DoubleType()),
        T.StructField("OpenInterest", T.DoubleType()),
    ]
)

#: Warehouse table ``second_level_data`` (DDL dp:194-204, renames dp:228-238).
WAREHOUSE_SCHEMA = T.StructType(
    [
        T.StructField("source_symbol", T.StringType()),
        T.StructField("timestamp", T.TimestampNTZType()),
        T.StructField("ltp", T.DoubleType()),
        T.StructField("ltq", T.DoubleType()),
        T.StructField("oi", T.DoubleType()),
        T.StructField("bid", T.DoubleType()),
        T.StructField("bid_qty", T.DoubleType()),
        T.StructField("ask", T.DoubleType()),
        T.StructField("ask_qty", T.DoubleType()),
    ]
)

#: The landed warehouse table as read back: the rows plus the
#: ``trade_date`` partition column (the tick's day, see
#: ``operators.cleaning.clean_ticks``).
WAREHOUSE_TABLE_SCHEMA = T.StructType(
    WAREHOUSE_SCHEMA.fields + [T.StructField("trade_date", T.DateType())]
)

#: Column rename map, ingest names -> warehouse names (dp:228-238).
TICK_TO_WAREHOUSE = {
    "Ticker": "source_symbol",
    "Timestamp": "timestamp",
    "LTP": "ltp",
    "LTQ": "ltq",
    "OpenInterest": "oi",
    "BuyPrice": "bid",
    "BuyQty": "bid_qty",
    "SellPrice": "ask",
    "SellQty": "ask_qty",
}

#: Golden daily OHLC bhavcopy, columns the reference uses (dp:120-121,163-164).
BHAVCOPY_SCHEMA = T.StructType(
    [
        T.StructField("SYMBOL", T.StringType()),
        T.StructField("SERIES", T.StringType()),
        T.StructField("OPEN", T.DoubleType()),
        T.StructField("HIGH", T.DoubleType()),
        T.StructField("LOW", T.DoubleType()),
        T.StructField("CLOSE", T.DoubleType()),
        T.StructField("LAST", T.DoubleType()),
        T.StructField("PREVCLOSE", T.DoubleType()),
        T.StructField("TOTTRDQTY", T.LongType()),
        T.StructField("TOTTRDVAL", T.DoubleType()),
        T.StructField("TIMESTAMP", T.StringType()),
        T.StructField("TOTALTRADES", T.LongType()),
        T.StructField("ISIN", T.StringType()),
    ]
)

#: Measure columns checked by the data-quality predicate (dp:138-144).
TICK_MEASURES = ["LTP", "BuyPrice", "BuyQty", "SellPrice", "SellQty", "LTQ", "OpenInterest"]
WAREHOUSE_MEASURES = ["ltp", "ltq", "oi", "bid", "bid_qty", "ask", "ask_qty"]

#: Driver fixture tables (TESTDATA.md / FIXTURES.md §B).
FIXTURE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
