"""Explicit schemas — the engine never infers schemas in production paths
(reference declares fixed DDL/Arrow schemas:
``spark_csv_parquet_converter_ver_1.py:66-67``,
``csv_to_parquet_converter.py:21-26``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw ingested CSV tick schema (reference
# spark_csv_parquet_converter_ver_1.py:67). DateTime stays STRING at scan
# time; parsing to timestamp is an explicit operator (operators.ticks.parse_ticks).
TICKS_RAW_DDL = "DateTime STRING, Bid DOUBLE, Ask DOUBLE, Volume DOUBLE"

TICKS_RAW = T.StructType(
    [
        T.StructField("DateTime", T.StringType(), True),
        T.StructField("Bid", T.DoubleType(), True),
        T.StructField("Ask", T.DoubleType(), True),
        T.StructField("Volume", T.DoubleType(), True),
    ]
)

# Timestamp format of the raw feed (spark_session_window_tick_cleaner.py:136).
TICKS_TS_FORMAT = "yyyyMMdd HH:mm:ss.SSS"

# Gold/cleaned tick schema, one table with `symbol` as a column (scales past
# the reference's table-per-symbol layout; gold schema per
# Apache Iceberg/metadata_layer.py:74-81 — datetime TIMESTAMP, bid/ask DOUBLE).
TICKS_CLEAN = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("bid", T.DoubleType(), True),
        T.StructField("ask", T.DoubleType(), True),
    ]
)

# Daily statistics output (symbol_statistics_generate.py:73-81).
DAILY_WINDOW_COUNTS = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("ticks_window1", T.LongType(), False),
        T.StructField("ticks_window2", T.LongType(), False),
    ]
)

# One JSON event of the live feeds (the socket and Kafka sources of
# sources.io): the events table's columns, ``ts`` parsed as a timestamp.
EVENTS_JSON = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
