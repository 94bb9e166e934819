"""Explicit StructType schemas for every table the engine stores or derives.

Mirrors the reference's DDL-defined model (clickhouse_manager.py:110-269)
with Spark/Parquet-native types (SURVEY.md §1.2 mapping):

- ``DateTime64(6,'UTC')``  -> TimestampType (µs precision, session TZ=UTC)
- ``LowCardinality(String)`` -> StringType (parquet dictionary pages)
- ``UInt8`` flags/hours    -> IntegerType (kept as int 0/1 to match the
  reference's output shape, not boolean)
- ``Nullable(Float64)``    -> DoubleType nullable
"""

from __future__ import annotations

from pyspark.sql import types as T

from exness_data_preprocess_spark.exchanges import SESSION_FLAG_COLUMNS

# ---------------------------------------------------------------------------
# Tick streams (clickhouse_manager.py:151-184)
# ---------------------------------------------------------------------------
TICK_SCHEMA = T.StructType(
    [
        T.StructField("instrument", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("bid", T.DoubleType(), True),
        T.StructField("ask", T.DoubleType(), True),
    ]
)

# CSV ingress shape before normalization (tick_loader.py:37-67)
TICK_CSV_SCHEMA = T.StructType(
    [
        T.StructField("Timestamp", T.TimestampType(), True),
        T.StructField("Bid", T.DoubleType(), True),
        T.StructField("Ask", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Derived 1-minute bars: 27 physical columns (clickhouse_manager.py:193-229)
# ---------------------------------------------------------------------------
_OHLC_BASE_FIELDS = [
    T.StructField("instrument", T.StringType(), False),
    T.StructField("timestamp", T.TimestampType(), False),
    T.StructField("open", T.DoubleType(), True),
    T.StructField("high", T.DoubleType(), True),
    T.StructField("low", T.DoubleType(), True),
    T.StructField("close", T.DoubleType(), True),
    T.StructField("raw_spread_avg", T.DoubleType(), True),
    T.StructField("standard_spread_avg", T.DoubleType(), True),
    T.StructField("tick_count_raw_spread", T.LongType(), True),
    T.StructField("tick_count_standard", T.LongType(), True),
    T.StructField("ny_hour", T.IntegerType(), True),
    T.StructField("london_hour", T.IntegerType(), True),
    T.StructField("ny_session", T.StringType(), True),
    T.StructField("london_session", T.StringType(), True),
    T.StructField("is_us_holiday", T.IntegerType(), True),
    T.StructField("is_uk_holiday", T.IntegerType(), True),
    T.StructField("is_major_holiday", T.IntegerType(), True),
]

OHLC_1M_SCHEMA = T.StructType(
    _OHLC_BASE_FIELDS
    + [T.StructField(c, T.IntegerType(), True) for c in SESSION_FLAG_COLUMNS]
)

OHLC_1M_COLUMNS = [f.name for f in OHLC_1M_SCHEMA.fields]


def _stored_read_schema(schema: T.StructType) -> T.StructType:
    """The schema a stored table reads back with: its data columns, then
    the ``instrument`` and ``year_month`` partition columns, all
    nullable. This is exactly what partition discovery plus parquet
    footer inference return (``year_month=202401`` directories infer as
    int), so supplying it changes no column, only skips the footer
    read."""
    data = [
        T.StructField(f.name, f.dataType, True)
        for f in schema.fields
        if f.name != "instrument"
    ]
    return T.StructType(
        data
        + [
            T.StructField("instrument", T.StringType(), True),
            T.StructField("year_month", T.IntegerType(), True),
        ]
    )


TICK_READ_SCHEMA = _stored_read_schema(TICK_SCHEMA)
OHLC_1M_READ_SCHEMA = _stored_read_schema(OHLC_1M_SCHEMA)

# Resampled output adds 4 nullable derived ratios
# (clickhouse_query_engine.py:258-261)
DERIVED_RATIO_COLUMNS = [
    "range_per_spread",
    "range_per_tick",
    "body_per_spread",
    "body_per_tick",
]

# ---------------------------------------------------------------------------
# Dimension tables (clickhouse_manager.py:236-269)
# ---------------------------------------------------------------------------
EXCHANGE_SESSIONS_SCHEMA = T.StructType(
    [
        T.StructField("exchange_code", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("timezone", T.StringType(), False),
        T.StructField("open_hour", T.IntegerType(), False),
        T.StructField("open_minute", T.IntegerType(), False),
        T.StructField("close_hour", T.IntegerType(), False),
        T.StructField("close_minute", T.IntegerType(), False),
        T.StructField("base_close_hour", T.IntegerType(), False),
        T.StructField("base_close_minute", T.IntegerType(), False),
    ]
)

HOLIDAYS_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType(), False),
        T.StructField("exchange_code", T.StringType(), False),
        T.StructField("holiday_name", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Training-data pipeline tables (documents / embeddings, TESTDATA.md)
# ---------------------------------------------------------------------------
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

# Multimodal assets: opaque binary payload + typed metadata
# (image/audio/video decode is stubbed; plumbing is real — see
# operators/multimodal.py)
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Table / column COMMENT metadata (clickhouse_manager.py:110-269 attaches
# COMMENTs to all five tables; Spark's analog is StructField metadata,
# surfaced through describe_table()).
# ---------------------------------------------------------------------------
TABLE_COMMENTS: dict[str, str] = {
    "raw_spread_ticks": (
        "Primary tick variant: execution prices, ~98% zero-spread rows; "
        "partitioned by (instrument, year_month), sorted by timestamp"
    ),
    "standard_ticks": (
        "Reference tick variant: quoted prices, bid always < ask; same "
        "layout as raw_spread_ticks"
    ),
    "ohlc_1m": (
        "Derived 1-minute bars: OHLC from raw bids, spread averages from "
        "the asof-joined variants, timezone/session/holiday enrichment"
    ),
    "exchange_sessions": "Static lookup of the 10 tracked exchanges",
    "holidays": "Holiday calendar rows per exchange for the covered range",
}

_TICK_COLUMN_COMMENTS = {
    "instrument": "currency pair, uppercase (closed 10-pair domain)",
    "timestamp": "event time, UTC, microsecond precision",
    "bid": "bid price",
    "ask": "ask price",
}

_OHLC_COLUMN_COMMENTS = {
    "instrument": "currency pair, uppercase",
    "timestamp": "minute-bucket start, UTC",
    "open": "first raw bid in the minute (argMin by timestamp)",
    "high": "max raw bid in the minute",
    "low": "min raw bid in the minute",
    "close": "last raw bid in the minute (argMax by timestamp)",
    "raw_spread_avg": "avg(ask-bid) over raw ticks; NULL when no ticks",
    "standard_spread_avg": "avg matched standard spread via asof join",
    "tick_count_raw_spread": "raw ticks in the minute",
    "tick_count_standard": "raw ticks with an asof-matched standard tick",
    "ny_hour": "hour of bucket start in America/New_York",
    "london_hour": "hour of bucket start in Europe/London",
    "ny_session": "NY session label (Session/After_Hours/Closed)",
    "london_session": "London session label (Session/Closed)",
    "is_us_holiday": "1 if NYSE holiday",
    "is_uk_holiday": "1 if LSE holiday",
    "is_major_holiday": "1 if both NYSE and LSE holiday",
}

COLUMN_COMMENTS: dict[str, dict[str, str]] = {
    "raw_spread_ticks": _TICK_COLUMN_COMMENTS,
    "standard_ticks": _TICK_COLUMN_COMMENTS,
    "ohlc_1m": {
        **_OHLC_COLUMN_COMMENTS,
        **{
            c: f"1 if the {c.removeprefix('is_').removesuffix('_session').upper()} "
            "exchange is open at bucket start (holiday/lunch-break aware)"
            for c in SESSION_FLAG_COLUMNS
        },
    },
    "exchange_sessions": {
        "exchange_code": "MIC-style short code",
        "name": "exchange display name",
        "timezone": "IANA timezone of the trading calendar",
        "open_hour": "local opening hour",
        "open_minute": "local opening minute",
        "close_hour": "local closing hour currently in effect "
                      "(dated amendments honored, e.g. TSE 15:30 "
                      "since 2024-11-05)",
        "close_minute": "local closing minute currently in effect",
        "base_close_hour": "closing hour before any dated amendment",
        "base_close_minute": "closing minute before any dated amendment",
    },
    "holidays": {
        "date": "holiday date (exchange-local)",
        "exchange_code": "exchange the holiday applies to",
        "holiday_name": "holiday label",
    },
}


def with_comments(schema: T.StructType, table: str) -> T.StructType:
    """Return ``schema`` with column COMMENTs attached as field metadata —
    the Spark twin of the reference's ``COMMENT`` clauses. Metadata
    survives parquet round-trips and shows in ``describe_table``."""
    comments = COLUMN_COMMENTS.get(table, {})
    return T.StructType(
        [
            T.StructField(
                f.name,
                f.dataType,
                f.nullable,
                {**(f.metadata or {}), "comment": comments[f.name]}
                if f.name in comments
                else f.metadata,
            )
            for f in schema.fields
        ]
    )


def describe_table(table: str, schema: T.StructType | None = None):
    """(column, type, comment) rows + the table COMMENT — the reference's
    ``DESCRIBE``/system.tables surface (clickhouse_manager.py:110-269)."""
    if schema is None:
        schema = {
            "raw_spread_ticks": TICK_SCHEMA,
            "standard_ticks": TICK_SCHEMA,
            "ohlc_1m": OHLC_1M_SCHEMA,
            "exchange_sessions": EXCHANGE_SESSIONS_SCHEMA,
            "holidays": HOLIDAYS_SCHEMA,
        }[table]
    comments = COLUMN_COMMENTS.get(table, {})
    return {
        "table": table,
        "comment": TABLE_COMMENTS.get(table, ""),
        "columns": [
            {
                "name": f.name,
                "type": f.dataType.simpleString(),
                "comment": comments.get(f.name, ""),
            }
            for f in schema.fields
        ],
    }
