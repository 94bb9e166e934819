"""Coverage report (SURVEY M7/D4/D5).

Reference (clickhouse_query_engine.py:279-375): tick counts via a tagged
UNION ALL + ``countIf``, OHLC count, min/max timestamp range, derived
``date_range_days``; all packaged into ``CoverageInfo``.

Spark-first: the facade extends the reference's tagged union to all three
tables and answers every number in ONE aggregation over it — each table is
scanned once (pruned to the instrument), and the whole report costs one
shuffle-map job plus one result job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from exness_data_preprocess_spark.models import CoverageInfo


def get_data_coverage(
    raw: DataFrame,
    std: DataFrame,
    ohlc: DataFrame,
    instrument: str,
    database: str = "exness",
) -> CoverageInfo:
    """Assemble CoverageInfo (clickhouse_query_engine.py:279-375).

    One aggregation over a tagged UNION ALL of the three pruned scans:
    raw count/min/max and the standard and bar counts come back in one
    row. Only the raw branch carries ``timestamp``; the count-only
    branches project a NULL in its place, so their scans read no data
    column. The report costs two Spark jobs; one aggregate per table
    would cost two each."""
    inst = instrument.upper()

    def tagged(df: DataFrame, tag: str, ts) -> DataFrame:
        return df.filter(F.col("instrument") == inst).select(
            F.lit(tag).alias("t"), ts.alias("ts")
        )

    no_ts = F.lit(None).cast("timestamp")
    u = (
        tagged(raw, "raw", F.col("timestamp"))
        .unionAll(tagged(std, "std", no_ts))
        .unionAll(tagged(ohlc, "ohlc", no_ts))
    )
    row = u.agg(
        *[
            F.count(F.when(F.col("t") == tag, 1)).alias(tag)
            for tag in ("raw", "std", "ohlc")
        ],
        F.min("ts").alias("earliest"),
        F.max("ts").alias("latest"),
    ).first()
    earliest, latest = row["earliest"], row["latest"]
    # timedelta.days truncation is DELIBERATE reference parity
    # (clickhouse_query_engine.py:356 computes exactly this)
    date_range_days = (latest - earliest).days if earliest and latest else 0

    return CoverageInfo(
        database=database,
        storage_bytes=0,
        raw_spread_ticks=row["raw"],
        standard_ticks=row["std"],
        ohlc_bars=row["ohlc"],
        earliest_date=str(earliest) if earliest else None,
        latest_date=str(latest) if latest else None,
        date_range_days=date_range_days,
    )
