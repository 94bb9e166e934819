"""Query engine facade: tick scans, OHLC with on-demand resampling,
coverage, pagination (SURVEY §2.B/F, §3.1-3.2).

Every method builds a declarative DataFrame plan; Catalyst handles
predicate pushdown + partition pruning (the reference's primary-index range
scans, clickhouse_query_engine.py:108-129). ``end_date`` inclusivity
replicates the reference exactly: a bare ``YYYY-MM-DD`` end is parsed as
that day's midnight and compared with ``<=`` — inclusive of the day-start
instant only (clickhouse_query_engine.py:111-117; SURVEY.md §2.B2).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exness_data_preprocess_spark.models import (
    TIMEFRAME_MINUTES,
    CursorResult,
    validate_pair,
    validate_timeframe,
    validate_variant,
)
from exness_data_preprocess_spark.operators.coverage import get_data_coverage
from exness_data_preprocess_spark.operators.pagination import (
    iter_batches,
    paginate_keyset,
)
from exness_data_preprocess_spark.operators.resample import resample_ohlc
from exness_data_preprocess_spark.sources.catalog import ParquetCatalog


def _ym(date_str: str) -> str:
    """Date string → 'yyyyMM' partition key.

    Parsed and re-padded, NOT sliced (review find): Spark's timestamp
    cast accepts '2024-1-5', but a sliced '20241' compares
    lexicographically BELOW '202401'..'202409', so the redundant
    partition bound silently excluded the months the timestamp
    predicate selected — wrong results, not an error."""
    import pandas as pd

    d = pd.Timestamp(date_str)
    return f"{d.year:04d}{d.month:02d}"


def _range_filter(
    df: DataFrame,
    instrument: str,
    start_date: str | None,
    end_date: str | None,
) -> DataFrame:
    """Instrument + date-range predicates, with redundant ``year_month``
    bounds so the month partition directories prune (SURVEY §4: Spark
    cannot derive partition pruning from ``timestamp`` predicates alone —
    the reference gets this for free from ``PARTITION BY
    toYYYYMM(timestamp)``). ``yyyyMM`` strings compare lexicographically,
    so the bounds are plain string comparisons on the partition column.
    """
    out = df.filter(F.col("instrument") == instrument)
    prunable = "year_month" in out.columns
    if start_date:
        out = out.filter(F.col("timestamp") >= F.lit(start_date).cast("timestamp"))
        if prunable:
            out = out.filter(F.col("year_month") >= _ym(start_date))
    if end_date:
        # end_date parses to that day's midnight (B2 inclusivity quirk);
        # its month is still the last month that can contain rows.
        out = out.filter(F.col("timestamp") <= F.lit(end_date).cast("timestamp"))
        if prunable:
            out = out.filter(F.col("year_month") <= _ym(end_date))
    return out


def _page(df: DataFrame, limit: int | None, offset: int | None) -> DataFrame:
    if offset:
        df = df.offset(offset)
    if limit:
        df = df.limit(limit)
    return df


def _sorted_on_driver(df: DataFrame) -> pd.DataFrame:
    """Collect an unordered plan and order it by ``timestamp`` in pandas.

    Every row lands on the driver anyway, so a Spark ``orderBy`` here
    would only add a range-partition sampling job and a shuffle. The
    sort is stable with NaT first, Spark's ascending NULLS FIRST; the
    timestamp is unique per instrument in every table and resample, so
    the order is fully determined."""
    pdf = df.toPandas()
    return pdf.sort_values(
        "timestamp", kind="stable", na_position="first", ignore_index=True
    )


class SparkQueryEngine:
    """DataFrame-plan twin of the reference's ClickHouseQueryEngine.

    Read path: every table resolves through ``ParquetCatalog.read`` with
    its declared schema, so building a query infers nothing from parquet
    footers. Where the result is sorted depends on who consumes it:

    - ``query_*_df`` end in a Spark ``orderBy("timestamp")``: the frame
      is the Spark-side contract, ordered for any consumer, and the
      registry's oracle checks it.
    - ``query_ticks`` / ``query_ohlc`` without ``limit``/``offset``
      collect the unordered plan and sort it on the driver (stable, NaT
      first): all rows land there anyway, and a distributed sort of a
      collected result costs a sampling job plus a shuffle.
    - With ``limit`` or ``offset`` the page boundary needs the global
      order, so those keep the Spark ``orderBy``.
    - Pagination keeps its keyset ``orderBy`` + ``limit``; coverage
      needs no order.
    """

    def __init__(self, spark: SparkSession, catalog: ParquetCatalog):
        self.spark = spark
        self.catalog = catalog

    # -- scans --------------------------------------------------------------
    def ticks_df(self, variant: str = "raw_spread") -> DataFrame:
        validate_variant(variant)
        return self.catalog.read(self.spark, f"{variant}_ticks")

    def ohlc_df(self) -> DataFrame:
        return self.catalog.read(self.spark, "ohlc_1m")

    # -- queries (clickhouse_query_engine.py:66-132) -------------------------
    def _ticks_plan(
        self,
        instrument: str,
        variant: str,
        start_date: str | None,
        end_date: str | None,
    ) -> DataFrame:
        inst = validate_pair(instrument)
        df = _range_filter(self.ticks_df(variant), inst, start_date, end_date)
        return df.select("timestamp", "bid", "ask")

    def query_ticks_df(
        self,
        instrument: str = "EURUSD",
        variant: str = "raw_spread",
        start_date: str | None = None,
        end_date: str | None = None,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """DataFrame-returning tick scan — the Spark-native surface; the
        pandas twin below is the reference-parity API edge (A6)."""
        df = self._ticks_plan(instrument, variant, start_date, end_date)
        return _page(df.orderBy("timestamp"), limit, offset)

    def query_ticks(
        self,
        instrument: str = "EURUSD",
        variant: str = "raw_spread",
        start_date: str | None = None,
        end_date: str | None = None,
        limit: int | None = None,
        offset: int | None = None,
    ) -> pd.DataFrame:
        if limit or offset:
            return self.query_ticks_df(
                instrument, variant, start_date, end_date, limit, offset
            ).toPandas()
        return _sorted_on_driver(
            self._ticks_plan(instrument, variant, start_date, end_date)
        )

    # -- OHLC + resample (clickhouse_query_engine.py:134-277) ---------------
    def _ohlc_plan(
        self,
        instrument: str,
        timeframe: str,
        start_date: str | None,
        end_date: str | None,
    ) -> DataFrame:
        inst = validate_pair(instrument)
        validate_timeframe(timeframe)
        minutes = TIMEFRAME_MINUTES[timeframe]
        df = _range_filter(self.ohlc_df(), inst, start_date, end_date)
        if minutes > 1:
            return resample_ohlc(df, minutes)
        return df.drop("year_month")

    def query_ohlc_df(
        self,
        instrument: str = "EURUSD",
        timeframe: str = "1m",
        start_date: str | None = None,
        end_date: str | None = None,
        limit: int | None = None,
        offset: int | None = None,
    ) -> DataFrame:
        """DataFrame-returning OHLC query (direct 1m scan or resample)."""
        df = self._ohlc_plan(instrument, timeframe, start_date, end_date)
        return _page(df.orderBy("timestamp"), limit, offset)

    def query_ohlc(
        self,
        instrument: str = "EURUSD",
        timeframe: str = "1m",
        start_date: str | None = None,
        end_date: str | None = None,
        limit: int | None = None,
        offset: int | None = None,
    ) -> pd.DataFrame:
        if limit or offset:
            return self.query_ohlc_df(
                instrument, timeframe, start_date, end_date, limit, offset
            ).toPandas()
        return _sorted_on_driver(
            self._ohlc_plan(instrument, timeframe, start_date, end_date)
        )

    # -- coverage / instruments (clickhouse_query_engine.py:279-388) --------
    def get_data_coverage(self, instrument: str = "EURUSD"):
        return get_data_coverage(
            self.ticks_df("raw_spread"),
            self.ticks_df("standard"),
            self.ohlc_df(),
            validate_pair(instrument),
        )

    def get_instruments(self) -> list[str]:
        rows = (
            self.ticks_df("raw_spread")
            .select("instrument")
            .distinct()
            .orderBy("instrument")
            .collect()
        )
        return [r["instrument"] for r in rows]

    # -- pagination (clickhouse_query_engine.py:390-534) ---------------------
    def query_ticks_paginated(
        self,
        instrument: str = "EURUSD",
        variant: str = "raw_spread",
        cursor: str | None = None,
        page_size: int = 100_000,
        start_date: str | None = None,
        end_date: str | None = None,
    ) -> CursorResult:
        inst = validate_pair(instrument)
        df = _range_filter(self.ticks_df(variant), inst, start_date, end_date)
        return paginate_keyset(
            df.select("timestamp", "bid", "ask"), cursor, page_size
        )

    # -- SQL surface ---------------------------------------------------------
    def register_views(self) -> None:
        """Register the reference's five-table surface as temp views so
        users can run their existing SQL patterns
        (docs/CLICKHOUSE_USER_GUIDE.md:450-515) via ``sql()``:
        raw_spread_ticks, standard_ticks, ohlc_1m, exchange_sessions,
        holidays (clickhouse_manager.py:110-269)."""
        from exness_data_preprocess_spark.exchanges import EXCHANGES
        from exness_data_preprocess_spark.operators.sessions import (
            build_holidays_table,
        )

        for variant in ("raw_spread", "standard"):
            if self.catalog.exists(f"{variant}_ticks"):
                self.ticks_df(variant).createOrReplaceTempView(f"{variant}_ticks")
        if self.catalog.exists("ohlc_1m"):
            self.ohlc_df().createOrReplaceTempView("ohlc_1m")
        import datetime as dt

        # close hours carry dated amendments (TSE 15:00 → 15:30 on
        # 2024-11-05): the view reports the close CURRENTLY in effect
        # (close_on(today)) so it agrees with the session intervals,
        # plus the pre-amendment base for historical context (review
        # find: the static base hour showed TSE 15:00 after the change)
        _today = dt.date.today()
        ex_rows = [
            (c.code, c.name, c.timezone, c.open_hour, c.open_minute,
             *c.close_on(_today), c.close_hour, c.close_minute)
            for c in EXCHANGES.values()
        ]
        self.spark.createDataFrame(
            ex_rows,
            "code string, name string, timezone string, open_hour int, "
            "open_minute int, close_hour int, close_minute int, "
            "base_close_hour int, base_close_minute int",
        ).createOrReplaceTempView("exchange_sessions")

        lo_hi = None
        if self.catalog.exists("raw_spread_ticks"):
            lo_hi = self.ticks_df("raw_spread").agg(
                F.min("timestamp"), F.max("timestamp")
            ).first()
        if lo_hi and lo_hi[0] is not None:
            start, end = lo_hi[0].date(), lo_hi[1].date()
        else:
            today = dt.date.today()
            start, end = dt.date(today.year, 1, 1), dt.date(today.year, 12, 31)
        build_holidays_table(self.spark, start, end).createOrReplaceTempView(
            "holidays"
        )

    def invalidate_views(self) -> None:
        """Force the next ``sql()`` call to re-register the view surface.

        The session dims (holidays, and the tick min/max range they are
        built from) are snapshotted at registration time; any write that
        extends the tick date range must call this, or session joins
        against ``holidays`` silently drop the new months. The processor's
        write paths (``insert_ticks`` / ``regenerate_ohlc`` /
        ``update_data``) call it automatically — callers never need
        ``refresh_views=True`` for writes routed through the facade."""
        self._views_registered = False

    def describe_table(self, table: str) -> dict:
        """Table + column COMMENT metadata (the reference attaches COMMENTs
        to all five tables, clickhouse_manager.py:110-269)."""
        from exness_data_preprocess_spark.schema import describe_table

        return describe_table(table)

    def sql(self, query: str, refresh_views: bool = False) -> DataFrame:
        """Run SQL against the registered five-table surface (§3.1's SQL
        entry point, injection-safe via ``spark.sql`` parameterization at
        call sites).

        Views register once per engine (review find: registering on every
        call re-ran a full min/max tick scan and rebuilt the holiday
        table before each query); pass ``refresh_views=True`` after
        writes that change the tick date range the session dims cover."""
        if refresh_views or not getattr(self, "_views_registered", False):
            self.register_views()
            self._views_registered = True
        return self.spark.sql(query)

    def query_ticks_batches(
        self,
        instrument: str = "EURUSD",
        variant: str = "raw_spread",
        batch_size: int = 100_000,
        start_date: str | None = None,
        end_date: str | None = None,
        max_batches: int | None = None,
    ) -> Iterator[pd.DataFrame]:
        inst = validate_pair(instrument)
        df = _range_filter(self.ticks_df(variant), inst, start_date, end_date)
        return iter_batches(
            df.select("timestamp", "bid", "ask"), batch_size, "timestamp", max_batches
        )
