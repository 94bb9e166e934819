"""The read path: declared table schemas, driver-side result sorts, the
one-aggregation coverage report, and the regenerate checkpoint release."""

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from exness_data_preprocess_spark.models import CoverageInfo
from exness_data_preprocess_spark.processor import SparkDataProcessor

TABLES = ("raw_spread_ticks", "standard_ticks", "ohlc_1m")


@pytest.fixture(scope="module")
def proc(spark, tick_dfs, tmp_path_factory):
    p = SparkDataProcessor(spark, tmp_path_factory.mktemp("read_path"))
    raw, std = tick_dfs
    p.insert_ticks(raw, "raw_spread")
    p.insert_ticks(std, "standard")
    p.regenerate_ohlc("EURUSD")
    p.regenerate_ohlc("XAUUSD")
    return p


def test_empty_and_stored_reads_share_one_schema(spark, proc, tmp_path):
    """An empty table, a stored table and footer inference over the
    stored files give one schema, nullability included."""
    fresh = SparkDataProcessor(spark, tmp_path / "fresh")
    for table in TABLES:
        empty = fresh.catalog.read(spark, table).schema
        stored = proc.catalog.read(spark, table).schema
        inferred = spark.read.parquet(proc.catalog.path(table)).schema
        assert empty == stored == inferred, table
        assert stored.names[-2:] == ["instrument", "year_month"]
        assert stored["year_month"].dataType.simpleString() == "int"
        assert all(f.nullable for f in stored.fields)


def _twin_cases():
    pages = [(None, None), (25, None), (None, 3), (25, 3)]
    for limit, offset in pages:
        yield ("ticks", None, limit, offset)
        for tf in ("1m", "1h", "1d"):
            yield ("ohlc", tf, limit, offset)


@pytest.mark.parametrize("kind,timeframe,limit,offset", list(_twin_cases()))
def test_pandas_queries_equal_df_twins(proc, kind, timeframe, limit, offset):
    """The pandas surface equals ``query_*_df(...).toPandas()`` in
    values, dtypes and RangeIndex, whether it sorts on the driver (no
    page) or in Spark (limit/offset)."""
    eng = proc.engine
    if kind == "ticks":
        args = ("EURUSD", "raw_spread", "2024-01-01", "2024-03-31", limit, offset)
        got, want = eng.query_ticks(*args), eng.query_ticks_df(*args).toPandas()
    else:
        args = ("EURUSD", timeframe, None, None, limit, offset)
        got, want = eng.query_ohlc(*args), eng.query_ohlc_df(*args).toPandas()
    assert len(got) > 0
    assert isinstance(got.index, pd.RangeIndex)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def _coverage_per_table(proc, inst):
    """The per-table shape get_data_coverage replaced: a count/min/max
    aggregate over raw, then a count each over standard and bars."""
    eng = proc.engine
    raw = eng.ticks_df("raw_spread").filter(F.col("instrument") == inst)
    rng = raw.agg(
        F.count("*").alias("n"),
        F.min("timestamp").alias("lo"),
        F.max("timestamp").alias("hi"),
    ).first()
    std = eng.ticks_df("standard").filter(F.col("instrument") == inst).count()
    bars = 0
    if proc.catalog.exists("ohlc_1m"):
        bars = eng.ohlc_df().filter(F.col("instrument") == inst).count()
    lo, hi = rng["lo"], rng["hi"]
    return CoverageInfo(
        database="exness",
        storage_bytes=0,
        raw_spread_ticks=rng["n"],
        standard_ticks=std,
        ohlc_bars=bars,
        earliest_date=str(lo) if lo else None,
        latest_date=str(hi) if hi else None,
        date_range_days=(hi - lo).days if lo and hi else 0,
    )


def test_coverage_matches_per_table_aggregates(spark, proc, tick_dfs, tmp_path):
    """Empty store, ticks without bars, and a full store."""
    empty = SparkDataProcessor(spark, tmp_path / "empty")
    ticks_only = SparkDataProcessor(spark, tmp_path / "ticks_only")
    raw, std = tick_dfs
    ticks_only.insert_ticks(raw, "raw_spread")
    ticks_only.insert_ticks(std, "standard")
    for p in (empty, ticks_only, proc):
        for inst in ("EURUSD", "XAUUSD"):
            assert p.get_data_coverage(inst) == _coverage_per_table(p, inst)
    assert empty.get_data_coverage("EURUSD").total_ticks == 0
    assert ticks_only.get_data_coverage("EURUSD").ohlc_bars == 0
    assert proc.get_data_coverage("EURUSD").ohlc_bars > 0


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    # job events reach the status store through the listener bus
    deadline = time.time() + 10
    jobs = tracker.getJobIdsForGroup(group)
    while time.time() < deadline and not all(
        (info := tracker.getJobInfo(j)) is not None and info.status != "RUNNING"
        for j in jobs
    ):
        time.sleep(0.1)
        jobs = tracker.getJobIdsForGroup(group)
    return jobs


def test_coverage_runs_at_most_two_jobs(spark, proc):
    jobs = _jobs_in_group(
        spark, "coverage-jobs", lambda: proc.get_data_coverage("EURUSD")
    )
    assert 1 <= len(jobs) <= 2


def test_regenerate_ohlc_leaves_no_checkpoint(spark, proc):
    """Each regeneration releases its bar checkpoint, so N calls add no
    RDD to the session's persistent-RDD map. (Ids, not just the size:
    the context cleaner may drop other tests' RDDs meanwhile.)"""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet().toArray())
    for _ in range(3):
        assert proc.regenerate_ohlc("EURUSD", "2024-03-01", "2024-03-31") > 0
    assert set(rdds().keySet().toArray()) <= before
