"""operators/eventflow.py: ordered funnels and cohort retention."""

from __future__ import annotations

import datetime as dt

import pytest

from exness_data_preprocess_spark.operators.eventflow import (
    cohort_retention,
    funnel_counts,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, d, h, m), u, t, 1.0)
            for i, (d, h, m, u, t) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def test_funnel_requires_strict_order(spark):
    rows = [
        # user 1: view → click → purchase in order: reaches all 3
        (1, 9, 0, 1, "view"), (1, 10, 0, 1, "click"), (1, 11, 0, 1, "purchase"),
        # user 2: click BEFORE view, purchase after: only step 1 (view) then
        # no click after the view → depth 1
        (1, 8, 0, 2, "click"), (1, 9, 30, 2, "view"), (1, 10, 0, 2, "purchase"),
        # user 3: view and click at the SAME instant: tie does not advance
        (1, 9, 0, 3, "view"), (1, 9, 0, 3, "click"),
        # user 4: never views → absent from step 1
        (1, 9, 0, 4, "purchase"),
    ]
    out = funnel_counts(_ev(spark, rows), ["view", "click", "purchase"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_step_1"], r["n_step_2"], r["n_step_3"]) == (3, 1, 1)


def test_funnel_scoped_by_bucket(spark):
    import pyspark.sql.functions as F

    rows = [
        # day 1: full funnel; day 2: view only
        (1, 9, 0, 1, "view"), (1, 10, 0, 1, "click"), (1, 11, 0, 1, "purchase"),
        (2, 9, 0, 1, "view"),
    ]
    ev = _ev(spark, rows).withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    out = {
        r["day"]: r
        for r in funnel_counts(
            ev, ["view", "click", "purchase"], within_col="day"
        ).collect()
    }
    assert (out["2024-01-01"]["n_step_1"], out["2024-01-01"]["n_step_3"]) == (1, 1)
    assert (out["2024-01-02"]["n_step_1"], out["2024-01-02"]["n_step_3"]) == (1, 0)


def test_funnel_per_step_twin_value_identical(spark):
    """The bot-key fallback (per-step O(1)-state shape) must agree with
    the collected shape on every edge the collected tests pin: strict
    ordering, ties not advancing, scoped buckets, dead-at-step-k keys."""
    import pyspark.sql.functions as F

    from exness_data_preprocess_spark.operators.eventflow import (
        funnel_counts_per_step,
    )

    rows = [
        (1, 9, 0, 1, "view"), (1, 10, 0, 1, "click"),
        (1, 11, 0, 1, "purchase"),
        (1, 8, 0, 2, "click"), (1, 9, 30, 2, "view"),
        (1, 10, 0, 2, "purchase"),
        (1, 9, 0, 3, "view"), (1, 9, 0, 3, "click"),
        (1, 9, 0, 4, "purchase"),
        (2, 9, 0, 1, "view"), (2, 10, 0, 2, "view"),
        (2, 10, 30, 2, "click"),
    ]
    ev = _ev(spark, rows).withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    steps = ["view", "click", "purchase"]
    a = [tuple(r) for r in funnel_counts(ev, steps, within_col="day").collect()]
    b = [
        tuple(r)
        for r in funnel_counts_per_step(ev, steps, within_col="day").collect()
    ]
    assert a == b
    # unscoped too
    a0 = funnel_counts(ev, steps).collect()[0]
    b0 = funnel_counts_per_step(ev, steps).collect()[0]
    assert tuple(a0) == tuple(b0)

    # NULL keys and a NULL scope: groupBy makes each one funnel entity,
    # so the per-step joins must match NULL to NULL
    null_rows = rows + [
        (1, 9, 0, None, "view"), (1, 10, 0, None, "click"),
        (1, 11, 0, None, "purchase"),
        (3, 9, 0, 5, "view"), (3, 10, 0, 5, "click"),
    ]
    ev_null = _ev(spark, null_rows).withColumn(
        "day",
        F.when(F.col("user_id") == 5, F.lit(None)).otherwise(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd")
        ),
    )
    got = {}
    for scope in ("day", None):
        a = [
            tuple(r)
            for r in funnel_counts(ev_null, steps, within_col=scope).collect()
        ]
        b = [
            tuple(r)
            for r in funnel_counts_per_step(
                ev_null, steps, within_col=scope
            ).collect()
        ]
        assert a == b
        got[scope] = a
    # the NULL user completes the day-1 funnel; user 5 sits in the NULL
    # scope, ordered first
    assert got["day"][0] == (None, 1, 1, 0)
    assert ("2024-01-01", 4, 2, 2) in got["day"]
    assert got[None] == [(5, 4, 2)]


def test_funnel_adaptive_picks_by_hot_key_probe(spark):
    """funnel_counts_adaptive must return identical values to the twins
    and switch implementation on the probed hottest-key event count
    (threshold forced to a test scale)."""
    import pyspark.sql.functions as F

    from exness_data_preprocess_spark.operators.eventflow import (
        funnel_counts_adaptive,
    )

    # user 1 is the "bot": 30 of 33 funnel events
    rows = [(1, 9, m % 60, 1, "view") for m in range(30)] + [
        (1, 10, 0, 2, "view"), (1, 10, 30, 2, "click"),
        (1, 11, 0, 2, "purchase"),
    ]
    ev = _ev(spark, rows).withColumn(
        "day", F.date_format(F.to_date("ts"), "yyyy-MM-dd")
    )
    steps = ["view", "click", "purchase"]
    expected = [
        tuple(r) for r in funnel_counts(ev, steps, within_col="day").collect()
    ]
    # threshold above the bot's count -> collected path; below -> per-step
    for threshold in (1_000_000, 5):
        got = [
            tuple(r)
            for r in funnel_counts_adaptive(
                ev, steps, within_col="day",
                hot_events_threshold=threshold, sample_rows=1_000_000,
            ).collect()
        ]
        assert got == expected
    # the decision itself: probe on the filtered frame sees the bot
    from exness_data_preprocess_spark.operators.skew import when_to_salt

    probed = ev.filter(F.col("event_type").isin(steps)).withColumn(
        "_sk", F.struct("day", "user_id")
    )
    assert when_to_salt(
        probed, "_sk", share_threshold=0.0, min_hot_rows=5,
        sample_rows=1_000_000,
    )["salt"]
    assert not when_to_salt(
        probed, "_sk", share_threshold=0.0, min_hot_rows=1_000_000,
        sample_rows=1_000_000,
    )["salt"]


def test_funnel_rejects_empty_steps(spark):
    with pytest.raises(ValueError):
        funnel_counts(_ev(spark, [(1, 9, 0, 1, "view")]), [])


def test_cohort_retention_matrix(spark):
    rows = [
        # users 1,2 start day 1; user 1 returns day 2 and day 3
        (1, 9, 0, 1, "view"), (1, 9, 0, 2, "view"),
        (2, 9, 0, 1, "click"), (3, 9, 0, 1, "view"),
        # user 5 starts day 2, returns day 3
        (2, 9, 0, 5, "view"), (3, 9, 0, 5, "view"),
    ]
    out = {
        (r["cohort_day"], r["offset_days"]): r
        for r in cohort_retention(_ev(spark, rows), max_offset_days=7).collect()
    }
    d1, d2 = "2024-01-01", "2024-01-02"
    assert out[(d1, 0)]["n_active"] == 2 and out[(d1, 0)]["cohort_size"] == 2
    assert out[(d1, 1)]["n_active"] == 1   # only user 1 returned day 2
    assert out[(d1, 2)]["n_active"] == 1   # user 1 day 3
    assert out[(d2, 0)]["n_active"] == 1 and out[(d2, 0)]["cohort_size"] == 1
    assert out[(d2, 1)]["n_active"] == 1   # user 5 day 3
    # no row for (cohort, offset) cells with zero active users
    assert (d2, 2) not in out


def test_cohort_retention_null_keys_match_join_semantics(spark):
    """The round-10 single-pass plan must preserve the old join shape's
    NULL handling: a NULL user_id counts in cohort_size (the first-day
    aggregate kept the NULL group) but never in n_active (the k-join
    dropped it); beyond max_offset activity is excluded."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 9), 1),
        (2, dt.datetime(2024, 1, 2, 9), 1),
        (3, dt.datetime(2024, 1, 9, 9), 1),   # offset 8 > max 7: excluded
        (4, dt.datetime(2024, 1, 1, 9), None),  # NULL user, same cohort day
        (5, dt.datetime(2024, 1, 2, 9), None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long"
    )
    out = {
        (r["cohort_day"], r["offset_days"]): r
        for r in cohort_retention(ev, max_offset_days=7).collect()
    }
    d1 = "2024-01-01"
    # cohort_size 2 = user 1 + the NULL group; n_active counts user 1 only
    assert out[(d1, 0)]["n_active"] == 1 and out[(d1, 0)]["cohort_size"] == 2
    assert out[(d1, 1)]["n_active"] == 1
    assert (d1, 8) not in out
    assert len(out) == 2
