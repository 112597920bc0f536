"""Crafted-fixture semantics tests for operators/funnel.py: ordering is
enforced (out-of-order steps don't advance), each step is strictly after the
previous, and the retention triangle drops pre-cohort activity."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from riot_graphs_spark.operators.funnel import funnel_counts, retention_cohorts


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, datetime(2024, 1, d, h), s) for (u, d, h, s) in rows],
        "user_id long, ts timestamp, event_type string",
    )


STEPS = ("signup", "view", "purchase")


def _depths(spark, rows):
    out = funnel_counts(_events(spark, rows), STEPS).collect()
    return {r["step_idx"]: r["users"] for r in out}


def test_funnel_full_path_counts_every_depth(spark):
    rows = [(1, 1, 0, "signup"), (1, 1, 1, "view"), (1, 2, 0, "purchase")]
    assert _depths(spark, rows) == {1: 1, 2: 1, 3: 1}


def test_funnel_out_of_order_steps_do_not_advance(spark):
    # view BEFORE signup: user reaches depth 1 only (signup), because the
    # only view precedes it.
    rows = [(1, 1, 0, "view"), (1, 1, 1, "signup"), (1, 1, 2, "purchase")]
    # purchase after signup but without an intermediate view → still depth 1
    assert _depths(spark, rows) == {1: 1, 2: 0, 3: 0}


def test_funnel_same_timestamp_does_not_count_as_after(spark):
    # view at exactly the signup timestamp is NOT strictly after it.
    rows = [(1, 1, 0, "signup"), (1, 1, 0, "view")]
    assert _depths(spark, rows) == {1: 1, 2: 0, 3: 0}


def test_funnel_first_touch_picks_earliest_qualifying_step(spark):
    # Two views after signup; the funnel anchors on the EARLIER one, so a
    # purchase between them still qualifies (strictly after view #1).
    rows = [
        (1, 1, 0, "signup"),
        (1, 1, 1, "view"),
        (1, 1, 2, "purchase"),
        (1, 1, 3, "view"),
    ]
    assert _depths(spark, rows) == {1: 1, 2: 1, 3: 1}


def test_funnel_counts_are_per_user_not_per_event(spark):
    rows = [
        (1, 1, 0, "signup"), (1, 1, 1, "signup"),  # repeats don't double-count
        (2, 1, 0, "signup"), (2, 1, 1, "view"),
        (3, 2, 0, "view"),  # never signs up → depth 0, appears nowhere
    ]
    assert _depths(spark, rows) == {1: 2, 2: 1, 3: 0}


def test_retention_offsets_and_precohort_drop(spark):
    # user 1: signup Mon Jan 1 week; active that week and 2 weeks later.
    # user 2: activity BEFORE its Jan 15 signup is dropped.
    rows = [
        (1, 1, 0, "signup"),
        (1, 2, 0, "view"),          # same week → offset 0 (dedup with signup)
        (1, 15, 0, "click"),        # Jan 15 = +2 weeks
        (2, 3, 0, "view"),          # pre-cohort activity → dropped
        (2, 16, 0, "signup"),       # cohort week Jan 15
    ]
    out = retention_cohorts(_events(spark, rows), cohort_step="signup")
    got = {
        (r["cohort_week"], r["week_offset"]): r["active_users"]
        for r in out.collect()
    }
    jan1 = datetime(2024, 1, 1)
    jan15 = datetime(2024, 1, 15)
    assert got == {(jan1, 0): 1, (jan1, 2): 1, (jan15, 0): 1}


def test_funnel_single_shuffle_plan(spark):
    """The funnel must be one exchange on the user key before the final
    single-partition reduce — no per-step join cascade."""
    df = _events(spark, [(1, 1, 0, "signup")])
    plan = funnel_counts(df, STEPS)._jdf.queryExecution().executedPlan().toString()
    n_user_exchanges = plan.count("hashpartitioning(u")
    assert n_user_exchanges == 1, plan


def test_interval_overlap_join_dedups_multiband_pairs(spark):
    """A pair overlapping across several bands must come back exactly once
    (first-shared-band rule), and closed-interval touching counts."""
    import datetime as dt

    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.rangejoin import interval_overlap_join

    d = dt.datetime
    rows = [
        # long interval spanning 5 weekly bands
        (1, d(2024, 1, 1), d(2024, 2, 5)),
        # overlaps #1 across several bands
        (2, d(2024, 1, 10), d(2024, 1, 30)),
        # touches #1's end exactly (closed intervals: counts)
        (3, d(2024, 2, 5), d(2024, 2, 20)),
        # disjoint
        (4, d(2024, 6, 1), d(2024, 6, 10)),
    ]
    df = spark.createDataFrame(rows, "id long, s timestamp, e timestamp")
    got = interval_overlap_join(df, df, "s", "e", [], band_seconds=7 * 86400)
    pairs = sorted(
        (r.id, r.id_b)
        for r in got.filter(F.col("id") < F.col("id_b")).collect()
    )
    assert pairs == [(1, 2), (1, 3)]  # each exactly once, no (x,4)


# --------------------------------------------------------------------------
# level_shift: adjacent-window mean contrast changepoints
# --------------------------------------------------------------------------
def test_level_shift_finds_step_change(spark):
    import datetime as dt

    from riot_graphs_spark.operators.timeseries import level_shift

    t0 = dt.datetime(2024, 1, 1)
    # flat 0.0 for 10 points, then step to 10.0 for 10 points
    rows = [
        ("a", t0 + dt.timedelta(minutes=i), i, 0.0 if i < 10 else 10.0)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    got = level_shift(
        df, dims=["event_type"], w=3, k=1, tiebreak="event_id"
    ).collect()
    assert len(got) == 1
    r = got[0]
    # the boundary point (first of the high level) has the max contrast:
    # left = mean(0,0,0) = 0, right = mean(10,10,10) = 10
    assert r.event_id == 10
    assert (r.left_mean, r.right_mean, r.shift, r.rank) == (0.0, 10.0, 10.0, 1)


def test_level_shift_requires_full_windows_and_validates(spark):
    import datetime as dt

    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import level_shift

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dt.timedelta(minutes=i), i, float(i)) for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    # w=3 needs 3 before and 3 from-current: only 5 points -> nothing full
    assert level_shift(df, dims=["event_type"], w=3, k=5).count() == 0
    with _pytest.raises(ValueError):
        level_shift(df, dims=["event_type"], w=0)


def test_path_top_sequences_orders_and_truncates(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from riot_graphs_spark.plans.driver_queries import QUERIES

    base = dt.datetime(2024, 1, 1, 10)
    rows = []
    # user 1, one day: 5 events -> path truncated to first 4
    for i, et in enumerate(["signup", "view", "view", "purchase", "view"]):
        rows.append((i, base + dt.timedelta(minutes=i), 1, et, 1.0, "{}"))
    # user 2, same shape twice on two days -> that path counts 2 total
    for d in (1, 2):
        for i, et in enumerate(["view", "purchase"]):
            rows.append(
                (100 * d + i, base + dt.timedelta(days=d, minutes=i), 2, et, 1.0, "{}")
            )
    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows]),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows]),
    })
    pq.write_table(t, str(tmp_path / "events.parquet"))
    got = {
        r.path: (r.n_sessions, r.rank)
        for r in QUERIES["path_top_sequences"](spark, str(tmp_path)).collect()
    }
    assert got["view>purchase"] == (2, 1)
    assert got["signup>view>view>purchase"] == (1, 2)  # 5th event truncated
    assert len(got) == 2


def test_km_survival_hand_computed_with_censoring(spark):
    from riot_graphs_spark.operators.funnel import km_survival

    # durations/events: two churn at t=1, one censored at t=2, churn at t=3
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 0), (3, 1)], "duration int, event int"
    )
    got = {r.t: r for r in km_survival(df).collect()}
    # t=1: n=4, d=2 -> S=0.5 ; t=2: n=2, d=0, c=1 -> S stays 0.5
    assert (got[1].n_at_risk, got[1].n_events) == (4, 2)
    assert abs(got[1].survival - 0.5) < 1e-9
    assert (got[2].n_at_risk, got[2].n_censored) == (2, 1)
    assert abs(got[2].survival - 0.5) < 1e-9
    # t=3: last subject churns (d == n) -> curve pinned to exactly 0
    assert (got[3].n_at_risk, got[3].n_events) == (1, 1)
    assert got[3].survival == 0.0


def test_time_to_convert_hand_computed(spark, tmp_path):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from riot_graphs_spark.plans.driver_queries import QUERIES

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: signup then purchase 2h later (an earlier purchase at
        # -1h must NOT count)
        (1, base - dt.timedelta(hours=1), 1, "purchase"),
        (2, base, 1, "signup"),
        (3, base + dt.timedelta(hours=2), 1, "purchase"),
        # user 2: signup, purchase 4h later
        (4, base, 2, "signup"),
        (5, base + dt.timedelta(hours=4), 2, "purchase"),
        # user 3: signup, never purchases
        (6, base, 3, "signup"),
    ]
    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows]),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows)),
    })
    pq.write_table(t, str(tmp_path / "events.parquet"))
    r = QUERIES["funnel_time_to_convert"](spark, str(tmp_path)).collect()[0]
    assert (r.n_signup, r.n_converted) == (3, 2)
    assert abs(r.conv_rate - 2 / 3) < 1e-12
    assert abs(r.p50_hours - 3.0) < 1e-9  # interpolated between 2 and 4
    assert abs(r.p90_hours - 3.8) < 1e-9
