"""Unit tests for connected-components dedup clustering and the
fixed-bound histogram operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from riot_graphs_spark.operators.dedup import connected_components
from riot_graphs_spark.operators.profile import fixed_histogram


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_cc_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: every node must land in component 1, even though
    # 5 is four hops from 1 (exercises multi-round propagation).
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {
        (r.id, r.component_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {(i, 1) for i in range(1, 6)}


def test_cc_multiple_components_and_edge_direction(spark):
    # Two components; edges given in both (a<b) and (a>b) orientation.
    pairs = _pairs(spark, [(10, 11), (12, 11), (20, 21)])
    got = {
        (r.id, r.component_id)
        for r in connected_components(pairs).collect()
    }
    assert got == {(10, 10), (11, 10), (12, 10), (20, 20), (21, 20)}


def test_cc_converges_before_max_iter(spark):
    # A triangle converges in one round; max_iter is an upper bound, not a
    # row-count knob — result identical with a tight cap.
    pairs = _pairs(spark, [(1, 2), (2, 3), (1, 3)])
    a = sorted(
        (r.id, r.component_id)
        for r in connected_components(pairs, max_iter=2).collect()
    )
    b = sorted(
        (r.id, r.component_id)
        for r in connected_components(pairs, max_iter=15).collect()
    )
    assert a == b == [(1, 1), (2, 1), (3, 1)]


def test_cc_raises_on_nonconvergence(spark):
    # A 6-chain needs ~5 propagation rounds; max_iter=2 cannot converge —
    # silently under-merged dedup clusters must be an error, not a result.
    import pytest

    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 6)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_histogram_clamps_and_reconciles(spark):
    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (10.0,), (55.0,), (100.0,), (250.0,), (None,)],
        "x double",
    )
    hist = fixed_histogram(df, "x", 0.0, 100.0, 10).collect()
    by_bucket = {r.bucket: r for r in hist}
    # -5 clamps into bucket 0; 100 and 250 clamp into bucket 9.
    assert by_bucket[0].n == 3 and by_bucket[0].bucket_min == -5.0
    assert by_bucket[9].n == 2 and by_bucket[9].bucket_max == 250.0
    assert by_bucket[1].n == 1  # 10.0 belongs to [10, 20)
    assert by_bucket[5].n == 1
    # Null dropped; bucket totals reconcile with non-null count.
    assert sum(r.n for r in hist) == 7
    # Edges are lo + k*width.
    assert by_bucket[5].edge_lo == 50.0 and by_bucket[5].edge_hi == 60.0


def test_ewma_matches_hand_recursion(spark):
    import datetime as dt

    from pyspark.sql import Row

    from riot_graphs_spark.operators.timeseries import ewma

    base = dt.datetime(2024, 1, 1)
    xs = [10.0, 20.0, 0.0, 40.0, 40.0]
    rows = [
        Row(series="a", ts=base + dt.timedelta(hours=i), event_id=i, value=x)
        for i, x in enumerate(xs)
    ] + [Row(series="b", ts=base, event_id=99, value=7.0)]
    df = spark.createDataFrame(rows)
    got = {
        (r.series, r.ts): r.ewma
        for r in ewma(
            df, dims=["series"], ts="ts", value="value", alpha=0.5,
            tiebreak="event_id",
        ).collect()
    }
    acc, exp = None, []
    for i, x in enumerate(xs):
        acc = x if i == 0 else 0.5 * x + 0.5 * acc
        exp.append(acc)
    for i, e in enumerate(exp):
        assert abs(got[("a", base + dt.timedelta(hours=i))] - e) < 1e-12
    assert got[("b", base)] == 7.0  # single point: seed passes through


def test_ewma_window_matches_hand_weights(spark):
    """Truncated-window EWMA: y_t = Σ w_i·x_{t−i} / Σ w_i over present
    terms, w_i = α(1−α)^i — including head renormalization and window
    truncation past k terms."""
    import datetime as dt

    from pyspark.sql import Row

    from riot_graphs_spark.operators.timeseries import ewma_window

    base = dt.datetime(2024, 1, 1)
    xs = [10.0, 20.0, 0.0, 40.0, 40.0]
    rows = [
        Row(series="a", ts=base + dt.timedelta(hours=i), event_id=i, value=x)
        for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows)
    k, alpha = 3, 0.5
    got = {
        r.event_id: r.ewma_w
        for r in ewma_window(
            df, dims=["series"], ts="ts", value="value", alpha=alpha, k=k,
            tiebreak="event_id", round_to=9,
        ).collect()
    }
    ws = [alpha * (1 - alpha) ** i for i in range(k)]
    for t in range(len(xs)):
        terms = [(ws[i], xs[t - i]) for i in range(min(t + 1, k))]
        expect = sum(w * x for w, x in terms) / sum(w for w, _ in terms)
        assert abs(got[t] - expect) < 1e-8
    # head: t=0 renormalizes to x_0 exactly
    assert got[0] == xs[0]


def test_ewma_window_all_null_window_is_null_under_ansi(spark):
    """A row whose value AND all k-1 lags are NULL has a zero weight sum;
    the division must yield NULL (try_divide), not DIVIDE_BY_ZERO under
    ANSI mode."""
    from riot_graphs_spark.operators.timeseries import ewma_window

    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, None), ("a", 3, 5.0)],
        "s string, t long, value double",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {
            r.t: r.ewma_w
            for r in ewma_window(
                df, dims=["s"], ts="t", value="value", k=2, tiebreak="t"
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got[1] is None and got[2] is None
    assert abs(got[3] - 5.0) < 1e-9  # lone present term renormalizes to x


def test_ewma_window_validates(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import ewma_window

    df = spark.createDataFrame([("a", 1, 1.0)], "s string, t long, value double")
    with _pytest.raises(ValueError):
        ewma_window(
            df, dims=["s"], ts="t", value="value", alpha=1.0, tiebreak="t"
        )
    with _pytest.raises(ValueError):
        ewma_window(df, dims=["s"], ts="t", value="value", k=0, tiebreak="t")


def test_trend_fit_recovers_exact_line(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import trend_fit

    # value = 2*t_sec + 5 exactly, one point per second
    t0 = datetime(2024, 1, 1)
    rows = [("a", t0 + timedelta(seconds=s), float(2 * s + 5)) for s in range(10)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = trend_fit(
        df, dims=["event_type"], ts="ts", value="value",
        anchor_epoch_us=1_704_067_200_000_000,
    ).collect()[0]
    assert out["n"] == 10
    assert abs(out["slope_per_sec"] - 2.0) < 1e-12
    assert abs(out["intercept"] - 5.0) < 1e-9


def test_zscore_flags_spike_and_drops_warmup(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import zscore_anomalies

    t0 = datetime(2024, 1, 1)
    # 5 steady points (values 1..5), then a huge spike
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 1000.0, 3.0]
    rows = [("a", i, t0 + timedelta(seconds=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    out = zscore_anomalies(
        df, dims=["event_type"], ts="ts", value="value",
        trailing=5, threshold=3.0, tiebreak="event_id",
    ).collect()
    got = {r["event_id"]: (r["zscore"], r["is_anomaly"]) for r in out}
    # first 5 rows have no full trailing window -> dropped
    assert set(got) == {5, 6}
    assert got[5][1] is True and got[5][0] > 3.0
    # the point after the spike: trailing window contains the spike, so the
    # stddev explodes and the ordinary value is NOT anomalous
    assert got[6][1] is False


def test_holt_forecast_matches_hand_rollout(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import holt_forecast

    t0 = datetime(2024, 1, 1)
    vals = [10.0, 12.0, 13.0, 15.0, 14.0]
    rows = [("a", t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    alpha, beta = 0.3, 0.1
    level, trend = vals[0], vals[1] - vals[0]
    for x in vals[1:]:
        prev = level
        level = alpha * x + (1 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1 - beta) * trend
    out = holt_forecast(
        df, dims=["event_type"], ts="ts", value="value",
        alpha=alpha, beta=beta, horizon=3,
    ).collect()
    got = {r["step"]: (r["forecast"], r["forecast_ts"]) for r in out}
    assert set(got) == {1, 2, 3}
    for h in (1, 2, 3):
        assert abs(got[h][0] - (level + h * trend)) < 1e-12
        # hourly series -> forecasts continue on the hourly grid
        assert got[h][1] == t0 + timedelta(hours=4 + h)


def test_holt_forecast_seasonal_matches_hand_rollout(spark):
    """S > 0: additive triple exponential smoothing, exact against a plain
    Python rollout of the textbook recursion (two-season init)."""
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import holt_forecast

    t0 = datetime(2024, 1, 1)
    m, alpha, beta, gamma = 4, 0.4, 0.2, 0.3
    vals = [10.0, 20.0, 30.0, 20.0,   # season 1
            12.0, 22.0, 33.0, 21.0,   # season 2
            13.0, 24.0, 34.0, 23.0]   # season 3
    rows = [("a", t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")

    # hand rollout
    level = sum(vals[:m]) / m
    trend = (sum(vals[m:2 * m]) / m - sum(vals[:m]) / m) / m
    season = [v - level for v in vals[:m]]
    for i in range(m, len(vals)):
        prev = level
        si = season[i % m]
        level = alpha * (vals[i] - si) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1 - beta) * trend
        season[i % m] = gamma * (vals[i] - level) + (1 - gamma) * si
    n = len(vals)
    expect = {
        h: level + h * trend + season[(n + h - 1) % m] for h in (1, 2, 3, 4, 5)
    }

    out = holt_forecast(
        df, dims=["event_type"], ts="ts", value="value",
        alpha=alpha, beta=beta, gamma=gamma, season_length=m, horizon=5,
    ).collect()
    got = {r["step"]: (r["forecast"], r["forecast_ts"]) for r in out}
    assert set(got) == {1, 2, 3, 4, 5}
    for h in expect:
        assert abs(got[h][0] - expect[h]) < 1e-12
        assert got[h][1] == t0 + timedelta(hours=len(vals) - 1 + h)


def test_holt_forecast_seasonal_short_series_falls_back(spark):
    """A series shorter than two seasons cannot seed the seasonal init —
    it deterministically uses the level+trend form instead."""
    from datetime import datetime, timedelta

    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import holt_forecast

    t0 = datetime(2024, 1, 1)
    vals = [10.0, 12.0, 13.0]
    rows = [("a", t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    seasonal = holt_forecast(
        df, dims=["event_type"], ts="ts", value="value",
        season_length=24, horizon=2,
    ).collect()
    plain = holt_forecast(
        df, dims=["event_type"], ts="ts", value="value", horizon=2,
    ).collect()
    assert [r.forecast for r in seasonal] == [r.forecast for r in plain]
    with _pytest.raises(ValueError):
        holt_forecast(
            df, dims=["event_type"], ts="ts", value="value", season_length=-1
        )


def test_holt_forecast_single_point_series_is_flat(spark):
    from datetime import datetime

    from riot_graphs_spark.operators.timeseries import holt_forecast

    df = spark.createDataFrame(
        [("a", datetime(2024, 1, 1), 7.0)],
        "event_type string, ts timestamp, value double",
    )
    out = holt_forecast(df, dims=["event_type"], ts="ts", value="value", horizon=2)
    assert [r["forecast"] for r in out.collect()] == [7.0, 7.0]


def test_m4_downsample_roles_and_dedup(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import m4_downsample

    t0 = datetime(2024, 1, 1)
    # one series, one day bucket: first(8am)=5, min(10am)=1, max(noon)=9,
    # last(2pm)=5; plus a single-point day where one row holds all 4 roles
    rows = [
        ("a", 1, t0 + timedelta(hours=8), 5.0),
        ("a", 2, t0 + timedelta(hours=10), 1.0),
        ("a", 3, t0 + timedelta(hours=12), 9.0),
        ("a", 4, t0 + timedelta(hours=14), 5.0),
        ("a", 5, t0 + timedelta(days=1, hours=9), 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    out = m4_downsample(
        df, dims=["event_type"], ts="ts", value="value",
        unit="day", tiebreak="event_id",
    ).collect()
    day1 = sorted(
        (r["ts"], r["value"]) for r in out if r["bucket"] == t0
    )
    assert day1 == [
        (t0 + timedelta(hours=8), 5.0),
        (t0 + timedelta(hours=10), 1.0),
        (t0 + timedelta(hours=12), 9.0),
        (t0 + timedelta(hours=14), 5.0),
    ]
    day2 = [(r["ts"], r["value"]) for r in out if r["bucket"] == t0 + timedelta(days=1)]
    assert day2 == [(t0 + timedelta(days=1, hours=9), 7.0)]  # deduped to 1 row


def test_apply_changelog_last_writer_wins_and_tombstones(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.cdc import apply_changelog

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: insert then update -> survives with latest value
        (1, 1, t0, "upsert", 10.0),
        (2, 1, t0 + timedelta(hours=1), "upsert", 20.0),
        # user 2: update then delete -> tombstoned, dropped entirely
        (3, 2, t0, "upsert", 30.0),
        (4, 2, t0 + timedelta(hours=1), "delete", 0.0),
        # user 3: delete then a LATER re-insert -> resurrected
        (5, 3, t0, "delete", 0.0),
        (6, 3, t0 + timedelta(hours=1), "upsert", 40.0),
        # user 4: same ts, seq tiebreak on event_id picks id 8
        (7, 4, t0, "upsert", 1.0),
        (8, 4, t0, "upsert", 2.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, op string, value double"
    )
    got = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in apply_changelog(
            df, keys=["user_id"], seq=["ts", "event_id"],
            op_col="op", delete_op="delete",
        ).collect()
    }
    assert got == {1: (2, 20.0), 3: (6, 40.0), 4: (8, 2.0)}


def test_scd2_history_intervals_close_and_gap_on_delete(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.cdc import scd2_history

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 1, t0, "upsert", 10.0),
        (2, 1, t0 + timedelta(hours=1), "upsert", 20.0),
        (3, 1, t0 + timedelta(hours=2), "delete", 0.0),
        (4, 1, t0 + timedelta(hours=3), "upsert", 30.0),  # re-insert after gap
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, op string, value double"
    )
    out = {
        r["event_id"]: r
        for r in scd2_history(
            df, keys=["user_id"], seq=["ts", "event_id"], op_col="op",
            attrs=["event_id", "value"], delete_op="delete",
        ).collect()
    }
    assert set(out) == {1, 2, 4}  # the delete row emits no interval
    assert out[1]["valid_to"] == t0 + timedelta(hours=1)
    # the delete's timestamp closes its predecessor's interval
    assert out[2]["valid_to"] == t0 + timedelta(hours=2)
    assert not out[2]["is_current"]
    # history has a gap [2h, 3h) with no valid row, then the re-insert is open
    assert out[4]["valid_from"] == t0 + timedelta(hours=3)
    assert out[4]["valid_to"] is None and out[4]["is_current"]


def test_gap_fill_value_fills_missing_buckets_with_the_constant(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import gap_fill_value

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("a", t0, 1.0), ("a", t0 + timedelta(days=2), 3.0)],
        "event_type string, bucket timestamp, v double",
    )
    zero = {
        r["bucket"]: r["v"]
        for r in gap_fill_value(
            df, ts="bucket", dims=["event_type"], values=["v"], fill=0
        ).collect()
    }
    assert zero == {t0: 1.0, t0 + timedelta(days=1): 0.0, t0 + timedelta(days=2): 3.0}


def test_sample_per_series_is_deterministic_and_sized(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import sample_per_series

    t0 = datetime(2024, 1, 1)
    rows = [
        ("a" if i % 2 else "b", i, t0 + timedelta(minutes=i), float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    s1 = sample_per_series(df, dims=["event_type"], n=5, key_cols=["event_id"])
    s2 = sample_per_series(
        df.repartition(7), dims=["event_type"], n=5, key_cols=["event_id"]
    )
    got1 = sorted((r["event_type"], r["event_id"]) for r in s1.collect())
    got2 = sorted((r["event_type"], r["event_id"]) for r in s2.collect())
    assert got1 == got2  # partitioning-invariant
    assert len(got1) == 10 and len({t for t, _ in got1}) == 2  # 5 per series


def test_rsi_hand_computation_and_all_gain_window(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import rsi

    t0 = datetime(2024, 1, 1)
    # changes: +1, -2, +3, -1  (n=4 -> first emitted row is the 5th point)
    vals = [10.0, 11.0, 9.0, 12.0, 11.0, 12.0, 13.0, 14.0, 15.0]
    rows = [("a", i, t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    out = {r["event_id"]: r["rsi"] for r in rsi(
        df, dims=["event_type"], ts="ts", value="value", n=4,
        tiebreak="event_id",
    ).collect()}
    assert set(out) == {4, 5, 6, 7, 8}
    # point 4: gains 1+3=4, losses 2+1=3 -> 100 - 100/(1+4/3)
    assert abs(out[4] - (100 - 100 / (1 + 4 / 3))) < 1e-12
    # point 8: trailing 4 changes all gains -> RSI 100 exactly
    assert out[8] == 100.0


def test_recursive_sql_cc_matches_iterative_operator(spark, sf_dir):
    """The bounded-depth WITH RECURSIVE closure and the iterative
    min-label-propagation operator assign identical components on the
    fixture's near-dup graph (diameters are far below the depth guard)."""
    from riot_graphs_spark.plans.driver_queries import QUERIES

    sql_labels = {
        r["vec_id"]: r["component_id"]
        for r in QUERIES["cc_recursive_sql"](spark, sf_dir).collect()
    }
    iter_labels = {
        r["id"]: r["component_id"]
        for r in QUERIES["embed_neardup_clusters"](spark, sf_dir).collect()
    }
    # Non-vacuous: the 0.3-threshold sign-bucket graph has real edges.
    assert sql_labels
    assert sql_labels == iter_labels


def test_asof_interpolated_brackets_edges_and_exact_hits(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.asof import asof_join_interpolated

    t0 = datetime(2024, 1, 1)
    right = spark.createDataFrame(
        [(1, t0, 10.0), (1, t0 + timedelta(hours=2), 30.0)],
        "k long, ts timestamp, value double",
    )
    left = spark.createDataFrame(
        [
            (1, 1, t0 + timedelta(minutes=30)),   # quarter of the way -> 15
            (1, 2, t0),                            # exact hit -> 10
            (1, 3, t0 - timedelta(hours=1)),       # before first -> next (10)
            (1, 4, t0 + timedelta(hours=5)),       # after last -> prev (30)
            (2, 5, t0),                            # key with no right rows
        ],
        "k long, event_id long, ts timestamp",
    )
    got = {
        r["event_id"]: r["interp_value"]
        for r in asof_join_interpolated(
            left, right, on="k", value="value"
        ).collect()
    }
    assert abs(got[1] - 15.0) < 1e-12
    assert got[2] == 10.0
    assert got[3] == 10.0 and got[4] == 30.0
    assert got[5] is None


def test_period_over_period_alignment_and_missing_prior(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import period_over_period

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("a", t0, 10.0), ("a", t0 + timedelta(days=1), 15.0),
         ("a", t0 + timedelta(days=3), 8.0)],
        "event_type string, bucket timestamp, v double",
    )
    got = {
        r["bucket"]: (r["prev_value"], r["abs_change"], r["pct_change"])
        for r in period_over_period(
            df, bucket="bucket", dims=["event_type"], value="v",
            period="INTERVAL 1 DAY",
        ).collect()
    }
    assert got[t0] == (None, None, None)  # no prior day
    assert got[t0 + timedelta(days=1)] == (10.0, 5.0, 0.5)
    assert got[t0 + timedelta(days=3)] == (None, None, None)  # gap day before


def test_top_n_with_other_preserves_totals_and_breaks_ties(spark):
    from datetime import datetime

    from riot_graphs_spark.operators.timeseries import top_n_with_other

    t0 = datetime(2024, 1, 1)
    rows = [("a", 5.0), ("b", 3.0), ("c", 3.0), ("d", 1.0), ("e", 0.5)]
    df = spark.createDataFrame(
        [(t0, s, v) for s, v in rows],
        "bucket timestamp, event_type string, v double",
    )
    got = {
        r["event_type"]: r["v"]
        for r in top_n_with_other(
            df, bucket="bucket", series="event_type", value="v", n=2
        ).collect()
    }
    # tie at rank 2 between b and c -> name order keeps b
    assert set(got) == {"a", "b", "Other"}
    assert got["Other"] == 3.0 + 1.0 + 0.5
    assert sum(got.values()) == sum(v for _, v in rows)  # total preserved


def test_sketch_rollup_tracks_exact_weekly_uniques(spark, sf_dir):
    """Merged daily sketches must estimate weekly uniques within HLL error
    (default lgK=12 -> ~2-3 sigma well under 5%) of the exact count."""
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.timeseries import distinct_sketch_rollup
    from riot_graphs_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    est = {
        (r["bucket"], r["event_type"]): r["distinct_estimate"]
        for r in distinct_sketch_rollup(
            ev, ts="ts", fine_unit="day", coarse_unit="week",
            dims=["event_type"], key="user_id",
        ).collect()
    }
    exact = {
        (r["bucket"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_trunc("week", F.col("ts")).alias("bucket"), "event_type"
        ).agg(F.count_distinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) <= max(2, 0.05 * exact[k]), (k, e, exact[k])


def test_ohlc_roles_and_tiebreaks(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import ohlc_candles

    t0 = datetime(2024, 1, 1)
    rows = [
        ("a", 1, t0 + timedelta(hours=8), 5.0),   # open
        ("a", 2, t0 + timedelta(hours=10), 1.0),  # low
        ("a", 3, t0 + timedelta(hours=12), 9.0),  # high
        ("a", 4, t0 + timedelta(hours=14), 4.0),  # close (first of the tie)
        ("a", 5, t0 + timedelta(hours=14), 6.0),  # tied ts, higher event_id -> close
    ]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    r = ohlc_candles(
        df, dims=["event_type"], ts="ts", value="value",
        unit="day", tiebreak="event_id",
    ).collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"], r["n"]) == (
        5.0, 9.0, 1.0, 6.0, 5
    )


def test_cmo_hand_computation_and_flat_window(spark):
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import chande_momentum

    t0 = datetime(2024, 1, 1)
    # changes: +1, -2, +3, -1 -> sg=4, sl=3 -> cmo = 100*(1)/(7)
    vals = [10.0, 11.0, 9.0, 12.0, 11.0]
    rows = [("a", i, t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    # series b: constant -> all changes 0 -> flat window reads 0
    rows += [("b", i, t0 + timedelta(hours=i), 5.0) for i in range(6)]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    out = {(r["event_type"], r["event_id"]): r["cmo"] for r in chande_momentum(
        df, dims=["event_type"], ts="ts", value="value", n=4,
        tiebreak="event_id",
    ).collect()}
    assert abs(out[("a", 4)] - 100.0 * (4 - 3) / (4 + 3)) < 1e-12
    assert out[("b", 4)] == 0.0 and out[("b", 5)] == 0.0


def test_profile_columns_counts_exactly(spark):
    from riot_graphs_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, None)], "k long, v string"
    )
    exact = {r.column: r for r in profile_columns(df, ["k", "v"]).collect()}
    assert exact["k"].n == 4 and exact["k"].n_null == 0 and exact["k"].n_distinct == 4
    assert exact["v"].n == 3 and exact["v"].n_null == 1 and exact["v"].n_distinct == 2
    assert exact["k"].min_value == "1" and exact["k"].max_value == "4"
    assert [f.name for f in profile_columns(df, ["k"]).schema.fields] == [
        "column", "n", "n_null", "n_distinct", "min_value", "max_value"
    ]


def test_missing_buckets_per_series_onboarding(spark):
    """ADVICE fix: a series first seen mid-range must NOT be flagged for
    buckets before its first report (no heartbeat contract yet), but a
    series that stops reporting IS flagged up to the global max."""
    from datetime import datetime

    from riot_graphs_spark.operators.timeseries import missing_buckets

    t = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    rows = [
        # series "a": reports hours 0,1,3,4 of 0..4 → only hour 2 missing
        ("a", t(0)), ("a", t(1)), ("a", t(3)), ("a", t(4)),
        # series "b": onboards at hour 3 → hours 0-2 NOT flagged; reports 3
        # then goes dark → hour 4 flagged ("went dark")
        ("b", t(3)),
    ]
    df = spark.createDataFrame(rows, "event_type string, bucket timestamp")
    got = {
        (r.event_type, r.bucket.hour)
        for r in missing_buckets(df, ts="bucket", dims=["event_type"]).collect()
    }
    assert got == {("a", 2), ("b", 4)}


def test_trend_fit_no_overflow_on_long_spans(spark):
    """ADVICE fix: with anchor = epoch 0, x ≈ 1.7e9 s in 2024 so each x² ≈
    2.9e18 and a 10-row sum blows int64 (≈2.9e19 > 9.2e18) — an int64 Σx²
    would throw ARITHMETIC_OVERFLOW under ANSI or wrap silently. The
    DECIMAL(38,0) accumulators must recover the exact line regardless."""
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.timeseries import trend_fit

    t0 = datetime(2024, 1, 1)  # ~1.704e9 s after the epoch-0 anchor
    rows = [("a", t0 + timedelta(seconds=s), float(3 * s + 7)) for s in range(10)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = trend_fit(
        df, dims=["event_type"], ts="ts", value="value", anchor_epoch_us=0
    ).collect()[0]
    assert out["n"] == 10
    assert abs(out["slope_per_sec"] - 3.0) < 1e-6


def test_star_cc_long_chain_converges_in_log_rounds(spark):
    """The motivation for the star variant: a 64-node path has diameter 63,
    so min-label propagation needs ~63 rounds — star contraction halves
    tree heights per round and must finish the same chain within 8."""
    from riot_graphs_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    got = {
        (r.id, r.component_id)
        for r in connected_components_star(pairs, max_iter=8).collect()
    }
    assert got == {(i, 1) for i in range(1, 65)}


def test_star_cc_raises_on_nonconvergence(spark):
    """The star variant shares the CC convergence loop: a 64-node chain
    cannot reach its fixpoint in 2 rounds, and running out of rounds is
    an error, never under-merged labels."""
    import pytest

    from riot_graphs_spark.operators.dedup import connected_components_star

    pairs = _pairs(spark, [(i, i + 1) for i in range(1, 64)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(pairs, max_iter=2).collect()


def test_keep_best_per_cluster_selects_one_winner(spark):
    from riot_graphs_spark.operators.dedup import keep_best_per_cluster

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7)],  # 4 unclustered
        "doc_id long, quality long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, component_id long"
    )
    out = {r.doc_id: r for r in keep_best_per_cluster(
        docs, clusters, score_col="quality"
    ).collect()}
    # cluster 1: scores 10,50,50 → tie between 2 and 3 → lowest id (2) kept
    assert out[2].kept is True and out[3].kept is False and out[1].kept is False
    assert all(out[i].n_members == 3 for i in (1, 2, 3))
    # unclustered doc represents itself
    assert out[4].kept is True and out[4].n_members == 1 and out[4].cluster_id == 4
    # exactly one winner overall per cluster
    assert sum(r.kept for r in out.values()) == 2


def test_repeated_span_ranges_merge_and_cover_duplicated_paragraph(spark):
    from riot_graphs_spark.operators.dedup import repeated_span_ranges

    boiler = "this exact boilerplate paragraph appears in many pages verbatim"
    docs = spark.createDataFrame(
        [
            (1, "unique preamble one. " + boiler + " unique tail alpha."),
            (2, "different opening text! " + boiler + " other ending beta."),
            (3, "totally unrelated document with no shared spans at all here"),
        ],
        "doc_id long, text string",
    )
    out = repeated_span_ranges(docs, k=10, w=4, min_docs=2).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc  # no shared span → no removal range
    texts = {1: "unique preamble one. " + boiler + " unique tail alpha.",
             2: "different opening text! " + boiler + " other ending beta."}
    for doc_id, rows in by_doc.items():
        # ranges are disjoint and sorted after the island merge
        spans = sorted((r.span_start, r.span_end) for r in rows)
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 < s2
        # the widest merged span must lie inside the boilerplate region
        # (1-based substring arithmetic) and cover most of it
        text = texts[doc_id]
        lo = text.index(boiler) + 1
        hi = lo + len(boiler)
        big = max(rows, key=lambda r: r.span_end - r.span_start)
        assert big.span_start >= lo - 1 and big.span_end <= hi + 10
        assert (big.span_end - big.span_start) >= len(boiler) * 0.5


def test_key_skew_profile_math(spark):
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.profile import key_skew_profile

    # keys: a=4 rows, b=2, c=1, d=1 -> shares 0.5/0.25/0.125/0.125
    rows = [("a",)] * 4 + [("b",)] * 2 + [("c",)] + [("d",)]
    df = spark.createDataFrame(rows, "k string")
    got = {r.k: r for r in key_skew_profile(df, "k", top_n=10).collect()}
    assert got["a"].share == 0.5 and got["a"].rank == 1
    assert got["a"].cum_share == 0.5
    assert got["b"].cum_share == 0.75
    # gini identical on every row; exact: ranks asc c=1,d=2,b=3,a=4 ->
    # weighted = 1*1 + 1*2 + 2*3 + 4*4 = 25; 2*25/(4*8) - 5/4 = 0.3125
    ginis = {r.gini for r in got.values()}
    assert ginis == {0.3125}
    # uniform distribution -> gini 0
    uni = spark.createDataFrame([("x",), ("y",), ("z",)], "k string")
    assert {r.gini for r in key_skew_profile(uni, "k").collect()} == {0.0}


def test_embedding_outliers_flags_far_vector(spark):
    from riot_graphs_spark.operators.similarity import embedding_outliers

    # 7 vectors tight around the centroid, one far away
    base = [[1.0, 0.0], [0.9, 0.1], [1.1, -0.1], [1.0, 0.1],
            [0.9, -0.1], [1.05, 0.0], [0.95, 0.05]]
    far = [[5.0, 5.0]]
    rows = [(i, v) for i, v in enumerate(base + far)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in
           embedding_outliers(df, [[1.0, 0.0]], z_threshold=2.0).collect()}
    assert got[7].is_outlier is True
    assert all(not got[i].is_outlier for i in range(7))


# --------------------------------------------------------------------------
# pagerank: fixed-iteration score propagation
# --------------------------------------------------------------------------
def test_pagerank_star_hand_computed(spark):
    from riot_graphs_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], "src string, dst string"
    )
    got = {
        r.node: r.pr for r in pagerank(edges, iterations=1).collect()
    }
    # undirected star: center od=3, leaves od=1; p0=0.25 each
    # p1(center) = 0.15/4 + 0.85*(3*0.25)   = 0.675
    # p1(leaf)   = 0.15/4 + 0.85*(0.25/3)  ≈ 0.1083333
    assert abs(got["a"] - 0.675) < 1e-9
    for leaf in "bcd":
        assert abs(got[leaf] - (0.0375 + 0.85 * 0.25 / 3)) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_zero_iterations_uniform_and_validates(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.graph import pagerank

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r.node: r.pr for r in pagerank(edges, iterations=0).collect()}
    assert got == {"a": 0.5, "b": 0.5}
    with _pytest.raises(ValueError):
        pagerank(edges, iterations=-1)
    with _pytest.raises(ValueError):
        pagerank(edges, damping=1.0)


def test_pagerank_deterministic_across_partitioning(spark):
    from riot_graphs_spark.operators.graph import pagerank

    rows = [(i, (i * 7 + 1) % 50) for i in range(200) if i != (i * 7 + 1) % 50]
    e1 = spark.createDataFrame(rows, "src long, dst long")
    a = {r.node: r.pr for r in pagerank(e1, iterations=3).collect()}
    b = {
        r.node: r.pr
        for r in pagerank(e1.repartition(13), iterations=3).collect()
    }
    assert a == b  # decimal-carried sums: bit-equal, not approximately


def test_triangle_counts_k4_and_path(spark):
    from riot_graphs_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4}: every node in C(3,2)=3 triangles, clustering 1.0;
    # pendant node 5 attached to 1: degree 1, no triangles.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)],
        "src long, dst long",
    )
    got = {r.node: r for r in triangle_counts(edges).collect()}
    for n in (2, 3, 4):
        assert (got[n].degree, got[n].n_triangles) == (3, 3)
        assert abs(got[n].clustering - 1.0) < 1e-12
    assert (got[1].degree, got[1].n_triangles) == (4, 3)
    assert abs(got[1].clustering - 0.5) < 1e-12  # 2*3/(4*3)
    assert (got[5].degree, got[5].n_triangles, got[5].clustering) == (1, 0, 0.0)


def test_triangle_counts_triangle_free(spark):
    from riot_graphs_spark.operators.graph import triangle_counts

    # star: no triangles anywhere
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src long, dst long"
    )
    got = triangle_counts(edges).collect()
    assert all(r.n_triangles == 0 for r in got)


def test_hits_hand_computed_bipartite(spark):
    from riot_graphs_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("u1", "p1"), ("u1", "p2"), ("u2", "p2"), ("u2", "p3")],
        "src string, dst string",
    )
    got = {
        (r.kind, r.node): r.score for r in hits(edges, iterations=1).collect()
    }
    # a1 raw: p1=1, p2=2, p3=1 -> L1: .25/.5/.25; h1 raw: .75/.75 -> .5/.5
    assert abs(got[("auth", "p1")] - 0.25) < 1e-12
    assert abs(got[("auth", "p2")] - 0.50) < 1e-12
    assert abs(got[("auth", "p3")] - 0.25) < 1e-12
    assert abs(got[("hub", "u1")] - 0.5) < 1e-12
    assert abs(got[("hub", "u2")] - 0.5) < 1e-12
    # each side L1-normalized
    for kind in ("hub", "auth"):
        assert abs(sum(v for (k, _), v in got.items() if k == kind) - 1.0) < 1e-12


def test_hits_validates_iterations(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.graph import hits

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError):
        hits(edges, iterations=0)


def test_item_item_similarity_hand_computed(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from riot_graphs_spark.plans.driver_queries import QUERIES

    # baskets: o1{1,2} o2{1,2} o3{1,3} o4{2,3} -> only (1,2) has cooc>=2
    rows = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3), (4, 2), (4, 3)]
    t = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    pq.write_table(t, str(tmp_path / "lineitem.parquet"))
    got = {
        (r.part_a, r.part_b): (r.cooc, r.cosine, r.rank)
        for r in QUERIES["item_item_similarity"](spark, str(tmp_path)).collect()
    }
    # n_ord: 1->3, 2->3; sim(1,2) = 2/sqrt(3*3) = 2/3; symmetric rows
    assert set(got) == {(1, 2), (2, 1)}
    for k in got:
        assert got[k][0] == 2 and abs(got[k][1] - 2 / 3) < 1e-12
        assert got[k][2] == 1


def test_label_propagation_spreads_and_clamps(spark):
    from riot_graphs_spark.operators.graph import label_propagation

    # chain 1-2-3 seeded at 1 (label 7); node 4 isolated pair with no seed;
    # node 5 is a seed whose neighbors all say 7 — must stay clamped at 9.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 40), (2, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1, 7), (5, 9)], "node long, label int")
    got = {
        r.node: (r.label, r.is_seed)
        for r in label_propagation(edges, seeds, iterations=2).collect()
    }
    assert got[1] == (7, True)
    assert got[5] == (9, True)  # clamped despite neighbor 2 becoming 7
    # iteration 1: node 2 hears {7 from 1, 9 from 5} -> tie -> smallest = 7
    assert got[2] == (7, False)
    assert got[3] == (7, False)  # reached in iteration 2
    assert got[4] == (None, False) and got[40] == (None, False)


def test_label_propagation_tie_breaks_smallest(spark):
    from riot_graphs_spark.operators.graph import label_propagation

    # node 10 has two neighbors with equal-count different labels
    edges = spark.createDataFrame([(1, 10), (2, 10)], "src long, dst long")
    seeds = spark.createDataFrame([(1, 5), (2, 3)], "node long, label int")
    got = {
        r.node: r.label
        for r in label_propagation(edges, seeds, iterations=1).collect()
    }
    assert got[10] == 3  # smallest label wins the tie


def test_k_core_peels_pendant_chain(spark):
    from riot_graphs_spark.operators.graph import k_core_peel

    # triangle {1,2,3} + pendant chain 3-4-5: one round kills 5, the next
    # kills 4; the triangle survives as the 2-core with degree 2 each.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r.node: r.degree for r in k_core_peel(edges, k=2, rounds=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # with only one round, node 4 still shows (its degree-1 neighbor 5
    # was removed this round, but 4's recount happens after)
    one = {r.node for r in k_core_peel(edges, k=2, rounds=1).collect()}
    assert one == {1, 2, 3}  # 4's degree drops to 1 after 5 peels
    with __import__("pytest").raises(ValueError):
        k_core_peel(edges, k=0)


def test_correlation_matrix_hand_computed(spark):
    import math

    from riot_graphs_spark.operators.profile import correlation_matrix

    # y = 2x (r=1), z anti-correlated with x (r<0), w constant (NULL r)
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    rows = [(x, 2 * x, 6.0 - x, 7.0) for x in xs]
    df = spark.createDataFrame(rows, "x double, y double, z double, w double")
    got = {
        (r.col_a, r.col_b): r.r
        for r in correlation_matrix(df, ["x", "y", "z", "w"]).collect()
    }
    assert len(got) == 6
    assert abs(got[("x", "y")] - 1.0) < 1e-9
    assert abs(got[("x", "z")] + 1.0) < 1e-9
    assert got[("x", "w")] is None  # zero variance -> NULL, not a crash

    # spot-check a non-trivial pair against the textbook formula
    def pearson(a, b):
        n = len(a)
        sa, sb = sum(a), sum(b)
        num = n * sum(p * q for p, q in zip(a, b)) - sa * sb
        den = math.sqrt(
            (n * sum(p * p for p in a) - sa * sa)
            * (n * sum(q * q for q in b) - sb * sb)
        )
        return num / den

    ys = [2 * x for x in xs]
    zs = [6.0 - x for x in xs]
    assert abs(got[("y", "z")] - round(pearson(ys, zs), 9)) < 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError):
        correlation_matrix(df, ["x"])


def test_correlation_matrix_overflow_fails_loudly(spark):
    """A value with >12 integer digits overflows the decimal(18,6) moment
    cast; the operator must raise_error at execution instead of silently
    returning NULL r."""
    import pytest as _pytest

    from riot_graphs_spark.operators.profile import correlation_matrix

    df = spark.createDataFrame(
        [(1.0e13, 1.0), (2.0e13, 2.0)], "x double, y double"
    )
    with _pytest.raises(Exception, match="decimal\\(18,6\\)"):
        correlation_matrix(df, ["x", "y"]).collect()


def test_categorical_association_hand_computed(spark):
    """2x2 contingency table with known chi2; NULL categories are their
    own level, perfectly-associated columns give V = 1."""
    from riot_graphs_spark.operators.profile import categorical_association

    # table: a1/b1 30, a1/b2 10, a2/b1 10, a2/b2 30  (n=80)
    rows = (
        [("a1", "b1")] * 30 + [("a1", "b2")] * 10
        + [("a2", "b1")] * 10 + [("a2", "b2")] * 30
    )
    df = spark.createDataFrame(rows, "x string, y string")
    got = categorical_association(df, "x", "y").collect()[0]
    # expected all cells e=20: chi2 = 4 * (10^2 / 20) = 20
    assert got.n == 80 and got.dof == 1
    assert abs(got.chi2 - 20.0) < 1e-9
    assert abs(got.cramers_v - (20.0 / 80) ** 0.5) < 1e-9

    # perfect association: y determined by x -> V = 1
    det = spark.createDataFrame(
        [("a", "p")] * 5 + [("b", "q")] * 5, "x string, y string"
    )
    got2 = categorical_association(det, "x", "y").collect()[0]
    assert abs(got2.cramers_v - 1.0) < 1e-9

    # NULLs are a level, not dropped
    with_null = spark.createDataFrame(
        [("a", "p"), ("a", None), (None, "p"), (None, None)],
        "x string, y string",
    )
    got3 = categorical_association(with_null, "x", "y").collect()[0]
    assert got3.n == 4 and got3.dof == 1


# ---------------------------------------------------------------------------
# Mergeable percentile rollup state (operators/rollup.py histogram family)
# ---------------------------------------------------------------------------


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double"
    )


def test_histogram_percentiles_nearest_rank_hand_computed(spark):
    from datetime import datetime

    from riot_graphs_spark.operators.rollup import (
        histogram_partials,
        histogram_percentiles,
    )

    t = datetime(2024, 1, 3, 12)
    df = _ev(spark, [("a", t, v) for v in (0.5, 1.5, 2.5, 3.5)])
    h = histogram_partials(
        df, dims=["event_type"], lo=0.0, hi=10.0, nbuckets=10
    )
    r = histogram_percentiles(h, dims=["event_type"]).collect()[0]
    # ranks: p50 -> cum>=2 -> bin1; p95/p99 -> cum=4 -> bin3
    assert (r["n_rows"], r["p50"], r["p95"], r["p99"]) == (4, 1.0, 3.0, 3.0)


def test_histogram_rollup_two_level_equals_direct_and_bin_exact(spark):
    """Day->week state merge must equal the week-grain histogram computed
    directly (bin counts add exactly), and every derived percentile's bin
    must CONTAIN the exact nearest-rank value (one-bin resolution)."""
    import random
    from datetime import datetime, timedelta

    from riot_graphs_spark.operators.rollup import (
        histogram_partials,
        histogram_percentiles,
        merge_histogram_to_grain,
    )

    rng = random.Random(6)
    t0 = datetime(2024, 1, 1)
    rows = [
        (
            rng.choice(["a", "b"]),
            t0 + timedelta(hours=rng.randrange(24 * 21)),
            rng.uniform(0.0, 100.0),
        )
        for _ in range(400)
    ]
    df = _ev(spark, rows)
    spec = dict(dims=["event_type"], lo=0.0, hi=100.0, nbuckets=20)
    two = histogram_percentiles(
        merge_histogram_to_grain(
            histogram_partials(df, grain="day", **spec),
            dims=["event_type"], grain="week",
        ),
        dims=["event_type"],
    )
    direct = histogram_percentiles(
        histogram_partials(df, grain="week", **spec), dims=["event_type"]
    )
    got = {tuple(r) for r in two.collect()}
    assert got == {tuple(r) for r in direct.collect()} and got
    # one-bin resolution vs the exact nearest-rank percentile
    by_group: dict = {}
    for etype, ts, v in rows:
        wk = (ts - timedelta(days=ts.weekday())).date()
        by_group.setdefault((wk, etype), []).append(v)
    for r in two.collect():
        vals = sorted(by_group[(r["bucket"].date(), r["event_type"])])
        for q, edge in ((50, r["p50"]), (95, r["p95"]), (99, r["p99"])):
            rank = -(-q * len(vals) // 100)  # ceil(q*n/100)
            exact = vals[rank - 1]
            assert edge <= exact < edge + 5.0, (r, q, exact)


def test_histogram_partials_validates(spark):
    import pytest

    from riot_graphs_spark.operators.rollup import (
        histogram_partials,
        histogram_percentiles,
    )

    df = _ev(spark, [])
    with pytest.raises(ValueError):
        histogram_partials(df, dims=[], lo=1.0, hi=1.0, nbuckets=10)
    with pytest.raises(ValueError):
        histogram_partials(df, dims=[], lo=0.0, hi=1.0, nbuckets=0)
    with pytest.raises(ValueError):
        histogram_percentiles(df, dims=[], percentiles=(0,))


# ---------------------------------------------------------------------------
# Numeric drift monitors (operators/profile.py psi_report / ks_two_sample)
# ---------------------------------------------------------------------------


def _vals(spark, rows):
    return spark.createDataFrame(rows, "grp string, value double")


def test_psi_identical_snapshots_is_exactly_zero(spark):
    from riot_graphs_spark.operators.profile import psi_report

    df = _vals(
        spark, [("a", float(v)) for v in (1, 2, 2, 3, 5, 8, 13, 21)]
    )
    r = psi_report(
        df, df, "value", lo=0.0, hi=25.0, nbuckets=5, group_cols=["grp"]
    ).collect()[0]
    # identical bins -> every term is (p-p)*ln(1) = 0 EXACTLY
    assert (r["n_a"], r["n_b"], r["psi"]) == (8, 8, 0.0)


def test_psi_flags_shift_and_stays_finite_on_empty_bins(spark):
    from riot_graphs_spark.operators.profile import psi_report

    a = _vals(spark, [("g", float(v) % 10) for v in range(200)])
    b = _vals(spark, [("g", 90.0 + float(v) % 10) for v in range(200)])
    r = psi_report(
        a, b, "value", lo=0.0, hi=100.0, nbuckets=10, group_cols=["grp"]
    ).collect()[0]
    # total separation: every bin is empty on one side -> smoothing keeps
    # the terms finite, and the index lands far beyond the 0.25 threshold
    assert r["psi"] > 2.0 and r["psi"] < float("inf")


def test_psi_groups_from_both_sides_and_null_excluded(spark):
    from riot_graphs_spark.operators.profile import psi_report

    a = _vals(spark, [("only_a", 1.0), (None, 2.0)])
    b = _vals(spark, [("only_b", 1.0)])
    got = {
        r["grp"]: (r["n_a"], r["n_b"])
        for r in psi_report(
            a, b, "value", lo=0.0, hi=10.0, nbuckets=5, group_cols=["grp"]
        ).collect()
    }
    assert got == {"only_a": (1, 0), "only_b": (0, 1)}


def test_ks_two_sample_matches_brute_force(spark):
    from riot_graphs_spark.operators.profile import ks_two_sample

    xa = [1.0, 1.0, 2.0, 3.5, 9.0]
    xb = [1.0, 4.0, 4.0, 8.0]
    a = _vals(spark, [("g", v) for v in xa])
    b = _vals(spark, [("g", v) for v in xb])
    r = ks_two_sample(a, b, "value", group_cols=["grp"]).collect()[0]
    support = sorted(set(xa) | set(xb))
    expect = max(
        abs(
            sum(1 for v in xa if v <= x) / len(xa)
            - sum(1 for v in xb if v <= x) / len(xb)
        )
        for x in support
    )
    assert (r["n_a"], r["n_b"]) == (5, 4)
    assert abs(r["ks_d"] - expect) < 1e-9


def test_ks_identical_is_zero_and_disjoint_is_one(spark):
    from riot_graphs_spark.operators.profile import ks_two_sample

    a = _vals(spark, [("g", float(v)) for v in range(10)])
    b = _vals(spark, [("g", 100.0 + v) for v in range(10)])
    same = ks_two_sample(a, a, "value", group_cols=["grp"]).collect()[0]
    disj = ks_two_sample(a, b, "value", group_cols=["grp"]).collect()[0]
    assert same["ks_d"] == 0.0
    assert disj["ks_d"] == 1.0


# ---------------------------------------------------------------------------
# Mutual information (operators/profile.py categorical_mutual_information)
# ---------------------------------------------------------------------------


def test_mi_independent_is_zero_dependent_is_entropy(spark):
    import math

    from riot_graphs_spark.operators.profile import (
        categorical_mutual_information,
    )

    # perfectly independent 2x2 -> every lift is exactly 1 -> MI = 0
    ind = spark.createDataFrame(
        [("x", "u")] * 2 + [("x", "v")] * 2 + [("y", "u")] * 2
        + [("y", "v")] * 2,
        "a string, b string",
    )
    r = categorical_mutual_information(ind, "a", "b").collect()[0]
    assert (r["n"], r["mi"], r["nmi"]) == (8, 0.0, 0.0)

    # perfectly dependent (b == a) -> MI = H(A), NMI = 1
    dep = spark.createDataFrame(
        [("x", "x")] * 3 + [("y", "y")] * 5, "a string, b string"
    )
    r = categorical_mutual_information(dep, "a", "b").collect()[0]
    h = -(3 / 8 * math.log(3 / 8) + 5 / 8 * math.log(5 / 8))
    assert abs(r["mi"] - h) < 2e-9
    assert abs(r["nmi"] - 1.0) < 1e-9


def test_mi_null_levels_counted_and_constant_column_null_nmi(spark):
    from riot_graphs_spark.operators.profile import (
        categorical_mutual_information,
    )

    df = spark.createDataFrame(
        [("x", "u"), (None, "v"), ("x", None)], "a string, b string"
    )
    r = categorical_mutual_information(df, "a", "b").collect()[0]
    assert r["n"] == 3  # NULLs are levels, not drops
    const = spark.createDataFrame(
        [("k", "u"), ("k", "v")], "a string, b string"
    )
    r = categorical_mutual_information(const, "a", "b").collect()[0]
    assert r["mi"] == 0.0 and r["nmi"] is None  # zero entropy -> NULL NMI


# ---------------------------------------------------------------------------
# Embedding centroid drift (operators/similarity.py centroid_drift)
# ---------------------------------------------------------------------------


def test_centroid_drift_identical_stable_shifted_moves(spark):
    from riot_graphs_spark.operators.similarity import centroid_drift

    rows = [
        ("x", [1.0, 0.0, 0.0, 0.0]),
        ("x", [0.8, 0.2, 0.0, 0.0]),
        ("y", [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<float>")
    same = {
        r["label"]: (r["centroid_cosine"], r["centroid_l2_shift"])
        for r in centroid_drift(df, df).collect()
    }
    assert same["x"] == (1.0, 0.0) and same["y"] == (1.0, 0.0)

    # orthogonal replacement for x in snapshot b -> cosine 0, L2 = |a-b|
    b = spark.createDataFrame(
        [("x", [0.0, 0.0, 1.0, 0.0]), ("y", [0.0, 1.0, 0.0, 0.0])],
        "label string, embedding array<float>",
    )
    moved = {
        r["label"]: (r["centroid_cosine"], r["centroid_l2_shift"])
        for r in centroid_drift(df, b).collect()
    }
    assert moved["y"] == (1.0, 0.0)
    assert abs(moved["x"][0]) < 1e-9  # orthogonal centroids
    import math

    expect_l2 = math.sqrt(0.9**2 + 0.1**2 + 1.0**2)
    assert abs(moved["x"][1] - expect_l2) < 1e-6


def test_centroid_drift_one_sided_label_reports_null(spark):
    from riot_graphs_spark.operators.similarity import centroid_drift

    a = spark.createDataFrame(
        [("only_a", [1.0, 0.0])], "label string, embedding array<float>"
    )
    b = spark.createDataFrame(
        [("only_b", [0.0, 1.0])], "label string, embedding array<float>"
    )
    got = {
        r["label"]: (r["n_a"], r["n_b"], r["centroid_cosine"],
                     r["centroid_l2_shift"])
        for r in centroid_drift(a, b).collect()
    }
    assert got["only_a"] == (1, 0, None, None)
    assert got["only_b"] == (0, 1, None, None)


def test_equi_depth_edges_hand_computed_and_validates(spark):
    import pytest

    from riot_graphs_spark.operators.profile import equi_depth_edges

    # 8 values, k=4 -> quartile edges at ranks 2, 4, 6 (k*cum >= j*n)
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    df = _vals(spark, [("g", v) for v in vals])
    got = {
        r["edge_idx"]: r["edge"]
        for r in equi_depth_edges(
            df, "value", k=4, group_cols=["grp"]
        ).collect()
    }
    assert got == {1: 2.0, 2: 4.0, 3: 6.0}
    # heavy ties: equal-frequency edges may repeat — by definition
    tied = _vals(spark, [("g", 5.0)] * 7 + [("g", 9.0)])
    got = {
        r["edge_idx"]: r["edge"]
        for r in equi_depth_edges(
            tied, "value", k=4, group_cols=["grp"]
        ).collect()
    }
    assert got == {1: 5.0, 2: 5.0, 3: 5.0}
    with pytest.raises(ValueError):
        equi_depth_edges(df, "value", k=1)


def test_ks_goodness_of_fit_hand_computed(spark):
    import pytest

    from riot_graphs_spark.operators.profile import ks_goodness_of_fit

    # exact uniform grid midpoints on [0,10): ecdf k/4 vs F0 stepping
    # through 0.125..0.875 -> D = 0.125 on both sides of every step
    df = _vals(spark, [("g", v) for v in (1.25, 3.75, 6.25, 8.75)])
    r = ks_goodness_of_fit(
        df, "value", lo=0.0, hi=10.0, group_cols=["grp"]
    ).collect()[0]
    assert (r["n"], r["ks_d"]) == (4, 0.125)

    # all mass at one point far from uniform -> D near 1 (left gap at v=0:
    # F0=0, ecdf jumps to 1; right gap 1 - F0(0.0) = 1.0... v=0 -> F0=0,
    # ecdf_before=0 -> D = 1 - 0 = 1.0)
    spike = _vals(spark, [("g", 0.0)] * 5)
    r = ks_goodness_of_fit(
        spike, "value", lo=0.0, hi=10.0, group_cols=["grp"]
    ).collect()[0]
    assert r["ks_d"] == 1.0

    with pytest.raises(ValueError):
        ks_goodness_of_fit(df, "value", lo=1.0, hi=1.0)


def test_table_checksum_order_free_and_sensitive(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.profile import table_checksum

    df = spark.createDataFrame(
        [("p1", "a", 1), ("p1", "b", 2), ("p2", "c", 3)],
        "part string, k string, v int",
    )
    canon = df.selectExpr(
        "part", "k", "cast(v as string) as vs"
    )
    r1 = {
        r["part"]: (r["n_rows"], str(r["checksum"]))
        for r in table_checksum(
            canon, ["k", "vs"], partition_cols=["part"]
        ).collect()
    }
    # row order / partitioning invariance: reversed + repartitioned input
    shuffled = canon.orderBy(F.desc("k")).repartition(7)
    r2 = {
        r["part"]: (r["n_rows"], str(r["checksum"]))
        for r in table_checksum(
            shuffled, ["k", "vs"], partition_cols=["part"]
        ).collect()
    }
    assert r1 == r2
    # any single-value change moves the checksum
    changed = spark.createDataFrame(
        [("p1", "a", 1), ("p1", "b", 99), ("p2", "c", 3)],
        "part string, k string, v int",
    ).selectExpr("part", "k", "cast(v as string) as vs")
    r3 = {
        r["part"]: (r["n_rows"], str(r["checksum"]))
        for r in table_checksum(
            changed, ["k", "vs"], partition_cols=["part"]
        ).collect()
    }
    assert r3["p1"] != r1["p1"] and r3["p2"] == r1["p2"]
    # NULL is distinct from the string 'null' and from absence
    with_null = spark.createDataFrame(
        [("p1", None, "1")], "part string, k string, vs string"
    )
    lit_null = spark.createDataFrame(
        [("p1", "null", "1")], "part string, k string, vs string"
    )
    c_null = table_checksum(with_null, ["k", "vs"], ["part"]).collect()[0]
    c_lit = table_checksum(lit_null, ["k", "vs"], ["part"]).collect()[0]
    assert str(c_null["checksum"]) != str(c_lit["checksum"])


def test_mann_kendall_trend_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import mann_kendall_trend

    def mk(vals, g="a"):
        # one event per day, value = vals[i]
        return [
            (g, f"2024-01-{i+1:02d} 00:00:00", float(v))
            for i, v in enumerate(vals)
        ]

    rows = mk(range(10)) + mk([5] * 10, g="flat") + mk(
        list(range(10, 0, -1)), g="down"
    )
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["event_type"]: r
        for r in mann_kendall_trend(
            df, dims=["event_type"], unit="day"
        ).collect()
    }
    up = got["a"]
    # strictly increasing 10 buckets: S = C(10,2) = 45, no ties
    assert (up["n_buckets"], up["s"]) == (10, 45)
    assert up["var_s"] == _pytest.approx(10 * 9 * 25 / 18)
    assert up["trend"] == "increasing" and up["z"] > 1.96
    down = got["down"]
    assert down["s"] == -45 and down["trend"] == "decreasing"
    flat = got["flat"]
    # all-tied series: var 0 -> NULL z, no_trend (not a crash)
    assert flat["s"] == 0 and flat["z"] is None
    assert flat["trend"] == "no_trend"


def test_seasonal_strength_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import seasonal_strength

    # period 5 (odd -> the 5-point MA spans exactly one cycle, so a pure
    # season has constant trend); deterministic small noise keeps every
    # variance positive so the ratios are defined
    rows = []
    for i in range(30):
        ts = f"2024-01-01 {i // 6:02d}:{(i % 6) * 10:02d}:00"
        noise = ((i * 5) % 7 - 3) * 0.1  # period-7: NOT aliased with
        # the period-5 season, so the seasonal map can't absorb it
        rows.append(
            ("seasonal", ts, float([0, 10, 0, -10, 0][i % 5]) + noise)
        )
        rows.append(("trend", ts, float(i) + noise))
    df = spark.createDataFrame(
        rows, "event_type string, bucket string, value double"
    ).withColumn("bucket", F.col("bucket").cast("timestamp"))
    got = {
        r["event_type"]: r
        for r in seasonal_strength(
            df, ["event_type"], "bucket", "value", 5
        ).collect()
    }
    s = got["seasonal"]
    assert s["seasonal_strength"] > 0.9
    assert s["trend_strength"] < 0.6
    assert s["seasonal_strength"] > s["trend_strength"]
    t = got["trend"]
    assert t["trend_strength"] > 0.9
    assert t["trend_strength"] > t["seasonal_strength"]
    # full-window support only: 30 buckets - 2*(period//2) edges
    assert s["n_buckets"] == 30 - 4
    assert 0.0 <= s["trend_strength"] <= 1.0
    assert 0.0 <= t["seasonal_strength"] <= 1.0


def test_theil_sen_slope_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import theil_sen_slope

    def mk(vals, g):
        return [
            (g, f"2024-01-{i+1:02d} 00:00:00", float(v))
            for i, v in enumerate(vals)
        ]

    # "robust": one spike (100 at day 5) leaves 36 of 45 pairwise
    # slopes at exactly 1 -> the weighted median is still 1.0, where a
    # least-squares fit would be dragged far off
    rows = (
        mk([2 * i for i in range(10)], "lin")
        + mk([0, 1, 2, 3, 100, 5, 6, 7, 8, 9], "robust")
        + mk([7.0], "single")
    )
    # duplicate-day reduction: two events on day 1 average to 2 before
    # pairing, so the two-bucket slope is (8-2)/3 days = 2
    rows += [
        ("dupday", "2024-01-01 06:00:00", 1.0),
        ("dupday", "2024-01-01 18:00:00", 3.0),
        ("dupday", "2024-01-04 12:00:00", 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["event_type"]: r
        for r in theil_sen_slope(
            df, dims=["event_type"], unit="day"
        ).collect()
    }
    lin = got["lin"]
    # strictly linear: every pairwise slope is exactly 2
    assert (lin["n_buckets"], lin["n_pairs"]) == (10, 45)
    assert lin["sen_slope"] == _pytest.approx(2.0)
    rob = got["robust"]
    assert rob["n_pairs"] == 45
    assert rob["sen_slope"] == _pytest.approx(1.0)
    assert got["dupday"]["sen_slope"] == _pytest.approx(2.0)
    # a single-bucket series has no pairs and is absent, not a crash
    assert "single" not in got


def test_cusum_changepoint_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import cusum_changepoint

    def mk(vals, g):
        return [
            (g, f"2024-01-{i+1:02d} 00:00:00", float(v))
            for i, v in enumerate(vals)
        ]

    # clean step 0->10 at day 10: S_i = -5i down to -50 at i=10 then
    # recovers — argmax|S| IS the last pre-break bucket
    rows = (
        mk([0] * 10 + [10] * 10, "step")
        + mk([5] * 12, "flat")
        + mk([3.0], "single")
    )
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["event_type"]: r
        for r in cusum_changepoint(
            df, dims=["event_type"], unit="day", b=60
        ).collect()
    }
    st = got["step"]
    assert st["n_buckets"] == 20
    assert str(st["cp_bucket"]).startswith("2024-01-10")
    assert st["mean_before"] == _pytest.approx(0.0)
    assert st["mean_after"] == _pytest.approx(10.0)
    assert st["shift"] == _pytest.approx(10.0)
    # max(S)=0 (at i=20), min(S)=-50 -> range 50
    assert st["cusum_range"] == _pytest.approx(50.0)
    assert st["p_value"] < 0.05 and st["significant"]
    fl = got["flat"]
    # flat: every ordering gives range 0 >= 0, so p = 1 exactly
    assert fl["cusum_range"] == 0.0
    assert fl["n_ge"] == 60 and fl["p_value"] == _pytest.approx(1.0)
    assert not fl["significant"]
    # single-bucket series can't host a break and is absent
    assert "single" not in got


def test_forecast_backtest_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import forecast_backtest

    rows = [
        ("lin", f"2024-01-{i:02d} 00:00:00", float(i))
        for i in range(1, 11)
    ]
    # short series: lag-3 undefined for the first test bucket
    rows += [
        ("short", f"2024-01-{i:02d} 00:00:00", float(v))
        for i, v in [(1, 1.0), (2, 2.0), (3, 0.0), (4, 4.0)]
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = forecast_backtest(
        df, dims=["event_type"], unit="day", period=3, holdout=3
    ).collect()
    got = {(r["event_type"], r["method"]): r for r in out}

    # lin 1..10, cut=7: naive fc=7 on actuals 8,9,10 -> MAE 2,
    # RMSE sqrt(14/3), MAPE mean(1/8,2/9,3/10); in-sample naive MAE=1
    nv = got[("lin", "naive")]
    assert nv["h"] == 3 and nv["n_mape"] == 3
    assert nv["mae"] == _pytest.approx(2.0)
    assert nv["rmse"] == _pytest.approx((14 / 3.0) ** 0.5)
    assert nv["mape"] == _pytest.approx((1 / 8 + 2 / 9 + 3 / 10) / 3)
    assert nv["mase"] == _pytest.approx(2.0)
    # seasonal-naive lag3: forecasts 5,6,7 -> all errors 3
    sn = got[("lin", "seasonal_naive")]
    assert sn["mae"] == 3.0 and sn["rmse"] == 3.0
    assert sn["mase"] == _pytest.approx(3.0)

    # short series (1,2,0,4), holdout 3 -> cut=1, test=(2,0,4):
    # naive fc=1 always; MAPE excludes the zero actual (n_mape=2);
    # in-sample has no train diff (only bucket 1) -> MASE NULL
    snv = got[("short", "naive")]
    assert snv["h"] == 3 and snv["n_mape"] == 2
    assert snv["mae"] == _pytest.approx((1 + 1 + 3) / 3)
    assert snv["mase"] is None
    # seasonal lag-3 defined only for the last test bucket (fc=1 on 4)
    ssn = got[("short", "seasonal_naive")]
    assert ssn["h"] == 1 and ssn["mae"] == _pytest.approx(3.0)


def test_dominant_period_hand_cases(spark):
    import math

    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import dominant_period

    rows = []
    for i in range(48):
        ts = f"2024-01-{i // 24 + 1:02d} {i % 24:02d}:00:00"
        # unit cosine with period 8 (48 is a multiple -> orthogonal)
        rows.append(
            ("wave", ts, math.cos(2 * math.pi * (i + 1) / 8.0))
        )
        rows.append(("flat", ts, 5.0))
    rows += [("short", "2024-01-01 00:00:00", 1.0)]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = dominant_period(
        df, dims=["event_type"], unit="hour", max_period=16, top_k=3
    ).collect()
    got = {(r["event_type"], r["rank"]): r for r in out}
    # the period-8 sinusoid dominates with power ~ amplitude^2/4
    top = got[("wave", 1)]
    assert top["period"] == 8
    assert top["power"] == _pytest.approx(0.25, abs=1e-6)
    # non-integer-cycle candidates leak a little; the true period
    # still dominates by a wide margin
    assert got[("wave", 2)]["power"] < top["power"] / 5
    # flat series: zero power everywhere, deterministic period-asc tie
    assert got[("flat", 1)]["power"] == 0.0
    assert [got[("flat", r)]["period"] for r in (1, 2, 3)] == [2, 3, 4]
    # a <4-bucket series is absent
    assert not any(k[0] == "short" for k in got)


def test_join_cardinality_audit_hand_case(spark):
    from riot_graphs_spark.operators.profile import (
        join_cardinality_audit,
    )

    # left keys: a x3, b x1, c x2 (+ null dropped); right: b x2, c x2,
    # d x4 -> shared {b, c}: join rows = 1*2 + 2*2 = 6,
    # max key product = 4 (c), worst fanouts 3 (a, left) / 4 (d, right)
    left = spark.createDataFrame(
        [("a",), ("a",), ("a",), ("b",), ("c",), ("c",), (None,)],
        "k string",
    )
    right = spark.createDataFrame(
        [("b",), ("b",), ("c",), ("c",), ("d",), ("d",), ("d",), ("d",)],
        "k string",
    )
    got = join_cardinality_audit(left, right, "k", "k").collect()[0]
    assert (got["n_left"], got["n_right"]) == (6, 8)
    assert (got["keys_left"], got["keys_right"]) == (3, 3)
    assert got["keys_shared"] == 2
    assert (got["keys_left_only"], got["keys_right_only"]) == (1, 1)
    assert got["join_rows"] == 6
    assert got["max_fanout_left"] == 3
    assert got["max_fanout_right"] == 4
    assert got["max_key_product"] == 4

    # disjoint keys: zero join rows, zero shared, nothing crashes
    r2 = spark.createDataFrame([("z",)], "k string")
    got = join_cardinality_audit(left, r2, "k", "k").collect()[0]
    assert got["join_rows"] == 0 and got["keys_shared"] == 0
    assert got["max_key_product"] == 0


def test_rolling_correlation_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import (
        rolling_correlation,
    )

    rows = []
    for i in range(1, 11):
        ts = f"2024-01-{i:02d} 00:00:00"
        rows.append(("a", ts, float(i)))
        rows.append(("b", ts, 2.0 * i + 3))          # corr +1
        rows.append(("c", ts, float(-i)))            # corr -1 vs a
        rows.append(("d", ts, 7.0))                  # flat -> NULL
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    up = rolling_correlation(
        df, series_col="event_type", series_a="a", series_b="b",
        unit="day", window=4,
    ).collect()
    # 10 buckets, window 4 -> 7 full windows, all perfectly correlated
    assert len(up) == 7
    assert all(r["n_window"] == 4 for r in up)
    assert all(r["corr"] == _pytest.approx(1.0) for r in up)

    down = rolling_correlation(
        df, series_col="event_type", series_a="a", series_b="c",
        unit="day", window=4,
    ).collect()
    assert all(r["corr"] == _pytest.approx(-1.0) for r in down)

    flat = rolling_correlation(
        df, series_col="event_type", series_a="a", series_b="d",
        unit="day", window=4,
    ).collect()
    assert all(r["corr"] is None for r in flat)

    with _pytest.raises(ValueError):
        rolling_correlation(df, series_a="a", series_b="a")


def test_logrank_test_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.funnel import logrank_test

    def run(rows):
        df = spark.createDataFrame(rows, "g string, t int, e int")
        return logrank_test(df, "t", "e", "g").collect()[0]

    # a churns at 1,2; b churns at 3,4:
    # E1 = .5 + 1/3, V = .25 + 2/9 -> z = 7/sqrt(17)
    got = run([("a", 1, 1), ("a", 2, 1), ("b", 3, 1), ("b", 4, 1)])
    assert (got["n_a"], got["n_b"]) == (2, 2)
    assert (got["events_a"], got["events_b"]) == (2, 2)
    assert got["expected_a"] == _pytest.approx(5 / 6)
    assert got["z"] == _pytest.approx(7 / 17 ** 0.5)
    assert not got["significant"]

    # censoring respected: the censored-at-5 users stay at risk
    cen = run([("a", 1, 1), ("a", 5, 0), ("b", 2, 1), ("b", 5, 0)])
    assert (cen["events_a"], cen["events_b"]) == (1, 1)
    assert cen["z"] == _pytest.approx(1 / 17 ** 0.5)

    # identical curves: O = E exactly -> z = 0
    same = run([("a", 1, 1), ("a", 2, 1), ("b", 1, 1), ("b", 2, 1)])
    assert same["z"] == _pytest.approx(0.0)

    # a third arm NULLs the verdict
    three = run([("a", 1, 1), ("b", 2, 1), ("c", 3, 1)])
    assert three["group_a"] is None and three["z"] is None


def test_weighted_kappa_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.profile import weighted_kappa

    rows = (
        [(1, 1)] * 2 + [(2, 2)] * 2 + [(3, 3)] * 2
        + [(1, 3), (3, 1)]
    )
    df = spark.createDataFrame(rows, "a int, b int")
    # quadratic: obs = 8, exp = 96 -> 1 - 8*8/96 = 1/3
    q = weighted_kappa(df, "a", "b", power=2).collect()[0]
    assert q["n"] == 8
    assert q["kappa_w"] == _pytest.approx(1 / 3)
    # linear: obs = 4, exp = 60 -> 1 - 32/60
    lin = weighted_kappa(df, "a", "b", power=1).collect()[0]
    assert lin["kappa_w"] == _pytest.approx(28 / 60)

    # perfect agreement -> 1 exactly
    perfect = weighted_kappa(
        spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "a int, b int"),
        "a",
        "b",
    ).collect()[0]
    assert perfect["kappa_w"] == 1.0

    # constant columns: zero expected disagreement -> NULL
    const = weighted_kappa(
        spark.createDataFrame([(1, 1)] * 3, "a int, b int"), "a", "b"
    ).collect()[0]
    assert const["kappa_w"] is None

    with _pytest.raises(ValueError):
        weighted_kappa(df, "a", "b", power=3)


def test_nelson_aalen_hand_case(spark):
    import math

    import pytest as _pytest

    from riot_graphs_spark.operators.funnel import nelson_aalen_hazard

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 0), (3, 0)], "duration int, event int"
    )
    got = {r["t"]: r for r in nelson_aalen_hazard(df).collect()}
    assert got[1]["n_at_risk"] == 4 and got[1]["hazard"] == 0.25
    assert got[2]["n_at_risk"] == 3
    assert got[2]["hazard"] == _pytest.approx(1 / 3)
    assert got[2]["cum_hazard"] == _pytest.approx(0.25 + 1 / 3)
    assert got[2]["var_cum_hazard"] == _pytest.approx(1 / 16 + 1 / 9)
    assert got[2]["fh_survival"] == _pytest.approx(
        math.exp(-(0.25 + 1 / 3)), abs=1e-9
    )
    # a censor-only time contributes zero hazard, H flat
    assert got[3]["hazard"] == 0.0
    assert got[3]["cum_hazard"] == got[2]["cum_hazard"]
    # FH survival sits near (slightly above) the KM product-limit
    assert 0 < got[3]["fh_survival"] < 1


def test_interarrival_expfit_hand_cases(spark):
    import math

    import pytest as _pytest

    from riot_graphs_spark.operators.timeseries import (
        interarrival_expfit,
    )

    # perfectly regular 10s gaps: lambda = 0.1, the empirical CDF jumps
    # 0 -> 1 at x = 10 while F_exp(10) = 1 - e^-1, so
    # D = max(1 - (1-e^-1), 1 - e^-1) = 1 - e^-1 ~ .632 -> reject
    rows = [
        ("reg", f"2024-01-01 00:00:{10*i:02d}", i) for i in range(6)
    ]
    # single event: no gaps, absent
    rows += [("one", "2024-01-01 00:00:00", 99)]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, event_id int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["event_type"]: r
        for r in interarrival_expfit(
            df, dims=["event_type"]
        ).collect()
    }
    reg = got["reg"]
    assert reg["n_gaps"] == 5
    assert reg["mean_gap_s"] == _pytest.approx(10.0)
    assert reg["rate_per_s"] == _pytest.approx(0.1)
    assert reg["d_stat"] == _pytest.approx(1 - math.exp(-1), abs=1e-9)
    assert reg["reject_exponential"]
    assert "one" not in got


def test_survival_summary_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.funnel import survival_summary

    # no censoring: RMST equals the plain mean duration
    full = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1)], "duration int, event int"
    )
    got = survival_summary(full).collect()[0]
    assert (got["n"], got["n_events"], got["horizon"]) == (4, 4, 4)
    assert got["median_survival"] == 2
    assert got["rmst"] == _pytest.approx(2.5)

    # censoring: curve never crosses 0.5 -> NULL median; RMST = area
    # 1*1 + (2/3)*2 = 7/3 to the default (max-duration) horizon
    cen = spark.createDataFrame(
        [(1, 1), (3, 0), (3, 0)], "duration int, event int"
    )
    got = survival_summary(cen).collect()[0]
    assert got["median_survival"] is None
    assert got["rmst"] == _pytest.approx(1 + 4 / 3)


# --------------------------------------------------------------------------
# Round-9: Pettitt / Grubbs / Gumbel / Granger / Hill / Huber / Hellinger /
# Mahalanobis / Neyman / TextRank hand cases
# --------------------------------------------------------------------------
import pytest  # noqa: E402  (round-9 additions below)


def _daily(vals, g=None):
    rows = []
    for i, v in enumerate(vals):
        base = (f"2024-01-{i+1:02d} 00:00:00", float(v))
        rows.append(((g,) + base) if g is not None else base)
    return rows


def test_pettitt_finds_step_day(spark):
    from riot_graphs_spark.operators.timeseries import pettitt_changepoint

    # clear level shift after day 10 of 20
    df = spark.createDataFrame(
        _daily([1.0] * 10 + [100.0] * 10), "ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = pettitt_changepoint(df).collect()[0]
    assert out["n_buckets"] == 20
    # max |U_t| at the last pre-shift day: K = 10*10 = 100
    assert out["k_stat"] == 100
    assert str(out["change_bucket"]).startswith("2024-01-10")
    assert out["p_approx"] < 0.01


def test_grubbs_flags_spike_day(spark):
    import math as _math

    from riot_graphs_spark.operators.timeseries import grubbs_extreme

    vals = [10.0] * 9 + [50.0]
    df = spark.createDataFrame(
        _daily(vals), "ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = grubbs_extreme(df).collect()[0]
    assert out["n_buckets"] == 10
    assert str(out["outlier_bucket"]).startswith("2024-01-10")
    assert out["side"] == "max"
    mean = sum(vals) / 10
    sd = _math.sqrt(sum((v - mean) ** 2 for v in vals) / 9)
    assert out["g_stat"] == pytest.approx((50 - mean) / sd, abs=1e-6)


def test_gumbel_moments_hand_case(spark):
    import math as _math

    from riot_graphs_spark.operators.timeseries import gumbel_block_maxima

    # 3 days x 2 hours: hourly counts per day -> maxima (2, 3, 4)
    rows = []
    for d, counts in enumerate([(1, 2), (3, 2), (4, 1)]):
        for h, c in enumerate(counts):
            rows += [(f"2024-01-{d+1:02d} {h:02d}:30:00",)] * c
    df = spark.createDataFrame(rows, "ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = gumbel_block_maxima(df).collect()[0]
    assert out["n_blocks"] == 3
    assert out["mean_max"] == pytest.approx(3.0)
    assert out["sd_max"] == pytest.approx(1.0)
    beta = _math.sqrt(6.0) / _math.pi
    assert out["gumbel_beta"] == pytest.approx(beta, abs=1e-9)
    assert out["gumbel_mu"] == pytest.approx(
        3.0 - 0.5772156649015329 * beta, abs=1e-9
    )
    assert out["rl_99"] > out["rl_95"] > out["gumbel_mu"]


def test_granger_lagged_dependence_detected(spark):
    from riot_graphs_spark.operators.timeseries import granger_1lag

    # clicks on day i = i%7 + 1; purchases on day i = clicks on day i-1
    # (pure lag-1 dependence): unrestricted fit is near-exact -> huge F
    rows = []
    clicks = [(i % 7) + 1 for i in range(20)]
    for i in range(20):
        rows += [(f"2024-01-{i+1:02d} 01:00:00", "click")] * clicks[i]
        if i >= 1:
            rows += [(f"2024-01-{i+1:02d} 02:00:00", "purchase")] * clicks[
                i - 1
            ]
    df = spark.createDataFrame(rows, "ts string, event_type string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = granger_1lag(df).collect()[0]
    # day 1 exists with y = 0 (clicks only), so 19 lagged rows survive
    assert out["m"] == 19
    assert out["b_x"] == pytest.approx(1.0, abs=1e-6)
    assert out["rss_u"] == pytest.approx(0.0, abs=1e-6)


def test_hill_tail_index_pareto_exact(spark):
    import math as _math

    from riot_graphs_spark.operators.profile import hill_tail_index

    # exact Pareto(alpha=2) quantile grid: x_i = (i/n)^(-1/2)
    n = 500
    rows = [(float((i / n) ** -0.5),) for i in range(1, n + 1)]
    df = spark.createDataFrame(rows, "v double")
    out = hill_tail_index(df, "v", k=50).collect()[0]
    assert out["k"] == 50
    assert out["hill_alpha"] == pytest.approx(2.0, rel=0.15)
    with pytest.raises(ValueError):
        hill_tail_index(df, "v", k=0)
    # fewer than k+1 positive values -> NULL alpha
    tiny = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    assert hill_tail_index(tiny, "v", k=5).collect()[0]["hill_alpha"] is None


def test_huber_location_between_median_and_mean(spark):
    from riot_graphs_spark.operators.profile import huber_location

    # symmetric bulk at 10 +- small, one far outlier at 1000
    vals = [9.0, 9.5, 10.0, 10.5, 11.0, 1000.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = huber_location(df, "v", iterations=3).collect()[0]
    assert out["n"] == 6
    assert out["median_low"] == 10.0  # lower median
    assert out["mean"] == pytest.approx(sum(vals) / 6)
    # robust center stays near the bulk, far below the mean
    assert 9.0 <= out["huber_mu"] <= 12.0
    # iterations=0 returns the starting location (the median)
    out0 = huber_location(df, "v", iterations=0).collect()[0]
    assert out0["huber_mu"] == out0["median_low"]
    with pytest.raises(ValueError):
        huber_location(df, "v", iterations=-1)


def test_hellinger_zero_for_identical_mix(spark):
    from riot_graphs_spark.operators.profile import hellinger_by_group

    rows = [("g1", k) for k in ("a", "b") for _ in range(5)] + [
        ("g2", k) for k in ("a", "b") for _ in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, k string")
    got = {r["g"]: r for r in hellinger_by_group(df, "k", "g").collect()}
    for g in ("g1", "g2"):
        assert got[g]["hellinger"] == pytest.approx(0.0, abs=1e-9)
    # disjoint support -> near 1 for the minority group
    rows2 = [("g1", "a")] * 99 + [("g2", "z")]
    got2 = {
        r["g"]: r
        for r in hellinger_by_group(
            spark.createDataFrame(rows2, "g string, k string"), "k", "g"
        ).collect()
    }
    assert got2["g2"]["hellinger"] > 0.9


def test_mahalanobis_diag_hand_case(spark):
    from riot_graphs_spark.operators.profile import mahalanobis_diag_outliers

    # 9 points at the center, 1 at (+10, +10): d2 = 100/v1 + 100/v2
    rows = [(i, 10, 20) for i in range(9)] + [(9, 20, 30)]
    df = spark.createDataFrame(rows, "id int, x int, y int")
    out = mahalanobis_diag_outliers(df, "id", ["x", "y"], top_k=2).collect()
    assert out[0]["id"] == 9
    # population var of x: mean 11, var = (9*1 + 81)/10 = 9
    assert out[0]["d2"] == pytest.approx(81 / 9 + 81 / 9, abs=1e-6)
    with pytest.raises(ValueError):
        mahalanobis_diag_outliers(df, "id", [])


def test_neyman_oversamples_noisy_stratum(spark):
    from riot_graphs_spark.operators.curation import neyman_allocation

    # equal sizes; stratum b has 10x the sd -> gets ~10x the Neyman n
    rows = [("a", float(10 + (i % 2))) for i in range(100)] + [
        ("b", float(10 + 10 * (i % 2))) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "h string, v double")
    got = {
        r["h"]: r for r in neyman_allocation(df, "h", "v", 100).collect()
    }
    assert got["a"]["n_prop"] == pytest.approx(50.0)
    assert got["b"]["n_prop"] == pytest.approx(50.0)
    assert got["b"]["n_neyman"] == pytest.approx(
        10 * got["a"]["n_neyman"], rel=1e-6
    )
    with pytest.raises(ValueError):
        neyman_allocation(df, "h", "v", 0)


def test_textrank_excludes_stopwords_and_ranks_hub(spark):
    from riot_graphs_spark.operators.ranking import textrank_keywords

    # 'spark' co-occurs with everything; 'the' is a stopword
    docs = spark.createDataFrame(
        [
            ("spark engine the spark query the spark engine",),
            ("spark query engine spark plan query spark plan",),
            ("plan engine spark plan query engine spark query",),
        ],
        "text string",
    )
    out = textrank_keywords(docs, top_k=5, min_pair_count=2).collect()
    toks = [r["token"] for r in out]
    assert "the" not in toks  # stopword never enters the graph
    assert {"spark", "query", "engine", "plan"} <= set(toks)
    # scores sum to ~1 over the 4-node graph
    assert sum(r["pr"] for r in out) == pytest.approx(1.0, abs=1e-6)


def test_dtw_zero_on_identical_and_warps_lag(spark):
    from riot_graphs_spark.operators.timeseries import dtw_daily

    # x series == y series day by day -> dtw 0
    rows = []
    for i in range(10):
        rows += [(f"2024-01-{i+1:02d} 01:00:00", "click")] * (i % 3 + 1)
        rows += [(f"2024-01-{i+1:02d} 02:00:00", "purchase")] * (i % 3 + 1)
    df = spark.createDataFrame(rows, "ts string, event_type string")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = dtw_daily(df, band=7).collect()[0]
    assert out["n_days"] == 10
    assert out["dtw"] == pytest.approx(0.0)
    # y = x shifted by one day: DTW warps it back to near-zero cost,
    # while the same-day absolute difference would be large
    rows2 = []
    xs = [1, 5, 1, 5, 1, 5, 1, 5, 1, 5]
    for i in range(10):
        rows2 += [(f"2024-01-{i+1:02d} 01:00:00", "click")] * xs[i]
        shifted = xs[i - 1] if i >= 1 else xs[0]
        rows2 += [(f"2024-01-{i+1:02d} 02:00:00", "purchase")] * shifted
    df2 = spark.createDataFrame(rows2, "ts string, event_type string")
    df2 = df2.withColumn("ts", F.col("ts").cast("timestamp"))
    warped = dtw_daily(df2, band=7).collect()[0]["dtw"]
    same_day_l1 = sum(
        abs(xs[i] - (xs[i - 1] if i >= 1 else xs[0])) for i in range(10)
    )
    assert warped < same_day_l1


def test_wasserstein_exact_shift(spark):
    from riot_graphs_spark.operators.profile import wasserstein_1d

    # b = a + 5 exactly: W1 = 5
    a = spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], "v int")
    b = spark.createDataFrame([(v + 5,) for v in [1, 2, 3, 4]], "v int")
    out = wasserstein_1d(a, b, "v").collect()[0]
    assert out["w1"] == pytest.approx(5.0)
    assert wasserstein_1d(a, a, "v").collect()[0]["w1"] == pytest.approx(0.0)


def test_krippendorff_alpha_agreement_bounds(spark):
    from riot_graphs_spark.operators.profile import (
        krippendorff_alpha_nominal,
    )

    # perfect agreement -> alpha 1
    rows = [("x", "x")] * 5 + [("y", "y")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    assert krippendorff_alpha_nominal(df, "a", "b").collect()[0][
        "alpha"
    ] == pytest.approx(1.0)
    # systematic disagreement -> alpha < 0
    rows2 = [("x", "y")] * 5 + [("y", "x")] * 5
    df2 = spark.createDataFrame(rows2, "a string, b string")
    assert (
        krippendorff_alpha_nominal(df2, "a", "b").collect()[0]["alpha"] < 0
    )


def test_markov_entropy_rate_deterministic_chain(spark):
    from riot_graphs_spark.operators.funnel import markov_entropy_rate

    # strict a->b->a->b alternation per user: zero branching entropy
    rows = []
    for u in range(5):
        for i in range(10):
            rows.append(
                (u, i, f"2024-01-01 {i:02d}:00:00",
                 "a" if i % 2 == 0 else "b")
            )
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = markov_entropy_rate(df).collect()[0]
    assert out["entropy_nats"] == pytest.approx(0.0)
    assert out["perplexity"] == pytest.approx(1.0)


def test_event_pmi_positive_for_co_travelling_types(spark):
    from riot_graphs_spark.operators.funnel import event_pmi_pairs

    rows = []
    # users 0-4: always click+purchase same day; users 5-9: view only
    for u in range(5):
        rows.append((u, f"2024-01-0{u+1} 01:00:00", "click"))
        rows.append((u, f"2024-01-0{u+1} 02:00:00", "purchase"))
    for u in range(5, 10):
        rows.append((u, f"2024-01-0{u-4} 01:00:00", "view"))
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["type_a"], r["type_b"]): r
        for r in event_pmi_pairs(df).collect()
    }
    cp = out[("click", "purchase")]
    # 10 (user, day) units; P(click,purchase)=5/10, P(click)=
    # P(purchase)=5/10 -> PMI = ln 2
    assert cp["pmi"] == pytest.approx(0.6931471805599453, abs=1e-8)
    assert cp["npmi"] == pytest.approx(1.0, abs=1e-8)


def test_mixture_temperature_flattens_toward_uniform(spark):
    from riot_graphs_spark.operators.curation import (
        mixture_temperature_scaling,
    )

    rows = [("big",)] * 90 + [("small",)] * 10
    df = spark.createDataFrame(rows, "src string")
    got = {
        r["src"]: r
        for r in mixture_temperature_scaling(df, "src").collect()
    }
    assert got["big"]["w_10"] == pytest.approx(0.9)
    # lower alpha moves the small source toward uniform: w_3 > w_10
    assert got["small"]["w_3"] > got["small"]["w_5"] > got["small"]["w_10"]
    assert got["small"]["boost_3"] > 1.0
    with pytest.raises(ValueError):
        mixture_temperature_scaling(df, "src", alphas=())


def test_power_iteration_recovers_dominant_axis(spark):
    from riot_graphs_spark.operators.similarity import power_iteration_top

    # dim 0 carries 10x the variance of dims 1-2: loading_0 -> +-1
    rows = []
    for i in range(60):
        rows.append(
            (i, [float((i % 7) - 3) * 1.0,
                 float((i % 3) - 1) * 0.1,
                 float((i % 2)) * 0.1])
        )
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = {r["dim"]: r for r in power_iteration_top(df, iterations=5).collect()}
    assert len(out) == 3
    assert abs(out[0]["loading"]) > 0.99
    assert out[0]["evr"] > 0.9
    with pytest.raises(ValueError):
        power_iteration_top(df, iterations=0)


def test_lorenz_deciles_monotone_and_sums_to_one(spark):
    from riot_graphs_spark.operators.profile import lorenz_deciles

    rows = [(k, float((k % 10 + 1) * 10)) for k in range(100)]
    df = spark.createDataFrame(rows, "k int, v double")
    out = sorted(
        lorenz_deciles(df, "k", "v").collect(), key=lambda r: r["decile"]
    )
    assert len(out) == 10
    assert out[-1]["cum_share"] == pytest.approx(1.0)
    shares = [r["cum_share"] for r in out]
    assert shares == sorted(shares)
    # top decile = the 10 keys worth 100 each of total 5500
    assert out[-1]["share"] == pytest.approx(1000 / 5500, abs=1e-9)


def test_spectral_gap_two_axes(spark):
    from riot_graphs_spark.operators.similarity import spectral_gap_top2

    # dim 0 variance >> dim 1 variance >> dim 2: gap = lam1/lam2 approx
    # var0/var1, both recovered
    rows = []
    for i in range(80):
        rows.append(
            (i, [float((i % 9) - 4) * 2.0,
                 float((i % 5) - 2) * 1.0,
                 float(i % 2) * 0.01])
        )
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = spectral_gap_top2(df, iterations=8).collect()[0]
    assert out["lambda1"] > out["lambda2"] > 0
    assert out["spectral_gap"] > 2.0
    assert out["evr1"] + out["evr2"] == pytest.approx(1.0, abs=0.01)
    with pytest.raises(ValueError):
        spectral_gap_top2(df, iterations=0)


def test_esd_unmasks_second_outlier(spark):
    from riot_graphs_spark.operators.timeseries import esd_extremes

    # two big spikes close together mask each other for single-round
    # Grubbs; ESD removal surfaces both in rounds 1-2
    vals = [10.0] * 12 + [60.0, 55.0]
    df = spark.createDataFrame(
        _daily(vals), "ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["round"]: r for r in esd_extremes(df, rounds=3).collect()}
    assert str(out[1]["outlier_bucket"]).startswith("2024-01-13")
    assert str(out[2]["outlier_bucket"]).startswith("2024-01-14")
    # after removing both spikes, the remaining series is constant
    assert out[3]["g_stat"] is None or out[3]["g_stat"] < out[2]["g_stat"]
    assert out[2]["n_buckets"] == 13  # moments re-estimated sans round-1
    with pytest.raises(ValueError):
        esd_extremes(df, rounds=0)


def test_binseg_finds_both_level_shifts(spark):
    from riot_graphs_spark.operators.timeseries import binseg_changepoints

    # three level segments: 1..8 at 10, 9..16 at 50, 17..24 at 90
    vals = [10.0] * 8 + [50.0] * 8 + [90.0] * 8
    df = spark.createDataFrame(
        _daily(vals), "ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["segment"]: r for r in binseg_changepoints(df).collect()}
    # both boundaries tie on gain (symmetric segments) -> earliest wins
    # at level 1 (day 8); level 2 finds the remaining shift inside the
    # right half (day 16); the constant left half has gain 0
    assert str(out["all"]["change_bucket"]).startswith("2024-01-08")
    assert str(out["right"]["change_bucket"]).startswith("2024-01-16")
    assert out["all"]["gain"] == pytest.approx(19200.0)
    assert out["right"]["gain"] > 0
    assert out["left"]["gain"] == pytest.approx(0.0)
    assert out["all"]["n_segment"] == 24 and out["right"]["n_segment"] == 16
