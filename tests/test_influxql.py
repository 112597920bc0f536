"""InfluxQL compatibility shim: the Grafana/readback subset translates to
the same results as hand-written DataFrame plans (SURVEY §2.4 G1-G7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from riot_graphs_spark.functions.influxql import (
    InfluxQLError,
    influxql,
    parse_influxql,
)
from riot_graphs_spark.sources.tables import load_table, register_tables


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_readback_shape_matches_reference_query(spark, sf_dir):
    # the reference's exact readback (rg.py:130-131) modulo column names
    register_tables(spark, sf_dir)
    got = influxql(
        spark, 'SELECT event_id FROM events ORDER BY time DESC LIMIT 1'
    ).collect()
    want = (
        spark.table("events")
        .orderBy(F.desc("ts"))
        .select("event_id")
        .limit(1)
        .collect()
    )
    assert len(got) == 1
    assert got[0].event_id == want[0].event_id


def test_group_by_time_and_tag_matches_dataframe(spark, events):
    q = (
        "SELECT mean(value) AS m, count(value) AS n, last(value) AS l "
        "FROM events GROUP BY time(1h), event_type"
    )
    got = influxql(lambda _m: events, q)
    bucket = F.timestamp_seconds(
        F.unix_timestamp("ts") - (F.unix_timestamp("ts") % 3600)
    ).alias("time")
    want = events.groupBy(bucket, "event_type").agg(
        (F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
         / F.count("value")).alias("m"),
        F.count("value").alias("n"),
        F.max_by("value", F.col("ts")).alias("l"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_where_time_and_tag_pushdown(spark, events):
    q = (
        "SELECT sum(value) AS s FROM events "
        "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-05 00:00:00' "
        "AND event_type = 'click' GROUP BY time(1d)"
    )
    got = influxql(lambda _m: events, q)
    lo, hi = "2024-01-02 00:00:00", "2024-01-05 00:00:00"
    want = (
        events.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
            & (F.col("event_type") == "click")
        )
        .groupBy(
            F.timestamp_seconds(
                F.unix_timestamp("ts") - (F.unix_timestamp("ts") % 86400)
            ).alias("time")
        )
        .agg(F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("s"))
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_fill_previous_emits_full_grid(spark):
    rows = [
        (1, "a", "2024-01-01 00:30:00", 10.0),
        (2, "a", "2024-01-01 03:30:00", 20.0),  # 01:xx and 02:xx missing
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts_s string, value double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    q = (
        "SELECT mean(value) AS m FROM events "
        "WHERE time >= '2024-01-01 00:00:00' AND time <= '2024-01-01 03:59:00' "
        "GROUP BY time(1h), event_type fill(previous)"
    )
    got = {
        (str(r.time), r.m)
        for r in influxql(lambda _m: df, q).collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", 10.0),
        ("2024-01-01 01:00:00", 10.0),  # filled forward
        ("2024-01-01 02:00:00", 10.0),  # filled forward
        ("2024-01-01 03:00:00", 20.0),
    }


def test_fill_zero_and_now_requires_anchor(spark, events):
    import datetime as dt

    q0 = (
        "SELECT count(value) AS n FROM events "
        "WHERE time >= '2024-01-01 00:00:00' AND time <= '2024-01-01 06:00:00'"
        " GROUP BY time(1h) fill(0)"
    )
    out = influxql(lambda _m: events, q0)
    assert out.filter(F.col("n").isNull()).count() == 0

    with pytest.raises(InfluxQLError, match="now"):
        influxql(lambda _m: events, "SELECT count(value) FROM e WHERE time > now() - 1d")
    anchored = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events WHERE time > now() - 365d",
        now=dt.datetime(2024, 6, 1),
    )
    assert anchored.collect()[0].n > 0


def test_time_filter_macro_substitution(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events WHERE $timeFilter GROUP BY time(1d)",
        time_range=("2024-01-01 00:00:00", "2024-01-03 00:00:00"),
    )
    assert got.count() >= 1
    with pytest.raises(InfluxQLError, match="timeFilter"):
        influxql(lambda _m: events, "SELECT count(value) FROM e WHERE $timeFilter")


def test_parse_rejects_unsupported():
    with pytest.raises(InfluxQLError):
        parse_influxql("SELECT nonsense(value) FROM t")
    with pytest.raises(InfluxQLError):
        parse_influxql("DELETE FROM t")
    with pytest.raises(InfluxQLError):
        parse_influxql("SELECT mean(value) FROM t WHERE time = '2024-01-01'")


def test_parse_rejects_every_write_verb():
    # docs/INFLUXQL.md non-goals: write/DDL verbs raise (→ HTTP 400), the
    # engine owns ingestion/retention natively. No silent no-op.
    for q in (
        "SELECT mean(value) INTO tgt FROM events GROUP BY time(1d)",
        "DROP SERIES FROM events",
        "DROP MEASUREMENT events",
        "INSERT events,tag=a value=1",
        "CREATE RETENTION POLICY x ON db DURATION 1d REPLICATION 1",
        "CREATE CONTINUOUS QUERY cq ON db BEGIN SELECT mean(value) "
        "INTO t FROM e GROUP BY time(1h) END",
    ):
        with pytest.raises(InfluxQLError):
            parse_influxql(q)


def test_percentile_median_spread(spark, events):
    q = (
        "SELECT percentile(value, 95) AS p95, median(value) AS med, "
        "spread(value) AS sp FROM events GROUP BY event_type"
    )
    got = influxql(lambda _m: events, q)
    want = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.95)).alias("p95"),
        F.percentile("value", F.lit(0.5)).alias("med"),
        (F.max("value") - F.min("value")).alias("sp"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_show_queries_for_template_variables(spark, sf_dir):
    from riot_graphs_spark.functions.influxql import influxql as iq

    register_tables(spark, sf_dir)
    names = {r.name for r in iq(spark, "SHOW MEASUREMENTS").collect()}
    assert {"events", "documents", "lineitem"} <= names

    keys = {r.tagKey for r in iq(spark, "SHOW TAG KEYS FROM events").collect()}
    assert "event_type" in keys and "ts" not in keys

    vals = [
        r.value
        for r in iq(
            spark, 'SHOW TAG VALUES FROM events WITH KEY = "event_type"'
        ).collect()
    ]
    assert vals == sorted(vals) and len(vals) >= 2

    fields = {
        r.fieldKey: r.fieldType
        for r in iq(spark, "SHOW FIELD KEYS FROM events").collect()
    }
    assert fields.get("value") == "double"

    with pytest.raises(InfluxQLError, match="WITH KEY"):
        iq(spark, "SHOW TAG VALUES FROM events")


def _series(spark, rows):
    return spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))


def test_derivative_scales_by_actual_time_delta(spark):
    from riot_graphs_spark.functions.influxql import influxql as iq

    df = _series(
        spark,
        [
            ("a", "2024-01-01 10:00:00", 100.0),
            ("a", "2024-01-02 10:00:00", 130.0),
            # Jan 3 missing entirely → next delta spans TWO days
            ("a", "2024-01-04 10:00:00", 190.0),
        ],
    )
    q = "SELECT derivative(sum(value), 1d) AS d FROM m GROUP BY time(1d), event_type"
    got = {str(r.time): r.d for r in iq(lambda _m: df, q).collect()}
    assert got == {
        "2024-01-02 00:00:00": 30.0,
        "2024-01-04 00:00:00": 30.0,  # 60 over 2 days, per-day rate
    }


def test_non_negative_derivative_drops_decreases(spark):
    from riot_graphs_spark.functions.influxql import influxql as iq

    df = _series(
        spark,
        [
            ("a", "2024-01-01 10:00:00", 10.0),
            ("a", "2024-01-02 10:00:00", 5.0),   # decrease → dropped
            ("a", "2024-01-03 10:00:00", 25.0),
        ],
    )
    q = (
        "SELECT non_negative_derivative(max(value)) AS d FROM m "
        "GROUP BY time(1d), event_type"
    )
    got = {str(r.time): r.d for r in iq(lambda _m: df, q).collect()}
    assert got == {"2024-01-03 00:00:00": 20.0}


def test_moving_average_emits_from_full_window(spark):
    from riot_graphs_spark.functions.influxql import influxql as iq

    df = _series(
        spark,
        [
            ("a", "2024-01-01 10:00:00", 1.0),
            ("a", "2024-01-02 10:00:00", 2.0),
            ("a", "2024-01-03 10:00:00", 3.0),
            ("a", "2024-01-04 10:00:00", 4.0),
        ],
    )
    q = (
        "SELECT moving_average(mean(value), 3) AS m FROM x "
        "GROUP BY time(1d), event_type"
    )
    got = {str(r.time): r.m for r in iq(lambda _m: df, q).collect()}
    assert got == {"2024-01-03 00:00:00": 2.0, "2024-01-04 00:00:00": 3.0}


def test_window_funcs_require_time_grouping(spark, events):
    from riot_graphs_spark.functions.influxql import influxql as iq

    with pytest.raises(InfluxQLError, match="GROUP BY time"):
        iq(lambda _m: events, "SELECT derivative(mean(value)) FROM e GROUP BY event_type")
    with pytest.raises(InfluxQLError, match="wraps an aggregate"):
        iq(lambda _m: events, "SELECT derivative(value) FROM e GROUP BY time(1d)")


def test_regex_tag_matchers(spark, events):
    from riot_graphs_spark.functions.influxql import influxql as iq

    types = [r.event_type for r in events.select("event_type").distinct().collect()]
    pick = sorted(types)[:2]
    q = (
        "SELECT count(value) AS n FROM events "
        f"WHERE event_type =~ /^({pick[0]}|{pick[1]})$/ GROUP BY event_type"
    )
    got = {r.event_type: r.n for r in iq(lambda _m: events, q).collect()}
    assert set(got) == set(pick)

    neg = iq(
        lambda _m: events,
        f"SELECT count(value) AS n FROM events WHERE event_type !~ /^{pick[0]}$/ "
        "GROUP BY event_type",
    )
    assert pick[0] not in {r.event_type for r in neg.collect()}


def test_group_by_star_expands_to_all_tags(spark, events):
    from riot_graphs_spark.functions.influxql import influxql as iq

    got = iq(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d), *",
    )
    # events string columns: event_type (+ any other tag-typed columns)
    assert "event_type" in got.columns and "time" in got.columns
    want = iq(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d), event_type",
    )
    if set(got.columns) == set(want.columns):
        assert got.exceptAll(want).count() == 0


def test_time_filter_prunes_date_partitions(spark, tmp_path):
    """Over a p_date-partitioned sink (the streaming ingest layout), the
    shim's WHERE time bounds must become partition-key predicates — whole
    date directories get pruned, not just parquet row groups."""
    import re as _re

    from riot_graphs_spark.functions.influxql import influxql as iq

    sink = str(tmp_path / "sized")
    df = spark.createDataFrame(
        [("2024-01-01 04:00:00", 1.0), ("2024-02-01 04:00:00", 2.0),
         ("2024-03-01 04:00:00", 3.0)],
        "ts_s string, value double",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).withColumn(
        "p_date", F.to_date("ts")
    ).drop("ts_s")
    df.write.partitionBy("p_date").parquet(sink)

    out = iq(
        lambda _m: spark.read.parquet(sink),
        "SELECT sum(value) AS s FROM sized "
        "WHERE time >= '2024-01-15 00:00:00' AND time < '2024-02-15 00:00:00' "
        "GROUP BY time(1d)",
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert _re.search(r"PartitionFilters: \[.*p_date", plan)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].s == 2.0  # only the February row


def test_group_by_time_offset_matches_anchored_day(spark, events):
    """time(1d, 3h) buckets == the reference's 03:00-anchored days (O3,
    functions.scalars.anchored_day maps to the bucket's DATE)."""
    from riot_graphs_spark.functions.influxql import influxql as iq
    from riot_graphs_spark.functions.scalars import anchored_day

    got = iq(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d, 3h)",
    )
    want = events.groupBy(anchored_day("ts").alias("day")).agg(
        F.count("value").alias("n")
    )
    g = {str(r.time): r.n for r in got.collect()}
    w = {str(r.day): r.n for r in want.collect()}  # anchored_day = bucket start ts
    assert g == w


def test_fill_spine_respects_bucket_offset(spark):
    from riot_graphs_spark.functions.influxql import influxql as iq

    df = _series(
        spark,
        [("a", "2024-01-01 05:00:00", 1.0), ("a", "2024-01-03 05:00:00", 3.0)],
    )
    q = (
        "SELECT count(value) AS n FROM m "
        "WHERE time >= '2024-01-01 00:00:00' AND time <= '2024-01-03 12:00:00' "
        "GROUP BY time(1d, 3h), event_type fill(0)"
    )
    got = {str(r.time): r.n for r in iq(lambda _m: df, q).collect()}
    # anchored buckets at 03:00; the empty Jan-2 bucket must appear as 0
    assert got == {
        "2023-12-31 03:00:00": 0,  # spine floor of the WHERE lower bound
        "2024-01-01 03:00:00": 1,
        "2024-01-02 03:00:00": 0,
        "2024-01-03 03:00:00": 1,
    }


# ------------------------------------------------------------------
# round-3 function-gap closure: cumulative_sum / difference / elapsed /
# integral / stddev / top / bottom / tz()
# ------------------------------------------------------------------
def test_cumulative_sum_runs_over_buckets(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT cumulative_sum(sum(value)) AS cs FROM events "
        "GROUP BY time(1d), event_type",
    ).orderBy("event_type", "time")
    rows = got.filter(F.col("event_type") == got.first().event_type).collect()
    # running total is monotone-accumulating: each row = prev + bucket sum
    per_bucket = influxql(
        lambda _m: events,
        "SELECT sum(value) AS s FROM events GROUP BY time(1d), event_type",
    ).orderBy("event_type", "time")
    sums = per_bucket.filter(
        F.col("event_type") == rows[0].event_type
    ).collect()
    acc = 0.0
    for r, s in zip(rows, sums):
        acc += s.s
        assert abs(r.cs - acc) < 1e-6


def test_difference_drops_first_bucket(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT difference(count(value)) AS d FROM events "
        "GROUP BY time(1d), event_type",
    )
    counts = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d), event_type",
    )
    n_types = counts.select("event_type").distinct().count()
    assert got.count() == counts.count() - n_types  # first bucket omitted
    # spot-check one series
    c = counts.orderBy("event_type", "time").collect()
    d = got.orderBy("event_type", "time").collect()
    series = [r for r in c if r.event_type == c[0].event_type]
    diffs = [r for r in d if r.event_type == c[0].event_type]
    for prev, cur, dr in zip(series, series[1:], diffs):
        assert dr.d == cur.n - prev.n


def test_elapsed_is_integer_delta_in_unit(spark, events):
    one = events.filter(F.col("event_type") == events.first().event_type)
    got = influxql(
        lambda _m: one, "SELECT elapsed(value, 1s) FROM events"
    ).orderBy("time")
    raw = one.orderBy("ts").select("ts").collect()
    want = [
        int(
            (b.ts - a.ts).total_seconds()
        )
        for a, b in zip(raw, raw[1:])
    ]
    assert [r.elapsed for r in got.collect()] == want


def test_integral_matches_trapezoid(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT integral(value, 1s) AS area FROM events "
        "GROUP BY time(1d), event_type",
    )
    from riot_graphs_spark.operators.timeseries import integral_per_bucket

    want = integral_per_bucket(
        events, ["event_type"], "ts", "value", unit="day", out="area",
        tiebreak="event_id",
    ).withColumnRenamed("bucket", "time")
    joined = got.join(want, ["time", "event_type"], "full").select(
        got["area"].alias("g"), want["area"].alias("w")
    )
    for r in joined.collect():
        assert r.g is not None and r.w is not None
        assert abs(r.g - r.w) < 1e-6


def test_stddev_matches_sample_stddev(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT stddev(value) AS sd FROM events GROUP BY event_type",
    )
    want = events.groupBy("event_type").agg(
        F.stddev_samp("value").alias("sd")
    )
    j = got.join(want, "event_type").select(
        got["sd"].alias("g"), want["sd"].alias("w")
    )
    for r in j.collect():
        assert abs(r.g - r.w) < 1e-6


def test_top_returns_n_points_with_their_timestamps(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT top(value, 3) FROM events GROUP BY event_type",
    )
    n_types = events.select("event_type").distinct().count()
    assert got.count() == 3 * n_types
    assert set(got.columns) == {"time", "event_type", "top"}
    mx = {
        r.event_type: r.m
        for r in events.groupBy("event_type").agg(F.max("value").alias("m")).collect()
    }
    for et, rows in _group_by(got.collect(), "event_type").items():
        assert max(r.top for r in rows) == mx[et]


def test_bottom_under_group_by_time(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT bottom(value, 2) AS b FROM events GROUP BY time(1d)",
    )
    # 2 per day bucket; each row keeps the point's own timestamp
    per_day = got.groupBy(F.date_trunc("day", "time")).count().collect()
    assert all(r["count"] <= 2 for r in per_day)


def _group_by(rows, key):
    out = {}
    for r in rows:
        out.setdefault(getattr(r, key), []).append(r)
    return out


def test_tz_shifts_day_bucket_boundary(spark, events):
    utc = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d)",
    )
    shifted = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d) "
        "tz('Asia/Kolkata')",
    )
    # +05:30 zone: day boundaries fall at 18:30 UTC, not midnight
    times = [r.time for r in shifted.collect()]
    assert all(t.minute == 30 for t in times)
    assert utc.count() > 0 and abs(shifted.count() - utc.count()) <= 1
    # same total rows counted either way
    tot = lambda df: sum(r.n for r in df.collect())  # noqa: E731
    assert tot(shifted) == tot(utc)


def test_fill_accepts_bare_string_time_range(spark, events):
    # ADVICE r02: $timeFilter + fill(null) with a bare ISO time_range is
    # the Grafana default panel shape — must not raise
    got = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events WHERE $timeFilter "
        "GROUP BY time(6h) fill(0)",
        time_range=("2024-01-02 00:00:00", "2024-01-04 00:00:00"),
    )
    rows = got.orderBy("time").collect()
    assert len(rows) == 9  # inclusive 6h grid over 2 days
    assert all(r.n is not None for r in rows)


def test_bare_field_with_group_by_raises(spark, events):
    # ADVICE r02: InfluxDB rejects GROUP BY without an aggregate — the raw
    # path must not silently ignore the clause
    with pytest.raises(InfluxQLError, match="GROUP BY requires"):
        influxql(
            lambda _m: events,
            "SELECT value FROM events GROUP BY time(1h)",
        )


def test_fill_linear_interpolates_interior_gaps(spark):
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 0, 0), 10.0),
        (dt.datetime(2024, 1, 1, 3, 0), 40.0),  # 1h and 2h buckets missing
        (dt.datetime(2024, 1, 1, 5, 0), 60.0),  # 4h missing
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = influxql(
        lambda _m: df,
        "SELECT mean(value) AS m FROM m WHERE "
        "time >= '2024-01-01 00:00:00' AND time <= '2024-01-01 06:00:00' "
        "GROUP BY time(1h) fill(linear)",
    ).orderBy("time")
    vals = [r.m for r in got.collect()]
    # linear between (0h,10) and (3h,40): 20, 30; between (3h,40)-(5h,60): 50
    assert vals[:6] == [10.0, 20.0, 30.0, 40.0, 50.0, 60.0]
    # trailing bucket (6h) has no next anchor -> stays null
    assert vals[6] is None


def test_subquery_reaggregates_inner_buckets(spark, events):
    got = influxql(
        lambda _m: events,
        'SELECT mean("mx") AS m FROM '
        "(SELECT max(value) AS mx FROM events GROUP BY time(1h), event_type) "
        "GROUP BY time(1d), event_type",
    )
    hourly = influxql(
        lambda _m: events,
        "SELECT max(value) AS mx FROM events GROUP BY time(1h), event_type",
    )
    want = influxql(
        lambda _m: hourly.withColumnRenamed("time", "ts"),
        "SELECT mean(mx) AS m FROM inner GROUP BY time(1d), event_type",
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_subquery_outer_time_filter_applies_to_inner_output(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT count(mx) AS n FROM "
        "(SELECT max(value) AS mx FROM events GROUP BY time(1h)) "
        "WHERE time >= '2024-01-03 00:00:00' AND time < '2024-01-04 00:00:00'",
    ).collect()
    assert len(got) == 1 and got[0].n <= 24


def test_subquery_recognition_fails_on_bad_inner(spark):
    with pytest.raises(InfluxQLError):
        parse_influxql("SELECT mean(x) FROM (THIS IS NOT INFLUXQL)")
    # a well-formed nested query parses
    parse_influxql(
        "SELECT mean(mx) FROM (SELECT max(v) AS mx FROM "
        "(SELECT value AS v FROM m) GROUP BY time(1h)) GROUP BY time(1d)"
    )


# ------------------------------------------------------------------
# round-3 second batch: distinct/mode/count(distinct)/paging/handshake
# ------------------------------------------------------------------
def test_distinct_values(spark, events):
    got = influxql(lambda _m: events, "SELECT distinct(event_type) FROM events")
    want = {r.event_type for r in events.select("event_type").distinct().collect()}
    assert {r.distinct for r in got.collect()} == want


def test_count_distinct_per_bucket(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT count(distinct(event_type)) AS n FROM events GROUP BY time(1d)",
    )
    want = events.groupBy(F.date_trunc("day", "ts").alias("time")).agg(
        F.count_distinct("event_type").alias("n")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_mode_lowest_value_wins_ties(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 2.0), (4, 2.0), (5, 9.0)],
        "ts long, value double",
    ).select(F.timestamp_seconds("ts").alias("ts"), "value")
    got = influxql(lambda _m: df, "SELECT mode(value) FROM m").collect()
    assert len(got) == 1 and got[0].mode == 2.0  # 5.0 and 2.0 tie -> lowest


def test_non_negative_difference_drops_negatives(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT non_negative_difference(count(value)) AS d FROM events "
        "GROUP BY time(1d), event_type",
    )
    assert got.filter(F.col("d") < 0).count() == 0
    both = influxql(
        lambda _m: events,
        "SELECT difference(count(value)) AS d FROM events "
        "GROUP BY time(1d), event_type",
    )
    assert got.count() == both.filter(F.col("d") >= 0).count()


def test_limit_offset_pages_rows(spark, events):
    base = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d) "
        "ORDER BY time ASC",
    ).collect()
    page = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d) "
        "ORDER BY time ASC LIMIT 3 OFFSET 2",
    ).collect()
    assert [(r.time, r.n) for r in page] == [(r.time, r.n) for r in base[2:5]]


def test_slimit_soffset_page_series(spark, events):
    all_series = sorted(
        r.event_type
        for r in events.select("event_type").distinct().collect()
    )
    got = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events GROUP BY time(1d), event_type "
        "SLIMIT 2 SOFFSET 1",
    )
    kept = sorted({r.event_type for r in got.collect()})
    assert kept == all_series[1:3]


def test_show_databases_and_retention_policies(spark):
    dbs = influxql(spark, "SHOW DATABASES").collect()
    assert len(dbs) == 1 and dbs[0].name
    rp = influxql(spark, 'SHOW RETENTION POLICIES ON "anything"').collect()
    assert rp[0].name == "autogen" and rp[0]["default"] is True


def test_select_arithmetic_scales_aggregate(spark, events):
    got = influxql(
        lambda _m: events,
        'SELECT mean(value) * 8 AS bits FROM events GROUP BY time(1d)',
    )
    plain = influxql(
        lambda _m: events,
        "SELECT mean(value) AS m FROM events GROUP BY time(1d)",
    )
    j = got.join(plain, "time")
    for r in j.collect():
        assert abs(r.bits - r.m * 8) < 1e-9
    # bare-field arithmetic on a raw projection
    raw = influxql(
        lambda _m: events, "SELECT value / 2 AS half FROM events LIMIT 5"
    ).collect()
    assert len(raw) == 5


def test_where_field_condition_filters_values(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events WHERE value > 200",
    ).collect()
    want = events.filter(F.col("value") > 200).count()
    assert got[0].n == want
    both = influxql(
        lambda _m: events,
        "SELECT count(value) AS n FROM events "
        "WHERE value >= 100 AND value < 200 AND event_type = 'click'",
    ).collect()
    want2 = events.filter(
        (F.col("value") >= 100)
        & (F.col("value") < 200)
        & (F.col("event_type") == "click")
    ).count()
    assert both[0].n == want2


def test_holt_winters_appends_forecast_buckets(spark, events):
    got = influxql(
        lambda _m: events,
        "SELECT holt_winters(mean(value), 3, 0) AS f FROM events "
        "GROUP BY time(1d), event_type ORDER BY time ASC",
    )
    n_types = events.select("event_type").distinct().count()
    rows = got.collect()
    assert len(rows) == 3 * n_types  # 3 future buckets per series
    last_data = influxql(
        lambda _m: events,
        "SELECT mean(value) AS m FROM events GROUP BY time(1d)",
    ).agg(F.max("time")).collect()[0][0]
    assert all(r.time > last_data for r in rows)  # strictly in the future
    # S must be a non-negative integer
    with pytest.raises(InfluxQLError, match="non-negative"):
        parse_influxql(
            "SELECT holt_winters(mean(v), 3, -1) FROM m GROUP BY time(1h)"
        )
    with pytest.raises(InfluxQLError, match="non-negative"):
        parse_influxql(
            "SELECT holt_winters(mean(v), 3, 1.5) FROM m GROUP BY time(1h)"
        )
    # error-contract totality: nan/inf/garbage numeric args must raise
    # InfluxQLError, never a raw ValueError/OverflowError from int()
    for bad_n in ("nan", "inf", "x"):
        with pytest.raises(InfluxQLError):
            parse_influxql(
                f"SELECT holt_winters(mean(v), {bad_n}, 0) FROM m "
                "GROUP BY time(1h)"
            )
        with pytest.raises(InfluxQLError):
            parse_influxql(
                f"SELECT holt_winters(mean(v), 3, {bad_n}) FROM m "
                "GROUP BY time(1h)"
            )
        with pytest.raises(InfluxQLError):
            parse_influxql(f"SELECT top(v, {bad_n}) FROM m")
        with pytest.raises(InfluxQLError):
            parse_influxql(
                f"SELECT moving_average(mean(v), {bad_n}) FROM m "
                "GROUP BY time(1h)"
            )


def test_holt_winters_seasonal_tracks_daily_pattern(spark):
    """S > 0: additive Holt-Winters must carry a strong daily (24-bucket)
    seasonal pattern into the forecast — the level+trend form cannot."""
    import datetime as dt
    import math

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    for h in range(24 * 6):  # six full days of hourly points
        seasonal = 10.0 * math.sin(2 * math.pi * (h % 24) / 24)
        rows.append((t0 + dt.timedelta(hours=h), 50.0 + seasonal))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    got = influxql(
        lambda _m: df,
        "SELECT holt_winters(mean(value), 24, 24) AS f FROM m "
        "GROUP BY time(1h) ORDER BY time ASC",
    ).collect()
    assert len(got) == 24
    # forecast must reproduce the sinusoid's phase: hour-6 peak-ish vs
    # hour-18 trough-ish, with amplitude clearly > half the true 10.0
    by_hour = {r.time.hour: r.f for r in got}
    assert by_hour[6] - by_hour[18] > 10.0
    # and every point stays inside the series' physical range
    assert all(30.0 < r.f < 70.0 for r in got)


def test_from_regex_unions_matching_measurements(spark, sf_dir):
    from riot_graphs_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    got = influxql(
        spark,
        "SELECT count(event_id) AS n FROM /^ev/ GROUP BY measurement",
    ).collect()
    assert len(got) == 1 and got[0].measurement == "events"
    assert got[0].n == spark.table("events").count()
    with pytest.raises(InfluxQLError, match="no measurements"):
        influxql(spark, "SELECT count(x) AS n FROM /nope_.*/ GROUP BY time(1h)")


def test_show_series_and_regex_tag_values(spark, events):
    from riot_graphs_spark.functions.influxql import influxql

    events.createOrReplaceTempView("events")
    series = influxql(spark, "SHOW SERIES FROM events").collect()
    assert all(r.key.startswith("events,") for r in series)
    # one key per distinct tag combination, tag pairs in name order
    assert len(series) == len({r.key for r in series})

    rx = influxql(
        spark, "SHOW TAG VALUES FROM events WITH KEY =~ /event.*/"
    ).collect()
    eq = influxql(
        spark, "SHOW TAG VALUES FROM events WITH KEY = event_type"
    ).collect()
    assert {(r.key, r.value) for r in rx} >= {(r.key, r.value) for r in eq}

    with pytest.raises(InfluxQLError):
        influxql(spark, "SHOW TAG VALUES FROM events WITH KEY =~ /nosuch.*/")
