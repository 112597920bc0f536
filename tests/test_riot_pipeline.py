"""Fixture-based unit tests for the RIOT-domain pipeline (SURVEY §5 item 2):
explode edge cases, regex totality, wrap parity with textwrap, anchored
windows at the day boundary, as-of selection, idempotent re-runs."""

from __future__ import annotations

import datetime as dt
import textwrap

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from riot_graphs_spark.functions.scalars import anchored_day
from riot_graphs_spark.operators.asof import asof_join
from riot_graphs_spark.operators.timeseries import gap_fill_forward
from riot_graphs_spark.plans.riot import (
    build_sizes_from_raw,
    nightly_builds,
    pr_events_from_commits,
)
from riot_graphs_spark.schemas import COMMITS, PRS, SIZES_RAW

UTC = dt.timezone.utc


def ts(day: int, hour: int = 3, minute: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour, minute, tzinfo=UTC)


@pytest.fixture(scope="module")
def sizes_raw(spark):
    rows = [
        Row(
            ts=ts(1, 4),
            sha="sha1",
            sizes={
                "tests_shell": {
                    "samr21-xpro": Row(bss=100, text=200, data=50, count=None),
                    "native": Row(bss=10, text=20, data=5, count=3),
                },
                "tests_net": {"native": Row(bss=1, text=2, data=3, count=None)},
            },
        ),
        Row(
            ts=ts(2, 4),
            sha="sha2",
            sizes={"tests_shell": {"native": Row(bss=11, text=21, data=6, count=1)}},
        ),
    ]
    return spark.createDataFrame(rows, SIZES_RAW)


def test_explode_sizes_shape_and_derivations(sizes_raw):
    out = build_sizes_from_raw(sizes_raw).orderBy("test", "board", "ts").collect()
    assert len(out) == 4  # 3 (test,board) pairs day 1 + 1 day 2
    shell_native = [r for r in out if r.test == "tests_shell" and r.board == "native"]
    assert shell_native[0].dec == 10 + 20 + 5  # P2: dec = bss + text + data


def test_explode_count_default(spark, sizes_raw):
    from riot_graphs_spark.operators.explode import explode_sizes

    out = {(r.test, r.board, r.ts): r for r in explode_sizes(sizes_raw).collect()}
    # Row.count is the namedtuple method — index the field by name instead.
    assert out[("tests_shell", "samr21-xpro", ts(1, 4).replace(tzinfo=None))]["count"] == 0
    assert out[("tests_shell", "native", ts(1, 4).replace(tzinfo=None))]["count"] == 3


def test_pr_events_totality_and_wrap(spark):
    commits = spark.createDataFrame(
        [
            Row(hash="a1", date=ts(1), msg="Merge pull request #1234 from riot/x"),
            Row(hash="a2", date=ts(2), msg="no digits here"),  # P5 total → dropped
            Row(hash="a3", date=ts(3), msg="Merge pull request #99 from riot/y"),
        ],
        COMMITS,
    )
    long_title = "this is a rather long pull request title that needs wrapping"
    prs = spark.createDataFrame([Row(pr_num=1234, title=long_title)], PRS)
    out = {r.pr_num: r for r in pr_events_from_commits(commits, prs).collect()}
    assert set(out) == {1234, 99}  # no-digit row dropped, missing PR kept (J2 left)
    assert out[1234].description == "<br>".join(textwrap.wrap(long_title, 32))
    assert out[99].description == ""  # GitHub miss tolerated (rg.py:361-362)
    # Byte-match the reference's annotation payload (rg.py:336-343):
    # title = anchor, event = "Merged " + anchor.
    anchor1234 = (
        '<a target="_blank" href="https://github.com/RIOT-OS/RIOT/pull/1234">#1234</a>'
    )
    assert out[1234].title == anchor1234
    assert out[1234].event == "Merged " + anchor1234


def test_anchored_day_boundary(spark):
    df = spark.createDataFrame(
        [
            Row(ts=dt.datetime(2024, 1, 5, 2, 59, tzinfo=UTC)),  # before 03:00 → Jan 4 bucket
            Row(ts=dt.datetime(2024, 1, 5, 3, 0, tzinfo=UTC)),  # at 03:00 → Jan 5 bucket
        ]
    )
    out = df.select(anchored_day("ts").alias("day")).collect()
    assert out[0].day == dt.datetime(2024, 1, 4, 3, 0)
    assert out[1].day == dt.datetime(2024, 1, 5, 3, 0)


def test_nightly_builds_picks_last_commit_with_stats(spark, sizes_raw):
    commits = spark.createDataFrame(
        [
            Row(hash="sha1", date=ts(1, 4), msg="Merge pull request #1 x"),
            # Newer commit same anchored day but no stats → sha1 must win:
            Row(hash="shaX", date=ts(1, 20), msg="Merge pull request #2 y"),
            Row(hash="sha2", date=ts(2, 4), msg="Merge pull request #3 z"),
        ],
        COMMITS,
    )
    out = nightly_builds(commits, sizes_raw).collect()
    day1 = [r for r in out if r.bucket == dt.datetime(2024, 1, 1, 3)]
    assert {r.hash for r in day1} == {"sha1"}  # A1: last *with stats*, not last overall
    assert len(day1) == 3  # all (test, board) rows of that nightly


def test_asof_equal_ts_is_visible(spark):
    left = spark.createDataFrame([Row(k="a", ts=ts(5), id=1)])
    right = spark.createDataFrame([Row(k="a", ts=ts(5), v=10), Row(k="a", ts=ts(4), v=9)])
    incl = asof_join(left, right, on="k", right_payload=["v"]).collect()[0]
    assert incl.v_asof == 10  # a right row at the equal ts is the match


def test_asof_no_preceding_row_is_null(spark):
    left = spark.createDataFrame([Row(k="a", ts=ts(1), id=1)])
    right = spark.createDataFrame([Row(k="a", ts=ts(2), v=1)])
    out = asof_join(left, right, on="k", right_payload=["v"]).collect()[0]
    assert out.v_asof is None  # total: left row kept with NULL


def test_asof_forward_equal_ts_is_visible(spark):
    from riot_graphs_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame([Row(k="a", ts=ts(5), id=1)])
    right = spark.createDataFrame(
        [Row(k="a", ts=ts(5), v=50), Row(k="a", ts=ts(7), v=70)]
    )
    incl = asof_join_forward(left, right, on="k", right_payload=["v"]).collect()[0]
    assert incl.v_asof == 50  # a right row at the equal ts is the match


def test_asof_forward_no_following_is_null(spark):
    from riot_graphs_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame([Row(k="a", ts=ts(9), id=1)])
    right = spark.createDataFrame([Row(k="a", ts=ts(5), v=50)])
    out = asof_join_forward(left, right, on="k", right_payload=["v"]).collect()[0]
    assert out.v_asof is None  # total: left row kept with NULL


def test_gap_fill_leading_nulls_and_fill(spark):
    df = spark.createDataFrame(
        [
            Row(bucket=dt.datetime(2024, 1, 2), s="x", v=1.0),
            Row(bucket=dt.datetime(2024, 1, 5), s="x", v=2.0),
            Row(bucket=dt.datetime(2024, 1, 1), s="y", v=5.0),
        ]
    )
    out = gap_fill_forward(df, ts="bucket", dims=["s"], values=["v"])
    got = {(r.s, r.bucket.day): r.v for r in out.collect()}
    assert got[("x", 1)] is None  # before first observation stays NULL
    assert got[("x", 3)] == 1.0 and got[("x", 4)] == 1.0  # forward-filled
    assert got[("x", 5)] == 2.0
    assert got[("y", 4)] == 5.0  # carried to the end of the spine


def test_gap_fill_linear_interpolates(spark):
    from riot_graphs_spark.operators.timeseries import gap_fill_linear

    df = spark.createDataFrame(
        [
            Row(bucket=dt.datetime(2024, 1, 2), s="x", v=1.0),
            Row(bucket=dt.datetime(2024, 1, 5), s="x", v=4.0),
            Row(bucket=dt.datetime(2024, 1, 1), s="y", v=5.0),
        ]
    )
    out = gap_fill_linear(df, ts="bucket", dims=["s"], values=["v"])
    got = {(r.s, r.bucket.day): r.v for r in out.collect()}
    assert got[("x", 1)] is None  # before first observation stays NULL
    assert got[("x", 2)] == 1.0 and got[("x", 5)] == 4.0  # observed pass through
    assert got[("x", 3)] == 2.0 and got[("x", 4)] == 3.0  # linear between
    assert got[("y", 1)] == 5.0
    assert got[("y", 3)] is None  # after last observation stays NULL


def test_delta_vs_prev_is_the_step_from_the_series_previous_point(spark):
    """The size-regression signal: each point minus the previous point of
    its own series, NULL at a series' first point."""
    from riot_graphs_spark.operators.timeseries import delta_vs_prev

    series = {
        "b1": [100 + 7 * d * (-1) ** d for d in range(1, 9)],
        "b2": [200 + 3 * d for d in range(1, 6)],
    }
    rows = [
        Row(test="t", board=b, ts=dt.datetime(2024, 1, d, 4), text=v)
        for b, vals in series.items()
        for d, v in enumerate(vals, start=1)
    ]
    # reversed input order: the window orders by ts, not by arrival
    df = spark.createDataFrame(rows[::-1])
    got = {
        (r.board, r.ts.day): r.delta
        for r in delta_vs_prev(df, dims=["test", "board"], ts="ts", value="text")
        .collect()
    }
    want = {
        (b, d): None if d == 1 else vals[d - 1] - vals[d - 2]
        for b, vals in series.items()
        for d in range(1, len(vals) + 1)
    }
    assert got == want


def test_build_sizes_idempotent_rerun(spark, sizes_raw, tmp_path):
    """O2: a document landed twice ingests one row per (test, board, ts)
    key — the sink append dedupes, not the transformation."""
    from riot_graphs_spark.plans.fetch import batch_fetch

    landing = tmp_path / "landing"
    landing.mkdir()
    for i, doc in enumerate(sizes_raw.toJSON().collect()):
        for copy in ("a", "b"):
            (landing / f"doc{i}{copy}.json").write_text(doc)
    n = build_sizes_from_raw(sizes_raw).count()
    sink = str(tmp_path / "sink")
    got = batch_fetch(
        spark, str(landing), sink, history=30, now=dt.datetime(2024, 1, 10)
    )
    assert got == n  # not 2n
    assert spark.read.parquet(sink).count() == n


def test_parse_commit_log_total(spark):
    """S4: unit-separator split + %z date parse; malformed lines dropped
    instead of raising (reference rg.py:211-223 splits in Python and
    strptime raises on bad dates)."""
    from riot_graphs_spark.sources.commits import parse_commit_log

    lines = spark.createDataFrame(
        [
            Row(value="abc123\x1f2024-01-05 12:30:00 +0100\x1fMerge pull request #7 from x"),
            Row(value="short-line-no-separators"),
            Row(value="def456\x1fnot-a-date\x1fsubject"),
            Row(value="ghi789\x1f2024-01-06 00:15:00 +0000\x1fsubject \x1f with extra sep"),
        ]
    )
    out = {r.hash: r for r in parse_commit_log(lines).collect()}
    assert set(out) == {"abc123", "ghi789"}
    # +0100 offset normalized to UTC (session tz)
    assert out["abc123"].date == dt.datetime(2024, 1, 5, 11, 30)
    # limit=3 keeps extra separators inside the subject
    assert out["ghi789"].msg == "subject \x1f with extra sep"
