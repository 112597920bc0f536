"""Property-based tests (SURVEY §5 item 5, hypothesis): invariants that must
hold for generated inputs, not just fixtures. Example counts are kept small —
every example is a Spark job."""

from __future__ import annotations

import datetime as dt
import textwrap

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # series id
        st.integers(min_value=0, max_value=96),  # hour offset
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=1,
    max_size=40,
)


def to_df(spark, events):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            Row(
                series=f"s{s}",
                ts=base + dt.timedelta(hours=h),
                event_id=i,
                value=v,
            )
            for i, (s, h, v) in enumerate(events)
        ]
    )


@settings(**SETTINGS)
@given(events=events_strategy)
def test_last_per_bucket_picks_unique_max(spark, events):
    """A1: exactly one row per (day, series), and it is the argmax of
    (ts, event_id) among that bucket's inputs."""
    from riot_graphs_spark.operators.timeseries import last_per_bucket

    df = to_df(spark, events)
    out = last_per_bucket(
        df, ts="ts", dims=["series"], payload=["event_id", "value"], tiebreak="event_id"
    ).collect()

    expected: dict = {}
    for i, (s, h, v) in enumerate(events):
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)
        key = (ts.date().isoformat(), f"s{s}")
        if key not in expected or (ts, i) > expected[key][0]:
            expected[key] = ((ts, i), v)
    got = {(r.bucket.date().isoformat(), r.series): (r.event_id, r.value) for r in out}
    assert len(out) == len(expected)
    for key, ((_, i), v) in expected.items():
        assert got[key] == (i, v)


@settings(**SETTINGS)
@given(events=events_strategy)
def test_bucketed_sums_total_to_global_sum(spark, events):
    """G1: integer window sums partition the global sum, and counts total
    the input size (partial aggregation loses nothing)."""
    from riot_graphs_spark.operators.timeseries import time_bucket_agg

    df = to_df(spark, events)
    out = time_bucket_agg(
        df,
        ts="ts",
        unit="hour",
        dims=["series"],
        aggs=[F.sum("value").alias("s"), F.count("*").alias("n")],
    ).collect()
    assert sum(r.s for r in out) == sum(v for _, _, v in events)
    assert sum(r.n for r in out) == len(events)


@settings(**SETTINGS)
@given(events=events_strategy)
def test_gap_fill_forward_fills_exactly(spark, events):
    """G3: full grid, NULL before a series' first bucket, and thereafter
    every slot equals the latest bucketed value at or before it."""
    from riot_graphs_spark.operators.timeseries import gap_fill_forward, time_bucket_agg

    df = to_df(spark, events)
    hourly = time_bucket_agg(
        df,
        ts="ts",
        unit="hour",
        dims=["series"],
        aggs=[F.sum("value").alias("s")],
    )
    rows = hourly.collect()
    out = gap_fill_forward(
        hourly, ts="bucket", dims=["series"], values=["s"], step="INTERVAL 1 HOUR"
    ).collect()

    lo = min(r.bucket for r in rows)
    hi = max(r.bucket for r in rows)
    n_slots = int((hi - lo).total_seconds() // 3600) + 1
    series = {r.series for r in rows}
    assert len(out) == n_slots * len(series)

    observed = {(r.series, r.bucket): r.s for r in rows}
    for r in out:
        at_or_before = [
            v for (s, b), v in observed.items() if s == r.series and b <= r.bucket
        ]
        if not at_or_before:
            assert r.s is None
        else:
            latest = max(
                b for (s, b) in observed if s == r.series and b <= r.bucket
            )
            assert r.s == observed[(r.series, latest)]


@settings(**SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcdefghij", min_size=1, max_size=12),
        min_size=0,
        max_size=30,
    )
)
def test_greedy_wrap_matches_textwrap(spark, words):
    """P13: the Catalyst fold equals textwrap.wrap for inputs whose words
    fit the width (the reference's PR-title case)."""
    from riot_graphs_spark.functions.scalars import greedy_wrap

    text = " ".join(words)
    out = (
        spark.createDataFrame([Row(t=text)])
        .select(greedy_wrap("t", width=12).alias("w"))
        .collect()[0]
        .w
    )
    assert out == "<br>".join(textwrap.wrap(text, 12))


@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="abc d", min_size=0, max_size=60), min_size=1, max_size=10
    )
)
def test_minhash_signature_depends_only_on_shingle_set(spark, texts):
    """Dedup: an exact duplicate doc gets an identical signature row set
    (the property LSH bucketing relies on)."""
    from riot_graphs_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
        + [Row(doc_id=1000 + i, text=t) for i, t in enumerate(texts)]
    )
    sig = minhash_signatures(docs).collect()
    by_doc: dict = {}
    for r in sig:
        by_doc.setdefault(r.doc_id, {})[r.j] = r.minhash
    for i in range(len(texts)):
        assert by_doc.get(i) == by_doc.get(1000 + i)


@given(events_strategy)
@settings(**SETTINGS)
def test_moving_average_matches_pandas_rolling(spark, events):
    from riot_graphs_spark.operators.timeseries import moving_average

    df = to_df(spark, events)
    got = {
        (r.series, r.event_id): r.moving_avg
        for r in moving_average(
            df, dims=["series"], ts="ts", value="value", n=3,
            tiebreak="event_id",
        ).collect()
    }
    pdf = df.toPandas().sort_values(["series", "ts", "event_id"])
    for series, grp in pdf.groupby("series"):
        roll = grp["value"].rolling(3).mean()
        for (_, row), exp in zip(grp.iterrows(), roll):
            key = (series, row["event_id"])
            if exp != exp:  # NaN: window not full -> row must be absent
                assert key not in got
            else:
                assert abs(got[key] - exp) < 1e-9


@given(events_strategy)
@settings(**SETTINGS)
def test_cumulative_sum_last_row_equals_series_total(spark, events):
    from riot_graphs_spark.operators.timeseries import cumulative_sum

    df = to_df(spark, events)
    out = cumulative_sum(
        df, dims=["series"], ts="ts", value="value", tiebreak="event_id"
    )
    # the largest (ts, event_id) row per series carries the series total
    last = {
        r.series: r.cum_sum
        for r in out.withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql", fromlist=["Window"]).Window
                .partitionBy("series")
                .orderBy(F.desc("ts"), F.desc("event_id"))
            ),
        )
        .filter("_rn = 1")
        .collect()
    }
    totals = {
        r.series: float(r.total)
        for r in df.groupBy("series").agg(F.sum("value").alias("total")).collect()
    }
    assert {k: round(v, 6) for k, v in last.items()} == {
        k: round(v, 6) for k, v in totals.items()
    }


@given(events_strategy)
@settings(**SETTINGS)
def test_integral_matches_numpy_trapezoid(spark, events):
    import numpy as np

    from riot_graphs_spark.operators.timeseries import integral_per_bucket

    df = to_df(spark, events)
    got = {
        (r.series, r.bucket): r.integral
        for r in integral_per_bucket(
            df, dims=["series"], ts="ts", value="value", unit="day",
            tiebreak="event_id",
        ).collect()
    }
    pdf = df.toPandas()
    pdf["bucket"] = pdf["ts"].dt.floor("D")
    for (series, bucket), grp in pdf.groupby(["series", "bucket"]):
        grp = grp.sort_values(["ts", "event_id"])
        t = grp["ts"].astype("int64").to_numpy() / 1e9
        v = grp["value"].to_numpy(dtype=float)
        trapz = getattr(np, "trapezoid", None) or np.trapz  # numpy 2 / 1.x
        exp = float(trapz(v, t)) if len(grp) > 1 else None
        act = got[(series, bucket)]
        if exp is None:
            assert act is None  # single point: no trapezoid, NULL integral
        else:
            assert act is not None and abs(act - exp) < 1e-6


@given(events=events_strategy)
@settings(**SETTINGS)
def test_m4_contains_extremes_and_is_subset(spark, events):
    from riot_graphs_spark.operators.timeseries import m4_downsample

    df = to_df(spark, events)
    out = m4_downsample(
        df, dims=["series"], ts="ts", value="value",
        unit="day", tiebreak="event_id",
    ).collect()
    src = df.collect()
    by_bucket = {}
    for r in src:
        key = (r["series"], r["ts"].date())
        by_bucket.setdefault(key, []).append(r)
    got = {}
    for r in out:
        got.setdefault((r["series"], r["bucket"].date()), []).append(r)
    assert set(got) == set(by_bucket)
    for key, pts in got.items():
        rows = by_bucket[key]
        in_pts = {(p["ts"], p["value"]) for p in pts}
        # subset of the input points of that bucket
        assert in_pts <= {(r["ts"], r["value"]) for r in rows}
        assert 1 <= len(pts) <= 4
        # extremes and endpoints are all represented
        assert min(r["value"] for r in rows) in {p["value"] for p in pts}
        assert max(r["value"] for r in rows) in {p["value"] for p in pts}
        assert min(r["ts"] for r in rows) in {p["ts"] for p in pts}
        assert max(r["ts"] for r in rows) in {p["ts"] for p in pts}


@given(events=events_strategy, split=st.integers(min_value=0, max_value=40))
@settings(**SETTINGS)
def test_cdc_split_compaction_equals_full_compaction(spark, events, split):
    """Last-writer-wins under any split of the log: compacting the union of
    two splits, however its rows are spread over partitions, equals the
    Python reference — per series the change with the largest
    (ts, event_id) wins and a winning delete drops the series."""
    from riot_graphs_spark.operators.cdc import apply_changelog

    df = to_df(spark, events).withColumn(
        "op", F.when(F.col("value") % 5 == 0, "D").otherwise("U")
    )
    kw = dict(keys=["series"], seq=["ts", "event_id"], op_col="op")
    a = df.filter(F.col("event_id") < split)
    b = df.filter(F.col("event_id") >= split)
    got = apply_changelog(b.unionByName(a), **kw)
    winners = {}
    for r in df.collect():
        best = winners.get(r["series"])
        if best is None or (r["ts"], r["event_id"]) > (best["ts"], best["event_id"]):
            winners[r["series"]] = r
    want = sorted(tuple(r) for r in winners.values() if r["op"] != "D")
    assert sorted(map(tuple, got.collect())) == want


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=25),
        st.integers(min_value=1, max_value=25),
    ),
    min_size=1,
    max_size=30,
)


@settings(**SETTINGS)
@given(edges=edges_strategy)
def test_star_cc_matches_iterative_cc(spark, edges):
    """Large-star/small-star contraction must produce the identical
    (id, component_id) labeling as iterative min-label propagation on any
    graph — including self-loops, parallel/reversed edges, many islands."""
    from riot_graphs_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {
        (r.id, r.component_id)
        for r in connected_components_star(pairs).collect()
    }
    iterative = {
        (r.id, r.component_id)
        for r in connected_components(pairs, max_iter=30).collect()
    }
    # the iterative operator drops nodes seen only in self-loop pairs from
    # its edge list; the star operator labels them (id, id) — align first
    iter_ids = {i for i, _ in iterative}
    star_aligned = {(i, c) for i, c in star if i in iter_ids}
    assert star_aligned == iterative
    # star additionally owes every self-loop-only node a self label
    assert all(i == c for i, c in star - star_aligned)


def test_influxql_parser_total_over_garbage():
    """Any input either parses or raises InfluxQLError — never an
    unhandled exception type (the /query endpoint maps InfluxQLError and
    friends to a clean 400)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from riot_graphs_spark.functions.influxql import (
        InfluxQLError,
        parse_influxql,
        parse_show,
    )

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=120))
    def check(q):
        try:
            parse_show(q)
            parse_influxql(q)
        except InfluxQLError:
            pass

    check()


def test_influxql_parser_accepts_generated_valid_queries():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from riot_graphs_spark.functions.influxql import parse_influxql

    ident = st.sampled_from(["events", "build_sizes", "m1"])
    field = st.sampled_from(["value", "text", "count"])
    func = st.sampled_from(["mean", "sum", "count", "min", "max", "last"])
    dur = st.sampled_from(["30s", "5m", "1h", "1d"])
    tagc = st.sampled_from(
        ["", " AND board = 'native'", " AND board != 'x'", " AND board =~ /^n.*/"]
    )
    fill = st.sampled_from(["", " fill(null)", " fill(previous)", " fill(0)"])
    tail = st.sampled_from(["", " ORDER BY time DESC", " LIMIT 10",
                            " ORDER BY time ASC LIMIT 3"])

    @settings(max_examples=200, deadline=None)
    @given(f=func, fld=field, m=ident, d=dur, tc=tagc, fl=fill, tl=tail)
    def check(f, fld, m, d, tc, fl, tl):
        q = (
            f"SELECT {f}({fld}) AS v FROM {m} "
            f"WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00'{tc} "
            f"GROUP BY time({d}), board{fl}{tl}"
        )
        parsed = parse_influxql(q)
        assert parsed.measurement == m
        assert parsed.group_interval_s > 0
        assert parsed.items[0].out == "v"

    check()


# ------------------------------------------------------------------
# round-3 additions: chunker and InfluxQL-parser invariants
# ------------------------------------------------------------------
_sentence = st.text(
    alphabet="abc d", min_size=1, max_size=20
).map(lambda s: s.strip()).filter(lambda s: s)
_doc = st.lists(_sentence, min_size=0, max_size=8).map(
    lambda ss: ". ".join(ss) + ("." if ss else "")
)


@settings(**SETTINGS)
@given(docs=st.lists(_doc, min_size=1, max_size=6))
def test_chunk_by_sentences_reconstructs_and_conserves(spark, docs):
    """Joining every chunk in (doc, chunk) order reproduces the normalized
    sentence stream — nothing lost, nothing duplicated, order kept — and
    per-chunk n_chars equals the chunk's own sentence lengths."""
    import re as _re

    from riot_graphs_spark.operators.curation import chunk_by_sentences

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    rows = chunk_by_sentences(df, max_chars=25).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in enumerate(docs):
        sents = [
            s.strip()
            for s in _re.findall(r"[^.!?]+[.!?]*", text)
            if s.strip()
        ]
        got = by_doc.get(i, [])
        got.sort(key=lambda r: r.chunk_id)
        joined = " ".join(r.chunk_text for r in got)
        assert joined == " ".join(sents)
        assert sum(r.n_sentences for r in got) == len(sents)
        for r in got:
            # chunk_text joins sentences with single spaces, so the raw
            # sentence chars are its length minus the n_sentences-1 joins
            assert r.n_chars == len(r.chunk_text) - (r.n_sentences - 1)


@settings(**SETTINGS)
@given(
    func=st.sampled_from(["mean", "sum", "count", "min", "max", "stddev"]),
    alias=st.sampled_from(["v", "x1", '"quoted col"']),
    hours=st.integers(min_value=1, max_value=48),
    tag=st.booleans(),
    desc=st.sampled_from([None, "ASC", "DESC"]),
    limit=st.one_of(st.none(), st.integers(min_value=1, max_value=9)),
    post=st.sampled_from([None, "* 8", "/ 2", "+ 1"]),
)
def test_influxql_generated_queries_parse_and_lower(
    spark, func, alias, hours, tag, desc, limit, post
):
    """Every query from this mini-grammar must parse AND lower to a
    runnable DataFrame (schema resolvable, no analysis error)."""
    from riot_graphs_spark.functions.influxql import influxql, parse_influxql

    q = f"SELECT {func}(value) {post or ''} AS {alias} FROM m"
    q += f" WHERE time >= '2024-01-01 00:00:00' AND value > 0"
    q += f" GROUP BY time({hours}h)" + (", series" if tag else "")
    if desc:
        q += f" ORDER BY time {desc}"
    if limit is not None:
        q += f" LIMIT {limit}"
    parsed = parse_influxql(q)
    assert parsed.group_interval_s == hours * 3600
    df = to_df(
        spark, [(0, 0, 5), (0, 1, 7), (1, 2, 9)]
    )
    out = influxql(lambda _m: df, q)
    cols = set(out.columns)
    want_alias = alias.strip('"')
    assert want_alias in cols
    out.collect()  # must actually execute


@settings(**SETTINGS)
@given(
    sigs=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=2,
        max_size=24,
        unique=True,
    ),
    radius_bands=st.sampled_from([(0, 1), (1, 2), (3, 4), (7, 8), (15, 16)]),
)
def test_hamming_banding_equals_brute_force(spark, sigs, radius_bands):
    """The pigeonhole guarantee, property-tested over arbitrary 64-bit
    signatures: banded pairs == brute-force pairs at the radius, for every
    valid (radius, bands) arithmetic."""
    from riot_graphs_spark.operators.dedup import hamming_banded_pairs

    radius, bands = radius_bands
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "doc_id long, sig long"
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in hamming_banded_pairs(
            df, "sig", max_hamming=radius, bits=64, bands=bands
        ).collect()
    }
    want = {}
    for i, a in enumerate(sigs):
        for j in range(i + 1, len(sigs)):
            h = bin((a ^ sigs[j]) & (2**64 - 1)).count("1")
            if h <= radius:
                want[(i, j)] = h
    assert got == want


@settings(**SETTINGS)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=500), min_size=1, max_size=6
    ),
    temp=st.sampled_from([1.0, 2.0, 4.0]),
)
def test_temperature_mixture_is_a_distribution(spark, counts, temp):
    """sample_share is a probability distribution (sums to 1 within
    rounding), and raising T always weakly compresses the spread between
    the largest and smallest stratum."""
    from riot_graphs_spark.operators.curation import temperature_mixture

    rows = [
        (i * 1000 + j, f"lang{i}")
        for i, n in enumerate(counts)
        for j in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = temperature_mixture(df, temperature=temp).collect()
    total = sum(r.sample_share for r in got)
    assert abs(total - 1.0) <= 1e-5 * len(counts)
    shares = sorted(r.share for r in got)
    samples = sorted(r.sample_share for r in got)
    # compression: the min stratum's share never shrinks, max never grows
    assert samples[0] >= shares[0] - 1e-9
    assert samples[-1] <= shares[-1] + 1e-9


@settings(**SETTINGS)
@given(
    values=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=3,
        max_size=40,
    )
)
def test_winsorize_bounds_and_row_preservation(spark, values):
    """Winsorized output never exceeds the raw extremes, row count is
    preserved, and unclipped rows pass through bit-identical."""
    from riot_graphs_spark.operators.profile import winsorize

    df = spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate(values)],
        "id long, event_type string, value double",
    )
    got = winsorize(df, lo=0.05, hi=0.95).collect()
    assert len(got) == len(values)
    lo, hi = min(values), max(values)
    for r in got:
        assert lo - 1e-6 <= r.winsorized <= hi + 1e-6
        if not r.clipped:
            assert r.winsorized == r.value


# --------------------------------------------------------------------------
# heavy_hitters: two-phase result equals exact GROUP BY HAVING, any capacity
# (the counter cap is ⌈1/min_share⌉, so drawing min_share draws caps from 3
# to 10; phase 1 decrements whenever a draw has more distinct keys than that)
# --------------------------------------------------------------------------
@settings(**SETTINGS)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=120
    ),
    share=st.sampled_from((0.1, 0.12, 0.2, 0.25, 0.34)),
)
def test_heavy_hitters_exact_for_any_capacity(spark, keys, share):
    from riot_graphs_spark.operators.profile import heavy_hitters

    df = spark.createDataFrame(
        [(f"k{k}",) for k in keys], "k string"
    ).repartition(5)
    n = len(keys)
    got = {
        r.k: r.cnt
        for r in heavy_hitters(df, "k", min_share=share).collect()
    }
    exact = {
        r.k: r.cnt
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > n * share)
        .collect()
    }
    assert got == exact


# --------------------------------------------------------------------------
# global_index: permutation of 0..n-1, invariant to bucket count
# --------------------------------------------------------------------------
@settings(**SETTINGS)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    buckets=st.integers(min_value=1, max_value=32),
)
def test_global_index_is_contiguous_permutation(spark, ids, buckets):
    from riot_graphs_spark.operators.curation import global_index

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r.global_pos
        for r in global_index(df, buckets=buckets).collect()
    }
    assert sorted(got.values()) == list(range(len(ids)))
    # invariant to bucketing: same order as buckets=1
    ref = {
        r.doc_id: r.global_pos
        for r in global_index(df, buckets=1).collect()
    }
    assert got == ref


# --------------------------------------------------------------------------
# sorted_neighborhood: every pair within w of the true global order, no more
# --------------------------------------------------------------------------
@settings(**SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=4),
        min_size=2,
        max_size=40,
    )
)
def test_sorted_neighborhood_pairs_property(spark, texts):
    from riot_graphs_spark.operators.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in sorted_neighborhood_pairs(df, "text", w=3, partitions=4).collect()
    }
    ordered = [
        r.doc_id for r in df.orderBy(F.col("text"), F.col("doc_id")).collect()
    ]
    expect = {
        (a, ordered[i + g])
        for i, a in enumerate(ordered)
        for g in (1, 2)
        if i + g < len(ordered)
    }
    assert got == expect


# --------------------------------------------------------------------------
# round-5 operators
# --------------------------------------------------------------------------
@settings(**SETTINGS)
@given(
    keyed=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # group
            st.integers(min_value=0, max_value=12),  # key
        ),
        min_size=1,
        max_size=60,
    ),
    share=st.sampled_from((0.1, 0.2, 0.25, 0.34)),
)
def test_heavy_hitters_grouped_exact_for_any_capacity(spark, keyed, share):
    from riot_graphs_spark.operators.profile import heavy_hitters_grouped

    df = spark.createDataFrame(
        [(f"g{g}", f"k{k}") for g, k in keyed], "g string, k string"
    ).repartition(5)
    got = {
        (r.g, r.k): r.cnt
        for r in heavy_hitters_grouped(
            df, key_col="k", group_col="g", min_share=share
        ).collect()
    }
    exact = {
        (r.g, r.k): r.cnt
        for r in df.groupBy("g", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(df.groupBy("g").agg(F.count(F.lit(1)).alias("n")), "g")
        .where(F.col("cnt") > F.col("n") * share)
        .collect()
    }
    assert got == exact


@settings(**SETTINGS)
@given(events=events_strategy)
def test_ewma_window_matches_pandas_rollout(spark, events):
    """Truncated EWMA equals the per-series normalized weighted lag sum
    computed in plain Python, for any generated series (duplicate
    timestamps broken by event_id)."""
    from riot_graphs_spark.operators.timeseries import ewma_window

    df = to_df(spark, events)
    alpha, k = 0.3, 4
    got = {
        r.event_id: r.ewma_w
        for r in ewma_window(
            df, dims=["series"], ts="ts", value="value", alpha=alpha, k=k,
            tiebreak="event_id", round_to=9,
        ).collect()
    }
    ws = [alpha * (1 - alpha) ** i for i in range(k)]
    by_series: dict[str, list] = {}
    for i, (s, h, v) in enumerate(events):
        by_series.setdefault(f"s{s}", []).append((h, i, v))
    for rows in by_series.values():
        rows.sort()
        for t, (_, eid, _) in enumerate(rows):
            terms = [(ws[j], rows[t - j][2]) for j in range(min(t + 1, k))]
            expect = sum(w * x for w, x in terms) / sum(w for w, _ in terms)
            assert abs(got[eid] - expect) < 1e-6


@settings(**SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abc"), min_size=0, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=12,
    )
)
def test_paragraph_dedup_matches_brute_force(spark, docs):
    """Block-mode unit dedup equals the brute-force Python computation:
    per doc, blocks of 3 tokens; a block is dup iff some OTHER doc has it."""
    from riot_graphs_spark.operators.dedup import paragraph_dedup_stats

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_units, r.n_dup_units)
        for r in paragraph_dedup_stats(df, block_tokens=3).collect()
    }
    blocks_of = {}
    for i, d in enumerate(docs):
        toks = d.split()
        blocks_of[i] = [
            " ".join(toks[j * 3 : j * 3 + 3])
            for j in range(len(toks) // 3)
        ]
    owners: dict[str, set] = {}
    for i, bs in blocks_of.items():
        for b in bs:
            owners.setdefault(b, set()).add(i)
    expect = {}
    for i, bs in blocks_of.items():
        if bs:
            expect[i] = (
                len(bs), sum(1 for b in bs if len(owners[b]) > 1)
            )
    assert got == expect


@settings(**SETTINGS)
@given(events=events_strategy)
def test_rollup_merge_equals_direct_any_input(spark, events):
    from riot_graphs_spark.operators.rollup import (
        daily_partials,
        merge_to_grain,
    )

    df = to_df(spark, events).withColumn(
        "value", F.col("value").cast("double")
    )
    two = merge_to_grain(
        daily_partials(df, dims=["series"]), dims=["series"]
    )
    direct = df.groupBy(
        F.date_trunc("week", "ts").alias("bucket"), "series"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).withColumn(
        "avg_value",
        F.col("sum_value").cast("double") / F.col("n_rows").cast("double"),
    )
    assert {tuple(r) for r in two.collect()} == {
        tuple(r) for r in direct.collect()
    }


@settings(**SETTINGS)
@given(events=events_strategy, split=st.integers(min_value=1, max_value=95))
def test_drift_monitors_symmetric_and_bounded_any_input(spark, events, split):
    """PSI is symmetric (term (pa-pb)·ln(pa/pb) is swap-invariant) and
    finite; KS is symmetric and in [0, 1] — for ANY generated snapshot
    split, including one-sided and single-row groups."""
    from riot_graphs_spark.operators.profile import ks_two_sample, psi_report

    df = to_df(spark, events).withColumn(
        "value", F.col("value").cast("double")
    )
    a = df.filter(F.col("event_id") % 96 < split)
    b = df.filter(F.col("event_id") % 96 >= split)
    kw = dict(value_col="value", group_cols=["series"])
    psi_ab = {
        r["series"]: r["psi"]
        for r in psi_report(a, b, lo=-1000, hi=1000, nbuckets=8, **kw).collect()
    }
    psi_ba = {
        r["series"]: r["psi"]
        for r in psi_report(b, a, lo=-1000, hi=1000, nbuckets=8, **kw).collect()
    }
    assert set(psi_ab) == set(psi_ba)
    for s, p in psi_ab.items():
        # ln(pa/pb) and ln(pb/pa) are not exact IEEE negations, so allow
        # the quantized sums a last-digit wobble around the 9-dp rounding
        assert p is not None and p >= 0.0
        assert abs(p - psi_ba[s]) <= 2e-9

    ks_ab = {
        (r["series"], r["n_a"], r["n_b"], r["ks_d"])
        for r in ks_two_sample(a, b, **kw).collect()
    }
    ks_ba = {
        (r["series"], r["n_b"], r["n_a"], r["ks_d"])
        for r in ks_two_sample(b, a, **kw).collect()
    }
    assert ks_ab == ks_ba
    for _, n_a, n_b, d in ks_ab:
        if n_a == 0 or n_b == 0:
            # a group entirely inside one snapshot has no defined CDF gap
            assert d is None
        else:
            assert 0.0 <= d <= 1.0


scored_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),   # score (ties likely)
        st.booleans(),                           # label
    ),
    min_size=2,
    max_size=40,
)


@settings(**SETTINGS)
@given(rows=scored_strategy)
def test_roc_auc_equals_pair_counting(spark, rows):
    """The rank-sum AUC must equal the brute-force pairwise definition:
    P(score+ > score-) + 0.5 P(score+ == score-) over all (pos, neg)
    pairs — the Mann-Whitney identity the operator relies on."""
    from riot_graphs_spark.operators.evaluation import roc_auc

    df = spark.createDataFrame(
        [(float(s), bool(y)) for s, y in rows], "s double, y boolean"
    )
    got = roc_auc(df, "s", "y").collect()[0]
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    if not pos or not neg:
        assert got["auc"] is None
        return
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    expected = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert got["auc"] == round(expected, 9)
    assert 0.0 <= got["auc"] <= 1.0


@settings(**SETTINGS)
@given(rows=scored_strategy)
def test_lift_table_conserves_mass_and_gains_monotone(spark, rows):
    from riot_graphs_spark.operators.evaluation import lift_table

    df = spark.createDataFrame(
        [(float(s), bool(y)) for s, y in rows], "s double, y boolean"
    )
    out = sorted(
        lift_table(df, "s", "y", 4).collect(), key=lambda r: r["bucket"]
    )
    assert sum(r["n"] for r in out) == len(rows)
    assert sum(r["n_pos"] for r in out) == sum(1 for _, y in rows if y)
    caps = [r["cum_capture"] for r in out if r["cum_capture"] is not None]
    assert caps == sorted(caps)  # gains curve is monotone
    if any(y for _, y in rows):
        assert caps and caps[-1] == 1.0


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=3,
        max_size=30,
    )
)
def test_spearman_equals_numpy_on_average_ranks(spark, rows):
    import numpy as np

    from riot_graphs_spark.operators.profile import spearman_correlation

    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in rows], "x double, y double"
    )
    got = spearman_correlation(df, "x", "y").collect()[0]["rho"]

    def avg_ranks(vals):
        order = np.argsort(np.argsort(vals, kind="stable"), kind="stable")
        ranks = np.empty(len(vals))
        sv = sorted(vals)
        first = {}
        for i, v in enumerate(sv):
            first.setdefault(v, i)
        for i, v in enumerate(vals):
            t = sv.count(v)
            ranks[i] = first[v] + (t + 1) / 2
        return ranks

    xs = [x for x, _ in rows]
    ys = [y for _, y in rows]
    if len(set(xs)) < 2 or len(set(ys)) < 2:
        assert got is None
        return
    rho = np.corrcoef(avg_ranks(xs), avg_ranks(ys))[0, 1]
    assert got == _approx(rho)


def _approx(v):
    import pytest

    return pytest.approx(v, abs=1e-8)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_cohen_kappa_matches_brute_formula(spark, rows):
    from riot_graphs_spark.operators.profile import cohen_kappa

    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in rows], "a string, b string"
    )
    got = cohen_kappa(df, "a", "b").collect()[0]
    n = len(rows)
    po = sum(1 for a, b in rows if a == b) / n
    labels = {a for a, _ in rows} | {b for _, b in rows}
    pe = sum(
        sum(1 for a, _ in rows if a == k) * sum(1 for _, b in rows if b == k)
        for k in labels
    ) / (n * n)
    assert got["po"] == round(po, 9)
    assert got["pe"] == round(pe, 9)
    if pe == 1.0:
        assert got["kappa"] is None
    else:
        assert got["kappa"] == _approx((po - pe) / (1 - pe))


@settings(**SETTINGS)
@given(events=events_strategy)
def test_autocorrelation_bounded(spark, events):
    """|acf| <= 1 at every lag for any series (Cauchy-Schwarz on the
    biased estimator), and n_pairs counts the overlap exactly."""
    from riot_graphs_spark.operators.timeseries import autocorrelation

    df = to_df(spark, events)
    out = autocorrelation(
        df, ["series"], "ts", "value", max_lag=3, tiebreak="event_id"
    ).collect()
    from collections import Counter

    per_series = Counter(
        f"s{s}" for s, _, _ in events
    )
    for r in out:
        if r["acf"] is not None:
            assert -1.0 - 1e-9 <= r["acf"] <= 1.0 + 1e-9
        assert r["n_pairs"] == max(0, per_series[r["series"]] - r["lag"])
