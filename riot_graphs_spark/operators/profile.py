"""Data profiling: per-column summary statistics in ONE aggregation pass —
the pipeline health check run before/after every large curation stage
(row counts, null rates, cardinalities, value ranges).

Shape: all columns' aggregates go into a single ``agg`` (one scan, one
partial-aggregable reduce to ONE row), then ``stack`` unpivots driver-side
expression-wise — no second scan, no per-column jobs. ``summary()``/
``describe()`` exist but are not oracle-checkable nor schema-stable; this
is, and it handles exact distinct counts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One row per profiled column: non-null count, null count, distinct
    count, min/max (as strings — uniform output schema).

    ``n_distinct`` is the exact ``count(DISTINCT)``, which the oracle-parity
    query compares for equality. Its partial aggregate keeps every distinct
    value, so a high-cardinality column (ids, hashes) costs aggregation
    state in proportion to its distinct count.

    Keep doubles out of ``cols`` when oracle parity matters: float→string
    formatting differs across engines.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"{c}__n_null"),
            F.count_distinct(F.col(c)).alias(f"{c}__n_distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__n_null, {c}__n_distinct, {c}__min, {c}__max"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n, n_null, n_distinct, min_value, max_value)"
        )
    )


def expectation_report(
    df: DataFrame,
    checks: Sequence[tuple[str, "F.Column", float | None, float | None]],
) -> DataFrame:
    """Deequ-style data-quality gate: evaluate named expectations — each a
    ``(name, metric_aggregate, low, high)`` tuple — in ONE aggregation pass
    and emit one verdict row per check:
    ``(check_name, metric: double, low, high, passed: boolean)``.

    ``passed`` is ``low ≤ metric ≤ high`` with either bound optional. The
    metric must be an aggregate expression (``avg``, ``min``,
    ``count_distinct`` …); all metrics ride the same scan and reduce to a
    single row before a row-local unpivot, so a 50-check suite over 100 TB
    still costs exactly one pass. The report is what a curation pipeline
    gates a write on: ``report.filter(~col("passed")).count() == 0``.
    """
    aggs = [
        metric.cast("double").alias(f"_m{i}")
        for i, (_, metric, _, _) in enumerate(checks)
    ]
    verdicts = []
    for i, (name, _, low, high) in enumerate(checks):
        m = F.col(f"_m{i}")
        passed = F.lit(True)
        if low is not None:
            passed = passed & (m >= F.lit(float(low)))
        if high is not None:
            passed = passed & (m <= F.lit(float(high)))
        verdicts.append(
            F.struct(
                F.lit(name).alias("check_name"),
                m.alias("metric"),
                F.lit(low).cast("double").alias("low"),
                F.lit(high).cast("double").alias("high"),
                passed.alias("passed"),
            )
        )
    return (
        df.agg(*aggs)
        .select(F.explode(F.array(*verdicts)).alias("_v"))
        .select("_v.*")
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Row-level diff between two snapshots of a table: one row per key
    that was ``added``, ``removed``, or ``changed`` (same key, any non-key
    column differs). Unchanged rows are dropped — at 100 TB the diff is
    the small output, so emitting only it keeps the shuffle write bounded
    by churn, not table size.

    One full-outer sort-merge join on the key; non-key comparison goes
    through a per-side md5 of the canonicalized remaining columns, computed
    before the join so the comparison is a cheap string equality.
    """
    value_cols = [c for c in old.columns if c not in key_cols]

    def hashed(df: DataFrame, side: str) -> DataFrame:
        # coalesce to a sentinel: concat_ws silently drops nulls, which
        # would make ('a', NULL, 'b') collide with ('a', 'b', NULL)
        row_hash = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
                    for c in value_cols
                ],
            )
        )
        return df.select(*key_cols, row_hash.alias(f"_h_{side}"))

    joined = hashed(old, "old").join(hashed(new, "new"), list(key_cols), "full_outer")
    status = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )


def fixed_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbuckets: int,
) -> DataFrame:
    """Fixed-bound equi-width histogram: one row per non-empty bucket with
    its edges, count, and observed min/max.

    The bucket index is plain ``floor((x - lo) / width)`` clamped to
    ``[0, nbuckets-1]`` — explicit arithmetic rather than ``width_bucket``
    so the expression is bit-identical across engines (oracle parity) and
    stays inside whole-stage codegen. One scan, one partial-aggregable
    shuffle on an at-most-``nbuckets``-ary key; out-of-range values land in
    the edge buckets instead of a scan-side filter so totals reconcile with
    ``count(*)``. Covers the Grafana histogram panel the reference delegates
    (SURVEY §2.4 G1 family).
    """
    width = (hi - lo) / nbuckets
    x = F.col(value_col)
    bucket = F.greatest(
        F.lit(0),
        F.least(F.lit(nbuckets - 1), F.floor((x - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    return (
        df.filter(x.isNotNull())
        .select(bucket.alias("bucket"), x.alias("_x"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_x").alias("bucket_min"),
            F.max("_x").alias("bucket_max"),
        )
        .select(
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("edge_lo"),
            (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)).alias("edge_hi"),
            "n",
            "bucket_min",
            "bucket_max",
        )
    )


def dataset_card(
    df: DataFrame,
    dims: Sequence[str] = ("lang", "source"),
    chars_col: str = "n_chars",
    token_count_col=None,
) -> DataFrame:
    """Release-manifest statistics ("dataset card"): per ``dims`` stratum,
    document/char/token totals and the stratum's share of the corpus — the
    table a training run publishes with a dataset so its mixture is
    auditable and reproducible.

    ``token_count_col`` is a Column expression counting tokens per row
    (default: the whitespace-word tokenizer used across textstats).

    One partial-aggregable shuffle to #strata rows; the shares come from an
    unpartitioned window over THAT aggregate (strata-sized, not
    corpus-sized). Integer totals are exact, so the per-row double division
    is bit-deterministic across engines and partitionings.
    """
    from pyspark.sql import Window

    from .textstats import token_count

    toks = token_count_col if token_count_col is not None else token_count("text")
    agg = df.groupBy(*[F.col(d) for d in dims]).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(chars_col).cast("long")).alias("total_chars"),
        F.sum(toks.cast("long")).alias("total_tokens"),
    )
    w = Window.partitionBy()
    return agg.select(
        *dims,
        "n_docs",
        "total_chars",
        "total_tokens",
        (F.col("n_docs") / F.sum("n_docs").over(w)).alias("pct_docs"),
        (F.col("total_tokens") / F.sum("total_tokens").over(w)).alias(
            "pct_tokens"
        ),
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Partition-skew diagnostic for a join/group key: the ``top_n``
    heaviest keys with their corpus share and running concentration, plus
    the key distribution's Gini coefficient (same value on every row) —
    the table you read BEFORE choosing salting / AQE-skew thresholds for a
    100 TB join on ``key_col``.

    Scale shape: one partial-aggregable count shuffle (key-cardinality
    sized), then NO global window ever touches the full key table — the
    top-N rank filter runs as a map-side partial WindowGroupLimit, and the
    Gini/total statistics come from the count-of-COUNTS table (one row per
    distinct frequency — tiny even at billions of keys: keys with the same
    count occupy a contiguous ascending-rank block, so
    Σ n·rank = Σ_blocks n·(cum_before·m + m(m+1)/2) exactly). Gini =
    (2·Σ(rank·n)) / (k·Σn) − (k+1)/k — exact integer sums, one final
    double expression; cum_share is computed over the top-N rows only
    (their ranks are contiguous from 1)."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))

    # count-of-counts: m keys share frequency n → rank block of width m
    cc = counts.groupBy("n").agg(F.count(F.lit(1)).alias("m"))
    w_prev = (
        Window.partitionBy()
        .orderBy(F.col("n").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("m").over(w_prev), F.lit(0))
    # m(m+1)/2 is always integral — keep the whole weighted sum in exact
    # integer arithmetic (an FP accumulator would make the Gini's low bits
    # partitioning-dependent)
    tri = (F.col("m") * (F.col("m") + 1) / 2).cast("long")
    block_weight = F.col("n") * (cum_before * F.col("m") + tri)
    totals = (
        cc.select(
            F.col("n"),
            F.col("m"),
            block_weight.alias("_bw"),
        )
        .agg(
            F.sum(F.col("n") * F.col("m")).alias("_total"),
            F.sum("m").alias("_k"),
            F.sum("_bw").alias("_weighted"),
        )
    )

    # global top-N in two exact phases: Spark's partial WindowGroupLimit
    # does NOT fire for empty-partition windows, so pre-cut top-N within
    # hash-salt groups (any global top-N row is top-N of its salt), then
    # re-rank the ≤ 64·top_n survivors — no full-key-table single-task sort
    w_salt = Window.partitionBy("_salt").orderBy(
        F.col("n").desc(), F.col(key_col).asc()
    )
    w_desc = Window.partitionBy().orderBy(
        F.col("n").desc(), F.col(key_col).asc()
    )
    top = (
        counts.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(64))
        )
        .withColumn("_r1", F.row_number().over(w_salt))
        .filter(F.col("_r1") <= top_n)
        .withColumn("rank", F.row_number().over(w_desc))
        .filter(F.col("rank") <= top_n)
        .drop("_salt", "_r1")
    )
    w_cum = (
        Window.partitionBy()
        .orderBy(F.col("rank").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gini = F.round(
        (F.lit(2.0) * F.col("_weighted")) / (F.col("_k") * F.col("_total"))
        - (F.col("_k") + F.lit(1.0)) / F.col("_k"),
        6,
    )
    return top.crossJoin(F.broadcast(totals)).select(
        F.col(key_col),
        F.col("n"),
        F.round(F.col("n") / F.col("_total"), 6).alias("share"),
        F.round(F.sum("n").over(w_cum) / F.col("_total"), 6).alias(
            "cum_share"
        ),
        "rank",
        gini.alias("gini"),
    )


def winsorize(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Per-group winsorization — clamp a metric to its [lo, hi]
    percentiles, the outlier treatment a feature/reward column gets before
    statistics or training (cap, don't drop: row count and joinability are
    preserved).

    Plan: one partial-aggregable percentile pass reduces the corpus to a
    #groups-row bounds table, broadcast back onto the fact — no second
    shuffle, no window over the fact. At 100 TB the bounds side is bytes;
    the clamp is row-local whole-stage codegen. Bounds are rounded to 6dp
    so the clamp threshold (and therefore every output value and flag) is
    engine-stable; interior values pass through untouched.

    Bounds are the exact interpolated percentile — its partial state
    collects per-group values, fine while per-group value mass fits
    aggregation state, and required for oracle parity.

    Appends ``winsorized`` (double) and ``clipped`` (boolean) to ``df``'s
    columns.
    """
    if not 0 <= lo < hi <= 1:
        raise ValueError("need 0 <= lo < hi <= 1")
    v = F.col(value_col)
    bounds = df.groupBy(group_col).agg(
        F.round(F.percentile(v, F.lit(lo)), 6).alias("_p_lo"),
        F.round(F.percentile(v, F.lit(hi)), 6).alias("_p_hi"),
    ).withColumnRenamed(group_col, "_g")
    # eqNullSafe: groupBy emits a NULL-group bounds row, and rows whose
    # group is NULL must match it — a plain equi-join drops them (NULL=NULL
    # is never true), silently breaking "row count is preserved".
    out = df.join(
        F.broadcast(bounds), F.col(group_col).eqNullSafe(F.col("_g"))
    )
    return out.select(
        *df.columns,
        F.least(F.greatest(v, F.col("_p_lo")), F.col("_p_hi")).alias(
            "winsorized"
        ),
        ((v < F.col("_p_lo")) | (v > F.col("_p_hi"))).alias("clipped"),
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    min_share: float = 0.001,
) -> DataFrame:
    """EXACT frequent-items query — every key whose count strictly exceeds
    ``min_share`` of the table — computed without a full-cardinality
    groupBy, via the classic two-phase sketch-then-recount:

    1. **Candidates** (bounded memory): a batched Misra-Gries summary per
       partition (``mapInPandas``; per-Arrow-batch ``value_counts`` merged
       into a dict capped at ``cap = ⌈1/min_share⌉`` counters by the
       subtract-the-(cap+1)th-largest decrement). MG guarantees every key
       with partition count > N_p/(cap+1) survives, and by pigeonhole
       any key with GLOBAL count > N·min_share exceeds that bound in at
       least one partition — so candidates ⊇ all true heavy hitters.
       Summary memory is O(cap + batch distinct), never O(distinct).
    2. **Exact recount**: semi-join the table against the (tiny —
       ≤ cap × n_partitions keys) broadcast candidate set, exact
       groupBy count, strict ``cnt > N·min_share`` filter.

    Phase 2 makes sketch slop irrelevant: the result EXACTLY equals
    ``GROUP BY key HAVING count(*) > N*min_share`` — false candidates are
    recounted and filtered out; true hitters are never missed (phase-1
    guarantee). At 100 TB this replaces a full shuffle of every distinct
    key (ids, hashes → aggregation-state blowup) with one map-side pass
    plus a shuffle of only candidate rows. NULL keys are excluded.

    Output: ``(key_col, cnt bigint, share double)``.
    """
    import math

    import pandas as pd

    if not 0.0 < min_share < 1.0:
        raise ValueError("need 0 < min_share < 1")
    # The per-partition MG guarantee (every key with partition count
    # > N_p/(cap+1) survives) covers all true heavy hitters only when
    # cap + 1 >= 1/min_share; a smaller cap would make phase 1 silently
    # drop real hitters (balanced keys tie at the decrement threshold and
    # all die), so cap is the pigeonhole floor.
    cap = max(1, math.ceil(1.0 / min_share))

    keys = df.select(
        F.col(key_col).cast("string").alias("k")
    ).where(F.col(key_col).isNotNull())

    def _candidates(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            for k, c in pdf["k"].value_counts().items():
                counts[k] = counts.get(k, 0) + int(c)
            if len(counts) > cap:
                # Batched MG decrement: subtract the (cap+1)-th largest
                # counter from all; ≤ cap survive with positive count.
                d = sorted(counts.values(), reverse=True)[cap]
                counts = {k: c - d for k, c in counts.items() if c > d}
        yield pd.DataFrame({"k": pd.Series(list(counts), dtype="object")})

    cand = keys.mapInPandas(_candidates, schema="k string").distinct()
    total = df.where(F.col(key_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        keys.join(F.broadcast(cand), "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") > F.col("_n") * F.lit(min_share))
        .select(
            F.col("k").alias(key_col),
            "cnt",
            (F.col("cnt") / F.col("_n")).alias("share"),
        )
    )


def heavy_hitters_grouped(
    df: DataFrame,
    key_col: str,
    group_col: str,
    min_share: float = 0.01,
) -> DataFrame:
    """Per-group EXACT frequent items — :func:`heavy_hitters` with the
    Misra-Gries guarantee applied WITHIN each group (a time window, a
    source, a shard): every key whose count strictly exceeds ``min_share``
    of its group's rows. This is the windowed/trending form.

    Phase 1 keeps one capped MG summary PER GROUP seen in the partition
    (memory O(groups-in-partition × cap) — groups are time windows or
    sources, i.e. few). Pigeonhole per group still holds: a key with
    group-global count > N_g·min_share exceeds the per-partition MG bound
    for that group somewhere, so candidates ⊇ true hitters; phase 2's
    exact per-group recount + strict filter makes the result EXACTLY
    ``GROUP BY group, key HAVING cnt > N_g*min_share``. NULL keys and NULL
    groups are excluded.

    Output: ``(group_col, key_col, cnt bigint, share double)`` — share is
    within-group.
    """
    import math

    import pandas as pd

    if not 0.0 < min_share < 1.0:
        raise ValueError("need 0 < min_share < 1")
    # The per-partition MG guarantee (every key with partition count
    # > N_p/(cap+1) survives) covers all true heavy hitters only when
    # cap + 1 >= 1/min_share; a smaller cap would make phase 1 silently
    # drop real hitters (balanced keys tie at the decrement threshold and
    # all die), so cap is the pigeonhole floor.
    cap = max(1, math.ceil(1.0 / min_share))

    base = df.where(
        F.col(key_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(key_col).cast("string").alias("k"),
    )

    def _candidates(batches):
        groups: dict[str, dict[str, int]] = {}
        for pdf in batches:
            # only compress groups this batch actually touched — compressing
            # every group after every batch is O(batches × groups × cap log
            # cap) wasted re-sorting on wide corpora
            touched: set[str] = set()
            for (g, k), c in (
                pdf.groupby(["_gstr", "k"], sort=False).size().items()
            ):
                counts = groups.setdefault(g, {})
                counts[k] = counts.get(k, 0) + int(c)
                touched.add(g)
            for g in touched:
                counts = groups[g]
                if len(counts) > cap:
                    d = sorted(counts.values(), reverse=True)[cap]
                    groups[g] = {k: c - d for k, c in counts.items() if c > d}
        rows = [(g, k) for g, counts in groups.items() for k in counts]
        yield pd.DataFrame(rows, columns=["_gstr", "k"]).astype("object")

    cand = (
        base.withColumn("_gstr", F.col("_g").cast("string"))
        .select("_gstr", "k")
        .mapInPandas(_candidates, schema="_gstr string, k string")
        .distinct()
    )
    totals = base.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
    return (
        base.withColumn("_gstr", F.col("_g").cast("string"))
        .join(F.broadcast(cand), ["_gstr", "k"])
        .groupBy("_g", "k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(totals), "_g")
        .where(F.col("cnt") > F.col("_n") * F.lit(min_share))
        .select(
            F.col("_g").alias(group_col),
            F.col("k").alias(key_col),
            "cnt",
            (F.col("cnt") / F.col("_n")).alias("share"),
        )
    )


def correlation_matrix(
    df: DataFrame, cols: Sequence[str], round_to: int = 9
) -> DataFrame:
    """Pearson correlation for every column pair in ONE aggregation pass —
    the feature-redundancy screen a profiling stage runs before training
    (highly-correlated metrics → drop one, or a data bug: two "independent"
    signals reading the same sensor).

    All moments (per-column sums and squares, per-pair cross sums) ride a
    single partial-aggregable ``agg`` over one scan — O(k²) aggregate
    expressions, never k² scans or a row-matrix collect.  Sums accumulate
    in ``decimal(18,6)``-derived exact decimals, so the moment values are
    bit-identical across engines and partitionings; r is then computed in
    float64 from those exact sums:

        r = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²) · (n·Syy − Sy²))

    MAGNITUDE BOUND: inputs must fit ``decimal(18,6)`` — |x| < 10^12.  The
    pair products must stay inside Spark's 38-digit decimal cap to keep the
    moments exact (``(18,6)×(18,6) → (37,12)``), so the bound is structural,
    not an implementation shortcut.  A value with more than 12 integer
    digits FAILS LOUDLY at execution (``raise_error``) rather than silently
    NULLing the whole moment sum; rescale such features first.

    Output: one row per unordered pair ``(col_a, col_b, r double)`` in the
    given column order.  NULL-free numeric columns expected (the TPC-H
    measure columns); a zero-variance column yields NULL r (0/0) rather
    than a crash.
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    # try_cast: overflow -> NULL under BOTH ANSI settings (pyspark 4.x has
    # ANSI on by default, where a plain cast would throw engine-side before
    # the _ovf guard below could fire with its documented message)
    dec = [F.col(c).try_cast("decimal(18,6)") for c in cols]
    aggs = [F.count(F.lit(1)).cast("double").alias("_n")]
    for i, c in enumerate(cols):
        # non-null input whose (18,6) cast came back NULL = overflow
        aggs.append(
            F.count(
                F.when(F.col(c).isNotNull() & dec[i].isNull(), F.lit(1))
            ).alias(f"_ovf{i}")
        )
        aggs.append(F.sum(dec[i]).cast("double").alias(f"_s{i}"))
        aggs.append(F.sum(dec[i] * dec[i]).cast("double").alias(f"_ss{i}"))
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs.append(
                F.sum(dec[i] * dec[j]).cast("double").alias(f"_p{i}_{j}")
            )
    one = df.agg(*aggs)
    n = F.col("_n")
    ovf_total = None
    for i in range(len(cols)):
        c = F.col(f"_ovf{i}")
        ovf_total = c if ovf_total is None else ovf_total + c
    guard = F.when(
        ovf_total > 0,
        F.raise_error(
            F.lit(
                "correlation_matrix: input exceeds decimal(18,6) "
                "(>12 integer digits) — rescale the feature"
            )
        ).cast("double"),
    )
    rows = []
    for i, ca in enumerate(cols):
        for j in range(i + 1, len(cols)):
            cb = cols[j]
            num = n * F.col(f"_p{i}_{j}") - F.col(f"_s{i}") * F.col(f"_s{j}")
            var_a = n * F.col(f"_ss{i}") - F.col(f"_s{i}") * F.col(f"_s{i}")
            var_b = n * F.col(f"_ss{j}") - F.col(f"_s{j}") * F.col(f"_s{j}")
            rows.append(
                F.struct(
                    F.lit(ca).alias("col_a"),
                    F.lit(cb).alias("col_b"),
                    # guard first: coalesce short-circuits, so raise_error
                    # fires iff any input overflowed its decimal cast;
                    # try_divide: zero variance -> NULL r under ANSI mode
                    F.coalesce(
                        guard,
                        F.round(
                            F.try_divide(num, F.sqrt(var_a * var_b)),
                            round_to,
                        ),
                    ).alias("r"),
                )
            )
    return one.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def categorical_association(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-squared association between two categorical columns with the
    Cramér's V effect size — the categorical companion to
    :func:`correlation_matrix` (is `lang` independent of `source`, or is
    one crawl feeding one language?).

    One joint-count groupBy is the only corpus-sized shuffle; marginals and
    the total derive from the (|A|·|B|)-row contingency table, which comes
    back broadcast.  Each cell's ``(O−E)²/E`` term is quantized to
    ``decimal(28,12)`` before the final sum so the statistic is independent
    of cell summation order — the cross-engine/partitioning determinism
    rule every reduction here follows.  NULL categories count as their own
    level (dropped rows would bias the marginals silently).

    Output: one row ``(col_a, col_b, n bigint, dof bigint, chi2 double,
    cramers_v double)``; V is NULL for a degenerate 1×m table.
    """
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("\x00null"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("\x00null"))
    joint = df.select(a.alias("_a"), b.alias("_b")).groupBy("_a", "_b").agg(
        F.count(F.lit(1)).cast("double").alias("_o")
    )
    ra = joint.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cb = joint.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    tot = joint.agg(
        F.sum("_o").alias("_n"),
        F.count_distinct("_a").alias("_r"),
        F.count_distinct("_b").alias("_c"),
    )
    # The full |A|x|B| level grid, not just observed cells: a ZERO cell
    # still contributes (0-E)^2/E — omitting unobserved combinations
    # understates chi2 exactly when association is strongest.
    cells = (
        F.broadcast(ra)
        .crossJoin(F.broadcast(cb))
        .join(joint, ["_a", "_b"], "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("_o", F.coalesce("_o", F.lit(0.0)))
    )
    e = F.col("_ra") * F.col("_cb") / F.col("_n")
    term = ((F.col("_o") - e) * (F.col("_o") - e) / e).cast("decimal(28,12)")
    agg = cells.agg(
        F.sum(term).cast("double").alias("chi2"),
        F.first("_n").alias("_n"),
        F.first("_r").alias("_r"),
        F.first("_c").alias("_c"),
    )
    k = F.least(F.col("_r"), F.col("_c")) - 1
    return agg.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.col("_n").cast("long").alias("n"),
        ((F.col("_r") - 1) * (F.col("_c") - 1)).cast("long").alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.try_divide(F.col("chi2"), F.col("_n") * k)), 9
        ).alias("cramers_v"),
    )


def psi_report(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbuckets: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    feature — the standard "did my corpus distribution shift between
    dumps" monitor a training-data pipeline runs per ingest (the numeric
    companion to ``textstats.token_drift``'s JS divergence; the
    reference's whole product is this question for build sizes,
    ``/root/reference/rg.py:269-285`` nightly deltas).  Rule of thumb:
    PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 shifted.

    Bins are FIXED bounds supplied by the caller (in practice: recorded
    with the baseline snapshot), the same clamped ``floor((x-lo)/width)``
    arithmetic as ``fixed_histogram`` — never re-derived from the data,
    so a tail shift moves mass between bins instead of silently moving
    the bins.  Per bin ``PSI_bin = (p_a - p_b)·ln(p_a/p_b)`` where the
    bin SHARES clamp zero to ``ε = 1e-6`` (the standard zero-substitution
    — PSI is infinite on empty bins otherwise).  Crucially this form is
    EXACTLY 0 when the two snapshots have identical bin shares whatever
    their sizes — additive (+0.5-per-bin) smoothing instead biases small
    batches upward, which would poison the per-ingest monitor
    (``streaming/drift.py``) that scores small micro-batches against a
    large baseline.  A bin empty on BOTH sides contributes exactly 0
    (ε vs ε), so only OBSERVED bins need rows — no bin-grid spine
    anywhere.  Terms are quantized to ``decimal(28,12)`` before the sum —
    summation-order independence, the determinism rule every reduction
    here follows.  A group absent from one snapshot scores every bin
    against ε (maximal drift — a brand-new group IS maximal drift), with
    ``n_a``/``n_b`` showing which side is empty.

    Plan: ONE scan per snapshot into a tagged-union count groupBy (the
    only corpus-sized shuffle); totals come from windows over the
    observed (group, bin) count rows — ≤ groups × nbuckets of them.
    NULL values and NULL group keys are excluded.

    Output: one row per group — ``(*group_cols, n_a bigint, n_b bigint,
    psi double)``.
    """
    if nbuckets < 1 or not hi > lo:
        raise ValueError("need nbuckets >= 1 and hi > lo")
    width = (hi - lo) / nbuckets
    gcols = list(group_cols)

    def side(df: DataFrame, tag: int) -> DataFrame:
        x = F.col(value_col)
        keep = x.isNotNull()
        for g in gcols:
            keep = keep & F.col(g).isNotNull()
        b = F.greatest(
            F.lit(0),
            F.least(
                F.lit(nbuckets - 1), F.floor((x - F.lit(lo)) / F.lit(width))
            ),
        ).cast("int")
        return df.filter(keep).select(
            *gcols,
            b.alias("bin"),
            F.lit(1 - tag).alias("_ia"),
            F.lit(tag).alias("_ib"),
        )

    counts = (
        side(df_a, 0)
        .unionByName(side(df_b, 1))
        .groupBy(*gcols, "bin")
        .agg(F.sum("_ia").alias("_na"), F.sum("_ib").alias("_nb"))
    )
    return psi_from_counts(counts, gcols)


def psi_from_counts(
    counts: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """PSI from pre-binned counts — ``counts`` is one row per observed
    (group, bin) with ``_na``/``_nb`` (side A/B counts; 0 where a side
    missed the bin).  The reduction core of :func:`psi_report`, exposed so
    stored calibration artifacts (``streaming/drift.py``'s baseline bin
    counts) can be scored WITHOUT re-reading or re-inflating the baseline.
    Same contract: ε-clamped shares, decimal-quantized terms, both-empty
    bins contribute 0 so missing grid rows are free.
    """
    gcols = list(group_cols)
    w = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    grid = counts.withColumn("_ta", F.sum("_na").over(w)).withColumn(
        "_tb", F.sum("_nb").over(w)
    )
    eps = F.lit(1e-6)
    # try_divide + greatest: an all-empty side (0/0 -> NULL) clamps to
    # eps on every bin, scoring a brand-new group as maximal drift
    pa = F.greatest(
        F.try_divide(F.col("_na").cast("double"), F.col("_ta").cast("double")),
        eps,
    )
    pb = F.greatest(
        F.try_divide(F.col("_nb").cast("double"), F.col("_tb").cast("double")),
        eps,
    )
    term = ((pa - pb) * F.log(pa / pb)).cast("decimal(28,12)")
    return grid.groupBy(*gcols).agg(
        F.max("_ta").alias("n_a"),
        F.max("_tb").alias("n_b"),
        F.round(F.sum(term).cast("double"), 9).alias("psi"),
    )


def ks_two_sample(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between two snapshots of a
    numeric column: ``D = max_x |F_a(x) − F_b(x)|`` over the observed
    support — the bin-free companion to :func:`psi_report` (PSI needs a
    bound spec and quantizes to bins; KS sees any shift, at the cost of a
    per-distinct-value cumulative pass).

    Exactness/determinism: per distinct value the two empirical CDFs are
    ratios of exact integer counts, each row's ``|F_a−F_b|`` is one IEEE
    expression on four ints, and ``max`` is summation-order-free — no
    quantization needed anywhere.

    Plan: one tagged union + count groupBy (corpus-sized, partial-
    aggregable), then windows over the DISTINCT-VALUE axis within each
    group — at 100 TB the distinct axis of a measure column is the small
    side; for a truly continuous column, pre-quantize upstream.  NULL
    values and NULL group keys are excluded.  A group present in only ONE
    snapshot has no defined CDF gap: its ``ks_d`` is NULL (the 0/0 CDF
    divides out), with ``n_a``/``n_b`` showing which side is empty.

    Output: one row per group — ``(*group_cols, n_a bigint, n_b bigint,
    ks_d double)``.
    """
    gcols = list(group_cols)

    def side(df: DataFrame, tag: int) -> DataFrame:
        keep = F.col(value_col).isNotNull()
        for g in gcols:
            keep = keep & F.col(g).isNotNull()
        return df.filter(keep).select(
            *gcols,
            F.col(value_col).alias("_v"),
            F.lit(1 - tag).alias("_a"),
            F.lit(tag).alias("_b"),
        )

    u = side(df_a, 0).unionByName(side(df_b, 1))
    counts = u.groupBy(*gcols, "_v").agg(
        F.sum("_a").alias("_na"), F.sum("_b").alias("_nb")
    )
    return ks_from_counts(counts, gcols)


def ks_from_counts(
    counts: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """KS statistic from pre-counted values — ``counts`` is one row per
    observed (group, ``_v``) with ``_na``/``_nb`` side counts (0 where a
    side missed the value).  The reduction core of :func:`ks_two_sample`,
    exposed so a stored calibration artifact (``streaming/drift.py``'s
    baseline CDF increments at its recorded equi-depth edges) can be
    scored against each micro-batch WITHOUT re-reading the baseline.
    Same contract: exact integer cumulative counts, one IEEE gap per
    distinct value, order-free max; a side with zero total yields NULL
    ``ks_d`` via ``try_divide``.
    """
    gcols = list(group_cols)
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    c = (
        counts.withColumn("_ca", F.sum("_na").over(w_cum))
        .withColumn("_cb", F.sum("_nb").over(w_cum))
        .withColumn("_ta", F.sum("_na").over(w_tot))
        .withColumn("_tb", F.sum("_nb").over(w_tot))
    )
    # try_divide: a one-sided group's 0/0 CDF must yield NULL ks_d (the
    # documented contract), not DIVIDE_BY_ZERO under ANSI mode
    d = F.abs(
        F.try_divide(F.col("_ca").cast("double"), F.col("_ta").cast("double"))
        - F.try_divide(F.col("_cb").cast("double"), F.col("_tb").cast("double"))
    )
    return c.groupBy(*gcols).agg(
        F.max("_ta").alias("n_a"),
        F.max("_tb").alias("n_b"),
        F.round(F.max(d), 9).alias("ks_d"),
    )


def categorical_mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information (and its normalized form) between two
    categorical columns — the information-theoretic companion to
    :func:`categorical_association`: chi²/Cramér's V answers "are they
    associated at all", MI answers "how many nats does knowing one save
    about the other", the quantity a mixture designer reads before
    collapsing two stratification keys into one.

    ``MI = Σ_{a,b} p(a,b)·ln(p(a,b)/(p(a)·p(b)))`` over OBSERVED cells
    only (an empty cell's term is exactly 0 — unlike chi², no level grid
    is needed), with ``NMI = MI / sqrt(H(A)·H(B))`` in [0, 1].  Every
    log term is quantized to ``decimal(28,12)`` before its sum, the usual
    summation-order rule.  NULL categories count as their own level,
    matching :func:`categorical_association`.

    Plan: ONE corpus scan into the joint-count groupBy; marginals, the
    grand total, and the per-level entropy terms all come from WINDOWS
    over the contingency table itself (|A|·|B|-observed-cells-sized,
    never fact-sized) — re-deriving them as separate aggregates would
    rescan the corpus once per marginal.  Entropy terms are emitted once
    per level (row_number-gated within the level's cell run) so their
    quantized sums match a per-level computation exactly.

    Output: one row ``(col_a, col_b, n bigint, mi double, nmi double)``;
    NMI is NULL when either column is constant (zero entropy).
    """
    dec = "decimal(28,12)"
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("\x00null"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("\x00null"))
    joint = (
        df.select(a.alias("_a"), b.alias("_b"))
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    cells = (
        joint.withColumn("_ma", F.sum("_o").over(Window.partitionBy("_a")))
        .withColumn("_mb", F.sum("_o").over(Window.partitionBy("_b")))
        .withColumn("_n", F.sum("_o").over(Window.partitionBy()))
        .withColumn(
            "_rna",
            F.row_number().over(Window.partitionBy("_a").orderBy("_b")),
        )
        .withColumn(
            "_rnb",
            F.row_number().over(Window.partitionBy("_b").orderBy("_a")),
        )
    )

    def dbl(c: str):
        return F.col(c).cast("double")

    mi_term = (
        (dbl("_o") / dbl("_n"))
        * F.log(dbl("_n") * dbl("_o") / (dbl("_ma") * dbl("_mb")))
    ).cast(dec)
    pa, pb = dbl("_ma") / dbl("_n"), dbl("_mb") / dbl("_n")
    zero = F.lit(0).cast(dec)
    ha_term = F.when(
        F.col("_rna") == 1, (-(pa * F.log(pa))).cast(dec)
    ).otherwise(zero)
    hb_term = F.when(
        F.col("_rnb") == 1, (-(pb * F.log(pb))).cast(dec)
    ).otherwise(zero)
    agg = cells.agg(
        F.sum(mi_term).cast("double").alias("mi"),
        F.sum(ha_term).cast("double").alias("_ha"),
        F.sum(hb_term).cast("double").alias("_hb"),
        F.max("_n").alias("_n"),
    )
    return agg.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.col("_n").cast("long").alias("n"),
        F.round("mi", 9).alias("mi"),
        F.round(
            F.try_divide(F.col("mi"), F.sqrt(F.col("_ha") * F.col("_hb"))),
            9,
        ).alias("nmi"),
    )


def equi_depth_edges(
    df: DataFrame,
    value_col: str,
    k: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact equi-depth (equal-frequency) bin edges: the j/k quantiles of
    a numeric column, per group — how :func:`psi_report`'s fixed bins get
    CHOSEN in practice: compute edges on the baseline snapshot once,
    record them, then monitor every later snapshot against those bounds
    (equi-depth on the baseline maximizes PSI sensitivity — every bin
    starts with equal mass ~1/k).  Also the feature-discretization pass a
    training pipeline runs before bucketized features.

    Edge j (1 ≤ j < k) is the nearest-rank j/k quantile: the smallest
    observed value whose cumulative count reaches j·n/k, picked with the
    all-integer comparison ``k·cum ≥ j·n`` — no floating-point rank, so
    edges are engine-exact.  Edges are observed data values (no
    interpolation); duplicate edges are possible on heavy ties by
    definition of equal-frequency binning.

    Plan: one count groupBy over (group, value) — the only corpus-sized
    shuffle, partial-aggregable — then a cumulative window over the
    DISTINCT-VALUE axis (the :func:`ks_two_sample` shape) and one k-ary
    conditional-min aggregate.  NULL values and NULL group keys excluded.

    Output: one row per (group, edge) — ``(*group_cols, edge_idx int,
    edge double, n_rows bigint)`` with ``edge_idx`` in 1..k-1.
    """
    if k < 2:
        raise ValueError("need k >= 2 bins")
    gcols = list(group_cols)
    keep = F.col(value_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(*gcols, F.col(value_col).cast("double").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    c = counts.withColumn("cum", F.sum("_n").over(w_cum)).withColumn(
        "tot", F.sum("_n").over(w_tot)
    )
    aggs = [F.max("tot").alias("n_rows")]
    for j in range(1, k):
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") * k >= F.lit(j) * F.col("tot"), F.col("_v")
                )
            ).alias(f"_e{j}")
        )
    wide = c.groupBy(*gcols).agg(*aggs)
    edges = F.array(
        *[
            F.struct(
                F.lit(j).alias("edge_idx"), F.col(f"_e{j}").alias("edge")
            )
            for j in range(1, k)
        ]
    )
    return wide.select(
        *gcols, "n_rows", F.explode(edges).alias("_e")
    ).select(*gcols, "_e.edge_idx", "_e.edge", "n_rows")


def ks_goodness_of_fit(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """One-sample Kolmogorov–Smirnov statistic against the uniform
    reference on ``[lo, hi]``: ``D = sup_x |F_n(x) − F0(x)|`` — the
    goodness-of-fit companion to :func:`ks_two_sample` (that one compares
    two snapshots; this one tests a single snapshot against a known
    distribution: the sanity check a synthetic-data generator or hash/
    sampling stage runs — "are my md5-derived sampling keys actually
    uniform?").  For another reference, transform the column by its CDF
    first (probability integral transform) and test against uniform on
    [0, 1] — the standard reduction.

    The empirical CDF is a step function, so the sup needs BOTH one-sided
    gaps at every observed point: ``D⁺ = max(cum/n − F0(v))`` and
    ``D⁻ = max(F0(v) − cum_before/n)``; each row's gap is one IEEE
    expression on exact integer counts and the clamped linear F0, and
    ``max`` is order-free — fully deterministic, no quantization needed.

    Plan: one (group, value) count groupBy (partial-aggregable, the only
    corpus-sized shuffle) + cumulative windows over the distinct-value
    axis — the :func:`ks_two_sample` shape.  NULL values and NULL group
    keys are excluded.

    Output: one row per group — ``(*group_cols, n bigint, ks_d double)``.
    """
    if not hi > lo:
        raise ValueError("need hi > lo")
    gcols = list(group_cols)
    keep = F.col(value_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(*gcols, F.col(value_col).cast("double").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    c = counts.withColumn("_cum", F.sum("_n").over(w_cum)).withColumn(
        "_tot", F.sum("_n").over(w_tot)
    )
    f0 = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0), (F.col("_v") - F.lit(lo)) / F.lit(hi - lo)
        ),
    )
    ecdf = F.col("_cum").cast("double") / F.col("_tot").cast("double")
    ecdf_before = (F.col("_cum") - F.col("_n")).cast("double") / F.col(
        "_tot"
    ).cast("double")
    gap = F.greatest(ecdf - f0, f0 - ecdf_before)
    return c.groupBy(*gcols).agg(
        F.max("_tot").alias("n"),
        F.round(F.max(gap), 9).alias("ks_d"),
    )


def cohen_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's κ — chance-corrected agreement between two categorical
    label columns (rater A vs rater B, or a predicted label vs the stored
    one): the labeled-data QA companion to
    :func:`categorical_mutual_information`.  Raw accuracy flatters any
    pair of raters that both say "en" 95% of the time; κ subtracts the
    agreement chance alone would produce:

        κ = (p_o − p_e) / (1 − p_e),   p_o = Σ diag / n,
        p_e = Σ_k  (row_k · col_k) / n²

    Landis–Koch reading: < 0.2 slight, 0.2–0.4 fair, 0.4–0.6 moderate,
    0.6–0.8 substantial, > 0.8 almost perfect.

    Exactness: the confusion counts, diagonal sum, and marginal products
    are integers end-to-end (``decimal(38,0)`` for the n²-scale products);
    the two divisions happen once at the end — no quantization needed.
    κ is NULL via ``try_divide`` when p_e = 1 (both columns constant —
    agreement is all chance, κ undefined).

    Plan: ONE corpus scan into the (a, b) confusion groupBy (the only
    fact-sized shuffle — same shape as ``lang_id_confusion``); marginals
    come from windows over the confusion cells themselves.  Rows where
    either label is NULL are excluded (an unrated item grades nothing).

    Output: one row — ``(col_a string, col_b string, n bigint,
    po double, pe double, kappa double)``.
    """
    joint = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .select(
            F.col(col_a).cast("string").alias("_a"),
            F.col(col_b).cast("string").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_o"))
        # levels²-sized; checkpoint so the marginal/diagonal aggregates
        # below reuse it instead of re-running the corpus scan (and any
        # expensive upstream like a lang-ID projection) three times
        .localCheckpoint()
    )
    diag = F.when(F.col("_a") == F.col("_b"), F.col("_o")).otherwise(
        F.lit(0)
    )
    obs = joint.agg(
        F.sum("_o").alias("n"), F.sum(diag).alias("_diag")
    )
    # p_e needs Σ_k row_k·col_k over every label k BOTH columns use —
    # including labels whose (k, k) diagonal cell is unobserved (the two
    # raters both say "k", never on the same row).  Join the two marginal
    # tables on the level (levels-sized, broadcast); a level missing from
    # either side contributes 0 and drops out of the inner join.
    ma = joint.groupBy("_a").agg(F.sum("_o").alias("_ma"))
    mb = joint.groupBy("_b").agg(F.sum("_o").alias("_mb"))
    pe_num = (
        ma.join(F.broadcast(mb), ma["_a"] == mb["_b"])
        .agg(
            F.coalesce(
                F.sum(F.col("_ma").cast("decimal(38,0)") * F.col("_mb")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("_pe_num")
        )
    )
    agg = obs.crossJoin(F.broadcast(pe_num))
    n = F.col("n").cast("double")
    po = F.col("_diag").cast("double") / n
    pe = F.col("_pe_num").cast("double") / (n * n)
    return agg.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.col("n").cast("long").alias("n"),
        F.round(po, 9).alias("po"),
        F.round(pe, 9).alias("pe"),
        F.round(F.try_divide(po - pe, F.lit(1.0) - pe), 9).alias("kappa"),
    )


def spearman_correlation(
    df: DataFrame,
    col_x: str,
    col_y: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Spearman rank correlation per group — Pearson on AVERAGE ranks,
    the monotonic-association screen that survives outliers and
    nonlinearity (:func:`correlation_matrix` answers "linearly related?",
    this answers "does bigger x mean bigger y at all" — the first
    question about a quality score vs a raw size column).

    Tied values share their average rank (the standard convention).
    Doubled average ranks are INTEGERS (2·avg = 2·cum_before + t + 1), so
    the whole computation is exact: rank maps come from counts, Pearson
    moments ride ``decimal(38,0)`` integer sums (rank products cap near
    n², their sum near n³ — decimal38 holds past n = 10¹¹ rows per
    group), and the one float division happens at the end.  Scaling both
    variables by 2 leaves r unchanged.

    Plan: per column, ONE (group, value) count groupBy + a cumulative
    window over the DISTINCT-VALUE axis builds the value→2·avg-rank map;
    rows join their rank through two (group, value) equi-joins (AQE
    broadcasts small maps); one final moments agg.  No global per-row
    ORDER BY — nothing funnels through a single partition.  Rows with a
    NULL in either column (or a group key) are excluded.

    Output: one row per group — ``(*group_cols, n bigint, rho double)``;
    rho is NULL when either column is constant within the group (zero
    rank variance) via ``try_divide``.
    """
    gcols = list(group_cols)
    keep = F.col(col_x).isNotNull() & F.col(col_y).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    base = df.filter(keep).select(
        *gcols, F.col(col_x).alias("_x"), F.col(col_y).alias("_y")
    )

    def rank_map(col: str, out: str) -> DataFrame:
        counts = base.groupBy(*gcols, col).agg(
            F.count(F.lit(1)).alias("_t")
        )
        w_cum = (
            Window.partitionBy(*gcols)
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum_before = F.sum("_t").over(w_cum) - F.col("_t")
        return counts.select(
            *gcols,
            col,
            (F.lit(2) * cum_before + F.col("_t") + F.lit(1)).alias(out),
        )

    ranked = base.join(rank_map("_x", "_rx"), [*gcols, "_x"]).join(
        rank_map("_y", "_ry"), [*gcols, "_y"]
    )
    dec = "decimal(38,0)"
    rx = F.col("_rx").cast(dec)
    ry = F.col("_ry").cast(dec)
    agg = ranked.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx).alias("_sx"),
        F.sum(ry).alias("_sy"),
        F.sum(rx * rx).alias("_sxx"),
        F.sum(ry * ry).alias("_syy"),
        F.sum(rx * ry).alias("_sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("_sxy").cast("double") - F.col("_sx").cast(
        "double"
    ) * F.col("_sy").cast("double")
    var_x = n * F.col("_sxx").cast("double") - F.col("_sx").cast(
        "double"
    ) * F.col("_sx").cast("double")
    var_y = n * F.col("_syy").cast("double") - F.col("_sy").cast(
        "double"
    ) * F.col("_sy").cast("double")
    return agg.select(
        *gcols,
        F.col("n").cast("long").alias("n"),
        F.round(F.try_divide(num, F.sqrt(var_x * var_y)), 9).alias("rho"),
    )


def benford_first_digit(
    df: DataFrame, value_col: str, decimals: int = 2
) -> DataFrame:
    """Benford first-digit audit of a positive amount column — the
    classic fabricated-/synthetic-data smell test (organic multi-scale
    amounts follow ``P(d) = log10(1 + 1/d)``; generated or truncated
    data usually doesn't — a flat digit profile on a "revenue" column is
    a data-provenance question before it is a statistics one).

    Digit extraction is STRING-based over an exact integer — the value
    scales by ``10^decimals`` and rounds to a bigint first (never
    ``log10``-bucketing a double: a power-of-ten boundary ulp would flip
    digits between engines); integer-to-string is engine-identical.
    Zero/negative/NULL rows are excluded (Benford applies to positive
    magnitudes).  One count groupBy on a 9-ary key; expected shares are
    Python-computed literals.

    PRECONDITION: the column must already be exact at ``decimals``
    places (money/decimal columns, the intended audit target).  For a
    GENERAL positive magnitude this rounding step misbuckets values near
    an all-nines boundary (0.995 with decimals=2 rounds to 100 → digit 1,
    not 9) and silently drops values below ``0.5·10^-decimals``; audit
    such columns with :func:`benford_significand`, which derives the
    digit from the normalized scientific form at any magnitude.

    Output: one row per observed digit — ``(digit int, n bigint,
    share double, expected double, abs_dev double)``.
    """
    import math

    scaled = F.round(
        F.col(value_col).cast("double") * F.lit(float(10 ** decimals)), 0
    ).cast("bigint")
    digit = F.substring(scaled.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(value_col).isNotNull() & (scaled > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(w).cast("double")
    expected = F.lit(0.0)
    for d in range(9, 0, -1):
        expected = F.when(
            F.col("digit") == d, F.lit(math.log10(1 + 1 / d))
        ).otherwise(expected)
    return counts.select(
        "digit",
        "n",
        F.round(share, 9).alias("share"),
        F.round(expected, 9).alias("expected"),
        F.round(F.abs(share - expected), 9).alias("abs_dev"),
    )


def benford_significand(
    df: DataFrame, value_col: str
) -> DataFrame:
    """Benford first-digit audit for a GENERAL positive magnitude — the
    variant :func:`benford_first_digit`'s PRECONDITION rules out: that
    form scales by ``10^decimals`` and rounds to an integer, which
    misbuckets all-nines values and drops sub-resolution ones on a
    column that is not already exact at fixed decimals.  Here the digit
    comes from the NORMALIZED SCIENTIFIC FORM of the double itself:
    ``format_string('%.6e', x)`` renders ``d.dddddde±XX`` and the first
    character is the first significant digit at any magnitude —
    engine-stable because both engines format the SAME IEEE double with
    C-printf rounding semantics (never ``log10``-bucketing, whose
    power-of-ten boundary ulp flips digits between libms).  The 6-digit
    mantissa rounding can carry an all-nines-at-7-digits value to the
    next decade, but it carries identically in both engines.

    Zero/negative/NULL rows are excluded.  Same plan as the fixed-
    decimals form: one count groupBy on a 9-ary key, shares over the
    digit axis, expected shares Python literals.

    Output: one row per observed digit — ``(digit int, n bigint,
    share double, expected double, abs_dev double)``.
    """
    import math

    v = F.col(value_col).cast("double")
    digit = F.substring(
        F.format_string("%.6e", v), 1, 1
    ).cast("int")
    counts = (
        df.filter(v.isNotNull() & (v > 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy()
    share = F.col("n").cast("double") / F.sum("n").over(w).cast("double")
    expected = F.lit(0.0)
    for d in range(9, 0, -1):
        expected = F.when(
            F.col("digit") == d, F.lit(math.log10(1 + 1 / d))
        ).otherwise(expected)
    return counts.select(
        "digit",
        "n",
        F.round(share, 9).alias("share"),
        F.round(expected, 9).alias("expected"),
        F.round(F.abs(share - expected), 9).alias("abs_dev"),
    )


def concentration_gini(
    df: DataFrame, group_col: str
) -> DataFrame:
    """Gini coefficient of row-mass concentration across a categorical
    key — the one-number corpus-balance reading (0 = every source
    contributes equally, →1 = one source is the corpus) a mixture
    designer tracks release-over-release next to ``mixture_weights``:

        G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n      (xᵢ ascending)

    over the per-group row counts.  Integer counts and ranks end-to-end
    (``decimal(38,0)`` for the rank-weighted sum); the rank window runs
    over the GROUPS axis (|groups| rows — never fact-sized) with a
    deterministic (count, group) tiebreak.  NULL keys are excluded.

    Output: one row — ``(n_groups bigint, total bigint, gini double)``.
    """
    counts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("_g"))
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    w = Window.orderBy("_x", "_g")
    ranked = counts.withColumn("_i", F.row_number().over(w))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("_x").alias("total"),
        F.sum(
            (F.col("_i").cast("decimal(38,0)") * F.col("_x"))
        ).alias("_iw"),
    )
    n = F.col("n_groups").cast("double")
    gini = (
        F.lit(2.0) * F.col("_iw").cast("double")
        / (n * F.col("total").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return agg.select(
        "n_groups",
        "total",
        F.round(gini, 9).alias("gini"),
    )


#: ln 2 — JSD terms are computed in natural log in BOTH engines, then the
#: final sum divides by this literal to land in bits (log2(x) itself is a
#: different libm call and can differ from ln(x)/ln2 in the last ulp).
LN2 = 0.6931471805599453


def js_divergence_by_group(
    df: DataFrame, key_col: str, group_col: str
) -> DataFrame:
    """Per-group Jensen–Shannon divergence (in bits) between the group's
    distribution of a categorical key and the WHOLE corpus's — the
    "which source skews the mixture" report a corpus dashboard shows
    beside :func:`~..operators.curation.mixture_weights`: PSI needs a
    designated baseline and blows up on empty bins; JSD is symmetric,
    finite by construction (each side is absolutely continuous w.r.t.
    the midpoint), and bounded [0, 1] in bits — comparable across groups
    and releases.

        JSD(P‖Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),   m = (p+q)/2

    with P = the group's key distribution and Q = the global one, the
    natural-log sums divided by ln 2 at the end (both engines take ln;
    log2 is a different libm call).  A key absent from the group (p = 0)
    still contributes its q-side term — the cell grid is groups × global
    key support, built by crossing the two BROADCAST marginal tables,
    never by scanning facts per group.

    Exactness/plan: ONE corpus-sized (group, key) count groupBy; every
    per-cell term is quantized to ``decimal(28,12)`` before its sum
    (summation-order rule).  NULL keys/groups are excluded.

    Output: one row per group — ``(group_col, n bigint, jsd_bits
    double)``, 0 = identical to the corpus mix, 1 = disjoint support.
    """
    keep = F.col(key_col).isNotNull() & F.col(group_col).isNotNull()
    joint = (
        df.filter(keep)
        .select(
            F.col(group_col).alias("_g"),
            F.col(key_col).cast("string").alias("_k"),
        )
        .groupBy("_g", "_k")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    groups = joint.groupBy("_g").agg(F.sum("_o").alias("_ng"))
    keys = joint.groupBy("_k").agg(F.sum("_o").alias("_nk"))
    total = joint.agg(F.sum("_o").alias("_n"))
    cells = (
        F.broadcast(groups)
        .crossJoin(F.broadcast(keys))
        .join(joint, ["_g", "_k"], "left")
        .crossJoin(F.broadcast(total))
        .withColumn("_o", F.coalesce("_o", F.lit(0)))
    )
    p = F.col("_o").cast("double") / F.col("_ng").cast("double")
    q = F.col("_nk").cast("double") / F.col("_n").cast("double")
    m = (p + q) / F.lit(2.0)
    dec = "decimal(28,12)"
    p_term = F.when(
        F.col("_o") > 0, (p * F.log(p / m)).cast(dec)
    ).otherwise(F.lit(0).cast(dec))
    q_term = (q * F.log(q / m)).cast(dec)  # _nk > 0 by construction
    agg = cells.groupBy("_g").agg(
        F.max("_ng").alias("n"),
        F.sum(p_term).alias("_sp"),
        F.sum(q_term).alias("_sq"),
    )
    jsd = (
        (F.col("_sp").cast("double") + F.col("_sq").cast("double"))
        / F.lit(2.0)
        / F.lit(LN2)
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(jsd, 9).alias("jsd_bits"),
    )


def table_checksum(
    df: DataFrame,
    cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Order-free content checksum per partition — the integrity handshake
    for exports, replication, and engine migrations: two systems agree on
    a table iff every partition agrees on ``(n_rows, checksum)``, without
    either side sorting or shipping rows.

    Each row canonicalizes to the ``\\x1f``-joined string of its columns
    (the CALLER pre-formats non-string columns deterministically —
    decimals via a fixed-scale cast, timestamps via an explicit
    ``date_format`` — because default float/timestamp renderings differ
    between engines); the row hash is the 14-hex md5 integer and the
    partition checksum is the SUM of row hashes in ``decimal(38,0)`` —
    addition commutes, so the checksum is independent of row order and
    partitioning, and a decimal38 sum holds ~10²² rows of 56-bit hashes.
    (A sum detects any single-row change; it trades the adversarial
    resistance of a Merkle tree for order-freedom — the right trade for
    a replication check, the wrong one for tamper-proofing.)

    One partial-aggregable groupBy; output is |partitions| rows.

    Output: ``(*partition_cols, n_rows bigint, checksum decimal(38,0))``.
    """
    # NULL-explicit: concat_ws silently DROPS nulls (and their
    # separator), which both collides ("a", NULL) with ("a",) and
    # diverges from SQL || semantics — every column coalesces to a
    # sentinel no real value contains
    canon = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in cols
        ],
    )
    h = F.conv(F.substring(F.md5(canon), 1, 14), 16, 10).cast("long")
    return (
        df.groupBy(*partition_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h.cast("decimal(38,0)")).alias("checksum"),
        )
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination — the
    re-identification risk reading a privacy review asks for BEFORE a
    corpus ships: a row whose (lang, source, length-band, …) combo is
    shared by fewer than ``k`` rows is linkable even with direct
    identifiers redacted (the classic quasi-identifier attack), and the
    fix — generalize a column, suppress a stratum — is chosen off this
    table.

    One count groupBy on the quasi-identifier tuple (NULLs count as
    their own level — a NULL combo is just as linkable); everything
    after runs on the combos axis.  Exact integers; one summary row.

    Output: one row — ``(k int, n_rows bigint, n_combos bigint,
    n_combos_below_k bigint, n_rows_below_k bigint, share_rows_below_k
    double, min_combo_size bigint)``.
    """
    if k < 2:
        raise ValueError("need k >= 2")
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    keys = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00null")).alias(
            f"_q{i}"
        )
        for i, c in enumerate(quasi_cols)
    ]
    combos = df.select(*keys).groupBy(
        *[f"_q{i}" for i in range(len(quasi_cols))]
    ).agg(F.count(F.lit(1)).alias("_n"))
    below = F.col("_n") < k
    return combos.agg(
        F.lit(int(k)).alias("k"),
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_combos"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long").alias(
            "n_combos_below_k"
        ),
        F.sum(F.when(below, F.col("_n")).otherwise(0)).cast("long").alias(
            "n_rows_below_k"
        ),
        F.round(
            F.sum(F.when(below, F.col("_n")).otherwise(0)).cast("double")
            / F.sum("_n").cast("double"),
            9,
        ).alias("share_rows_below_k"),
        F.min("_n").cast("long").alias("min_combo_size"),
    )


def join_cardinality_audit(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Pre-join cardinality audit between two tables — the number every
    fact⋈fact reconciliation should read BEFORE shuffling 100 TB: the
    EXACT output row count (Σ over shared keys of cnt_l·cnt_r), the key
    overlap on each side, and the worst single-key fanout (the row that
    becomes the straggler task / the salting candidate).  A join whose
    estimated output is 50× its inputs is a grain mistake caught here
    for the price of two key-count aggregates instead of discovered as
    a dead executor an hour in.

    Each side reduces to per-key counts (one partial-aggregable groupBy
    each — the KEY axis, not the fact axis); the audit joins those
    count tables full-outer and aggregates to ONE row.  All counts are
    exact int64 (products per shared key quantize... no — they ARE
    int64; the output-rows sum rides decimal(38,0) so a pathological
    hot-key × hot-key pair cannot overflow).

    Output: one row — ``(n_left, n_right, keys_left, keys_right,
    keys_shared, keys_left_only, keys_right_only, join_rows,
    max_fanout_left, max_fanout_right, max_key_product)``, all bigint
    (join_rows/max_key_product accumulate in decimal(38,0) and cast
    down at the end).
    """
    lc = (
        left.filter(F.col(left_key).isNotNull())
        .groupBy(F.col(left_key).alias("_k"))
        .agg(F.count(F.lit(1)).alias("_cl"))
    )
    rc = (
        right.filter(F.col(right_key).isNotNull())
        .groupBy(F.col(right_key).alias("_k"))
        .agg(F.count(F.lit(1)).alias("_cr"))
    )
    both = lc.join(rc, "_k", "full_outer")
    shared = F.col("_cl").isNotNull() & F.col("_cr").isNotNull()
    return both.agg(
        F.coalesce(F.sum("_cl"), F.lit(0)).cast("long").alias("n_left"),
        F.coalesce(F.sum("_cr"), F.lit(0)).cast("long").alias(
            "n_right"
        ),
        F.count("_cl").cast("long").alias("keys_left"),
        F.count("_cr").cast("long").alias("keys_right"),
        F.sum(F.when(shared, 1).otherwise(0)).cast("long").alias(
            "keys_shared"
        ),
        F.sum(
            F.when(F.col("_cr").isNull(), 1).otherwise(0)
        ).cast("long").alias("keys_left_only"),
        F.sum(
            F.when(F.col("_cl").isNull(), 1).otherwise(0)
        ).cast("long").alias("keys_right_only"),
        F.coalesce(
            F.sum(
                F.when(
                    shared,
                    F.col("_cl").cast("decimal(38,0)") * F.col("_cr"),
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).cast("long").alias("join_rows"),
        F.coalesce(F.max("_cl"), F.lit(0)).cast("long").alias(
            "max_fanout_left"
        ),
        F.coalesce(F.max("_cr"), F.lit(0)).cast("long").alias(
            "max_fanout_right"
        ),
        F.coalesce(
            F.max(
                F.when(
                    shared,
                    F.col("_cl").cast("decimal(38,0)") * F.col("_cr"),
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).cast("long").alias("max_key_product"),
    )


def weighted_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
    power: int = 2,
) -> DataFrame:
    """Weighted Cohen's κ for ORDINAL labels — :func:`cohen_kappa`
    treats "rated 4, truth 5" and "rated 1, truth 5" as equally wrong;
    on an ordered scale (quality deciles, severity grades) the near-miss
    should cost less.  Disagreement weights v_ij = |i−j|^power (power=1
    linear, 2 quadratic — the Fleiss–Cohen form that equals an ICC):

        κ_w = 1 − (n·Σ v_ij·o_ij) / (Σ v_ij·r_i·c_j)

    (the common normalization of v cancels in the ratio).  The expected
    term runs over the FULL level grid — an unobserved (i, j) cell with
    positive marginals still contributes, exactly the
    :func:`cohen_kappa` pe lesson.  Integer-exact end-to-end: labels
    are ints, weights and both numerators are integers accumulated in
    decimal(38,0); the one division happens at the end.  One corpus
    scan into the (a, b) confusion groupBy; the grid is a broadcast
    levels² cross join.

    Output: one row — ``(col_a string, col_b string, n bigint,
    kappa_w double)``; NULL for zero expected disagreement (either
    column constant).
    """
    if power not in (1, 2):
        raise ValueError("power must be 1 (linear) or 2 (quadratic)")
    joint = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .select(
            F.col(col_a).cast("long").alias("_a"),
            F.col(col_b).cast("long").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_o"))
        .localCheckpoint()
    )

    def w(i, j):
        d = F.abs(i - j)
        return d if power == 1 else d * d

    obs = joint.agg(
        F.sum("_o").alias("n"),
        F.coalesce(
            F.sum(
                (w(F.col("_a"), F.col("_b")) * F.col("_o")).cast(
                    "decimal(38,0)"
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_onum"),
    )
    ma = joint.groupBy("_a").agg(F.sum("_o").alias("_ma"))
    mb = joint.groupBy("_b").agg(F.sum("_o").alias("_mb"))
    grid = ma.crossJoin(F.broadcast(mb)).agg(
        F.coalesce(
            F.sum(
                (
                    w(F.col("_a"), F.col("_b"))
                    * F.col("_ma").cast("decimal(38,0)")
                    * F.col("_mb")
                ).cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_enum")
    )
    agg = obs.crossJoin(F.broadcast(grid))
    kw = F.lit(1.0) - F.try_divide(
        F.col("n").cast("double") * F.col("_onum").cast("double"),
        F.col("_enum").cast("double"),
    )
    return agg.select(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.col("n").cast("long").alias("n"),
        F.round(kw, 9).alias("kappa_w"),
    )


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
    scale: int = 100,
) -> DataFrame:
    """First-order partial correlation r_xy·z — "are x and y related
    AFTER removing what z explains of both" (the confounder screen
    :func:`correlation_matrix` can't run: a strong r_xy means nothing
    when both merely track z):

        r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))

    Exactness: all three columns scale by *scale* and round to exact
    integers (the :func:`benford_first_digit` rule — lossless for 2-dp
    metrics), all power/cross sums ride decimal(38,0), and each Pearson
    numerator/variance forms as an EXACT integer difference
    (n·Σxy − Σx·Σy) before its single double cast — engine-identical
    through the last division.  ONE corpus scan, one aggregate row.

    Output: one row — ``(n bigint, r_xy double, r_xz double, r_yz
    double, r_xy_given_z double)``; any constant column NULLs the
    affected correlations via ``try_divide``.
    """
    dec = "decimal(38,0)"
    keep = (
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    )

    def s(c: str) -> F.Column:
        return F.round(
            F.col(c).cast("double") * F.lit(float(scale)), 0
        ).cast("long").cast(dec)

    base = df.filter(keep).select(
        s(x_col).alias("_x"), s(y_col).alias("_y"), s(z_col).alias("_z")
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum("_z").alias("_sz"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_z") * F.col("_z")).alias("_szz"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_z")).alias("_sxz"),
        F.sum(F.col("_y") * F.col("_z")).alias("_syz"),
    )
    nn = F.col("n").cast(dec)

    def r(sab: str, sa: str, sb: str, saa: str, sbb: str) -> F.Column:
        num = (nn * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
        va = (nn * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
        vb = (nn * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
        return F.try_divide(num, F.sqrt(va) * F.sqrt(vb))

    rxy = r("_sxy", "_sx", "_sy", "_sxx", "_syy")
    rxz = r("_sxz", "_sx", "_sz", "_sxx", "_szz")
    ryz = r("_syz", "_sy", "_sz", "_syy", "_szz")
    part = F.try_divide(
        rxy - rxz * ryz,
        F.sqrt((F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(rxy, 9).alias("r_xy"),
        F.round(rxz, 9).alias("r_xz"),
        F.round(ryz, 9).alias("r_yz"),
        F.round(part, 9).alias("r_xy_given_z"),
    )


def ols_inference(
    df: DataFrame,
    x_col: str,
    y_col: str,
    scale: int = 100,
) -> DataFrame:
    """Simple OLS y = a + b·x WITH inference — the slope plus the
    numbers :func:`~..operators.timeseries.trend_fit` never reports:
    the slope's standard error, its t statistic, a normal-approximation
    p, and R².  A slope without a standard error is a guess with a sign.

        b  = Sxy/Sxx,  a = ȳ − b·x̄           (centered sums)
        σ̂² = SSE/(n−2),  SSE = Syy − Sxy²/Sxx
        se(b) = √(σ̂²·n/Sxx·n) …computed as √(SSE/(n−2)/(Sxx/n·n))
        t  = b/se(b),  p ≈ erfc(|t|/√2)       (normal approx, n ≫ 2)

    Exactness: both columns scale to exact integers; Sxx/Syy/Sxy form
    as exact integer differences (n·Σxy − Σx·Σy) in decimal(38,0) —
    the SSE subtraction is the one cancellation-prone step and its
    operands are exact before the final double arithmetic.  One scan,
    one aggregate row.  The p-value is the large-n normal
    approximation (no t CDF exists in either engine); for n < 30 read
    se/t and look the quantile up outside.

    Output: one row — ``(n bigint, slope double, intercept double,
    r2 double, se_slope double, t double, p_approx double)``; constant
    x NULLs everything downstream of Sxx via ``try_divide``.
    """
    dec = "decimal(38,0)"
    keep = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()

    def s(c: str) -> F.Column:
        return F.round(
            F.col(c).cast("double") * F.lit(float(scale)), 0
        ).cast("long").cast(dec)

    base = df.filter(keep).select(s(x_col).alias("_x"), s(y_col).alias("_y"))
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nn = F.col("n").cast(dec)
    sxx = (nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    syy = (nn * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    sxy = (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    nd = F.col("n").cast("double")
    sc = F.lit(float(scale))
    # de-scale: x,y were multiplied by scale, so slope is scale-free and
    # intercept de-scales by 1/scale
    slope = F.try_divide(sxy, sxx)
    intercept = (
        F.col("_sy").cast("double") / nd
        - slope * F.col("_sx").cast("double") / nd
    ) / sc
    sse = (syy - F.try_divide(sxy * sxy, sxx)) / (nd * sc * sc)
    r2 = F.try_divide(sxy * sxy, sxx * syy)
    ok = F.col("n") > 2
    se = F.when(
        ok,
        F.sqrt(
            F.try_divide(sse / (nd - 2), sxx / (nd * sc * sc))
        ),
    )
    t = F.try_divide(slope, se)
    x = F.abs(t) / F.sqrt(F.lit(2.0))
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = tt * (
        F.lit(0.254829592)
        + tt
        * (
            F.lit(-0.284496736)
            + tt
            * (
                F.lit(1.421413741)
                + tt * (F.lit(-1.453152027) + tt * F.lit(1.061405429))
            )
        )
    )
    p = poly * F.exp(-x * x)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
        F.round(se, 9).alias("se_slope"),
        F.round(t, 9).alias("t"),
        F.round(p, 9).alias("p_approx"),
    )


def hellinger_by_group(
    df: DataFrame, key_col: str, group_col: str
) -> DataFrame:
    """Per-group Hellinger distance (and the Bhattacharyya coefficient it
    is built from) between the group's distribution of a categorical key
    and the WHOLE corpus's — the metric companion to
    :func:`js_divergence_by_group`: JSD is an information quantity
    (bits), Hellinger is a true METRIC (triangle inequality holds), so
    per-release drift deltas can be compared and chained; and because
    ``H² = 1 − Σ√(p·q)`` touches each cell once with no midpoint
    distribution, it is the cheaper of the two on the same cell grid.

        BC(P,Q) = Σ_k √(p_k·q_k),    H(P,Q) = √(1 − BC)  ∈ [0, 1]

    with P = the group's key distribution, Q = the global one.  A key
    absent from the group contributes 0 to BC (√0) — no smoothing needed,
    unlike KL.  The cell grid is groups × global key support via crossed
    BROADCAST marginals, never a per-group fact scan.

    Exactness/plan: ONE corpus-sized (group, key) count groupBy; p and q
    are ratios of exact integer counts; each cell's ``√(p·q)`` is
    quantized to ``decimal(28,12)`` before the cross-row sum (summation-
    order rule); the final ``√(1−BC)`` is one IEEE op on the exact
    decimal total (clamped at 0 for the P=Q case where BC rounds to 1).
    NULL keys/groups excluded.

    Output: one row per group — ``(group_col, n bigint, bc double,
    hellinger double)``; 0 = identical mix, 1 = disjoint support.
    """
    keep = F.col(key_col).isNotNull() & F.col(group_col).isNotNull()
    joint = (
        df.filter(keep)
        .select(
            F.col(group_col).alias("_g"),
            F.col(key_col).cast("string").alias("_k"),
        )
        .groupBy("_g", "_k")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    groups = joint.groupBy("_g").agg(F.sum("_o").alias("_ng"))
    keys = joint.groupBy("_k").agg(F.sum("_o").alias("_nk"))
    total = joint.agg(F.sum("_o").alias("_n"))
    cells = (
        F.broadcast(groups)
        .crossJoin(F.broadcast(keys))
        .join(joint, ["_g", "_k"], "left")
        .crossJoin(F.broadcast(total))
        .withColumn("_o", F.coalesce("_o", F.lit(0)))
    )
    p = F.col("_o").cast("double") / F.col("_ng").cast("double")
    q = F.col("_nk").cast("double") / F.col("_n").cast("double")
    term = F.sqrt(p * q).cast("decimal(28,12)")
    agg = cells.groupBy("_g").agg(
        F.max("_ng").alias("n"), F.sum(term).alias("_bc")
    )
    bc = F.col("_bc").cast("double")
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(bc, 9).alias("bc"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - bc)), 9).alias(
            "hellinger"
        ),
    )


def hill_tail_index(
    df: DataFrame, value_col: str, k: int = 100
) -> DataFrame:
    """Hill estimator of the power-law tail index over the top-``k``
    order statistics of a positive measure:

        α̂ = k / Σ_{i=1..k} ln(x_(i) / x_(k+1))

    — the heavy-tail readout :func:`~.textstats.zipf` gives for rank-
    frequency text data, applied to ANY numeric column (price, doc
    length, degree): α ≈ 1–2 means variance-infinite tails (plan for
    skew), α > 3 means the tail is benign.

    Plan: ``ORDER BY value DESC LIMIT k+1`` compiles to
    TakeOrderedAndProject — a per-partition top-(k+1) heap + driver
    merge, NO global sort, the only scale-safe way to touch order
    statistics of a 100 TB column.  Tie-safety: ties at the boundary are
    value-identical, so the kept MULTISET (all the estimator sees) is
    deterministic even though row identity is not; and a tied
    x_(k) = x_(k+1) contributes ln 1 = 0, so summing over all k+1 kept
    rows equals the k-term sum by construction.

    Exactness: per-row ``ln(x/x_min)`` is rounded to 9 dp and summed in
    ``decimal(28,9)``; x_min arrives by broadcast 1-row cross join.

    Output: one row — ``(k bigint, x_tail_min double, hill_alpha
    double)``; NULL alpha if fewer than k+1 positive values exist.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    top = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) > 0))
        .select(F.col(value_col).cast("double").alias("_v"))
        .orderBy(F.col("_v").desc())
        .limit(k + 1)
    )
    # x_min/count via a window over the (k+1)-row result: the heap runs
    # ONCE and stays visible in the plan (a localCheckpoint would hide
    # TakeOrderedAndProject behind an ExistingRDD scan)
    w = Window.partitionBy()
    s = (
        top.select(
            "_v",
            F.min("_v").over(w).alias("_xm"),
            F.count(F.lit(1)).over(w).alias("_cnt"),
        )
        .select(
            F.round(F.log(F.col("_v") / F.col("_xm")), 9)
            .cast("decimal(28,9)")
            .alias("_t"),
            "_cnt",
            "_xm",
        )
        .groupBy()
        .agg(
            F.sum("_t").alias("_s"),
            F.max("_cnt").alias("_cnt"),
            F.max("_xm").alias("_xm"),
        )
    )
    return s.select(
        F.lit(k).cast("long").alias("k"),
        F.round(F.col("_xm"), 9).alias("x_tail_min"),
        F.when(
            (F.col("_cnt") >= k + 1) & (F.col("_s").cast("double") > 0),
            F.round(F.lit(float(k)) / F.col("_s").cast("double"), 9),
        ).alias("hill_alpha"),
    )


def mahalanobis_diag_outliers(
    df: DataFrame,
    id_col: str,
    feature_cols: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Top-``top_k`` multivariate outliers by DIAGONAL-covariance
    Mahalanobis distance over integer feature columns:

        d²(x) = Σ_i (x_i − μ_i)² / σ²_i

    — the joint-outlier screen a per-column z-score can't do (a doc that
    is 2σ long AND 2σ punctuation-heavy AND 2σ token-sparse is a 12-d²
    outlier while never tripping any single-column fence).  The diagonal
    form drops cross-correlations in exchange for needing no matrix
    inverse — exactly the trade a 100 TB screen wants, since μ and σ²
    reduce in one partial-aggregable scan.

    Exactness: features must be INTEGER-valued; per-feature sums and
    sums-of-squares are carried in ``decimal(38,0)`` (exact at any
    corpus size), so μ_i and population σ²_i are identical doubles in
    any engine; each row's d² is then one fixed IEEE expression.  A
    zero-variance (constant) feature contributes 0 to d² — outliers on
    the remaining features still surface.
    Plan: scan 1 reduces moments to ONE broadcast row; scan 2 computes
    d² per row and TakeOrderedAndProject keeps the global top-k
    (id-tiebroken) — no global sort, no driver loop.

    Output: ``(id_col, *feature_cols, d2 double)`` — top_k rows, ordered
    consumers re-order by d2 themselves.
    """
    feats = list(feature_cols)
    if not feats:
        raise ValueError("need at least one feature column")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in feats:
        v = F.col(c).cast("decimal(38,0)")
        aggs += [
            F.sum(v).alias(f"_s_{c}"),
            F.sum(v * v).alias(f"_q_{c}"),
        ]
    keep = F.lit(True)
    for c in feats:
        keep = keep & F.col(c).isNotNull()
    base = df.filter(keep)
    mom = base.agg(*aggs)
    scored = base.crossJoin(F.broadcast(mom))
    n = F.col("_n").cast("double")
    d2 = F.lit(0.0)
    for c in feats:
        mu = F.col(f"_s_{c}").cast("double") / n
        var = (
            F.col(f"_q_{c}").cast("double") / n - mu * mu
        )
        z = F.col(c).cast("double") - mu
        # A zero-variance (constant) feature contributes 0, not NULL:
        # try_divide alone would NULL-poison d2 for EVERY row and turn the
        # top-k into an arbitrary id-ordered prefix with NULL distances.
        d2 = d2 + F.coalesce(F.try_divide(z * z, var), F.lit(0.0))
    return (
        scored.select(
            id_col, *feats, F.round(d2, 9).alias("d2")
        )
        .orderBy(F.col("d2").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def huber_location(
    df: DataFrame,
    value_col: str,
    c: float = 1.345,
    iterations: int = 3,
) -> DataFrame:
    """Huber M-estimator of location via ``iterations`` fixed IRLS steps
    — the robust mean between the median (throws away magnitude) and the
    mean (owned by the tail): observations within ``c·s`` of the current
    estimate get weight 1, beyond it weight ``c·s/|x−μ|``.

    Scale ``s`` is the LOWER MAD: the lower median of ``|x − m|`` with
    ``m`` the lower median of ``x`` — both exact order statistics read
    off cumulative integer counts over the DISTINCT-VALUE axis (the
    :func:`~.evaluation.bootstrap_median_ci` rule: first distinct value
    whose doubled cumulative count reaches the total; no midpoint
    averaging, so no float ties) — engine-identical by construction.

    Each IRLS step is one corpus scan reducing ``Σwx / Σw`` with the
    current μ broadcast as a 1-row cross join; per-row ``w`` and ``w·x``
    are rounded to 9 dp and summed in ``decimal(28,9)`` (summation-order
    rule), so every iterate — and hence the fixed-iteration output — is
    bit-deterministic and loop-unrollable as chained SQL CTEs.
    μ₀ = the lower median.  Degenerate s = 0 (over half the mass on one
    value) keeps μ = m via an explicit gate on the update (with s = 0
    every weight is 1, so an ungated step would drift to the plain mean).

    Output: one row — ``(n bigint, median_low double, mad_low double,
    mean double, huber_mu double)``.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("_v")
    )
    vals = vals.localCheckpoint(eager=False)

    def lower_median(d: DataFrame, col: str) -> DataFrame:
        cnt = d.groupBy(col).agg(F.count(F.lit(1)).alias("_c"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        tot = Window.partitionBy()
        ranked = cnt.withColumn("_cum", F.sum("_c").over(w)).withColumn(
            "_tot", F.sum("_c").over(tot)
        )
        return (
            ranked.filter(F.col("_cum") * 2 >= F.col("_tot"))
            .orderBy(col)
            .limit(1)
            .select(F.col(col).alias("_m"), F.col("_tot").alias("_n"))
        )

    med = lower_median(vals, "_v")
    absdev = vals.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("_v") - F.col("_m")).alias("_a")
    )
    mad = lower_median(absdev, "_a").select(
        F.col("_m").alias("_s")
    )
    state = (
        med.select(F.col("_m"), F.col("_n"))
        .crossJoin(F.broadcast(mad))
        .select(
            F.col("_n"),
            F.col("_m").alias("_med"),
            F.col("_s"),
            F.col("_m").alias("_mu"),
        )
    )
    # Long-buffer exact 9-dp sums (functions.fastsum): value-identical to
    # the decimal(28,9) form; weights ≤ 1 and |w·x| ≤ |x| (money scale,
    # ≪ the 10⁶ bound) — the three IRLS scans and the mean scan were
    # decimal-buffer-bound (r13-opt).
    from ..functions import fastsum as fs

    for _ in range(iterations):
        joined = vals.crossJoin(F.broadcast(state))
        dist = F.abs(F.col("_v") - F.col("_mu"))
        wgt = F.when(
            (F.col("_s") > 0) & (dist > F.lit(c) * F.col("_s")),
            F.lit(c) * F.col("_s") / dist,
        ).otherwise(F.lit(1.0))
        red = joined.groupBy().agg(
            F.max("_n").alias("_n"),
            F.max("_med").alias("_med"),
            F.max("_s").alias("_s"),
            *fs.parts(wgt, "w"),
            *fs.parts(wgt * F.col("_v"), "wx"),
        )
        state = red.select(
            "_n",
            "_med",
            "_s",
            # Degenerate s = 0 (over half the mass on one value): the Huber
            # weights are all 1 and the step would drift to the plain mean —
            # keep mu pinned at the median instead (gate mirrored in the
            # DuckDB oracle's CASE).
            F.when(
                F.col("_s") > 0,
                fs.value("wx") / fs.value("w"),
            )
            .otherwise(F.col("_med"))
            .alias("_mu"),
        )
    # exact 9-dp-quantized mean: order-free, engine-identical
    mean_df = vals.agg(*fs.parts(F.col("_v"), "v"), F.count(F.lit(1)).alias("_c")).select(
        (fs.value("v") / F.col("_c").cast("double")).alias("_mean")
    )
    return state.crossJoin(F.broadcast(mean_df)).select(
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_med"), 9).alias("median_low"),
        F.round(F.col("_s"), 9).alias("mad_low"),
        F.round(F.col("_mean"), 9).alias("mean"),
        F.round(F.col("_mu"), 9).alias("huber_mu"),
    )


def wasserstein_1d(
    df_a: DataFrame, df_b: DataFrame, value_col: str
) -> DataFrame:
    """One-dimensional Wasserstein-1 (earth-mover) distance between two
    numeric samples — the distribution-shift number in the UNITS OF THE
    COLUMN, which KS/CvM/PSI are not: W₁ is literally "how far does
    probability mass travel", so "the doc-length distribution moved by
    W₁ = 114 characters" is a sentence a data review can act on.

        W₁ = ∫ |F_a(x) − F_b(x)| dx
           = Σ_j |F_a(v_j) − F_b(v_j)| · (v_{j+1} − v_j)

    over the sorted distinct pooled values — the exact closed form in
    1-D (no transport LP needed).  CDFs are exact integer-count ratios;
    each distinct value contributes one IEEE term (gap × value step)
    quantized to 9 dp before the decimal-carried sum.  Same
    distinct-value-axis plan as :func:`ks_two_sample`: one tagged-union
    count groupBy + cumulative windows.

    Output: one row — ``(n_a bigint, n_b bigint, w1 double)``; NULL
    when either side is empty.
    """

    def side(d: DataFrame, tag: int) -> DataFrame:
        return d.filter(F.col(value_col).isNotNull()).select(
            F.col(value_col).cast("double").alias("_v"),
            F.lit(1 - tag).alias("_a"),
            F.lit(tag).alias("_b"),
        )

    u = side(df_a, 0).unionByName(side(df_b, 1))
    counts = u.groupBy("_v").agg(
        F.sum("_a").alias("_na"), F.sum("_b").alias("_nb")
    )
    w_cum = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_lead = Window.orderBy("_v")
    w_tot = Window.partitionBy()
    c = (
        counts.withColumn("_ca", F.sum("_na").over(w_cum))
        .withColumn("_cb", F.sum("_nb").over(w_cum))
        .withColumn("_ta", F.sum("_na").over(w_tot))
        .withColumn("_tb", F.sum("_nb").over(w_tot))
        .withColumn("_nx", F.lead("_v").over(w_lead))
    )
    gap = F.abs(
        F.try_divide(F.col("_ca").cast("double"), F.col("_ta").cast("double"))
        - F.try_divide(
            F.col("_cb").cast("double"), F.col("_tb").cast("double")
        )
    )
    term = F.when(
        F.col("_nx").isNotNull(),
        F.round(gap * (F.col("_nx") - F.col("_v")), 9),
    ).otherwise(F.lit(0.0)).cast("decimal(28,9)")
    agg = c.groupBy().agg(
        F.max("_ta").alias("_n"),
        F.max("_tb").alias("_m"),
        F.sum(term).alias("_s"),
    )
    w1 = F.when(
        (F.col("_n") > 0) & (F.col("_m") > 0), F.col("_s").cast("double")
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_a"),
        F.col("_m").cast("long").alias("n_b"),
        F.round(w1, 9).alias("w1"),
    )


def krippendorff_alpha_nominal(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Krippendorff's alpha (nominal metric, two coders) between two
    categorical columns — the agreement coefficient that, unlike
    :func:`cohen_kappa`, derives chance from the POOLED value
    distribution (both coders drawn from one population of codes) and
    generalizes to missing data and many coders; α ≥ 0.8 is the usual
    "codebook is reliable" line.

    Coincidence-matrix form for two complete coders: each unit
    contributes its (a,b) AND (b,a) pair, n = 2·units;

        D_o = Σ_{c≠k} o_ck / n,
        D_e = Σ_{c≠k} n_c·n_k / (n·(n−1)),   α = 1 − D_o/D_e

    — exact integer arithmetic to the two final divisions (both o and
    the marginals n_c are plain counts).  Plan: one fact-sized pair
    count groupBy; marginals on the code axis.  NULL codes drop the
    unit (complete-case; the missing-data generalization needs
    per-unit weights this two-column API doesn't carry).

    Output: one row — ``(n_units bigint, d_o double, d_e double,
    alpha double)``; NULL alpha for degenerate D_e = 0 (one code).
    """
    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(
        F.col(col_a).cast("string").alias("_x"),
        F.col(col_b).cast("string").alias("_y"),
    )
    # both orientations: the coincidence matrix is symmetric
    pairs = base.unionByName(
        base.select(F.col("_y").alias("_x"), F.col("_x").alias("_y"))
    )
    o = pairs.groupBy("_x", "_y").agg(F.count(F.lit(1)).alias("_o"))
    o = o.localCheckpoint(eager=False)
    d0 = "decimal(38,0)"
    marg = o.groupBy("_x").agg(F.sum("_o").alias("_nc"))
    tot = o.agg(
        F.sum(F.col("_o").cast(d0)).alias("_n"),
        F.sum(
            F.when(F.col("_x") != F.col("_y"), F.col("_o"))
            .otherwise(F.lit(0))
            .cast(d0)
        ).alias("_dis"),
    )
    e = marg.alias("a").join(marg.alias("b"), F.lit(True)).filter(
        F.col("a._x") != F.col("b._x")
    ).agg(
        F.sum(
            (F.col("a._nc").cast(d0) * F.col("b._nc").cast(d0))
        ).alias("_epairs")
    )
    j = tot.crossJoin(F.broadcast(e))
    n = F.col("_n").cast("double")
    d_o = F.col("_dis").cast("double") / n
    d_e = F.col("_epairs").cast("double") / (n * (n - F.lit(1.0)))
    alpha = F.when(d_e > 0, F.lit(1.0) - d_o / d_e)
    return j.select(
        (F.col("_n") / F.lit(2)).cast("long").alias("n_units"),
        F.round(d_o, 9).alias("d_o"),
        F.round(d_e, 9).alias("d_e"),
        F.round(alpha, 9).alias("alpha"),
    )


def lorenz_deciles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Lorenz-curve decile table for a value concentrated over keys —
    the curve behind :func:`concentration_gini`'s single number: per
    key-decile (keys ranked by their value total), the share and
    CUMULATIVE share of the total, so "the top decile of customers
    carries 61% of revenue" reads off row 10.

    Per-key totals reduce as exact decimal sums (one fact scan);
    deciles cut on the DISTINCT whole-unit total axis by the equal-mass
    ceil(k·cum/n) tie-group rule (the :func:`~..operators.evaluation.
    lift_table` discipline — no global per-row ntile funneling the key
    axis through one window partition; quantizing the near-continuous
    total to whole currency units for BUCKETING bounds the distinct
    axis by the value domain, not the key count, while the summed
    values stay decimal-exact); shares are decimal-over-decimal
    divisions at the end.

    Output: one row per non-empty decile — ``(decile bigint, n_keys
    bigint, value double, share double, cum_share double)``.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    dec = "decimal(28,6)"
    per_key = (
        df.filter(
            F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(key_col).alias("_k"))
        .agg(F.sum(F.col(value_col).cast(dec)).alias("_v"))
    )
    g = per_key.groupBy(F.round("_v", 0).alias("_q")).agg(
        F.count(F.lit(1)).alias("_nt"), F.sum("_v").alias("_sv")
    )
    w_axis = Window.orderBy("_q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cg = g.withColumn("_c", F.sum("_nt").over(w_axis)).withColumn(
        "_tn", F.sum("_nt").over(Window.partitionBy())
    )
    bin_expr = F.ceil(
        (F.lit(n_bins) * F.col("_c")) / F.col("_tn").cast("double")
    ).cast("long")
    bins = cg.groupBy(bin_expr.alias("_bin")).agg(
        F.sum("_nt").alias("_n"), F.sum("_sv").alias("_s")
    )
    w_cum = Window.orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = bins.select(
        "_bin",
        "_n",
        "_s",
        F.sum("_s").over(w_cum).alias("_cs"),
        F.sum("_s").over(w_all).alias("_tot"),
    )
    return c.select(
        F.col("_bin").cast("long").alias("decile"),
        F.col("_n").cast("long").alias("n_keys"),
        F.round(F.col("_s").cast("double"), 9).alias("value"),
        F.round(
            F.col("_s").cast("double") / F.col("_tot").cast("double"), 9
        ).alias("share"),
        F.round(
            F.col("_cs").cast("double") / F.col("_tot").cast("double"), 9
        ).alias("cum_share"),
    )


def ols_two_features(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    y_col: str,
    scale: int = 1,
) -> DataFrame:
    """Two-regressor OLS ``y = a + b₁x₁ + b₂x₂`` via the closed-form
    2×2 normal equations — one step past :func:`ols_inference`'s simple
    regression, answering "does x₂ explain anything x₁ doesn't" with a
    model F-test (the regression complement to
    :func:`partial_correlation`'s single number):

        b = S⁻¹·s,  where S = centered regressor moments,
        R² = (b₁S₁y + b₂S₂y)/Syy,
        F  = (R²/2) / ((1−R²)/(n−3))

    All centered moments form as exact integer differences
    (n·Σab − Σa·Σb in decimal(38,0) over ×``scale`` integers — the
    :func:`ols_inference` discipline), so the 2×2 solve is pure IEEE on
    identical operands in any engine.  One partial-aggregable scan.
    A singular system (collinear regressors) NULLs the coefficients via
    ``try_divide``.

    Output: one row — ``(n bigint, b1 double, b2 double, intercept
    double, r2 double, f_stat double)``.
    """
    dec = "decimal(38,0)"
    keep = (
        F.col(x1_col).isNotNull()
        & F.col(x2_col).isNotNull()
        & F.col(y_col).isNotNull()
    )

    def s(c: str) -> F.Column:
        return F.round(
            F.col(c).cast("double") * F.lit(float(scale)), 0
        ).cast("long").cast(dec)

    base = df.filter(keep).select(
        s(x1_col).alias("_a"), s(x2_col).alias("_b"), s(y_col).alias("_y")
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_a").alias("_s1"),
        F.sum("_b").alias("_s2"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_a") * F.col("_a")).alias("_s11"),
        F.sum(F.col("_b") * F.col("_b")).alias("_s22"),
        F.sum(F.col("_a") * F.col("_b")).alias("_s12"),
        F.sum(F.col("_a") * F.col("_y")).alias("_s1y"),
        F.sum(F.col("_b") * F.col("_y")).alias("_s2y"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    nn = F.col("n").cast(dec)

    def c(q, a, b) -> F.Column:
        return (nn * F.col(q) - F.col(a) * F.col(b)).cast("double")

    s11 = c("_s11", "_s1", "_s1")
    s22 = c("_s22", "_s2", "_s2")
    s12 = c("_s12", "_s1", "_s2")
    s1y = c("_s1y", "_s1", "_sy")
    s2y = c("_s2y", "_s2", "_sy")
    syy = c("_syy", "_sy", "_sy")
    det = s11 * s22 - s12 * s12
    b1 = F.try_divide(s22 * s1y - s12 * s2y, det)
    b2 = F.try_divide(s11 * s2y - s12 * s1y, det)
    nd = F.col("n").cast("double")
    sc = F.lit(float(scale))
    intercept = (
        F.col("_sy").cast("double") / nd
        - b1 * F.col("_s1").cast("double") / nd
        - b2 * F.col("_s2").cast("double") / nd
    ) / sc
    r2 = F.try_divide(b1 * s1y + b2 * s2y, syy)
    fstat = F.when(
        F.col("n") > 3,
        F.try_divide(
            r2 / F.lit(2.0), (F.lit(1.0) - r2) / (nd - F.lit(3.0))
        ),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(b1, 9).alias("b1"),
        F.round(b2, 9).alias("b2"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
        F.round(fstat, 9).alias("f_stat"),
    )


def breusch_pagan(
    df: DataFrame,
    x_col: str,
    y_col: str,
    scale: int = 1,
    alarm_p: float = 0.05,
) -> DataFrame:
    """Breusch-Pagan heteroscedasticity test on the :func:`ols_inference`
    residuals — "is the regression's error variance itself a function of
    x", the assumption every OLS standard error silently makes (fails on
    corpora where long docs are also NOISIER, which is the common case):

        LM = n·R²_aux,   R²_aux from e² ~ x,   p ≈ χ²₁ tail

    Pass 1 reduces the exact-integer moments that fix (a, b) — the SAME
    doubles in any engine; pass 2 broadcasts them, forms per-row
    residuals e = y − a − b·x (pure IEEE on exact inputs), and reduces
    9-dp-quantized decimal sums of (e², e²·x, e⁴) for the auxiliary R².
    The p uses the shared A-S erfc polynomial on √LM (1-df χ² ⇔ |Z|).

    Output: one row — ``(n bigint, slope double, lm double, p_approx
    double, heteroscedastic boolean)``.
    """
    from ..operators.evaluation import _norm_p_two_sided

    d0 = "decimal(38,0)"
    d9 = "decimal(38,9)"
    keep = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()

    def s(c: str) -> F.Column:
        return F.round(
            F.col(c).cast("double") * F.lit(float(scale)), 0
        ).cast("long")

    base = df.filter(keep).select(s(x_col).alias("_x"), s(y_col).alias("_y"))
    mom = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_x").cast(d0)).alias("_sx"),
        F.sum(F.col("_y").cast(d0)).alias("_sy"),
        F.sum((F.col("_x") * F.col("_x")).cast(d0)).alias("_sxx"),
        F.sum((F.col("_x") * F.col("_y")).cast(d0)).alias("_sxy"),
    )
    nn = F.col("_n").cast(d0)
    sxx = (nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    sxy = (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    nd = F.col("_n").cast("double")
    fit = mom.select(
        "_n",
        F.try_divide(sxy, sxx).alias("_b"),
        (
            F.col("_sy").cast("double") / nd
            - F.try_divide(sxy, sxx) * F.col("_sx").cast("double") / nd
        ).alias("_a"),
    )
    scored = base.crossJoin(F.broadcast(fit))
    e = (
        F.col("_y").cast("double")
        - F.col("_a")
        - F.col("_b") * F.col("_x").cast("double")
    )
    z = F.round(e * e, 9)
    aux = scored.agg(
        F.max("_n").alias("n"),
        F.max("_b").alias("slope"),
        F.sum(z.cast(d9)).alias("_sz"),
        F.sum(F.round(z * z, 9).cast(d9)).alias("_szz"),
        F.sum(
            F.round(z * F.col("_x").cast("double"), 9).cast(d9)
        ).alias("_szx"),
        F.sum(F.col("_x").cast(d0)).alias("_sx"),
        F.sum((F.col("_x") * F.col("_x")).cast(d0)).alias("_sxx"),
    )
    n2 = F.col("n").cast("double")
    num = (
        n2 * F.col("_szx").cast("double")
        - F.col("_sz").cast("double") * F.col("_sx").cast("double")
    )
    vz = (
        n2 * F.col("_szz").cast("double")
        - F.col("_sz").cast("double") * F.col("_sz").cast("double")
    )
    vx = (
        n2 * F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    r2aux = F.try_divide(num * num, vz * vx)
    lm = n2 * r2aux
    p = _norm_p_two_sided(F.sqrt(lm))
    return aux.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("slope"), 9).alias("slope"),
        F.round(lm, 9).alias("lm"),
        F.round(p, 9).alias("p_approx"),
        F.coalesce(p < F.lit(float(alarm_p)), F.lit(False)).alias(
            "heteroscedastic"
        ),
    )


def completeness_profile(
    df: DataFrame,
    columns: Sequence[str],
    string_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-column completeness profile — the first data-quality pass on
    any landed table (the generic sibling of the rule-based
    ``dq_expectations``): NULL rate per column, plus the blank-string
    count for text columns (a non-NULL empty string fails every
    downstream consumer the same way NULL does, and parquet writers
    love producing them).

    ONE scan: every per-column counter is a conditional sum in a single
    aggregate row, then ``stack`` pivots the row to one output row per
    column — never k scans.  Exact integers throughout.

    Output: one row per column — ``(column string, n bigint, nulls
    bigint, null_share double, empties bigint)`` (``empties`` NULL for
    non-string columns).
    """
    cols = list(columns)
    strs = set(string_cols)
    if not cols:
        raise ValueError("need at least one column")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"_null_{c}")
        )
        if c in strs:
            aggs.append(
                F.sum(
                    (F.trim(F.col(c)) == "").cast("long")
                ).alias(f"_emp_{c}")
            )
    agg = df.agg(*aggs)
    parts = []
    for c in cols:
        emp = f"_emp_{c}" if c in strs else "NULL"
        parts.append(f"'{c}', _null_{c}, {emp}")
    stacked = agg.select(
        F.col("_n"),
        F.expr(
            f"stack({len(cols)}, {', '.join(parts)}) "
            "AS (column, nulls, empties)"
        ),
    )
    return stacked.select(
        "column",
        F.col("_n").cast("long").alias("n"),
        F.col("nulls").cast("long").alias("nulls"),
        F.round(
            F.try_divide(
                F.col("nulls").cast("double"), F.col("_n").cast("double")
            ),
            9,
        ).alias("null_share"),
        F.col("empties").cast("long").alias("empties"),
    )


def ks_group_vs_rest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantize: int = 6,
) -> DataFrame:
    """Per-group two-sample KS distance of a metric against the POOLED
    REST — the "which source drifted" decomposition of a corpus-level
    KS alarm (one D per source, all in one pass, instead of k reruns of
    :func:`ks_two_sample`):

        D_g = sup_v |F_g(v) − F_rest(v)|

    Values quantize to ``quantize`` dp first (bounds the distinct-value
    axis at scale and keeps the axis engine-identical); the
    (value × group) grid is completed with zero counts so every group's
    ECDF is defined at every observed value; cumulative windows run per
    group over the shared value axis; rest-counts derive from the
    global cumulative by subtraction — exact integers end-to-end.

    Output: one row per group — ``(group, n bigint, n_rest bigint,
    ks_d double)``.
    """
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(
            F.round(F.col(value_col).cast("double"), quantize).alias(
                "_v"
            ),
            F.col(group_col).alias("_g"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    grid = counts.select("_v").distinct().crossJoin(
        counts.select("_g").distinct()
    )
    full = grid.join(counts, ["_v", "_g"], "left").select(
        "_v", "_g", F.coalesce("_n", F.lit(0)).alias("_n")
    )
    w_g = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_gt = Window.partitionBy("_g")
    staged = full.select(
        "_g",
        "_v",
        F.sum("_n").over(w_g).alias("_cum"),
        F.sum("_n").over(w_gt).alias("_tot"),
    )
    glob = (
        counts.groupBy("_v")
        .agg(F.sum("_n").alias("_gn"))
        .select(
            "_v",
            F.sum("_gn")
            .over(
                Window.orderBy("_v").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("_gcum"),
            F.sum("_gn").over(Window.partitionBy()).alias("_gtot"),
        )
    )
    j = staged.join(glob, "_v")
    ecdf_g = F.col("_cum").cast("double") / F.col("_tot").cast("double")
    rest_cum = F.col("_gcum") - F.col("_cum")
    rest_tot = F.col("_gtot") - F.col("_tot")
    ecdf_r = F.try_divide(
        rest_cum.cast("double"), rest_tot.cast("double")
    )
    gap = F.abs(ecdf_g - ecdf_r)
    return (
        j.groupBy("_g")
        .agg(
            F.max("_tot").alias("n"),
            F.max(rest_tot).alias("n_rest"),
            F.round(F.max(gap), 9).alias("ks_d"),
        )
        .select(
            F.col("_g").alias("group"),
            F.col("n").cast("long").alias("n"),
            F.col("n_rest").cast("long").alias("n_rest"),
            "ks_d",
        )
    )
