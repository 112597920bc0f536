"""Time-series operator library — the InfluxDB/Grafana-delegated query surface
(SURVEY §2.4 A1-A4, G1-G7) as composable DataFrame transformations.

Scale design (SURVEY §4 "100 TB posture"):

- Every aggregation admits map-side partial aggregation (plain ``groupBy`` +
  algebraic aggs, ``max_by``/``min_by`` instead of rank-then-filter where a
  single row per group is wanted — one shuffle, partial-aggregable).
- Time predicates are plain column comparisons so they push down to parquet
  row groups and prune date partitions.
- Window functions are used only where semantics require them (gap fill,
  lag deltas) and always partitioned by the series dimensions, so state per
  partition is one series — no global sorts.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cols(cols: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


def time_bucket_agg(
    df: DataFrame,
    ts: str,
    unit: str,
    dims: Sequence[str],
    aggs: Sequence[Column],
    bucket_name: str = "bucket",
) -> DataFrame:
    """G1 — ``GROUP BY time($interval), tags`` with aggregate fields.

    ``unit`` is a ``date_trunc`` unit (``hour``, ``day``, ``week`` …). One
    shuffle on (bucket, dims); all listed aggs get map-side combine.
    InfluxQL ``last()``/``first()`` per bucket → pass ``F.max_by``/``F.min_by``.
    """
    bucket = F.date_trunc(unit, F.col(ts)).alias(bucket_name)
    return df.groupBy(bucket, *_cols(dims)).agg(*aggs)


def time_range(
    df: DataFrame, ts: str, start: datetime | str, end: datetime | str
) -> DataFrame:
    """G2 — dashboard ``$timeFilter``: inclusive-start exclusive-end scan.
    A plain comparison → parquet row-group skip + date-partition pruning.

    When the frame carries a raw-nanos shadow column (``_ts_ns``, see
    ``sources.tables.load_table``), an equivalent predicate is added on it:
    the derived ``ts`` comparison cannot be pushed past the
    ``timestamp_micros`` projection, but the long-space one reaches the scan
    (``PushedFilters: [GreaterThanOrEqual(_ts_ns, …)]``) and skips row
    groups — the difference between scanning a day and scanning a year.
    """
    pred = (F.col(ts) >= F.lit(start)) & (F.col(ts) < F.lit(end))
    if ts == "ts" and "_ts_ns" in df.columns:
        import pandas as pd

        lo, hi = pd.Timestamp(start).value, pd.Timestamp(end).value
        pred = pred & (F.col("_ts_ns") >= lo) & (F.col("_ts_ns") < hi)
    return df.filter(pred)


def last_per_bucket(
    df: DataFrame,
    ts: str,
    dims: Sequence[str],
    payload: Sequence[str],
    bucket: Column | None = None,
    *,
    tiebreak: str,
) -> DataFrame:
    """A1 — top-1-per-time-bucket ("last build of the day",
    reference ``riot_graphs/rg.py:52-84``).

    Uses ``max_by(struct(payload), (ts, tiebreak))`` rather than a ranked
    window: partial-aggregable, single shuffle, no per-partition sort of the
    whole fact table (SURVEY §4 item 3). ``bucket`` defaults to the calendar
    day; pass :func:`..functions.scalars.anchored_day` for the reference's
    03:00-UTC anchor. ``tiebreak`` makes the pick deterministic under equal
    timestamps (unique id column).
    """
    bucket = bucket if bucket is not None else F.date_trunc("DAY", F.col(ts))
    order = F.struct(F.col(ts), F.col(tiebreak))
    picked = F.max_by(F.struct(*[F.col(c) for c in payload]), order).alias("_last")
    out = df.groupBy(bucket.alias("bucket"), *_cols(dims)).agg(picked)
    return out.select(
        "bucket", *dims, *[F.col(f"_last.{c}").alias(c) for c in payload]
    )


def top1_by_time(df: DataFrame, ts: str, tiebreak: str) -> DataFrame:
    """A2 — global newest row (``SELECT … ORDER BY time DESC LIMIT 1``,
    reference ``rg.py:130-131``). Plans as TakeOrderedAndProject: each
    partition keeps 1 row, driver merges — no full sort, no full shuffle.
    """
    order = [F.col(ts).desc(), F.col(tiebreak).desc()]
    return df.orderBy(*order).limit(1)


def delta_vs_prev(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    out: str = "delta",
) -> DataFrame:
    """G5 — difference vs the previous point of the same series (the size
    regression signal, the product's whole point). ``lag`` over a window
    partitioned by the series key: one shuffle on dims, per-series sort only.
    """
    w = Window.partitionBy(*_cols(dims)).orderBy(F.col(ts))
    return df.withColumn(out, F.col(value) - F.lag(value, 1).over(w))


def gap_fill_forward(
    df: DataFrame,
    ts: str,
    dims: Sequence[str],
    values: Sequence[str],
    step: str = "INTERVAL 1 DAY",
) -> DataFrame:
    """G3 — Grafana ``fill(previous)``: regular time spine per series,
    forward-filling missing buckets from the last observed value.

    ``df`` must already be bucketed (one row per (ts, dims) at most). The
    spine is generated distributively: global min/max via an aggregate
    (map-side partial, two values total), ``sequence`` + ``explode`` for the
    grid — no driver-side ``collect``. The fill itself is
    ``last(value, ignoreNulls=True)`` over an unbounded-preceding window per
    series; buckets before a series' first observation stay NULL (matches
    Grafana ``fill(previous)`` edge semantics).

    Scale note: the cross join is (buckets × distinct series) — the *output*
    grid, which any gap-fill must materialize; both sides are tiny relative
    to the fact table and the dims side is broadcast.
    """
    bounds = df.agg(F.min(ts).alias("lo"), F.max(ts).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr(step))).alias(ts)
    )
    series = df.select(*dims).distinct()
    grid = spine.crossJoin(F.broadcast(series))
    joined = grid.join(df, on=[ts, *dims], how="left")
    w = (
        Window.partitionBy(*_cols(dims))
        .orderBy(F.col(ts))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = [F.last(v, ignorenulls=True).over(w).alias(v) for v in values]
    return joined.select(ts, *dims, *filled)


def gap_fill_value(
    df: DataFrame,
    ts: str,
    dims: Sequence[str],
    values: Sequence[str],
    step: str = "INTERVAL 1 DAY",
    *,
    fill: float | int,
) -> DataFrame:
    """G3 variant — Grafana/InfluxQL ``fill(0)`` / ``fill(<const>)``: every
    missing bucket appears on the regular grid with the constant ``fill``.

    Same distributive spine/grid as :func:`gap_fill_forward` but no window
    at all — just a ``coalesce`` projection after the grid join, so this is
    the cheapest fill mode (no per-series sort).
    """
    bounds = df.agg(F.min(ts).alias("lo"), F.max(ts).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr(step))).alias(ts)
    )
    series = df.select(*dims).distinct()
    grid = spine.crossJoin(F.broadcast(series))
    joined = grid.join(df, on=[ts, *dims], how="left")
    out = [F.coalesce(F.col(v), F.lit(fill)).alias(v) for v in values]
    return joined.select(ts, *dims, *out)


def gap_fill_linear(
    df: DataFrame,
    ts: str,
    dims: Sequence[str],
    values: Sequence[str],
    step: str = "INTERVAL 1 DAY",
) -> DataFrame:
    """G3 variant — Grafana ``fill(linear)``: missing buckets between two
    observed points are linearly interpolated; buckets before a series'
    first observation or after its last stay NULL (Grafana edge semantics).

    Same distributive spine/grid construction as :func:`gap_fill_forward`.
    The interpolation needs the nearest observed value in *both* directions:
    two mirrored unbounded windows over the same (dims, ts) partitioning and
    ordering — Catalyst plans them over one shuffle + one sort, so the cost
    is the same as the forward fill plus one extra window pass.
    """
    bounds = df.agg(F.min(ts).alias("lo"), F.max(ts).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr(step))).alias(ts)
    )
    series = df.select(*dims).distinct()
    grid = spine.crossJoin(F.broadcast(series))
    joined = grid.join(df, on=[ts, *dims], how="left")
    wb = (
        Window.partitionBy(*_cols(dims))
        .orderBy(F.col(ts))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*_cols(dims))
        .orderBy(F.col(ts))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    # NTZ-safe epoch seconds (hop through TIMESTAMP, identity under the
    # engine's enforced UTC session timezone).
    tssec = F.col(ts).cast("timestamp").cast("double")
    out: list[Column] = []
    for v in values:
        obs_ts = F.when(F.col(v).isNotNull(), tssec)
        prev_v = F.last(v, ignorenulls=True).over(wb)
        prev_t = F.last(obs_ts, ignorenulls=True).over(wb)
        next_v = F.first(v, ignorenulls=True).over(wf)
        next_t = F.first(obs_ts, ignorenulls=True).over(wf)
        interp = prev_v + (next_v - prev_v) * (
            (tssec - prev_t) / (next_t - prev_t)
        )
        out.append(
            # Observed rows pass through first — on them prev_t == next_t
            # and the interpolation fraction is 0/0.
            F.when(F.col(v).isNotNull(), F.col(v))
            .when(prev_v.isNotNull() & next_v.isNotNull(), interp)
            .alias(v)
        )
    return joined.select(ts, *dims, *out)


def moving_average(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    n: int,
    out: str = "moving_avg",
    *,
    tiebreak: str,
) -> DataFrame:
    """InfluxQL ``moving_average(field, N)`` — average of the current and the
    N-1 preceding points of the same series; emitted only once the window is
    full (InfluxQL starts at the Nth point).

    One shuffle on dims, per-series sort only. The trailing sum is the
    difference of an exact DECIMAL running sum (``cum(t) − cum(t−n)`` via
    one lag over the same sort) — O(1) per row instead of Spark's O(n)
    re-sum of a bounded ``rowsBetween`` frame, identical output (exact
    decimals), and the gap widens with ``n``. Same shape as
    :func:`zscore_anomalies`/:func:`rsi`.
    """
    order = [F.col(ts), F.col(tiebreak)]
    w = Window.partitionBy(*_cols(dims)).orderBy(*order)
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (
        F.sum(F.col(value).cast("decimal(28,6)"))
        .over(w_cum)
        .cast("decimal(38,6)")
    )
    zero = F.lit(0).cast("decimal(38,6)")
    avg = (
        (cum - F.coalesce(F.lag(cum, n).over(w), zero)).cast("double") / n
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn(out, avg)
        .filter(F.col("_rn") >= n)
        .drop("_rn")
    )


def cumulative_sum(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    out: str = "cum_sum",
    *,
    tiebreak: str,
) -> DataFrame:
    """InfluxQL ``cumulative_sum(field)`` — running total per series.
    Unbounded-preceding row frame; DECIMAL accumulation for exactness, cast
    to double at the edge."""
    order = [F.col(ts), F.col(tiebreak)]
    w = (
        Window.partitionBy(*_cols(dims))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = F.sum(F.col(value).cast("decimal(28,6)")).over(w).cast("double")
    return df.withColumn(out, run)


def derivative(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    unit_seconds: float = 1.0,
    out: str = "rate",
    *,
    tiebreak: str,
) -> DataFrame:
    """InfluxQL ``non_negative_derivative(field, unit)`` — rate of change
    between consecutive points of a series, scaled to per-``unit_seconds``.
    The first point of each series has no predecessor and is dropped
    (InfluxQL emits nothing for it); negative rates are dropped too
    (counter-reset semantics).

    Per-row double arithmetic on exactly two rows — bit-deterministic IEEE,
    no decimal hop needed.
    """
    order = [F.col(ts), F.col(tiebreak)]
    w = Window.partitionBy(*_cols(dims)).orderBy(*order)
    dv = F.col(value) - F.lag(value, 1).over(w)
    dt = (
        F.col(ts).cast("timestamp").cast("double")
        - F.lag(F.col(ts).cast("timestamp").cast("double"), 1).over(w)
    )
    rate = dv / dt * F.lit(float(unit_seconds))
    return (
        df.withColumn(out, rate)
        .filter(F.col(out).isNotNull())
        .filter(F.col(out) >= 0)
    )


def elapsed(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    out: str = "elapsed_us",
    *,
    tiebreak: str,
) -> DataFrame:
    """InfluxQL ``elapsed(field)`` — microseconds between consecutive points
    of a series (integer arithmetic in epoch-micros space; exact). First
    point of each series is dropped, as in InfluxQL."""
    order = [F.col(ts), F.col(tiebreak)]
    w = Window.partitionBy(*_cols(dims)).orderBy(*order)
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    return (
        df.withColumn(out, us - F.lag(us, 1).over(w))
        .filter(F.col(out).isNotNull())
    )


def integral_per_bucket(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    unit: str = "day",
    out: str = "integral",
    *,
    tiebreak: str,
) -> DataFrame:
    """InfluxQL ``integral(field, 1s)`` under ``GROUP BY time(...)`` —
    trapezoidal area under the series curve, per time bucket and series.

    Each consecutive pair inside a bucket contributes
    ``(t2-t1) * (v1+v2) / 2`` (seconds × value). The per-pair area is plain
    double arithmetic (deterministic); the cross-row sum of areas goes
    through DECIMAL. One full-data shuffle (the window's, on (dims, bucket));
    the groupBy's exchange moves only map-side partial sums — one row per
    (bucket, series) per task.
    """
    bucket = F.date_trunc(unit, F.col(ts))
    order = [F.col(ts), F.col(tiebreak)]
    w = Window.partitionBy(*_cols(dims), bucket).orderBy(*order)
    tsec = F.col(ts).cast("timestamp").cast("double")
    area = (
        (tsec - F.lag(tsec, 1).over(w))
        * (F.col(value) + F.lag(value, 1).over(w))
        / 2.0
    )
    return (
        df.withColumn("_area", area)
        .groupBy(bucket.alias("bucket"), *_cols(dims))
        .agg(
            F.sum(F.col("_area").cast("decimal(28,6)"))
            .cast("double")
            .alias(out)
        )
    )


def time_weighted_avg_per_bucket(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    unit: str = "day",
    out: str = "twa",
    *,
    tiebreak: str,
) -> DataFrame:
    """Time-weighted average per bucket and series — the honest mean for
    irregularly sampled series (plain ``avg`` over-weights dense bursts).
    Trapezoid areas divided by covered seconds: ``Σ area / Σ dt``, both
    summed in DECIMAL; buckets with a single point fall back to that
    point's value (zero covered time).
    """
    bucket = F.date_trunc(unit, F.col(ts))
    order = [F.col(ts), F.col(tiebreak)]
    w = Window.partitionBy(*_cols(dims), bucket).orderBy(*order)
    tsec = F.col(ts).cast("timestamp").cast("double")
    dt = tsec - F.lag(tsec, 1).over(w)
    area = dt * (F.col(value) + F.lag(value, 1).over(w)) / 2.0
    agg = (
        df.withColumn("_area", area)
        .withColumn("_dt", dt)
        .groupBy(bucket.alias("bucket"), *_cols(dims))
        .agg(
            F.sum(F.col("_area").cast("decimal(28,6)")).cast("double").alias("_sa"),
            F.sum(F.col("_dt").cast("decimal(28,6)")).cast("double").alias("_sd"),
            F.max_by(
                F.col(value), F.struct(F.col(ts), F.col(tiebreak))
            ).alias("_lastv"),
        )
    )
    return agg.select(
        "bucket",
        *dims,
        F.when(F.col("_sd") > 0, F.col("_sa") / F.col("_sd"))
        .otherwise(F.col("_lastv"))
        .alias(out),
    )


def spread_stats(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    unit: str = "day",
) -> DataFrame:
    """InfluxQL ``spread`` / ``stddev`` / ``median`` per time bucket and
    series. ``spread`` (max − min) and ``median`` (exact selection) are
    order-insensitive already; the standard deviation is derived from exact
    DECIMAL sums (Σx, Σx²) so the distributed merge order can't perturb low
    bits — sample variance ``(Σx² − (Σx)²/n) / (n−1)``, the formula both
    engines can reproduce bit-for-bit from the same exact sums.
    """
    bucket = F.date_trunc(unit, F.col(ts)).alias("bucket")
    # decimal(18,6): the square is decimal(37,12), inside Spark's 38-digit
    # cap — a wider operand would force precision-losing downscaling.
    xd = F.col(value).cast("decimal(18,6)")
    n = F.count("*")
    sx = F.sum(xd).cast("double")
    sxx = F.sum(xd * xd).cast("double")
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    return df.groupBy(bucket, *_cols(dims)).agg(
        (F.max(value) - F.min(value)).alias("spread"),
        F.median(value).alias("median_value"),
        F.when(n > 1, F.sqrt(var)).alias("stddev_value"),
        n.alias("n"),
    )


def ewma(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    alpha: float = 0.3,
    out: str = "ewma",
    *,
    tiebreak: str,
) -> DataFrame:
    """InfluxQL ``exponential_moving_average`` — per-point recursive smooth
    ``e_t = α·x_t + (1-α)·e_{t-1}`` seeded with the series' first value.

    Genuinely sequential per series (each output depends on the previous),
    so this is the one time-series operator that earns ``applyInPandas``:
    one group per series, the recursion vectorized with numpy inside the
    Arrow batch. Shuffle on dims only; state per task is one series. The
    closed-form window-sum rewrite is deliberately avoided — it needs
    ``(1-α)^(-t)`` terms that overflow float64 for series longer than a few
    hundred points.
    """
    import numpy as np
    import pandas as pd

    dims = list(dims)
    order = [ts, tiebreak]
    schema_out = df.select(*dims, ts, value).schema.add(out, "double")

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        x = pdf[value].to_numpy(dtype=float)
        e = np.empty_like(x)
        if len(x):
            acc = x[0]
            for i, xi in enumerate(x):
                acc = alpha * xi + (1.0 - alpha) * acc if i else xi
                e[i] = acc
        pdf = pdf[[*dims, ts, value]].copy()
        pdf[out] = e
        return pdf

    in_cols = list(dict.fromkeys([*dims, ts, value, *order]))
    return (
        df.select(*in_cols).groupBy(*dims).applyInPandas(smooth, schema=schema_out)
    )


def ewma_window(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    alpha: float = 0.3,
    k: int = 8,
    out: str = "ewma_w",
    *,
    tiebreak: str,
    round_to: int = 6,
) -> DataFrame:
    """K-term truncated EWMA — the *oracle-pairable* sibling of
    :func:`ewma`: instead of the unbounded recursion, smooth each point
    over its last ``k`` observations with the exponential weights
    ``w_i = α(1−α)^i`` renormalized over the terms actually present
    (series heads shorter than ``k`` renormalize over what exists):

        y_t = Σ_{i<k} w_i·x_{t−i} / Σ_{i<k} w_i        (missing terms drop)

    The recursion truncates after k terms anyway — ``(1−α)^k`` is < 2% of
    the mass at α=0.3, k=8 — and the truncated form unrolls to a closed
    weighted sum of ``lag(value, i)`` window columns: pure Catalyst
    whole-stage-codegen, one shuffle on ``dims``, and expressible in ANSI
    SQL, so the driver can hash-check it against DuckDB (ts_ewma itself is
    rows-only: the unbounded recursion has no faithful SQL twin).

    Determinism: weights are 12dp DECIMAL literals, per-term products and
    the two accumulators stay in decimal, and only the final ratio touches
    float64 — the same quantization idiom that made PageRank/HITS/KM
    oracle-pairable. Appends ``out`` (double, rounded to ``round_to``).
    """
    from decimal import Decimal
    from functools import reduce

    if not 0.0 < alpha < 1.0:
        raise ValueError("need 0 < alpha < 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    order = [F.col(ts), F.col(tiebreak)]
    w = Window.partitionBy(*_cols(dims)).orderBy(*order)
    a = Decimal(str(alpha))
    q = Decimal("1.000000000000")
    weights = [((a * (1 - a) ** i) * q).quantize(q) for i in range(k)]
    zero_x = F.lit(Decimal("0")).cast("decimal(18,6)")
    zero_w = F.lit(Decimal("0")).cast("decimal(14,12)")
    nums, dens = [], []
    for i, wi in enumerate(weights):
        xi = F.col(value) if i == 0 else F.lag(value, i).over(w)
        wlit = F.lit(wi).cast("decimal(14,12)")
        nums.append(
            F.when(xi.isNotNull(), xi.cast("decimal(18,6)"))
            .otherwise(zero_x) * wlit
        )
        dens.append(F.when(xi.isNotNull(), wlit).otherwise(zero_w))
    num = reduce(lambda x, y: x + y, nums)
    den = reduce(lambda x, y: x + y, dens)
    # try_divide: if the row's value and all k-1 lags are NULL, den is 0 —
    # plain `/` would throw DIVIDE_BY_ZERO under ANSI mode (NULL is right).
    return df.withColumn(
        out,
        F.round(
            F.try_divide(num.cast("double"), den.cast("double")), round_to
        ),
    )


def holt_forecast(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 3,
    tiebreak: str | None = None,
    season_length: int = 0,
    gamma: float = 0.1,
) -> DataFrame:
    """InfluxQL ``holt_winters(N, S)``-style forecast fitted per series,
    emitting ``horizon`` future steps per series. The step size of the
    forecast timestamps is the series' median inter-point gap, which is how
    InfluxQL spaces its predicted points over a regular GROUP BY time grid.

    ``season_length == 0`` (default) is Holt's double exponential smoothing
    (level + trend):

        level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
        forecast(h) = level_T + h·trend_T

    seeded with ``level_0 = x_0`` and ``trend_0 = x_1 − x_0`` (0 for
    single-point series).

    ``season_length == m > 0`` is ADDITIVE triple exponential smoothing
    (Holt-Winters), the weekly/daily-seasonal form a nightly-CI metrics
    series needs (the reference delegates forecasting entirely to
    Grafana/InfluxQL — ``/root/reference/README.md:25``):

        level_t = α·(x_t − s_{t−m}) + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
        s_t     = γ·(x_t − level_t) + (1−γ)·s_{t−m}
        forecast(h) = level_T + h·trend_T + s_{T+h−m·ceil(h/m)}

    seeded with the textbook two-season init — ``level = mean(x[:m])``,
    ``trend = (mean(x[m:2m]) − mean(x[:m]))/m``, ``s_i = x_i − level`` —
    with the recursion starting at ``t = m``.  A series shorter than two
    full seasons cannot seed the trend; it deterministically FALLS BACK to
    the non-seasonal form (per series, documented behavior).

    Per-series state is level + trend + m seasonal doubles — bounded model
    state, so the grouped ``applyInPandas`` (one Arrow batch per series,
    shuffle on dims only) is the same 100 TB shape as :func:`ewma`.
    Rows-only in the driver gate: there is no faithful ANSI-SQL twin; both
    recursions are unit-tested against hand rollouts.

    Returns ``(*dims, step: long, forecast_ts: timestamp, forecast: double)``.
    """
    import numpy as np
    import pandas as pd

    if season_length < 0:
        raise ValueError("season_length must be >= 0")
    m = int(season_length)
    dims = list(dims)
    order = [ts] + ([tiebreak] if tiebreak else [])
    base = df.select(*dict.fromkeys([*dims, ts, value, *order]))
    schema_out = (
        base.select(*dims)
        .schema.add("step", "long")
        .add("forecast_ts", "timestamp")
        .add("forecast", "double")
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        x = pdf[value].to_numpy(dtype=float)
        t = pdf[ts].to_numpy()
        steps = np.arange(1, horizon + 1)
        if m > 0 and len(x) >= 2 * m:
            level = float(np.mean(x[:m]))
            trend = float(np.mean(x[m : 2 * m]) - np.mean(x[:m])) / m
            season = (x[:m] - level).astype(float)
            for i in range(m, len(x)):
                prev_level = level
                si = season[i % m]
                level = alpha * (x[i] - si) + (1.0 - alpha) * (level + trend)
                trend = beta * (level - prev_level) + (1.0 - beta) * trend
                season[i % m] = gamma * (x[i] - level) + (1.0 - gamma) * si
            n = len(x)
            seasonal = season[(n + steps - 1) % m]
            fc = level + steps * trend + seasonal
        else:
            level = x[0]
            trend = x[1] - x[0] if len(x) > 1 else 0.0
            for xi in x[1:]:
                prev_level = level
                level = alpha * xi + (1.0 - alpha) * (level + trend)
                trend = beta * (level - prev_level) + (1.0 - beta) * trend
            fc = level + steps * trend
        gap = (
            np.median(np.diff(t)) if len(t) > 1 else np.timedelta64(1, "h")
        )
        # Median-gap arithmetic can land on sub-microsecond nanoseconds,
        # which Arrow's safe ns→us cast rejects under a default session.
        fts = pd.Series(t[-1] + steps * gap).dt.floor("us")
        out = pd.DataFrame(
            {d: [pdf[d].iloc[0]] * horizon for d in dims}
            | {
                "step": steps.astype("int64"),
                "forecast_ts": fts,
                "forecast": fc,
            }
        )
        return out

    return base.groupBy(*dims).applyInPandas(fit, schema=schema_out)


def mode_per_series(
    df: DataFrame, dims: Sequence[str], value: str, out: str = "mode_value"
) -> DataFrame:
    """InfluxQL ``mode(field)`` — most frequent value per series, ties broken
    toward the largest value (InfluxQL's tie rule is "lowest"; either is
    fine as long as it is *deterministic* — built-in ``F.mode`` makes no tie
    promise, so the pick is spelled out as ``max_by(value, (count, value))``:
    two partial-aggregable groupBys, no window, no sort).
    """
    counted = df.groupBy(*_cols(dims), F.col(value)).agg(
        F.count("*").alias("_cnt")
    )
    return counted.groupBy(*_cols(dims)).agg(
        F.max_by(value, F.struct(F.col("_cnt"), F.col(value))).alias(out)
    )


def top_n_per_series(
    df: DataFrame,
    dims: Sequence[str],
    value: str,
    n: int,
    tiebreak: str,
) -> DataFrame:
    """InfluxQL ``top(field, N)`` per tag — ranked window with a unique-id
    tiebreak so equal values can't flip the pick. One shuffle on dims; with
    AQE the per-series sort is a top-K heap when N is small relative to
    series length."""
    w = Window.partitionBy(*_cols(dims)).orderBy(
        F.col(value).desc(), F.col(tiebreak)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def trend_fit(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    anchor_epoch_us: int,
) -> DataFrame:
    """Per-series least-squares trend: slope (value units per SECOND) and
    intercept of ``value`` regressed on event time. The size-regression
    detector a CI-metrics dashboard runs over every (test, board) series —
    a drifting slope IS the regression.

    Determinism: the five sufficient statistics (n, Σx, Σx², Σxy, Σy) are
    computed exactly — x is integer seconds since ``anchor_epoch_us``, y a
    DECIMAL(18,2) — and only the final closed-form combination runs in
    double, a fixed expression tree on exact inputs that every engine
    reproduces bit-for-bit. The built-in ``regr_slope`` accumulates doubles
    in merge order and is NOT hash-stable across engines; that is why it is
    not used here.

    Σx and Σx² accumulate as DECIMAL(38,0), not int64: a year-long span has
    x ≈ 3e7 s, so x² ≈ 1e15 and ~1e4 rows overflow an int64 sum — ANSI mode
    (Spark 4 default) would throw ARITHMETIC_OVERFLOW mid-aggregation, and
    with ANSI off it would wrap into silently wrong slopes. Decimal sums
    stay exact and remain partial-aggregable.

    One partial-aggregable shuffle on ``dims``; fixed-size state per series.
    """
    x = F.expr(f"(unix_micros({ts}) - {anchor_epoch_us}L) div 1000000L")
    xd = x.cast("decimal(20,0)")
    y = F.col(value).cast("decimal(18,2)")
    agg = df.groupBy(*_cols(dims)).agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("_sx"),
        F.sum((xd * xd).cast("decimal(38,0)")).alias("_sxx"),
        F.sum(xd * y).alias("_sxy"),
        F.sum(y).alias("_sy"),
    )
    # The closed-form differences n·Σx² − (Σx)² and n·Σxy − Σx·Σy cancel
    # catastrophically in double when x is large (at x ≈ 1e9 s the terms
    # are ~1e20 and the true difference ~1e3 — below double's ulp there,
    # reading as 0/0). Form both differences exactly in decimal; only the
    # final ratio runs in double.
    n_dec = F.col("n").cast("decimal(20,0)")
    den = (n_dec * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    num = (n_dec * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    slope = num / den
    nd = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    return agg.select(
        *_cols(dims),
        F.col("n"),
        slope.alias("slope_per_sec"),
        ((sy - slope * sx) / nd).alias("intercept"),
    )


def zscore_anomalies(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    trailing: int = 100,
    threshold: float = 3.0,
    *,
    tiebreak: str,
) -> DataFrame:
    """Streaming-style anomaly flag: z-score of each point against the mean
    and sample stddev of the previous ``trailing`` points of its series
    (exclusive window — the point never judges itself). Points without a
    full trailing window are dropped, so every emitted z uses the same
    sample size.

    The trailing Σx and Σx² are DECIMAL (exact under any accumulation
    order — engines disagree on sliding-window double-sum algorithms,
    e.g. segment trees vs running sums); mean/std/z are then a fixed double
    expression on those exact sums. One shuffle on ``dims``; the window
    state is ``trailing`` rows per series.

    Implementation note: a bounded ``rowsBetween(-trailing, -1)`` frame
    makes Spark re-sum the whole frame at every row — O(n·trailing) decimal
    adds per series. The trailing sums here are instead differences of an
    exact running (cumulative) sum: ``Σ[t−k..t−1] = cum(t−1) − cum(t−k−1)``
    via two ``lag``s over the same sort — O(n) per series, same DECIMAL
    exactness, identical output (~8× faster at sf0.1, and the gap widens
    with ``trailing``).
    """
    order = [F.col(ts), F.col(tiebreak)]
    wp = Window.partitionBy(*_cols(dims)).orderBy(*order)
    w_cum = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    y = F.col(value).cast("decimal(18,2)")
    cum_x = F.sum(y).over(w_cum).cast("decimal(38,4)")
    cum_xx = F.sum(y * y).over(w_cum).cast("decimal(38,4)")
    zero = F.lit(0).cast("decimal(38,4)")
    sx = (
        F.coalesce(F.lag(cum_x, 1).over(wp), zero)
        - F.coalesce(F.lag(cum_x, trailing + 1).over(wp), zero)
    ).cast("double")
    sxx = (
        F.coalesce(F.lag(cum_xx, 1).over(wp), zero)
        - F.coalesce(F.lag(cum_xx, trailing + 1).over(wp), zero)
    ).cast("double")
    nd = float(trailing)
    mean = sx / nd
    std = F.sqrt((sxx - sx * sx / nd) / (nd - 1.0))
    z = (F.col(value) - mean) / std
    # Window columns are materialized BEFORE the full-window filter: the
    # trailing statistics of a kept row must still see the early rows the
    # filter drops (rows 1..trailing have no full exclusive window).
    return (
        df.withColumn("_rn", F.row_number().over(wp))
        .withColumn("zscore", z)
        .filter(F.col("_rn") > trailing)
        .drop("_rn")
        .withColumn("is_anomaly", F.abs(F.col("zscore")) > threshold)
    )


def missing_buckets(
    df: DataFrame,
    ts: str,
    dims: Sequence[str],
    step: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """Heartbeat/gap detector: the (bucket, series) grid cells where a
    series reported NOTHING — the reference's "day with no successful
    build → warn and skip" (O4, ``rg.py:83-84``) generalized into a
    queryable monitor ("which boards went dark last night"). ``df`` must
    already be bucketed (one row per (ts, dims) at most).

    Same distributive spine/grid as the gap fills, but the LEFT ANTI join
    emits only the absences — output is gap-sized, not grid-sized. Buckets
    before a series' FIRST report are not flagged (a newly-onboarded series
    has no heartbeat contract yet — per-series lower bound, not the global
    min); buckets after its last report up to the global max ARE flagged
    (that is the "went dark" signal this monitor exists for).
    """
    bounds = df.agg(F.min(ts).alias("lo"), F.max(ts).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr(step))).alias(ts)
    )
    # distinct + per-series onboarding time in the same small broadcast agg
    series = df.groupBy(*dims).agg(F.min(ts).alias("_series_lo"))
    grid = (
        spine.crossJoin(F.broadcast(series))
        .filter(F.col(ts) >= F.col("_series_lo"))
        .drop("_series_lo")
    )
    return grid.join(df, on=[ts, *dims], how="left_anti")


def ohlc_candles(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    unit: str = "day",
    *,
    tiebreak: str,
) -> DataFrame:
    """OHLC candles: per (series, bucket) the opening (first), high (max),
    low (min), and closing (last) value — the candlestick/stat-panel
    reduction (:func:`m4_downsample` emits the same four roles as POINT
    rows for line rendering; this emits them as COLUMNS of one row per
    bucket). Open/close ties at equal timestamps break on ``tiebreak``.

    One partial-aggregable shuffle: two ``min_by``/``max_by`` on the time
    key plus plain min/max — constant state per group.
    """
    bucket = F.date_trunc(unit, F.col(ts)).alias("bucket")
    time_key = F.struct(F.col(ts), F.col(tiebreak))
    return df.groupBy(*_cols(dims), bucket).agg(
        F.min_by(value, time_key).alias("open"),
        F.max(value).alias("high"),
        F.min(value).alias("low"),
        F.max_by(value, time_key).alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


def distinct_sketch_rollup(
    df: DataFrame,
    ts: str,
    fine_unit: str,
    coarse_unit: str,
    dims: Sequence[str],
    key: str,
) -> DataFrame:
    """The sketch-rollup scale path for distinct counts: build a
    fine-grained (e.g. daily) Apache DataSketches HLL sketch per series,
    then MERGE the sketches up to the coarse grain (e.g. weekly) instead of
    re-scanning raw data — DAU→WAU over 100 TB touches each raw row exactly
    once, and the persisted fine sketches answer any coarser window later.
    Exact distinct counts cannot roll up (|A ∪ B| ≠ |A| + |B|); sketches
    are the standard trade (±~2% at the default lgK).

    Returns one row per (coarse bucket, dims):
    ``(bucket, *dims, n_fine_buckets, distinct_estimate)``. Both
    aggregations are partial-aggregable (sketch merge is associative).
    Rows-only in the driver gate: estimates are engine-specific; the exact
    twin query carries the hash-checked semantics.
    """
    fine = df.groupBy(
        F.date_trunc(fine_unit, F.col(ts)).alias("_fine"), *_cols(dims)
    ).agg(F.hll_sketch_agg(key).alias("_sk"))
    return (
        fine.groupBy(
            F.date_trunc(coarse_unit, F.col("_fine")).alias("bucket"),
            *_cols(dims),
        )
        .agg(
            F.count(F.lit(1)).alias("n_fine_buckets"),
            F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias(
                "distinct_estimate"
            ),
        )
    )


def period_over_period(
    df: DataFrame,
    bucket: str,
    dims: Sequence[str],
    value: str,
    period: str = "INTERVAL 7 DAYS",
) -> DataFrame:
    """Grafana timeshift comparison: each (series, bucket) value next to the
    same series' value one ``period`` earlier, with absolute and relative
    change — "this week vs last week" on any already-bucketed frame.

    A self-equi-join on (dims, bucket == prev_bucket + period): both sides
    hash-partition on the same keys (no spine required, missing prior
    buckets give NULLs). Keep ``value`` DECIMAL until here for exact
    deltas; ``pct_change`` is a fixed double expression on the pair.
    """
    prev = df.select(
        *_cols(dims),
        (F.col(bucket) + F.expr(period)).alias(bucket),
        F.col(value).alias("_prev"),
    )
    cur = df.select(*_cols(dims), F.col(bucket), F.col(value))
    pv = F.col("_prev").cast("double")
    cv = F.col(value).cast("double")
    return (
        cur.join(prev, on=[*dims, bucket], how="left")
        .select(
            *_cols(dims),
            bucket,
            cv.alias(value),
            pv.alias("prev_value"),
            (cv - pv).alias("abs_change"),
            F.when(pv != 0, (cv - pv) / pv).alias("pct_change"),
        )
    )


def top_n_with_other(
    df: DataFrame,
    bucket: str,
    series: str,
    value: str,
    n: int,
    other_label: str = "Other",
) -> DataFrame:
    """Grafana "top N + Other": per bucket keep the N largest series by
    ``value`` and collapse the rest into one ``Other`` row — the legend
    stays readable while the total is preserved (Σ output = Σ input per
    bucket, asserted in tests).

    One rank window on (bucket) + one re-aggregate on (bucket, label);
    ``value`` should be DECIMAL so the Other sum is exact under any
    accumulation order. Ties at rank N break on the series name.
    """
    w = Window.partitionBy(F.col(bucket)).orderBy(
        F.desc(value), F.col(series)
    )
    labeled = df.withColumn(
        "_lbl",
        F.when(
            F.row_number().over(w) <= n, F.col(series)
        ).otherwise(F.lit(other_label)),
    )
    return (
        labeled.groupBy(F.col(bucket), F.col("_lbl").alias(series))
        .agg(F.sum(value).alias(value))
    )


def rsi(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    n: int = 14,
    *,
    tiebreak: str,
) -> DataFrame:
    """Relative Strength Index, Cutler's simple-average form (the
    InfluxQL/TA ``relative_strength_index`` transform):
    ``RSI = 100 − 100/(1 + avgGain/avgLoss)`` over the trailing ``n``
    point-to-point changes of the series; all-gain windows read 100. Only
    rows with a full ``n``-change window are emitted. (Wilder's original
    uses a recursive EMA of gains — that variant is :func:`ewma` territory;
    Cutler's is order-statistic-free and oracle-checkable.)

    Same O(n)-per-series shape as :func:`zscore_anomalies`: gains/losses
    are cast to DECIMAL and the trailing sums are differences of an exact
    running sum (two lags), never a re-summed bounded frame. One shuffle on
    ``dims``.
    """
    base = _with_trailing_gain_loss(df, dims, ts, value, n, tiebreak)
    rsi_col = F.when(F.col("_sl") == 0.0, F.lit(100.0)).otherwise(
        F.lit(100.0)
        - F.lit(100.0) / (F.lit(1.0) + F.col("_sg") / F.col("_sl"))
    )
    return base.withColumn("rsi", rsi_col).drop("_sg", "_sl")


def chande_momentum(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    n: int = 14,
    *,
    tiebreak: str,
) -> DataFrame:
    """Chande Momentum Oscillator (InfluxQL
    ``chande_momentum_oscillator``): ``100·(ΣGain − ΣLoss)/(ΣGain + ΣLoss)``
    over the trailing ``n`` changes — RSI's unbounded-smoothing sibling on
    the same trailing gain/loss sums; flat windows (both sums zero) read 0.
    Shares :func:`rsi`'s O(n)-per-series running-sum machinery.
    """
    base = _with_trailing_gain_loss(df, dims, ts, value, n, tiebreak)
    sg, sl = F.col("_sg"), F.col("_sl")
    cmo = F.when(sg + sl == 0.0, F.lit(0.0)).otherwise(
        F.lit(100.0) * (sg - sl) / (sg + sl)
    )
    return base.withColumn("cmo", cmo).drop("_sg", "_sl")


def _with_trailing_gain_loss(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    n: int,
    tiebreak: str,
) -> DataFrame:
    """Shared TA core: attach ``_sg``/``_sl`` — the trailing-``n`` sums of
    point-to-point gains and losses — as exact running-sum differences
    (O(1) per row), dropping the first ``n`` rows of each series (no full
    change window yet)."""
    order = [F.col(ts), F.col(tiebreak)]
    wp = Window.partitionBy(*_cols(dims)).orderBy(*order)
    change = F.col(value) - F.lag(value).over(wp)
    gain = F.coalesce(
        F.greatest(change, F.lit(0.0)).cast("decimal(18,6)"),
        F.lit(0).cast("decimal(18,6)"),
    )
    loss = F.coalesce(
        F.greatest(-change, F.lit(0.0)).cast("decimal(18,6)"),
        F.lit(0).cast("decimal(18,6)"),
    )
    base = df.withColumn("_g", gain).withColumn("_l", loss)
    w_cum = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    zero = F.lit(0).cast("decimal(38,6)")
    cg = F.sum("_g").over(w_cum).cast("decimal(38,6)")
    cl = F.sum("_l").over(w_cum).cast("decimal(38,6)")
    sg = (cg - F.coalesce(F.lag(cg, n).over(wp), zero)).cast("double")
    sl = (cl - F.coalesce(F.lag(cl, n).over(wp), zero)).cast("double")
    return (
        base.withColumn("_rn", F.row_number().over(wp))
        .withColumn("_sg", sg)
        .withColumn("_sl", sl)
        .filter(F.col("_rn") > n)  # n full changes require n+1 points
        .drop("_g", "_l", "_rn")
    )


def mad_anomalies(
    df: DataFrame,
    dims: Sequence[str],
    value: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-series anomaly flag via the modified z-score
    (Iglewicz–Hoaglin): ``0.6745·(x − median) / MAD`` with
    ``MAD = median(|x − median|)``. Unlike the mean/stddev z-score
    (:func:`zscore_anomalies`), a single extreme point cannot inflate the
    spread estimate and mask itself — the robust complement for fat-tailed
    series. Rows in series with ``MAD = 0`` get a NULL score (degenerate
    spread), never a division blow-up.

    Determinism: medians are order statistics (exact interpolation of two
    sorted values — no FP accumulation), so both engines agree bitwise.
    Two grouped median passes sharing the ``dims`` partitioning + two
    joins back; per-series state is the sorted value sketchless list
    (exact medians need the group's values — at dashboard tag
    cardinalities that is the right trade; switch to
    ``percentile_approx`` past that).
    """
    med = df.groupBy(*_cols(dims)).agg(F.median(value).alias("_med"))
    with_med = df.join(med, list(dims))
    mad = with_med.groupBy(*_cols(dims)).agg(
        F.median(F.abs(F.col(value) - F.col("_med"))).alias("_mad")
    )
    z = F.lit(0.6745) * (F.col(value) - F.col("_med")) / F.col("_mad")
    score = F.when(F.col("_mad") > 0, z)
    return (
        with_med.join(mad, list(dims))
        .withColumn("robust_z", score)
        .withColumn("is_anomaly", F.abs(F.col("robust_z")) > threshold)
        .drop("_med", "_mad")
    )


def sample_per_series(
    df: DataFrame,
    dims: Sequence[str],
    n: int,
    key_cols: Sequence[str],
) -> DataFrame:
    """InfluxQL ``sample(f, N)`` selector: N pseudo-random points per series,
    **deterministic** — rows are ordered by the md5 hash of their key
    columns (uniform, uncorrelated with time or value) and the first N win.
    Re-running, re-partitioning, or re-ordering the input cannot change the
    sample, which is what makes a 100 TB sampling job reproducible and
    resumable (`rand()` is neither).

    One shuffle on ``dims``; rank-then-filter is required here (the N
    winners must be whole rows), but the sort key is a cheap scalar hash.
    """
    hash_key = F.md5(
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    )
    w = Window.partitionBy(*_cols(dims)).orderBy(
        hash_key, *[F.col(c) for c in key_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def m4_downsample(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    unit: str = "day",
    *,
    tiebreak: str,
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per series and time
    bucket keep only the first, last, min-value, and max-value *points* —
    the ≤4 rows per pixel column that make a line chart render
    pixel-identical to the full series. This is how a dashboard draws a
    billion-point series: the reduction is data-volume-proportional while
    the output is bounded by buckets × dims × 4.

    Ties are broken deterministically (min roles by earliest
    ``(ts, tiebreak)``, max roles by latest); a point holding several roles
    is emitted once. Returns ``(*dims, bucket, ts, value)``.

    Scale posture: one partial-aggregable ``groupBy`` shuffle on
    (dims, bucket) — four ``min_by``/``max_by`` struct aggregates, constant
    state per group, then a row-local ``array_distinct`` + ``explode``. No
    windows, no second shuffle.
    """
    bucket = F.date_trunc(unit, F.col(ts)).alias("bucket")
    pt = F.struct(F.col(ts).alias(ts), F.col(value).alias(value))
    time_key = F.struct(F.col(ts), F.col(tiebreak))
    value_key = F.struct(F.col(value), F.col(ts), F.col(tiebreak))
    return (
        df.groupBy(*_cols(dims), bucket)
        .agg(
            F.min_by(pt, time_key).alias("_first"),
            F.max_by(pt, time_key).alias("_last"),
            F.min_by(pt, value_key).alias("_min"),
            F.max_by(pt, value_key).alias("_max"),
        )
        .select(
            *_cols(dims),
            "bucket",
            F.explode(
                F.array_distinct(
                    F.array("_first", "_min", "_max", "_last")
                )
            ).alias("_pt"),
        )
        .select(*_cols(dims), "bucket", f"_pt.{ts}", f"_pt.{value}")
    )


def distinct_tags(df: DataFrame, *cols: str) -> DataFrame:
    """G7 — Grafana template-variable values. Partial-aggregable distinct."""
    return df.select(*cols).distinct()


def annotations(
    df: DataFrame,
    ts: str,
    start: datetime | str,
    end: datetime | str,
    projection: Sequence[Column],
) -> DataFrame:
    """G6 — events-in-range with formatted title/text columns
    (reference ``rg.py:331-348`` feeds Grafana annotation tooltips)."""
    return time_range(df, ts, start, end).select(*projection)


def session_windows(
    df: DataFrame,
    ts: str,
    dims: Sequence[str],
    gap: str,
    aggs: Sequence[Column],
) -> DataFrame:
    """O6 — session windows: rows within ``gap`` of each other merge into one
    session per dims; a new session starts when the inter-event gap is ≥ gap
    (``session_window`` end is exclusive: ``last_ts + gap``).

    Built-in ``F.session_window`` → Spark's streaming-capable session
    aggregation; in batch it plans as a single shuffle on dims + per-series
    merge, and the same call works under ``withWatermark`` for streams.
    """
    sw = F.session_window(F.col(ts), gap)
    out = df.groupBy(sw, *_cols(dims)).agg(*aggs)
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *dims,
        *[c for c in out.columns if c not in ("session_window", *dims)],
    )


def sliding_window_agg(
    df: DataFrame,
    ts: str,
    duration: str,
    slide: str,
    dims: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """O6/G1 — sliding (hopping) windows: each row lands in
    duration/slide overlapping windows. ``F.window`` expands rows window-wise
    *before* the aggregation, so partial aggregation still applies — the
    shuffle carries (window, dims) keys, duration/slide × input rows.
    """
    w = F.window(F.col(ts), duration, slide)
    out = df.groupBy(w, *_cols(dims)).agg(*aggs)
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *dims,
        *[c for c in out.columns if c not in ("window", *dims)],
    )


def weekly_profile(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
) -> DataFrame:
    """Seasonal fingerprint: per (series, day-of-week, hour-of-day) the mean
    value and observation count — the weekly-rhythm baseline dashboards
    overlay on live data ("is tonight's build unusually big *for a
    Saturday*?") and anomaly detectors subtract before thresholding.

    ``dow`` is 0=Sunday…6. One partial-aggregable shuffle to at most
    |series|·168 rows; the mean divides a DECIMAL-exact sum once, so the
    profile reproduces bit-for-bit across engines and partitionings.
    """
    return (
        df.groupBy(
            *_cols(dims),
            (F.dayofweek(ts) - 1).alias("dow"),
            F.hour(ts).alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.col(value).cast("decimal(27,6)")).cast("double")
                / F.count(value)
            ).alias("mean_value"),
        )
    )


def seasonal_residual_anomalies(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Seasonality-aware anomaly detection: subtract each observation's
    weekly-profile baseline (:func:`weekly_profile` — same series, same
    day-of-week, same hour), then flag residuals beyond ``threshold``
    per-series residual standard deviations. The "unusually big FOR a
    Saturday night" detector — a plain z-score flags every weekend as
    anomalous when weekdays dominate the mean.

    Two partial-aggregable shuffles (profile, residual moments) + one
    profile join back; the profile side is |series|·168 rows — broadcast
    it. Residual stddev is computed from DECIMAL-exact Σr/Σr² so the flag
    reproduces across engines; rows from (series, dow, hour) cells with a
    single observation have residual 0 by construction and never flag.
    """
    prof = weekly_profile(df, dims=dims, ts=ts, value=value)
    keyed = df.select(
        *_cols(dims),
        F.col(ts),
        F.col(value),
        (F.dayofweek(ts) - 1).alias("dow"),
        F.hour(ts).alias("hour"),
    )
    with_base = keyed.join(
        F.broadcast(prof), [*list(dims), "dow", "hour"]
    ).withColumn("residual", F.col(value) - F.col("mean_value"))
    # DECIMAL(18,6): the squared product is (37,12) — still exact within
    # every engine's 38-digit cap (a (27,6) square would overflow 38 and
    # round engine-specifically)
    r = F.col("residual").cast("decimal(18,6)")
    moments = with_base.groupBy(*_cols(dims)).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(r).cast("double").alias("_sr"),
        F.sum(r * r).cast("double").alias("_srr"),
    )
    joined = with_base.join(F.broadcast(moments), list(dims))
    var = (F.col("_srr") - F.col("_sr") * F.col("_sr") / F.col("_n")) / F.col("_n")
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    return joined.select(
        *_cols(dims),
        ts,
        value,
        "residual",
        sd.alias("residual_sd"),
        ((F.abs(F.col("residual")) > F.lit(threshold) * sd) & (sd > 0)).alias(
            "is_anomaly"
        ),
    )


def level_shift(
    df: DataFrame,
    dims: Sequence[str],
    ts: str = "ts",
    value: str = "value",
    w: int = 6,
    k: int = 5,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Changepoint candidates by adjacent-window mean contrast: at every
    point with ``w`` full observations on each side, compare the mean of
    the ``w`` rows strictly BEFORE with the mean of the ``w`` rows FROM
    the point on, and keep the top-``k`` largest absolute level shifts
    per series — the threshold-free form of CUSUM-style level-change
    detection (a fixed cutoff would be data-dependent; ranked contrasts
    are stable across scales and bench runs).

    Plan: the two frame sums, the head guard (row_number) and the TAIL
    guard all ride ONE ordered window partitioning — the tail guard is the
    right-frame ROW COUNT (`count over [0, w-1] = w`), not a
    count-over-the-whole-partition window, which would materialize every
    series twice (measured ~2× the frame-sum cost on a hot series).  The
    top-k rank is salted: a pre-cut row_number inside each of 64
    (series, salt) slices keeps only slice-local top-k (WindowGroupLimit,
    parallel even when ONE series holds the whole table), and the final
    exact rank sorts the ≤ 64·k survivors per series.  Pruning is lossless
    — a row outside its slice's top-k is outside the global top-k.  Frame
    sums are DECIMAL-carried so both engines' sliding accumulators agree
    bit-for-bit.

    Output: ``dims + (ts, tiebreak, left_mean, right_mean, shift, rank)``.
    """
    if w < 1 or k < 1:
        raise ValueError("need w >= 1 and k >= 1")
    dv = F.col(value).cast("decimal(28,6)")
    base = Window.partitionBy(*dims).orderBy(ts, tiebreak)
    left = (
        F.sum(dv).over(base.rowsBetween(-w, -1)).cast("double") / w
    )
    right = (
        F.sum(dv).over(base.rowsBetween(0, w - 1)).cast("double") / w
    )
    staged = df.select(
        *dims,
        F.col(ts),
        F.col(tiebreak),
        left.alias("left_mean"),
        right.alias("right_mean"),
        F.row_number().over(base).alias("_rn"),
        F.count(F.lit(1)).over(base.rowsBetween(0, w - 1)).alias("_rc"),
    ).where((F.col("_rn") > w) & (F.col("_rc") == w))
    shift = F.col("right_mean") - F.col("left_mean")
    order = [F.abs(F.col("shift")).desc(), F.col(ts).asc(),
             F.col(tiebreak).asc()]
    salt_w = Window.partitionBy(*dims, "_salt").orderBy(*order)
    rank_w = Window.partitionBy(*dims).orderBy(*order)
    return (
        staged.withColumn("shift", shift)
        .withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(ts), F.col(tiebreak)), F.lit(64))
        )
        .withColumn("_r1", F.row_number().over(salt_w))
        .where(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
        .drop("_rn", "_rc", "_salt", "_r1")
    )


def autocorrelation(
    df: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    max_lag: int,
    tiebreak: str,
) -> DataFrame:
    """Per-series autocorrelation function at lags 1..max_lag — the
    seasonality/memory detector read before choosing a Holt-Winters
    season length or a gap-fill horizon (a daily cycle shows as a spike
    at the daily lag; white noise shows nothing):

        r_k = Σ_{t>k} (x_t − x̄)(x_{t−k} − x̄)  /  Σ_t (x_t − x̄)²

    (the standard biased estimator — the denominator is the FULL-series
    sum of squares, so |r_k| ≤ 1 and r decays with lag by construction).

    Determinism: x̄ comes from an exact decimal sum; each centered
    product quantizes to ``decimal(28,12)`` before its sum.  All
    max_lag lags ride ONE per-series window sort (k ``lag`` columns over
    the same ordering — one Exchange, one sort); the k numerators and
    the shared denominator reduce in one aggregate.  Rows with NULL
    value are excluded before ordering (ACF over the observed sequence).

    Output: one row per (series, lag) — ``(*dims, lag int,
    n_pairs bigint, acf double)``; NULL acf for a constant series
    (zero variance) via ``try_divide``.
    """
    if max_lag < 1:
        raise ValueError("need max_lag >= 1")
    dec = "decimal(28,12)"
    order = [F.col(ts), F.col(tiebreak)]
    w = Window.partitionBy(*_cols(dims)).orderBy(*order)
    w_all = Window.partitionBy(*_cols(dims))
    base = df.filter(F.col(value).isNotNull())
    mean = (
        F.sum(F.col(value).cast("decimal(28,6)")).over(w_all).cast("double")
        / F.count(F.lit(1)).over(w_all).cast("double")
    )
    xc = (F.col(value).cast("double") - mean)
    lagged = base.select(
        *_cols(dims),
        *order,
        xc.alias("_xc"),
        *[F.lag(xc, k).over(w).alias(f"_l{k}") for k in range(1, max_lag + 1)],
    )
    aggs = [
        F.sum((F.col("_xc") * F.col("_xc")).cast(dec)).alias("_den"),
    ]
    for k in range(1, max_lag + 1):
        aggs.append(
            F.sum((F.col("_xc") * F.col(f"_l{k}")).cast(dec)).alias(
                f"_num{k}"
            )
        )
        aggs.append(F.count(F.col(f"_l{k}")).alias(f"_n{k}"))
    agg = lagged.groupBy(*_cols(dims)).agg(*aggs)
    rows = [
        F.struct(
            F.lit(k).alias("lag"),
            F.col(f"_n{k}").alias("n_pairs"),
            F.round(
                F.try_divide(
                    F.col(f"_num{k}").cast("double"),
                    F.col("_den").cast("double"),
                ),
                9,
            ).alias("acf"),
        )
        for k in range(1, max_lag + 1)
    ]
    return agg.select(
        *_cols(dims), F.explode(F.array(*rows)).alias("_r")
    ).select(*_cols(dims), "_r.*")


def cross_correlation(
    series: DataFrame,
    ts: str,
    value_a: str,
    value_b: str,
    max_lag: int,
) -> DataFrame:
    """Cross-correlation between two aligned series at lags −k..k — the
    lead/lag screen ("do deploys move error rates, and how many hours
    later?") run on two BUCKET-AGGREGATED series sharing a time axis:

        ccf(L) = Σ_t (a_t − ā)(b_{t+L} − b̄)
                 / sqrt(Σ(a−ā)² · Σ(b−b̄)²)

    (full-series means and denominators, the :func:`autocorrelation`
    convention — |ccf| ≤ 1, positive L means "b follows a by L
    buckets").  Input is one row per bucket with both values (build it
    with a bucketed aggregate + join); rows with either value NULL are
    dropped first, and lags step over the OBSERVED ordered axis.

    Scale: the input is the bucket axis — hours-in-range rows, never
    fact-sized, however large the corpus that produced it; all 2k+1
    lags ride one ordered window (lead for the future side).  Products
    quantize to ``decimal(28,12)``.

    Output: ``(lag int, n_pairs bigint, ccf double)``; NULL ccf when
    either series is constant (``try_divide``).
    """
    if max_lag < 1:
        raise ValueError("need max_lag >= 1")
    dec = "decimal(28,12)"
    base = series.filter(
        F.col(value_a).isNotNull() & F.col(value_b).isNotNull()
    )
    w_all = Window.partitionBy()
    w = Window.orderBy(ts)

    def centered(col: str) -> "F.Column":
        mean = (
            F.sum(F.col(col).cast("decimal(28,6)")).over(w_all)
            .cast("double")
            / F.count(F.lit(1)).over(w_all).cast("double")
        )
        return F.col(col).cast("double") - mean

    ac, bc = centered(value_a), centered(value_b)
    cols = [ac.alias("_a"), bc.alias("_b")]
    for k in range(1, max_lag + 1):
        cols.append(F.lead(bc, k).over(w).alias(f"_bp{k}"))
        cols.append(F.lag(bc, k).over(w).alias(f"_bm{k}"))
    lagged = base.select(F.col(ts), *cols)
    aggs = [
        F.sum((F.col("_a") * F.col("_a")).cast(dec)).alias("_da"),
        F.sum((F.col("_b") * F.col("_b")).cast(dec)).alias("_db"),
        F.sum((F.col("_a") * F.col("_b")).cast(dec)).alias("_n0"),
        F.count("_b").alias("_c0"),
    ]
    for k in range(1, max_lag + 1):
        for sign, c in (("p", f"_bp{k}"), ("m", f"_bm{k}")):
            aggs.append(
                F.sum((F.col("_a") * F.col(c)).cast(dec)).alias(
                    f"_n{sign}{k}"
                )
            )
            aggs.append(F.count(F.col(c)).alias(f"_c{sign}{k}"))
    agg = lagged.agg(*aggs)
    den = F.sqrt(F.col("_da").cast("double") * F.col("_db").cast("double"))
    rows = []
    for lag in range(-max_lag, max_lag + 1):
        if lag == 0:
            num, cnt = "_n0", "_c0"
        elif lag > 0:
            num, cnt = f"_np{lag}", f"_cp{lag}"
        else:
            num, cnt = f"_nm{-lag}", f"_cm{-lag}"
        rows.append(
            F.struct(
                F.lit(lag).alias("lag"),
                F.col(cnt).alias("n_pairs"),
                F.round(
                    F.try_divide(F.col(num).cast("double"), den), 9
                ).alias("ccf"),
            )
        )
    return agg.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def seasonal_decompose(
    series: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    period: int,
) -> DataFrame:
    """Classical additive seasonal decomposition of a bucket-aggregated
    series: ``value = trend + seasonal + resid`` — the "is the weekly
    shape stable and what's left over" view behind
    ``ts_seasonal_anomalies`` (that one flags residual outliers; this
    returns the full decomposition a dashboard plots):

    - ``trend``: centered (period+1)-point simple moving average,
      emitted only where the window is FULL (NULL at the first/last
      period/2 buckets — no edge extrapolation);
    - ``seasonal``: per season-index mean of the detrended series,
      re-centered so the seasonal component sums to ~0 over one period;
    - ``resid``: ``value − trend − seasonal`` (NULL where trend is).

    The season index is ``(row position − 1) mod period`` over each
    series' observed ordered buckets — build the input with a gap-filled
    bucket aggregate so positions are calendar-aligned.

    Determinism: frame sums and the two seasonal means ride exact
    decimals; per-row subtraction is IEEE.  Scale: the input is the
    bucket axis (never fact-sized); one window sort per series plus two
    season-index aggregates of ≤ |series|·period rows.

    Output: input columns plus ``(season_idx int, trend double,
    seasonal double, resid double)``.
    """
    if period < 2:
        raise ValueError("need period >= 2")
    half = period // 2
    dec = "decimal(28,6)"
    w = Window.partitionBy(*_cols(dims)).orderBy(ts)
    w_frame = w.rowsBetween(-half, half)
    trend = F.when(
        F.count(F.lit(1)).over(w_frame) == 2 * half + 1,
        F.sum(F.col(value).cast(dec)).over(w_frame).cast("double")
        / F.lit(float(2 * half + 1)),
    )
    sidx = ((F.row_number().over(w) - 1) % period).cast("int")
    with_trend = series.select(
        "*", sidx.alias("season_idx"), trend.alias("trend")
    )
    detr = (F.col(value).cast("double") - F.col("trend")).cast(
        "decimal(28,12)"
    )
    smap = (
        with_trend.filter(F.col("trend").isNotNull())
        .groupBy(*_cols(dims), "season_idx")
        .agg(
            (
                F.sum(detr).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("_s_raw")
        )
    )
    w_dim = Window.partitionBy(*_cols(dims))
    smap = smap.withColumn(
        "seasonal",
        F.round(
            F.col("_s_raw")
            - F.sum(F.col("_s_raw").cast("decimal(28,12)")).over(w_dim)
            .cast("double")
            / F.count(F.lit(1)).over(w_dim).cast("double"),
            9,
        ),
    ).drop("_s_raw")
    out = with_trend.join(
        F.broadcast(smap), [*list(dims), "season_idx"], "left"
    )
    return out.select(
        *series.columns,
        "season_idx",
        F.round(F.col("trend"), 9).alias("trend"),
        "seasonal",
        F.round(
            F.col(value).cast("double") - F.col("trend") - F.col("seasonal"),
            9,
        ).alias("resid"),
    )


def mann_kendall_trend(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Mann–Kendall monotonic-trend test per series — the non-parametric
    companion to :func:`trend_fit`'s least-squares slope: MK asks only
    "do later buckets tend to exceed earlier ones", so one spike can't
    buy a trend and no linearity is assumed (the robustness a metric
    drift alarm needs).

        S = Σ_{i<j} sign(x_j − x_i)      over the bucketed series
        Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18   (tie-corrected)
        Z = (S ∓ 1) / sqrt(Var)           (continuity-corrected)

    The raw values first reduce to per-bucket decimal MEANS (one
    corpus-sized partial-aggregable groupBy); the O(n²) pair sum runs on
    the BUCKET axis via a per-series self-join — n is days-per-series,
    bounded and tiny, never fact-sized.  Integer arithmetic end-to-end
    (S, the tie counts, and both variance polynomials are exact ints);
    the single division and sqrt happen once per series.

    Output: one row per series — ``(*dims, n_buckets bigint, s bigint,
    var_s double, z double, trend string)`` with trend ∈ {'increasing',
    'decreasing', 'no_trend'} at the two-sided ``z_crit`` level (NULL z
    for n < 2 or all-tied series → 'no_trend').
    """
    gcols = list(dims)
    buckets = _bucket_means(df, ts, value, gcols, unit)
    a = buckets.select(
        *gcols, F.col("_b").alias("_ba"), F.col("_m").alias("_ma")
    )
    b = buckets.select(
        *gcols, F.col("_b").alias("_bb"), F.col("_m").alias("_mb")
    )
    pairs = a.join(b, gcols) if gcols else a.crossJoin(b)
    pairs = pairs.filter(F.col("_ba") < F.col("_bb"))
    s_agg = pairs.groupBy(*gcols).agg(
        F.sum(
            F.signum(
                F.col("_mb").cast("double") - F.col("_ma").cast("double")
            ).cast("long")
        ).alias("s")
    )
    ties = (
        buckets.groupBy(*gcols, "_m")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(*gcols)
        .agg(
            F.sum("_t").alias("n_buckets"),
            F.sum(
                F.col("_t")
                * (F.col("_t") - 1)
                * (F.lit(2) * F.col("_t") + 5)
            ).alias("_tie_poly"),
        )
    )
    joined = (
        s_agg.join(ties, gcols)
        if gcols
        else s_agg.crossJoin(F.broadcast(ties))
    )
    n = F.col("n_buckets")
    var_s = (
        (n * (n - 1) * (F.lit(2) * n + 5) - F.col("_tie_poly")).cast(
            "double"
        )
        / F.lit(18.0)
    )
    sgn = F.col("s").cast("double")
    z = F.when(
        (n >= 2) & (var_s > 0),
        (sgn - F.signum(sgn)) / F.sqrt(var_s),
    )
    return joined.select(
        *gcols,
        n.cast("long").alias("n_buckets"),
        F.col("s").cast("long").alias("s"),
        F.round(var_s, 9).alias("var_s"),
        F.round(z, 9).alias("z"),
        F.when(z > F.lit(z_crit), F.lit("increasing"))
        .when(z < F.lit(-z_crit), F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


def seasonal_strength(
    series: DataFrame,
    dims: Sequence[str],
    ts: str,
    value: str,
    period: int,
) -> DataFrame:
    """Trend and seasonal STRENGTH per series (the Hyndman feature pair
    over :func:`seasonal_decompose`'s components) — the one-row-per-
    series answer to "is this metric actually seasonal, and how much of
    it is trend", read before choosing between Holt (trend-only),
    Holt-Winters (seasonal), or a flat threshold:

        F_T = max(0, 1 − Var(resid) / Var(trend + resid))
        F_S = max(0, 1 − Var(resid) / Var(seasonal + resid))

    both in [0, 1]: ~0 = the component explains nothing beyond noise,
    →1 = the series IS that component.  Variances are population
    variances over the FULL-TREND-WINDOW buckets only (the decomposition
    leaves trend NULL at the edges; comparing variances on different
    supports would bias the ratio).

    Exactness/plan: the decomposition's windows run per series over the
    bucket axis; this adds ONE per-series aggregate of decimal-quantized
    moments — exact-moment variances, single division each, NULL via
    ``try_divide`` when a series has no full-window bucket.

    Output: one row per series — ``(*dims, n_buckets bigint,
    trend_strength double, seasonal_strength double)``.
    """
    dec = "decimal(28,12)"
    d = seasonal_decompose(series, dims, ts, value, period).filter(
        F.col("trend").isNotNull()
    )
    r = F.col("resid")
    deseas = F.col("trend") + F.col("resid")
    detr = F.col("seasonal") + F.col("resid")

    def moms(x, tag):
        return [
            F.sum(x.cast(dec)).alias(f"_s{tag}"),
            F.sum((x * x).cast(dec)).alias(f"_q{tag}"),
        ]

    agg = d.groupBy(*_cols(dims)).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        *moms(r, "r"),
        *moms(deseas, "d"),
        *moms(detr, "t"),
    )
    n = F.col("n_buckets").cast("double")

    def var(tag):
        s = F.col(f"_s{tag}").cast("double")
        q = F.col(f"_q{tag}").cast("double")
        return (n * q - s * s) / (n * n)

    f_t = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.try_divide(var("r"), var("d"))
    )
    f_s = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.try_divide(var("r"), var("t"))
    )
    return agg.select(
        *_cols(dims),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.round(f_t, 9).alias("trend_strength"),
        F.round(f_s, 9).alias("seasonal_strength"),
    )


def theil_sen_slope(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
) -> DataFrame:
    """Theil–Sen slope per series — the MAGNITUDE companion to
    :func:`mann_kendall_trend`'s direction verdict: the median of all
    pairwise bucket-to-bucket slopes, robust to ~29% outliers where
    :func:`trend_fit`'s least-squares line chases every spike (MK says
    "it's rising", Theil–Sen says "by this much per day", least squares
    says whatever the worst day made it say).

    Slopes are ``(mean_j − mean_i) / Δbuckets`` (the exact
    unix-timestamp delta in *unit* lengths; fixed-length units only —
    month/year raise) over the bucketed series
    (one partial-aggregable reduction of the facts); the O(n²) pair set
    lives on the BUCKET axis (days per series), and the median is the
    LOWER weighted median via cumulative counts over the distinct-slope
    axis — pure integer comparisons, the same engine-stable rule as
    :func:`~..operators.evaluation.bootstrap_median_ci` (no midpoint
    averaging).

    Output: one row per series — ``(*dims, n_buckets bigint, n_pairs
    bigint, sen_slope double)``; a single-bucket series has no pairs and
    is absent.
    """
    gcols = list(dims)
    # Slope denominators are computed in BUCKET units via the exact
    # unix-timestamp difference (session TZ is pinned UTC, so bucket
    # deltas are exact multiples of the unit length).  datediff() would
    # floor to whole days: with unit='hour' same-day pairs divide by
    # zero (NULL, silently dropped) and the survivors mis-scale.
    # Variable-length units (month/year) have no fixed second count and
    # are rejected rather than mis-scaled.
    _unit_seconds = {
        "day": 86400,
        "hour": 3600,
        "minute": 60,
        "week": 604800,
    }
    if unit not in _unit_seconds:
        raise ValueError(
            f"theil_sen_slope: unit={unit!r} has no fixed length; "
            "use one of " + ", ".join(sorted(_unit_seconds))
        )
    unit_sec = _unit_seconds[unit]
    buckets = _bucket_means(df, ts, value, gcols, unit)
    nb = buckets.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_buckets")
    )
    a = buckets.select(
        *gcols, F.col("_b").alias("_ba"), F.col("_m").alias("_ma")
    )
    b = buckets.select(
        *gcols, F.col("_b").alias("_bb"), F.col("_m").alias("_mb")
    )
    pairs = (a.join(b, gcols) if gcols else a.crossJoin(b)).filter(
        F.col("_ba") < F.col("_bb")
    )
    slope = F.round(
        (F.col("_mb").cast("double") - F.col("_ma").cast("double"))
        / (
            (
                F.unix_timestamp("_bb") - F.unix_timestamp("_ba")
            ).cast("double")
            / F.lit(float(unit_sec))
        ),
        9,
    )
    counts = pairs.select(*gcols, slope.alias("_s")).groupBy(
        *gcols, "_s"
    ).agg(F.count(F.lit(1)).alias("_n"))
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*gcols)
    c = counts.withColumn("_cum", F.sum("_n").over(w_cum)).withColumn(
        "_tot", F.sum("_n").over(w_tot)
    )
    med = (
        c.filter(F.lit(2) * F.col("_cum") >= F.col("_tot"))
        .groupBy(*gcols)
        .agg(
            F.max("_tot").cast("long").alias("n_pairs"),
            F.min("_s").alias("sen_slope"),
        )
    )
    joined = med.join(nb, gcols) if gcols else med.crossJoin(nb)
    return joined.select(
        *gcols,
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "n_pairs",
        "sen_slope",
    )


def cusum_changepoint(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
    b: int = 100,
    alpha: float = 0.05,
) -> DataFrame:
    """CUSUM mean-shift changepoint per series — WHERE a level change
    happened and whether it is real, the single-break complement to
    :func:`mann_kendall_trend`'s gradual-trend verdict (a step change
    reads as "trend" to MK; CUSUM localizes it to a bucket and sizes the
    before/after means).

    Taylor's change-in-mean form over the bucketed series: with
    per-bucket means x₁..xₙ and grand mean μ, the cumulative deviations
    Sᵢ = Σ_{k≤i}(xₖ − μ) peak at the break; the estimator is argmax|Sᵢ|
    (earliest bucket on ties) and the statistic is the range
    max(S) − min(S).  Significance is a deterministic permutation test:
    each replicate re-orders the SAME bucket values by the md5 of
    (series, bucket, replicate) — under H0 the order is arbitrary — and
    ``p = (1 + #{range_r ≥ range_obs}) / (b + 1)``.

    Exactness: bucket means are decimal(28,6)-quantized; deviations are
    scaled integer-side via Tᵢ = n·cumᵢ − i·total over the means ×10⁶
    (one multiply kills the division — Sᵢ = Tᵢ/(n·10⁶)), so cumulative
    sums, the argmax, the range, and every permutation tail comparison
    are exact int64 — no float in any comparison.  The corpus reduces
    once (partial-aggregable groupBy); the windows, the ×b explode, and
    the permutation re-orderings all live on the BUCKET axis
    (days-per-series × replicates, never fact-sized).

    Output: one row per series with ≥2 buckets — ``(*dims, n_buckets
    bigint, cp_bucket timestamp, cusum_range double, mean_before double,
    mean_after double, shift double, n_ge bigint, p_value double,
    significant boolean)``; the break splits buckets 1..m | m+1..n at
    m = argmax|S|.
    """
    if b < 1:
        raise ValueError("need b >= 1 replicates")
    gcols = list(dims)
    buckets = (
        _bucket_means(df, ts, value, gcols, unit)
        # ×10⁶ onto the integer axis: decimal(28,6) → exact int64
        .withColumn(
            "_m6", (F.col("_m") * F.lit(1000000)).cast("long")
        )
        .drop("_m")
    )
    w_tot = Window.partitionBy(*gcols)
    n = F.count(F.lit(1)).over(w_tot)
    tot = F.sum("_m6").over(w_tot)
    w_ord = (
        Window.partitionBy(*gcols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("_m6").over(w_ord)
    i = F.count(F.lit(1)).over(w_ord)
    dev = buckets.select(
        *gcols,
        "_b",
        "_m6",
        n.alias("_n"),
        tot.alias("_tot"),
        cum.alias("_cum"),
        i.alias("_i"),
        (n * cum - i * tot).alias("_t6"),
    ).filter(F.col("_n") >= 2)
    # observed: range of T and the argmax|T| bucket (earliest on ties)
    w_pick = Window.partitionBy(*gcols).orderBy(
        F.abs(F.col("_t6")).desc(), F.col("_b").asc()
    )
    obs = (
        dev.withColumn("_rk", F.row_number().over(w_pick))
        .withColumn("_tmax", F.max("_t6").over(w_tot))
        .withColumn("_tmin", F.min("_t6").over(w_tot))
        .filter(F.col("_rk") == 1)
        .select(
            *gcols,
            F.col("_n").alias("n_buckets"),
            F.col("_b").alias("cp_bucket"),
            (F.col("_tmax") - F.col("_tmin")).alias("_range6"),
            F.col("_cum").alias("_cum_cp"),
            F.col("_i").alias("_i_cp"),
            F.col("_tot").alias("_tot6"),
        )
    )
    # permutations: same values, md5-shuffled bucket order per replicate
    rep = dev.select(
        *gcols,
        "_b",
        "_m6",
        "_n",
        "_tot",
        F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_r"),
    )
    hkey = F.md5(
        F.concat_ws(
            "\x1f",
            *[F.col(g).cast("string") for g in gcols],
            F.date_format("_b", "yyyy-MM-dd HH:mm:ss"),
            F.col("_r").cast("string"),
        )
    )
    w_perm = (
        Window.partitionBy(*gcols, "_r")
        .orderBy(hkey)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pdev = rep.select(
        *gcols,
        "_r",
        (
            F.col("_n") * F.sum("_m6").over(w_perm)
            - F.count(F.lit(1)).over(w_perm) * F.col("_tot")
        ).alias("_pt6"),
    )
    ranges = pdev.groupBy(*gcols, "_r").agg(
        (F.max("_pt6") - F.min("_pt6")).alias("_pr6")
    )
    joined = ranges.join(
        obs.select(*gcols, "_range6"),
        gcols,
    ) if gcols else ranges.crossJoin(
        F.broadcast(obs.select("_range6"))
    )
    tail = joined.groupBy(*gcols).agg(
        F.sum(
            F.when(F.col("_pr6") >= F.col("_range6"), 1).otherwise(0)
        ).alias("n_ge")
    )
    out = obs.join(tail, gcols) if gcols else obs.crossJoin(
        F.broadcast(tail)
    )
    scale = F.col("n_buckets").cast("double") * F.lit(1000000.0)
    mean_b = F.col("_cum_cp").cast("double") / (
        F.col("_i_cp").cast("double") * F.lit(1000000.0)
    )
    mean_a = F.try_divide(
        (F.col("_tot6") - F.col("_cum_cp")).cast("double"),
        (F.col("n_buckets") - F.col("_i_cp")).cast("double")
        * F.lit(1000000.0),
    )
    p = (F.lit(1) + F.col("n_ge")).cast("double") / F.lit(float(b + 1))
    return out.select(
        *gcols,
        F.col("n_buckets").cast("long").alias("n_buckets"),
        "cp_bucket",
        F.round(F.col("_range6").cast("double") / scale, 9).alias(
            "cusum_range"
        ),
        F.round(mean_b, 9).alias("mean_before"),
        F.round(mean_a, 9).alias("mean_after"),
        F.round(mean_a - mean_b, 9).alias("shift"),
        F.col("n_ge").cast("long").alias("n_ge"),
        F.round(p, 9).alias("p_value"),
        (p <= F.lit(alpha)).alias("significant"),
    )


def forecast_backtest(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
    period: int = 7,
    holdout: int = 7,
) -> DataFrame:
    """Holdout backtest of the two zero-parameter forecasters — the
    measurement that makes :func:`holt_forecast` / Holt–Winters
    adoption a DECISION: a model that can't beat naive (carry the last
    value forward) or seasonal-naive (carry last ``period``'s value)
    on held-out buckets isn't earning its state.

    The last ``holdout`` buckets per series are the test window; the
    rest train.  Per (series, method):

        MAE, RMSE, MAPE (zero-actual test buckets excluded, counted)
        MASE = MAE / mean|xᵢ − xᵢ₋₁| over the TRAIN window

    MASE < 1 beats in-sample naive — the scale-free cross-series
    number.  Seasonal-naive forecasts are ``lag(period)`` actuals; keep
    ``holdout ≤ period`` so every seasonal forecast reads a TRAIN
    bucket (a longer holdout would peek at test actuals — documented,
    not hidden).

    Exactness: bucket means are decimal(28,6); errors are exact decimal
    differences; |e| sums ride decimal, e² and |e|/|actual| quantize to
    decimal(28,12) before their sums (squares/ratios in double first —
    never decimal×decimal).  One corpus reduction; windows and both
    metric aggregates run on the bucket axis per series.

    Output: one row per (series, method ∈ {'naive','seasonal_naive'})
    with ≥1 scorable test bucket — ``(*dims, method string, h bigint,
    n_mape bigint, mae double, rmse double, mape double, mase
    double)``; seasonal rows need a full lag, NULL-lag test buckets
    are excluded from that method's h.
    """
    gcols = list(dims)
    dec12 = "decimal(28,12)"
    buckets = _bucket_means(df, ts, value, gcols, unit)
    w_ord = Window.partitionBy(*gcols).orderBy("_b")
    w_all = Window.partitionBy(*gcols)
    rows = buckets.select(
        *gcols,
        "_m",
        F.row_number().over(w_ord).alias("_i"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.lag("_m", 1).over(w_ord).alias("_lag1"),
        F.lag("_m", period).over(w_ord).alias("_lagp"),
    ).withColumn("_cut", F.col("_n") - F.lit(holdout))
    train = F.col("_i") <= F.col("_cut")
    test = F.col("_i") > F.col("_cut")
    # train-window stats: in-sample one-step naive MAE (MASE
    # denominator) and the last train value (the naive forecast)
    tr = rows.filter(F.col("_cut") >= 1).groupBy(*gcols).agg(
        F.sum(
            F.when(train, F.abs(F.col("_m") - F.col("_lag1")))
        ).alias("_sd"),
        F.sum(
            F.when(train & F.col("_lag1").isNotNull(), 1).otherwise(0)
        ).alias("_nd"),
        F.max_by("_m", F.when(train, F.col("_i"))).alias("_last"),
    )
    te = rows.filter(test).select(*gcols, "_m", "_lagp")
    joined = te.join(tr, gcols) if gcols else te.crossJoin(
        F.broadcast(tr)
    )

    def metrics(fc, method):
        e = F.col("_m") - fc
        scorable = fc.isNotNull()
        ape = F.when(
            scorable & (F.col("_m") != 0),
            (
                F.abs(e).cast("double")
                / F.abs(F.col("_m").cast("double"))
            ).cast(dec12),
        )
        agg = joined.groupBy(*gcols).agg(
            F.sum(F.when(scorable, 1).otherwise(0)).alias("_h"),
            F.sum(F.when(scorable, F.abs(e))).alias("_sae"),
            F.sum(
                F.when(
                    scorable,
                    (
                        e.cast("double") * e.cast("double")
                    ).cast(dec12),
                )
            ).alias("_sse"),
            F.count(ape).alias("_nape"),
            F.sum(ape).alias("_sape"),
            F.first("_sd").alias("_sd"),
            F.first("_nd").alias("_nd"),
        )
        h = F.col("_h").cast("double")
        mae = F.try_divide(F.col("_sae").cast("double"), h)
        insample = F.try_divide(
            F.col("_sd").cast("double"), F.col("_nd").cast("double")
        )
        return agg.filter(F.col("_h") >= 1).select(
            *gcols,
            F.lit(method).alias("method"),
            F.col("_h").cast("long").alias("h"),
            F.col("_nape").cast("long").alias("n_mape"),
            F.round(mae, 9).alias("mae"),
            F.round(
                F.sqrt(F.try_divide(F.col("_sse").cast("double"), h)),
                9,
            ).alias("rmse"),
            F.round(
                F.try_divide(
                    F.col("_sape").cast("double"),
                    F.col("_nape").cast("double"),
                ),
                9,
            ).alias("mape"),
            F.round(F.try_divide(mae, insample), 9).alias("mase"),
        )

    return metrics(F.col("_last"), "naive").unionByName(
        metrics(F.col("_lagp"), "seasonal_naive")
    )


def dominant_period(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "hour",
    max_period: int = 48,
    top_k: int = 3,
) -> DataFrame:
    """Dominant-period detection per series — the periodogram scan that
    tells :func:`seasonal_decompose` / Holt–Winters WHICH period to use
    instead of assuming one (feeding period=24 to a weekly-cycled metric
    silently halves the seasonal strength; this measures it):

        power(p) = (Σᵢ dᵢ·cos(2πi/p))² + (Σᵢ dᵢ·sin(2πi/p))²

    over mean-centered bucket values d at every candidate period
    p ∈ [2, max_period], reporting the ``top_k`` strongest periods
    with power normalized by n² (so a full-amplitude sinusoid scores
    amplitude²/4 regardless of length).

    The corpus reduces once to per-bucket means; the projection grid is
    buckets × candidate periods — BUCKET-AXIS work (days/hours per
    series × P, never fact-sized).  Per-term products quantize to
    decimal(28,12) before the per-period sums (order-independence; the
    trig calls follow the same cross-engine libm discipline as the
    ln/exp queries), and the top-k rank orders by (rounded power desc,
    period asc) so the pick is deterministic.

    Output: ``(*dims, period bigint, power double, rank bigint)``,
    ``top_k`` rows per series with ≥ 4 buckets.
    """
    if max_period < 2:
        raise ValueError("need max_period >= 2")
    gcols = list(dims)
    dec12 = "decimal(28,12)"
    tau = 6.283185307179586
    buckets = _bucket_means(df, ts, value, gcols, unit)
    w_all = Window.partitionBy(*gcols)
    w_ord = Window.partitionBy(*gcols).orderBy("_b")
    idx = buckets.select(
        *gcols,
        F.row_number().over(w_ord).alias("_i"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        (
            F.col("_m").cast("double")
            - F.sum("_m").over(w_all).cast("double")
            / F.count(F.lit(1)).over(w_all).cast("double")
        ).alias("_d"),
    ).filter(F.col("_n") >= 4)
    grid = idx.select(
        *gcols,
        "_i",
        "_n",
        "_d",
        F.explode(
            F.sequence(F.lit(2), F.lit(max_period))
        ).alias("_p"),
    )
    ang = (
        F.lit(tau)
        * F.col("_i").cast("double")
        / F.col("_p").cast("double")
    )
    per = grid.groupBy(*gcols, "_p").agg(
        F.sum((F.col("_d") * F.cos(ang)).cast(dec12)).alias("_c"),
        F.sum((F.col("_d") * F.sin(ang)).cast(dec12)).alias("_s"),
        F.max("_n").alias("_n"),
    )
    power = F.round(
        (
            F.col("_c").cast("double") * F.col("_c").cast("double")
            + F.col("_s").cast("double") * F.col("_s").cast("double")
        )
        / (F.col("_n").cast("double") * F.col("_n").cast("double")),
        9,
    )
    w_rank = Window.partitionBy(*gcols).orderBy(
        power.desc(), F.col("_p").asc()
    )
    return (
        per.withColumn("_pw", power)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top_k)
        .select(
            *gcols,
            F.col("_p").cast("long").alias("period"),
            F.col("_pw").alias("power"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def rolling_correlation(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    series_col: str = "event_type",
    series_a: str = "",
    series_b: str = "",
    unit: str = "day",
    window: int = 7,
) -> DataFrame:
    """Rolling Pearson correlation between two series — the
    time-resolved companion to :func:`cross_correlation`'s one global
    number: two metrics that track each other all quarter and decouple
    last Tuesday have a global CCF near 1 and a STORY at the rolling
    dip (the incident window a dashboard wants to show).

    Both series reduce to per-bucket decimal means in ONE pivoted
    groupBy; buckets where both exist enter trailing-``window`` rolling
    sums (n, Σx, Σy, Σxy, Σx², Σy²), and

        r_t = (nΣxy − ΣxΣy) / √((nΣx²−(Σx)²)(nΣy²−(Σy)²))

    over full windows only.  Determinism: per-term products quantize to
    decimal(28,12) before the rolling sums (exact), each rolling sum is
    ``round(·, 6)``-ed in decimal (half-up in BOTH engines — a
    decimal→decimal cast downscale truncates in DuckDB) and converts to
    double exactly (unscaled < 2⁵³); all further arithmetic is IEEE
    double over identical inputs, hence engine-identical.  The rolling
    windows run ordered on the single merged bucket axis —
    days-per-span sized, never fact-sized.

    Output: ``(bucket timestamp, n_window bigint, corr double)`` for
    every full window; zero-variance windows carry NULL corr.
    """
    if not series_a or not series_b or series_a == series_b:
        raise ValueError("need two distinct series names")
    if window < 2:
        raise ValueError("need window >= 2")
    dec6 = "decimal(28,6)"
    dec12 = "decimal(28,12)"
    keep = (
        F.col(ts).isNotNull()
        & F.col(value).isNotNull()
        & F.col(series_col).isin(series_a, series_b)
    )
    mean = (
        F.sum(F.col(value).cast(dec6)).cast("double")
        / F.count(F.lit(1)).cast("double")
    ).cast(dec6)
    piv = (
        df.filter(keep)
        .groupBy(
            F.date_trunc(unit, F.col(ts)).alias("_b"),
            F.col(series_col).alias("_s"),
        )
        .agg(mean.alias("_m"))
        .groupBy("_b")
        .agg(
            F.max(F.when(F.col("_s") == series_a, F.col("_m"))).alias(
                "_x"
            ),
            F.max(F.when(F.col("_s") == series_b, F.col("_m"))).alias(
                "_y"
            ),
        )
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    )
    w = (
        Window.orderBy("_b")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    xd = F.col("_x").cast("double")
    yd = F.col("_y").cast("double")
    rolled = piv.select(
        "_b",
        F.count(F.lit(1)).over(w).alias("_n"),
        F.round(F.sum(F.col("_x")).over(w), 6).alias("_sx"),
        F.round(F.sum(F.col("_y")).over(w), 6).alias("_sy"),
        F.round(
            F.sum((xd * yd).cast(dec12)).over(w), 6
        ).alias("_sxy"),
        F.round(
            F.sum((xd * xd).cast(dec12)).over(w), 6
        ).alias("_sxx"),
        F.round(
            F.sum((yd * yd).cast(dec12)).over(w), 6
        ).alias("_syy"),
    ).filter(F.col("_n") == window)
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    num = n * F.col("_sxy").cast("double") - sx * sy
    dx = n * F.col("_sxx").cast("double") - sx * sx
    dy = n * F.col("_syy").cast("double") - sy * sy
    return rolled.select(
        F.col("_b").alias("bucket"),
        F.col("_n").cast("long").alias("n_window"),
        F.round(
            F.when((dx > 0) & (dy > 0), num / F.sqrt(dx * dy)), 9
        ).alias("corr"),
    )


def interarrival_expfit(
    df: DataFrame,
    ts: str = "ts",
    dims: Sequence[str] = (),
    tiebreak: str = "event_id",
) -> DataFrame:
    """Inter-arrival exponential fit with a KS goodness-of-fit — the
    queueing question behind every "is this stream Poisson" capacity
    model: fit the rate λ = n/Σdt to the per-series inter-arrival gaps
    and measure the worst CDF gap against Exponential(λ).  A clean fit
    licenses Poisson arithmetic (burst sizing, M/M/c); a big D marks
    bursty/batched traffic where that arithmetic lies.

        λ = n / Σ dt
        D = sup_x |F_emp(x) − (1 − e^{−λx})|   (both step edges)

    One per-series lag window orders the raw events (the
    :func:`elapsed` plan class — per-series sort, no global sort);
    the KS sup then runs counts-based over the DISTINCT-gap axis
    (cumulative counts, the :func:`~.profile.ks_goodness_of_fit`
    discipline), with every candidate deviation quantized to
    decimal(28,12) before the max so the sup is engine-identical.

    Output: one row per series — ``(*dims, n_gaps bigint, mean_gap_s
    double, rate_per_s double, d_stat double, reject_exponential
    boolean)`` at the asymptotic 5% level D > 1.358/√n.
    """
    gcols = list(dims)
    keep = F.col(ts).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    w = Window.partitionBy(*gcols).orderBy(
        F.col(ts), F.col(tiebreak)
    )
    # microsecond-exact gaps (unix_micros here, epoch_us in the
    # oracle): whole-second truncation would zero out sub-second gaps
    gaps = (
        df.filter(keep)
        .select(
            *gcols,
            (
                F.unix_micros(F.col(ts))
                - F.unix_micros(F.lag(F.col(ts), 1).over(w))
            ).alias("_dt"),
        )
        .filter(F.col("_dt").isNotNull())
    )
    vc = gaps.groupBy(*gcols, "_dt").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_dt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*gcols)
    staged = vc.select(
        *gcols,
        "_dt",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
        F.sum(F.col("_dt") * F.col("_c")).over(w_all).alias("_sum"),
        F.col("_c").alias("_cc"),
    )
    n = F.col("_n").cast("double")
    # dt is in MICROseconds; lambda is per second
    lam = F.lit(1000000.0) * n / F.col("_sum").cast("double")
    fexp = F.lit(1.0) - F.exp(
        -lam * (F.col("_dt").cast("double") / F.lit(1000000.0))
    )
    hi = (F.col("_cum").cast("double") / n - fexp).cast(
        "decimal(28,12)"
    )
    lo = (
        fexp - (F.col("_cum") - F.col("_cc")).cast("double") / n
    ).cast("decimal(28,12)")
    per = staged.groupBy(*gcols).agg(
        F.max("_n").alias("_ng"),
        F.max("_sum").alias("_sumg"),
        F.greatest(F.max(F.abs(hi)), F.max(F.abs(lo))).alias("_d"),
    )
    ng = F.col("_ng").cast("double")
    return per.select(
        *gcols,
        F.col("_ng").cast("long").alias("n_gaps"),
        F.round(
            F.col("_sumg").cast("double") / F.lit(1000000.0) / ng, 9
        ).alias("mean_gap_s"),
        F.round(
            F.lit(1000000.0) * ng / F.col("_sumg").cast("double"), 9
        ).alias("rate_per_s"),
        F.round(F.col("_d").cast("double"), 9).alias("d_stat"),
        (
            F.col("_d").cast("double")
            > F.lit(1.3581) / F.sqrt(ng)
        ).alias("reject_exponential"),
    )


def _bucket_means(
    df: DataFrame,
    ts: str,
    value: str,
    dims: Sequence[str],
    unit: str,
) -> DataFrame:
    """Shared per-series bucket-mean reduction for the statistical TS
    tests: one partial-aggregable groupBy to ``(dims…, _b, _m)``
    with decimal(28,6)-quantized means (the :func:`theil_sen_slope`
    convention) — every downstream window then runs on the BUCKET axis
    (days per series), never the fact table."""
    keep = F.col(ts).isNotNull() & F.col(value).isNotNull()
    for g in dims:
        keep = keep & F.col(g).isNotNull()
    dec = "decimal(28,6)"
    return (
        df.filter(keep)
        .groupBy(*_cols(dims), F.date_trunc(unit, F.col(ts)).alias("_b"))
        .agg(
            (
                F.sum(F.col(value).cast(dec)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).cast(dec).alias("_m")
        )
    )


def runs_test(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Wald–Wolfowitz runs test per series — "is this sequence RANDOM
    around its level, or does it cluster/alternate" (trend and
    seasonality detectors assume exchangeable residuals; this is the
    cheapest check that assumption isn't already dead on the raw
    series: too few runs = sticky regimes, too many = overdifferenced
    alternation).

    The bucketed series reduces to signs above/below its MEDIAN bucket
    mean (LOWER weighted median over the distinct-mean axis — the
    engine-stable :func:`~..operators.evaluation.bootstrap_median_ci`
    rule; buckets exactly AT the median drop, the standard convention).
    With n₁ above, n₂ below, R runs:

        μ_R = 2n₁n₂/(n₁+n₂) + 1
        σ²_R = 2n₁n₂(2n₁n₂ − n)/(n²(n−1))
        z = (R − μ_R)/σ_R,  p ≈ erfc(|z|/√2)

    Runs count via one lag over the per-series bucket ordering; all
    counts exact integers.  Output: one row per series — ``(*dims,
    n_buckets bigint, n_above bigint, n_below bigint, runs bigint,
    z double, p_approx double, significant boolean)``; n₁·n₂ = 0
    (constant side) NULLs the statistics.
    """
    from .evaluation import _norm_p_two_sided as norm_p_two_sided

    gcols = list(dims)
    means = _bucket_means(df, ts, value, dims, unit)
    # lower weighted median over the distinct-mean axis
    mc = means.groupBy(*_cols(gcols), F.col("_m").alias("_v")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy(*_cols(gcols))
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*_cols(gcols))
    med = (
        mc.withColumn("_cum", F.sum("_c").over(w_cum))
        .withColumn("_tot", F.sum("_c").over(w_tot))
        .filter(F.lit(2) * F.col("_cum") >= F.col("_tot"))
        .groupBy(*_cols(gcols))
        .agg(F.min("_v").alias("_med"))
    )
    joined = (
        means.join(F.broadcast(med), gcols)
        if gcols
        else means.crossJoin(F.broadcast(med))
    )
    signed = joined.filter(F.col("_m") != F.col("_med")).select(
        *_cols(gcols),
        "_b",
        (F.col("_m") > F.col("_med")).cast("int").alias("_s"),
    )
    w_ord = Window.partitionBy(*_cols(gcols)).orderBy("_b")
    runs = signed.select(
        *_cols(gcols),
        "_s",
        F.when(
            F.lag("_s").over(w_ord).isNull()
            | (F.lag("_s").over(w_ord) != F.col("_s")),
            1,
        ).otherwise(0).alias("_new"),
    ).groupBy(*_cols(gcols)).agg(
        F.count(F.lit(1)).alias("_nb"),
        F.sum("_s").cast("long").alias("_n1"),
        (F.count(F.lit(1)) - F.sum("_s")).cast("long").alias("_n2"),
        F.sum("_new").cast("long").alias("_runs"),
    )
    n1 = F.col("_n1").cast("double")
    n2 = F.col("_n2").cast("double")
    n = n1 + n2
    ok = (F.col("_n1") > 0) & (F.col("_n2") > 0) & (n > 1)
    mu = F.lit(2.0) * n1 * n2 / n + 1
    var = (
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n)
        / (n * n * (n - 1))
    )
    z = F.when(ok & (var > 0), (F.col("_runs").cast("double") - mu) / F.sqrt(var))
    p = norm_p_two_sided(z)
    return runs.select(
        *_cols(gcols),
        F.col("_nb").cast("long").alias("n_buckets"),
        F.col("_n1").alias("n_above"),
        F.col("_n2").alias("n_below"),
        F.col("_runs").alias("runs"),
        F.round(z, 9).alias("z"),
        F.round(p, 9).alias("p_approx"),
        F.coalesce(F.abs(z) > F.lit(z_crit), F.lit(False)).alias(
            "significant"
        ),
    )


def ljung_box(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
    max_lag: int = 7,
) -> DataFrame:
    """Ljung–Box portmanteau test per series — the one-number "is there
    ANY autocorrelation in the first m lags" verdict on top of
    :func:`autocorrelation`'s per-lag readout (m near-zero r_k values
    can still jointly reject whiteness; Q pools them):

        Q = n(n+2) Σ_{k≤m} r_k²/(n−k)   ~ χ²_m under whiteness
        p ≈ Wilson–Hilferty normal approx through the shared A–S erfc

    r_k uses the standard biased estimator over the BUCKETED series
    (full-series denominator), mean from exact decimal bucket sums,
    centered products quantized to decimal(28,12) — the
    :func:`autocorrelation` discipline, all m lags on ONE per-series
    sort.  Output: one row per series — ``(*dims, n_buckets bigint,
    m bigint, q_stat double, p_approx double)``; constant series NULL
    via ``try_divide``.
    """
    from .evaluation import _norm_p_two_sided as norm_p_two_sided

    if max_lag < 1:
        raise ValueError("need max_lag >= 1")
    dec = "decimal(28,12)"
    gcols = list(dims)
    means = _bucket_means(df, ts, value, dims, unit)
    w = Window.partitionBy(*_cols(gcols)).orderBy("_b")
    w_all = Window.partitionBy(*_cols(gcols))
    mean = (
        F.sum(F.col("_m").cast("decimal(28,6)")).over(w_all).cast("double")
        / F.count(F.lit(1)).over(w_all).cast("double")
    )
    xc = F.col("_m").cast("double") - mean
    lagged = means.select(
        *_cols(gcols),
        "_b",
        xc.alias("_xc"),
        *[
            F.lag(xc, k).over(w).alias(f"_l{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    aggs = [
        F.count(F.lit(1)).alias("_nb"),
        F.sum((F.col("_xc") * F.col("_xc")).cast(dec)).alias("_den"),
    ] + [
        F.sum((F.col("_xc") * F.col(f"_l{k}")).cast(dec)).alias(f"_num{k}")
        for k in range(1, max_lag + 1)
    ]
    agg = lagged.groupBy(*_cols(gcols)).agg(*aggs)
    nn = F.col("_nb").cast("double")
    qsum = None
    for k in range(1, max_lag + 1):
        rk = F.try_divide(
            F.col(f"_num{k}").cast("double"), F.col("_den").cast("double")
        )
        term = rk * rk / (nn - F.lit(float(k)))
        qsum = term if qsum is None else qsum + term
    q = nn * (nn + 2) * qsum
    m = F.lit(float(max_lag))
    z = (
        F.cbrt(q / m) - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * m))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * m))
    e = norm_p_two_sided(z)
    p = F.when(z >= 0, e / 2).otherwise(F.lit(1.0) - e / 2)
    ok = F.col("_nb") > F.lit(max_lag)
    return agg.select(
        *_cols(gcols),
        F.col("_nb").cast("long").alias("n_buckets"),
        F.lit(max_lag).cast("long").alias("m"),
        F.round(F.when(ok, q), 9).alias("q_stat"),
        F.round(F.when(ok, p), 9).alias("p_approx"),
    )


def variance_ratio(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
    q: int = 5,
) -> DataFrame:
    """Lo–MacKinlay variance-ratio test per series — "does this series
    mean-revert, random-walk, or trend" in one number: under a random
    walk the variance of q-step changes is exactly q× the 1-step
    variance, so

        VR(q) = Var(x_t − x_{t−q}) / (q · Var(x_t − x_{t−1}))
        z = (VR − 1) / √(2(2q−1)(q−1)/(3qn))     (homoskedastic form)

    VR < 1 mean-reversion, > 1 momentum/trend.  Both variances are
    sample variances over the bucketed series (overlapping q-step
    differences — the standard estimator), computed from decimal-exact
    sums with the :func:`~..operators.evaluation.anova_oneway` 6-dp
    operand cut before each cancellation-prone subtraction.  One
    per-series sort carries both difference columns.

    Output: one row per series — ``(*dims, n_buckets bigint, q bigint,
    vr double, z double, p_approx double)``; fewer than q+2 buckets or
    zero 1-step variance NULLs the statistics.
    """
    from .evaluation import _norm_p_two_sided as norm_p_two_sided

    gcols = list(dims)
    dec = "decimal(28,12)"
    means = _bucket_means(df, ts, value, dims, unit)
    w = Window.partitionBy(*_cols(gcols)).orderBy("_b")
    x = F.col("_m").cast("double")
    diffed = means.select(
        *_cols(gcols),
        "_b",
        (x - F.lag(x, 1).over(w)).alias("_d1"),
        (x - F.lag(x, q).over(w)).alias("_dq"),
    )
    agg = diffed.groupBy(*_cols(gcols)).agg(
        (F.count(F.lit(1)) + 0).alias("_nb"),
        F.count("_d1").alias("_n1"),
        F.count("_dq").alias("_nq"),
        F.sum(F.col("_d1").cast(dec)).alias("_s1"),
        F.sum((F.col("_d1") * F.col("_d1")).cast(dec)).alias("_q1"),
        F.sum(F.col("_dq").cast(dec)).alias("_sq"),
        F.sum((F.col("_dq") * F.col("_dq")).cast(dec)).alias("_qq"),
    )

    def svar(qcol: str, scol: str, ncol: str) -> Column:
        nn = F.col(ncol).cast("double")
        m6 = F.round(
            (
                F.col(scol).cast("double")
                * F.col(scol).cast("double")
                / nn
            ).cast("decimal(28,12)"),
            6,
        )
        q6 = F.round(F.col(qcol), 6)
        return F.try_divide((q6 - m6).cast("double"), nn - 1)

    v1 = svar("_q1", "_s1", "_n1")
    vq = svar("_qq", "_sq", "_nq")
    vr = F.try_divide(vq, F.lit(float(q)) * v1)
    n = F.col("_n1").cast("double")
    se = F.sqrt(
        F.lit(2.0 * (2 * q - 1) * (q - 1)) / (F.lit(3.0 * q) * n)
    )
    ok = (F.col("_nq") >= 2) & (F.col("_n1") >= 2)
    z = F.when(ok, F.try_divide(vr - 1, se))
    return agg.select(
        *_cols(gcols),
        F.col("_nb").cast("long").alias("n_buckets"),
        F.lit(q).cast("long").alias("q"),
        F.round(F.when(ok, vr), 9).alias("vr"),
        F.round(z, 9).alias("z"),
        F.round(norm_p_two_sided(z), 9).alias("p_approx"),
    )


def hurst_rs(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
    window_sizes: Sequence[int] = (8, 16, 32, 64),
) -> DataFrame:
    """Hurst exponent per series via classical rescaled-range (R/S)
    analysis — the long-memory meter behind every "does this metric
    trend or revert at ALL horizons" question (:func:`variance_ratio`
    tests one q; H summarizes the whole scaling law): split the
    bucketed series into blocks of w buckets, compute each block's
    rescaled range

        R/S = (max_t Σ_{k≤t}(x_k − x̄_blk) − min_t Σ(x_k − x̄_blk)) / σ_blk

    average R/S per w, and fit log₂(avg R/S) against log₂(w): the slope
    is H (≈0.5 random walk increments, >0.5 persistent, <0.5
    mean-reverting).

    Partial trailing blocks are DROPPED (exact block statistics only);
    zero-variance blocks are dropped from the w-average.  Block means
    come from exact decimal sums; cumulative deviations are per-block
    windows over ≤max(w) rows; the final 4-point regression is closed
    form in double.  Everything partitions by (series, w, block) —
    nothing global.

    Output: one row per series — ``(*dims, n_buckets bigint, n_sizes
    bigint, hurst double)``; fewer than 2 usable sizes NULLs H.
    """
    gcols = list(dims)
    dec = "decimal(28,12)"
    means = _bucket_means(df, ts, value, dims, unit)
    w_ord = Window.partitionBy(*_cols(gcols)).orderBy("_b")
    idx = means.select(
        *_cols(gcols),
        "_b",
        F.col("_m").cast("double").alias("_x"),
        (F.row_number().over(w_ord) - 1).alias("_i"),
    )
    sizes = F.array(*[F.lit(int(w)) for w in window_sizes])
    blocks = idx.select(
        *_cols(gcols),
        "_b",
        "_x",
        "_i",
        F.explode(sizes).alias("_w"),
    ).withColumn("_blk", F.floor(F.col("_i") / F.col("_w")))
    w_blk = Window.partitionBy(*_cols(gcols), "_w", "_blk")
    w_cum = w_blk.orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dev = (
        blocks.withColumn("_n", F.count(F.lit(1)).over(w_blk))
        .filter(F.col("_n") == F.col("_w"))
        .withColumn(
            "_mu",
            F.sum(F.col("_x").cast("decimal(28,6)")).over(w_blk)
            .cast("double")
            / F.col("_w").cast("double"),
        )
        .withColumn("_cum", F.sum(F.col("_x") - F.col("_mu")).over(w_cum))
        .withColumn(
            "_q",
            # per-row squares quantized to decimal BEFORE the unordered
            # block sum — exact and order-independent (a raw double
            # window sum would depend on partition iteration order)
            F.sum(
                (
                    (F.col("_x") - F.col("_mu"))
                    * (F.col("_x") - F.col("_mu"))
                ).cast("decimal(28,12)")
            ).over(w_blk),
        )
    )
    per_block = dev.groupBy(*_cols(gcols), "_w", "_blk").agg(
        (F.max("_cum") - F.min("_cum")).alias("_r"),
        F.sqrt(
            F.max("_q").cast("double") / F.max("_w").cast("double")
        ).alias("_s"),
    )
    per_w = (
        per_block.filter(F.col("_s") > 0)
        .groupBy(*_cols(gcols), "_w")
        .agg(
            (
                F.sum(
                    F.round(F.col("_r") / F.col("_s"), 9).cast(dec)
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("_rs")
        )
    )
    lw = F.log2(F.col("_w").cast("double"))
    lrs = F.log2(F.col("_rs"))
    fit = per_w.filter(F.col("_rs") > 0).groupBy(*_cols(gcols)).agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.round(lw, 9).cast(dec)).alias("_sx"),
        F.sum(F.round(lrs, 9).cast(dec)).alias("_sy"),
        F.sum(F.round(lw * lw, 9).cast(dec)).alias("_sxx"),
        F.sum(F.round(lw * lrs, 9).cast(dec)).alias("_sxy"),
    )
    nb = (
        idx.groupBy(*_cols(gcols)).agg(F.count(F.lit(1)).alias("n_buckets"))
    )
    joined = (
        fit.join(nb, gcols) if gcols else fit.crossJoin(F.broadcast(nb))
    )
    k = F.col("_k").cast("double")
    num = k * F.col("_sxy").cast("double") - F.col("_sx").cast(
        "double"
    ) * F.col("_sy").cast("double")
    den = k * F.col("_sxx").cast("double") - F.col("_sx").cast(
        "double"
    ) * F.col("_sx").cast("double")
    h = F.when(F.col("_k") >= 2, F.try_divide(num, den))
    return joined.select(
        *_cols(gcols),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("_k").cast("long").alias("n_sizes"),
        F.round(h, 9).alias("hurst"),
    )


def pacf_durbin(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
) -> DataFrame:
    """Partial autocorrelation at lags 1–3 per series via the
    Durbin–Levinson recursion unrolled in closed form — the AR-order
    picker :func:`autocorrelation` can't be (ACF at lag 3 conflates
    direct memory with propagated lag-1; PACF isolates the DIRECT
    effect — the standard "where does the PACF cut off" AR(p) read):

        φ₁₁ = r₁
        φ₂₂ = (r₂ − r₁²)/(1 − r₁²)
        φ₃₃ = (r₃ − a·r₂ − φ₂₂·r₁)/(1 − a·r₁ − φ₂₂·r₂),
              a = r₁(1 − φ₂₂)

    r_k from the :func:`autocorrelation` discipline over the bucketed
    series (exact decimal means, decimal(28,12)-quantized centered
    products, all lags on one per-series sort); the recursion itself is
    per-series scalar arithmetic.  Output: one row per (series, lag) —
    ``(*dims, lag int, pacf double)``; degenerate denominators NULL via
    ``try_divide``.
    """
    gcols = list(dims)
    dec = "decimal(28,12)"
    means = _bucket_means(df, ts, value, dims, unit)
    w = Window.partitionBy(*_cols(gcols)).orderBy("_b")
    w_all = Window.partitionBy(*_cols(gcols))
    mean = (
        F.sum(F.col("_m").cast("decimal(28,6)")).over(w_all).cast("double")
        / F.count(F.lit(1)).over(w_all).cast("double")
    )
    xc = F.col("_m").cast("double") - mean
    lagged = means.select(
        *_cols(gcols),
        "_b",
        xc.alias("_xc"),
        *[F.lag(xc, k).over(w).alias(f"_l{k}") for k in (1, 2, 3)],
    )
    agg = lagged.groupBy(*_cols(gcols)).agg(
        F.count(F.lit(1)).alias("_nb"),
        F.sum((F.col("_xc") * F.col("_xc")).cast(dec)).alias("_den"),
        *[
            F.sum((F.col("_xc") * F.col(f"_l{k}")).cast(dec)).alias(
                f"_num{k}"
            )
            for k in (1, 2, 3)
        ],
    )
    r1 = F.try_divide(
        F.col("_num1").cast("double"), F.col("_den").cast("double")
    )
    r2 = F.try_divide(
        F.col("_num2").cast("double"), F.col("_den").cast("double")
    )
    r3 = F.try_divide(
        F.col("_num3").cast("double"), F.col("_den").cast("double")
    )
    p1 = r1
    p2 = F.try_divide(r2 - r1 * r1, F.lit(1.0) - r1 * r1)
    a = r1 * (F.lit(1.0) - p2)
    p3 = F.try_divide(
        r3 - a * r2 - p2 * r1, F.lit(1.0) - a * r1 - p2 * r2
    )
    rows = F.array(
        F.struct(F.lit(1).alias("lag"), F.round(p1, 9).alias("pacf")),
        F.struct(F.lit(2).alias("lag"), F.round(p2, 9).alias("pacf")),
        F.struct(F.lit(3).alias("lag"), F.round(p3, 9).alias("pacf")),
    )
    return agg.select(
        *_cols(gcols), F.explode(rows).alias("_r")
    ).select(*_cols(gcols), "_r.lag", "_r.pacf")


#: Gaussian quartile breakpoints for the 4-symbol SAX alphabet (literal,
#: engine-identical; the approximation error is irrelevant — SAX only
#: needs FIXED breakpoints, not exact quantiles).
_SAX4 = (-0.6745, 0.0, 0.6745)


def sax_motifs(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
    gram: int = 3,
    top_k: int = 5,
) -> DataFrame:
    """SAX symbolization + top recurring motifs per series — the
    "what SHAPES does this metric repeat" summary (anomaly queries ask
    about points; motifs ask about patterns — a daily a→d→a spike
    signature showing up 40 times IS the regression fingerprint):
    z-normalize the bucketed series, map each bucket to a 4-letter
    symbol at the fixed Gaussian-quartile breakpoints, slide a
    *gram*-length window into motif strings, count per series, keep
    the top *top_k* (count desc, motif asc — deterministic).

    z-scores use exact decimal mean and the population σ from
    decimal-quantized squares (6-dp operand cut before the variance
    subtraction — the :func:`~..operators.evaluation.anova_oneway`
    rule); symbols are pure threshold compares.  One per-series sort
    builds all leads; counting is a (series, motif) groupBy.

    Output: ``(*dims, motif string, n bigint, rank int)``.
    """
    gcols = list(dims)
    means = _bucket_means(df, ts, value, dims, unit)
    w_all = Window.partitionBy(*_cols(gcols))
    w_ord = Window.partitionBy(*_cols(gcols)).orderBy("_b")
    n = F.count(F.lit(1)).over(w_all).cast("double")
    s = F.sum(F.col("_m").cast("decimal(28,6)")).over(w_all)
    q = F.sum(
        (F.col("_m").cast("double") * F.col("_m").cast("double")).cast(
            "decimal(28,12)"
        )
    ).over(w_all)
    mu = s.cast("double") / n
    m6 = F.round(
        (s.cast("double") * s.cast("double") / n).cast("decimal(28,12)"), 6
    )
    q6 = F.round(q, 6)
    sigma = F.sqrt((q6 - m6).cast("double") / n)
    z = F.try_divide(F.col("_m").cast("double") - mu, sigma)
    sym = (
        F.when(z < F.lit(_SAX4[0]), "a")
        .when(z < F.lit(_SAX4[1]), "b")
        .when(z < F.lit(_SAX4[2]), "c")
        .otherwise("d")
    )
    symd = means.select(*_cols(gcols), "_b", sym.alias("_sym"))
    motif = F.concat(
        *[F.lead("_sym", k).over(w_ord) for k in range(gram)]
    )
    counted = (
        symd.select(*_cols(gcols), motif.alias("motif"))
        .filter(F.length("motif") == gram)
        .groupBy(*_cols(gcols), "motif")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_rank = Window.partitionBy(*_cols(gcols)).orderBy(
        F.desc("n"), F.asc("motif")
    )
    return (
        counted.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top_k)
        .select(
            *_cols(gcols),
            "motif",
            F.col("n").cast("long").alias("n"),
            "rank",
        )
    )


def pettitt_changepoint(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
) -> DataFrame:
    """Pettitt non-parametric change-point test per series — the
    "WHERE did the level shift" companion to :func:`mann_kendall_trend`
    (which only says "does it drift"): rank-based, so one spike can't
    buy a change point and no distribution is assumed.

        V_t = Σ_j sign(x_t − x_j),   U_t = Σ_{i≤t} V_i,
        K = max_{t<n} |U_t|,   p ≈ 2·exp(−6K² / (n³ + n²))

    The raw values reduce to per-bucket decimal means first (one
    corpus-sized partial-aggregable groupBy); the O(n²) all-pairs sign
    sum runs on the BUCKET axis (n = buckets-per-series, bounded), then
    U_t is one cumulative window over n rows.  S, V_t, U_t and K are
    exact integers; the approximate p-value is one IEEE expression per
    series.  The change bucket is the EARLIEST bucket achieving |U| = K
    (deterministic tiebreak).

    Output: one row per series — ``(*dims, n_buckets bigint,
    change_bucket timestamp, k_stat bigint, p_approx double)``;
    NULL change row for n < 2.
    """
    gcols = list(dims)
    dec = "decimal(28,6)"
    keep = F.col(ts).isNotNull() & F.col(value).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    buckets = (
        df.filter(keep)
        .groupBy(*gcols, F.date_trunc(unit, F.col(ts)).alias("_b"))
        .agg(
            # round BEFORE the decimal cast: a bare double->decimal cast
            # resolves .5 ULP boundaries engine-differently (HALF_UP vs
            # half-even); round(x, 6) agrees across engines
            F.round(
                F.sum(F.col(value).cast(dec)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).cast(dec).alias("_m")
        )
    )
    a = buckets.select(
        *gcols, F.col("_b").alias("_ba"), F.col("_m").alias("_ma")
    )
    b = buckets.select(
        *gcols, F.col("_b").alias("_bb"), F.col("_m").alias("_mb")
    )
    pairs = a.join(b, gcols) if gcols else a.crossJoin(b)
    v = pairs.groupBy(*gcols, "_ba").agg(
        F.sum(
            F.signum(
                F.col("_ma").cast("double") - F.col("_mb").cast("double")
            ).cast("long")
        ).alias("_v")
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_ba")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    u = (
        v.withColumn("_u", F.sum("_v").over(w_cum))
        .withColumn("_n", F.count(F.lit(1)).over(w_all))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy(*gcols).orderBy("_ba")
        ))
        # U_n ≡ 0 by construction: the max runs over t < n
        .filter(F.col("_rn") < F.col("_n"))
    )
    w_pick = Window.partitionBy(*gcols).orderBy(
        F.abs(F.col("_u")).desc(), F.col("_ba").asc()
    )
    picked = u.withColumn("_pk", F.row_number().over(w_pick)).filter(
        F.col("_pk") == 1
    )
    # _n was counted over the FULL bucket axis before the t<n filter
    n = F.col("_n").cast("double")
    k = F.abs(F.col("_u")).cast("double")
    p = F.lit(2.0) * F.exp(
        F.lit(-6.0) * k * k / (n * n * n + n * n)
    )
    return picked.select(
        *gcols,
        F.col("_n").cast("long").alias("n_buckets"),
        F.col("_ba").cast("timestamp").alias("change_bucket"),
        F.abs(F.col("_u")).cast("long").alias("k_stat"),
        F.round(F.least(F.lit(1.0), p), 9).alias("p_approx"),
    )


def grubbs_extreme(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    dims: Sequence[str] = (),
    unit: str = "day",
) -> DataFrame:
    """Grubbs' extreme-outlier statistic per series over bucket means —
    "is the single worst bucket an outlier, and which one":

        G = max_t |x_t − x̄| / s        (two-sided form)

    with x̄ and sample s over the bucketed series.  The raw values
    reduce to per-bucket decimal means (one partial-aggregable
    groupBy); everything downstream is built from EXACT decimal
    quantities — the deviation numerator ``n·x_t − S`` and the moment
    sums S = Σx, Q = Σx² (bucket means re-cast to ``decimal(18,6)`` so
    their squares stay inside decimal(38) exactly) — cast to double
    ONCE at the end for the division and sqrt, so G is one fixed IEEE
    expression per series with no intermediate double rounding to
    diverge across engines.  The flagged bucket is the earliest
    achieving the max EXACT deviation (deterministic tiebreak).  G is
    the statistic only — compare against the t-based critical value
    for your n offline (no t quantile in either engine); G > ~3 is the
    usual daily-ops alarm line.

    Output: one row per series — ``(*dims, n_buckets bigint, mean
    double, sd double, outlier_bucket timestamp, outlier_value double,
    g_stat double, side string)``; NULL g for n < 2 or zero variance.
    """
    gcols = list(dims)
    dec = "decimal(28,6)"
    keep = F.col(ts).isNotNull() & F.col(value).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    buckets = (
        df.filter(keep)
        .groupBy(*gcols, F.date_trunc(unit, F.col(ts)).alias("_b"))
        .agg(
            F.round(
                F.sum(F.col(value).cast(dec)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).cast("decimal(18,6)").alias("_m")
        )
    )
    w_all = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    mom = buckets.select(
        *gcols,
        "_b",
        "_m",
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.sum("_m").over(w_all).alias("_s"),
        # decimal(18,6)² = decimal(37,12): exact, no precision rescale
        F.sum(F.col("_m") * F.col("_m")).over(w_all).alias("_q"),
    )
    # exact deviation numerator: n·x_t − S (decimal arithmetic)
    num = F.col("_n").cast("decimal(18,0)") * F.col("_m") - F.col("_s")
    scored = mom.select(
        *gcols,
        "_b",
        "_m",
        "_n",
        "_s",
        "_q",
        F.abs(num).alias("_anum"),
        num.alias("_num"),
    )
    w_pick = Window.partitionBy(*gcols).orderBy(
        F.col("_anum").desc(), F.col("_b").asc()
    )
    picked = scored.withColumn(
        "_pk", F.row_number().over(w_pick)
    ).filter(F.col("_pk") == 1)
    nd = F.col("_n").cast("double")
    sd_expr = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (
                nd * F.col("_q").cast("double")
                - F.col("_s").cast("double") * F.col("_s").cast("double")
            )
            / (nd * (nd - F.lit(1.0))),
        )
    )
    dev = F.col("_anum").cast("double") / nd
    g = F.when((F.col("_n") >= 2) & (sd_expr > 0), dev / sd_expr)
    return picked.select(
        *gcols,
        F.col("_n").cast("long").alias("n_buckets"),
        F.round(F.col("_s").cast("double") / nd, 9).alias("mean"),
        F.round(F.when(F.col("_n") >= 2, sd_expr), 9).alias("sd"),
        F.col("_b").cast("timestamp").alias("outlier_bucket"),
        F.round(F.col("_m").cast("double"), 9).alias("outlier_value"),
        F.round(g, 9).alias("g_stat"),
        F.when(
            F.col("_num").cast("double") >= 0, F.lit("max")
        ).otherwise(F.lit("min")).alias("side"),
    )


#: Euler–Mascheroni constant (Gumbel method-of-moments location shift).
EULER_GAMMA = 0.5772156649015329


def gumbel_block_maxima(
    df: DataFrame,
    ts: str = "ts",
    dims: Sequence[str] = (),
    block_unit: str = "day",
    sub_unit: str = "hour",
    levels: Sequence[float] = (0.95, 0.99),
) -> DataFrame:
    """Extreme-value (Gumbel) fit to BLOCK MAXIMA of sub-bucket event
    counts — the capacity-planning readout ("what hourly burst should a
    99%-of-days provisioning survive") that mean/percentile dashboards
    structurally miss, because they pool all hours instead of modeling
    per-block extremes.

    Counts per ``sub_unit`` bucket, maxima per ``block_unit`` block,
    then method-of-moments Gumbel:

        β̂ = s·√6/π,   μ̂ = x̄ − γ·β̂,   RL_p = μ̂ − β̂·ln(−ln p)

    with x̄/s the sample moments of the (integer) block maxima — exact
    integer sums end to end, then a handful of IEEE ops per series.
    Plan: one corpus-sized (block, sub) count groupBy, one block-axis
    max groupBy, one moments reduce — all partial-aggregable, no
    windows over facts.

    Output: one row per series — ``(*dims, n_blocks bigint, mean_max
    double, sd_max double, gumbel_mu double, gumbel_beta double,
    rl_<p> double per level)``; NULL fit for n < 2 blocks.
    """
    gcols = list(dims)
    keep = F.col(ts).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    sub = (
        df.filter(keep)
        .groupBy(
            *gcols,
            F.date_trunc(block_unit, F.col(ts)).alias("_blk"),
            F.date_trunc(sub_unit, F.col(ts)).alias("_sub"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    maxima = sub.groupBy(*gcols, "_blk").agg(F.max("_c").alias("_x"))
    mom = maxima.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_x").cast("decimal(38,0)")).alias("_s"),
        F.sum(
            (F.col("_x") * F.col("_x")).cast("decimal(38,0)")
        ).alias("_q"),
    )
    nd = F.col("_n").cast("double")
    mean = F.col("_s").cast("double") / nd
    var = (
        (F.col("_q").cast("double") - nd * mean * mean)
        / (nd - F.lit(1.0))
    )
    sd = F.sqrt(F.greatest(F.lit(0.0), var))
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793)
    mu = mean - F.lit(EULER_GAMMA) * beta
    ok = F.col("_n") >= 2
    out = [
        *gcols,
        F.col("_n").cast("long").alias("n_blocks"),
        F.round(mean, 9).alias("mean_max"),
        F.round(F.when(ok, sd), 9).alias("sd_max"),
        F.round(F.when(ok, mu), 9).alias("gumbel_mu"),
        F.round(F.when(ok, beta), 9).alias("gumbel_beta"),
    ]
    for p in levels:
        rl = mu - beta * F.log(-F.log(F.lit(float(p))))
        out.append(
            F.round(F.when(ok, rl), 9).alias(
                f"rl_{str(p).replace('0.', '')}"
            )
        )
    return mom.select(*out)


def granger_1lag(
    df: DataFrame,
    ts: str = "ts",
    type_col: str = "event_type",
    cause: str = "click",
    effect: str = "purchase",
    unit: str = "day",
) -> DataFrame:
    """One-lag Granger causality F-test on two daily count series — does
    yesterday's ``cause`` count improve today's ``effect`` forecast
    beyond what yesterday's effect already explains?

        restricted:    y_t = a + b·y_{t−1}                  (RSS_r)
        unrestricted:  y_t = a + b·y_{t−1} + c·x_{t−1}      (RSS_u)
        F = (RSS_r − RSS_u) / (RSS_u / (m − 3))             (1, m−3 df)

    Both OLS fits are CLOSED FORM from centered second moments of
    (y, y₁, x₁) — and the daily counts are integers, so every raw sum
    and cross-product reduces exactly (decimal-carried); the centered
    moments and the two RSS values are then fixed IEEE expressions.
    Plan: one corpus-sized conditional-count groupBy to the day axis, a
    1-row lag window over n days, one moments reduce.  Buckets are
    treated as consecutive (gap days are absent, not zero-filled —
    zero-fill upstream via gap_fill_zero if the series has holes).

    Output: one row — ``(m bigint, b_restricted double, rss_r double,
    b_y double, b_x double, rss_u double, f_stat double)``; NULL F for
    m < 4 or degenerate regressors.
    """
    daily = (
        df.filter(
            F.col(ts).isNotNull()
            & F.col(type_col).isin(cause, effect)
        )
        .groupBy(F.date_trunc(unit, F.col(ts)).alias("_b"))
        .agg(
            F.sum(
                F.when(F.col(type_col) == cause, 1).otherwise(0)
            ).alias("_x"),
            F.sum(
                F.when(F.col(type_col) == effect, 1).otherwise(0)
            ).alias("_y"),
        )
    )
    w = Window.orderBy("_b")
    lagged = (
        daily.select(
            "_b",
            "_y",
            F.lag("_y").over(w).alias("_y1"),
            F.lag("_x").over(w).alias("_x1"),
        )
        .filter(F.col("_y1").isNotNull() & F.col("_x1").isNotNull())
    )
    d0 = "decimal(38,0)"
    mom = lagged.agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum(F.col("_y").cast(d0)).alias("_sy"),
        F.sum(F.col("_y1").cast(d0)).alias("_s1"),
        F.sum(F.col("_x1").cast(d0)).alias("_s2"),
        F.sum((F.col("_y") * F.col("_y")).cast(d0)).alias("_qyy"),
        F.sum((F.col("_y1") * F.col("_y1")).cast(d0)).alias("_q11"),
        F.sum((F.col("_x1") * F.col("_x1")).cast(d0)).alias("_q22"),
        F.sum((F.col("_y") * F.col("_y1")).cast(d0)).alias("_qy1"),
        F.sum((F.col("_y") * F.col("_x1")).cast(d0)).alias("_qy2"),
        F.sum((F.col("_y1") * F.col("_x1")).cast(d0)).alias("_q12"),
    )
    md = F.col("_m").cast("double")
    sy = F.col("_sy").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    syy = F.col("_qyy").cast("double") - sy * sy / md
    s11 = F.col("_q11").cast("double") - s1 * s1 / md
    s22 = F.col("_q22").cast("double") - s2 * s2 / md
    sy1 = F.col("_qy1").cast("double") - sy * s1 / md
    sy2 = F.col("_qy2").cast("double") - sy * s2 / md
    s12 = F.col("_q12").cast("double") - s1 * s2 / md
    b_r = F.try_divide(sy1, s11)
    rss_r = syy - F.try_divide(sy1 * sy1, s11)
    den = s11 * s22 - s12 * s12
    b1 = F.try_divide(sy1 * s22 - sy2 * s12, den)
    b2 = F.try_divide(sy2 * s11 - sy1 * s12, den)
    rss_u = syy - b1 * sy1 - b2 * sy2
    f = F.when(
        (F.col("_m") >= 4) & (rss_u > 0),
        (rss_r - rss_u) / (rss_u / (md - F.lit(3.0))),
    )
    return mom.select(
        F.col("_m").cast("long").alias("m"),
        F.round(b_r, 9).alias("b_restricted"),
        F.round(rss_r, 9).alias("rss_r"),
        F.round(b1, 9).alias("b_y"),
        F.round(b2, 9).alias("b_x"),
        F.round(rss_u, 9).alias("rss_u"),
        F.round(f, 9).alias("f_stat"),
    )


def dtw_daily(
    df: DataFrame,
    ts: str = "ts",
    type_col: str = "event_type",
    type_a: str = "click",
    type_b: str = "purchase",
    band: int = 7,
    unit: str = "day",
) -> DataFrame:
    """Dynamic-time-warping distance between two daily count series
    with a Sakoe–Chiba band — "do these two behaviors follow the same
    SHAPE, allowing for lag/stretch", which lag-k cross-correlation
    (one global shift) and rolling correlation (no warping at all)
    structurally can't ask.

        D(i,j) = |x_i − y_j| + min(D(i−1,j), D(i,j−1), D(i−1,j−1)),
        |i − j| ≤ band

    The DP is inherently sequential, so it runs as ONE Arrow-batched
    ``applyInPandas`` over the BUCKET-AXIS table (days × 2 ints — the
    same bounded per-series shape as the DCT/FFT multimodal kernels;
    the corpus-scale stage is the conditional-count groupBy that feeds
    it).  Integer counts make every cell value an exact integer, so the
    result is engine-identical and the SQL twin unrolls the DP by
    ANTI-DIAGONALS (each diagonal depends only on the previous two) —
    2n−1 chained CTEs over ≤ band-width cells each.

    Output: one row — ``(n_days bigint, band bigint, dtw double,
    dtw_per_step double)`` with dtw_per_step = D/(2n−1) (the max-length
    warp path normalizer); NULL dtw for an empty day axis.
    """
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    daily = (
        df.filter(
            F.col(ts).isNotNull() & F.col(type_col).isin(type_a, type_b)
        )
        .groupBy(F.date_trunc(unit, F.col(ts)).alias("_b"))
        .agg(
            F.sum(
                F.when(F.col(type_col) == type_a, 1).otherwise(0)
            ).alias("_x"),
            F.sum(
                F.when(F.col(type_col) == type_b, 1).otherwise(0)
            ).alias("_y"),
        )
    )
    w = band

    def dp(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("_b", ignore_index=True)
        x = pdf["_x"].to_numpy(dtype=np.int64)
        y = pdf["_y"].to_numpy(dtype=np.int64)
        n = len(x)
        if n == 0:
            return pd.DataFrame(
                {"n_days": [0], "band": [w], "dtw": [None],
                 "dtw_per_step": [None]}
            )
        big = np.int64(10**15)
        prev2 = None  # diagonal s-2: dict (i,j)->d
        prev1 = None
        for s in range(2, 2 * n + 1):
            cur = {}
            lo = max(1, s - n)
            hi = min(n, s - 1)
            for i in range(lo, hi + 1):
                j = s - i
                if abs(i - j) > w:
                    continue
                cost = abs(int(x[i - 1]) - int(y[j - 1]))
                if i == 1 and j == 1:
                    cur[(i, j)] = cost
                    continue
                best = big
                if prev1 is not None:
                    best = min(
                        best,
                        prev1.get((i - 1, j), big),
                        prev1.get((i, j - 1), big),
                    )
                if prev2 is not None:
                    best = min(best, prev2.get((i - 1, j - 1), big))
                if best < big:
                    cur[(i, j)] = cost + best
            prev2, prev1 = prev1, cur
        d = prev1.get((n, n))
        return pd.DataFrame(
            {
                "n_days": [n],
                "band": [w],
                "dtw": [float(d) if d is not None else None],
                "dtw_per_step": [
                    float(d) / (2 * n - 1) if d is not None else None
                ],
            }
        )

    out = (
        daily.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(
            dp,
            schema="n_days long, band long, dtw double, "
            "dtw_per_step double",
        )
    )
    return out.select(
        "n_days",
        "band",
        F.round("dtw", 9).alias("dtw"),
        F.round("dtw_per_step", 9).alias("dtw_per_step"),
    )


def esd_extremes(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    rounds: int = 3,
    unit: str = "day",
) -> DataFrame:
    """Generalized-ESD-style iterated extreme detection over bucket
    means — :func:`grubbs_extreme` repeated with REMOVAL: after each
    round the flagged bucket leaves the sample and the moments
    re-estimate, so a second outlier masked by the first (the classic
    Grubbs masking failure) still surfaces.  This is the detection core
    of the S-H-ESD pipeline (run it on deseasonalized residuals for the
    full method); the table reports the studentized statistic per
    round — compare against the round-r ESD critical values offline
    (no t quantile in either engine).

    Exactness: identical to :func:`grubbs_extreme` — bucket means are
    round-before-cast ``decimal(18,6)``, deviation numerators
    ``n·x_t − S`` and moment sums stay exact decimals, one IEEE
    expression per round; each round's removal is an exact bucket-key
    anti-join against the 1-row pick (broadcast).  ``rounds`` chained
    stages over the BUCKET axis — loop-unrollable as chained CTEs.

    Output: one row per round — ``(round bigint, n_buckets bigint,
    outlier_bucket timestamp, outlier_value double, g_stat double,
    side string)``; rounds beyond the available buckets (n < 3) emit
    nothing.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    dec = "decimal(28,6)"
    keep = F.col(ts).isNotNull() & F.col(value).isNotNull()
    buckets = (
        df.filter(keep)
        .groupBy(F.date_trunc(unit, F.col(ts)).alias("_b"))
        .agg(
            F.round(
                F.sum(F.col(value).cast(dec)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).cast("decimal(18,6)").alias("_m")
        )
    )
    current = buckets.localCheckpoint(eager=False)
    w_all = Window.partitionBy()
    outs = []
    for r in range(1, rounds + 1):
        mom = current.select(
            "_b",
            "_m",
            F.count(F.lit(1)).over(w_all).alias("_n"),
            F.sum("_m").over(w_all).alias("_s"),
            F.sum(F.col("_m") * F.col("_m")).over(w_all).alias("_q"),
        )
        num = F.col("_n").cast("decimal(18,0)") * F.col("_m") - F.col("_s")
        scored = mom.select(
            "_b", "_m", "_n", "_s", "_q",
            F.abs(num).alias("_anum"),
            num.alias("_num"),
        )
        picked = (
            scored.withColumn(
                "_pk",
                F.row_number().over(
                    Window.orderBy(
                        F.col("_anum").desc(), F.col("_b").asc()
                    )
                ),
            )
            .filter((F.col("_pk") == 1) & (F.col("_n") >= 3))
            .localCheckpoint(eager=False)
        )
        nd = F.col("_n").cast("double")
        sd_expr = F.sqrt(
            F.greatest(
                F.lit(0.0),
                (
                    nd * F.col("_q").cast("double")
                    - F.col("_s").cast("double")
                    * F.col("_s").cast("double")
                )
                / (nd * (nd - F.lit(1.0))),
            )
        )
        g = F.when(
            sd_expr > 0, F.col("_anum").cast("double") / nd / sd_expr
        )
        outs.append(
            picked.select(
                F.lit(r).cast("long").alias("round"),
                F.col("_n").cast("long").alias("n_buckets"),
                F.col("_b").cast("timestamp").alias("outlier_bucket"),
                F.round(F.col("_m").cast("double"), 9).alias(
                    "outlier_value"
                ),
                F.round(g, 9).alias("g_stat"),
                F.when(
                    F.col("_num").cast("double") >= 0, F.lit("max")
                ).otherwise(F.lit("min")).alias("side"),
            )
        )
        current = current.join(
            F.broadcast(picked.select("_b")), "_b", "left_anti"
        ).localCheckpoint(eager=False)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def binseg_changepoints(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    unit: str = "day",
) -> DataFrame:
    """Two-level binary-segmentation changepoint search over bucket
    means — the MULTI-changepoint extension of
    :func:`cusum_changepoint` / :func:`pettitt_changepoint` (both find
    ONE shift; two shifts mask each other): level 1 picks the split
    maximizing the between-segment sum-of-squares gain

        gain(t) = S_L²/n_L + S_R²/n_R − S²/n

    over the whole series; level 2 repeats inside each half.  Segment
    sums are exact decimal PREFIX sums over the bucket axis (round-
    before-cast ``decimal(18,6)`` bucket means), so every gain is one
    IEEE expression on identical doubles in any engine — argmax ties
    break to the earliest bucket deterministically.  Plan: one fact
    reduce, one cumulative window over n buckets, three n-row candidate
    scans with the level-1 pick broadcast.

    Output: up to 3 rows — ``(level bigint, segment string ∈
    {'all','left','right'}, change_bucket timestamp, n_segment bigint,
    gain double)``; a segment too short to split (< 2 buckets) emits
    nothing.
    """
    dec = "decimal(28,6)"
    keep = F.col(ts).isNotNull() & F.col(value).isNotNull()
    buckets = (
        df.filter(keep)
        .groupBy(F.date_trunc(unit, F.col(ts)).alias("_b"))
        .agg(
            F.round(
                F.sum(F.col(value).cast(dec)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).cast("decimal(18,6)").alias("_m")
        )
    )
    w_ord = Window.orderBy("_b")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    idx = buckets.select(
        "_b",
        F.row_number().over(w_ord).alias("_t"),
        F.sum("_m").over(w_cum).alias("_cum"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        F.sum("_m").over(w_all).alias("_tot"),
    ).localCheckpoint(eager=False)

    def gain(cum_l, n_l, cum_all, n_all):
        cl = cum_l.cast("double")
        ca = cum_all.cast("double")
        nl = n_l.cast("double")
        na = n_all.cast("double")
        cr = ca - cl
        nr = na - nl
        return cl * cl / nl + cr * cr / nr - ca * ca / na

    def pick(cand: DataFrame, level: int, segment: str) -> DataFrame:
        w_pick = Window.orderBy(F.col("_gain").desc(), F.col("_t").asc())
        return (
            cand.withColumn("_pk", F.row_number().over(w_pick))
            .filter(F.col("_pk") == 1)
            .select(
                F.lit(level).cast("long").alias("level"),
                F.lit(segment).alias("segment"),
                F.col("_b").cast("timestamp").alias("change_bucket"),
                F.col("_nseg").cast("long").alias("n_segment"),
                F.round(F.col("_gain"), 9).alias("gain"),
                F.col("_t").alias("_split_t"),
            )
        )

    cand1 = idx.filter(F.col("_t") < F.col("_n")).select(
        "_b",
        "_t",
        F.col("_n").alias("_nseg"),
        gain(F.col("_cum"), F.col("_t"), F.col("_tot"), F.col("_n")).alias(
            "_gain"
        ),
    )
    # NB: boundary column is "_bt", NOT "_T" — Spark resolves column
    # names case-insensitively, so "_T" would collide with "_t"
    p1 = pick(cand1, 1, "all").localCheckpoint(eager=False)
    split = p1.select(
        F.col("_split_t").alias("_bt"),
    )
    boundary = (
        idx.join(F.broadcast(split), idx["_t"] == split["_bt"])
        .select(
            split["_bt"].alias("_bt"),
            idx["_cum"].alias("_cumT"),
        )
        .localCheckpoint(eager=False)
    )
    withb = idx.crossJoin(F.broadcast(boundary))
    # left half: rows 1..T, candidates t < T
    cand_l = withb.filter(F.col("_t") < F.col("_bt")).select(
        "_b",
        "_t",
        F.col("_bt").alias("_nseg"),
        gain(
            F.col("_cum"), F.col("_t"), F.col("_cumT"), F.col("_bt")
        ).alias("_gain"),
    )
    # right half: rows T+1..n, candidates T < t < n
    cand_r = withb.filter(
        (F.col("_t") > F.col("_bt")) & (F.col("_t") < F.col("_n"))
    ).select(
        "_b",
        "_t",
        (F.col("_n") - F.col("_bt")).alias("_nseg"),
        gain(
            F.col("_cum") - F.col("_cumT"),
            F.col("_t") - F.col("_bt"),
            F.col("_tot") - F.col("_cumT"),
            F.col("_n") - F.col("_bt"),
        ).alias("_gain"),
    )
    out = (
        p1.unionByName(pick(cand_l, 2, "left"))
        .unionByName(pick(cand_r, 2, "right"))
        .drop("_split_t")
    )
    return out


def _global_bucket_means(
    df: DataFrame, ts: str, value: str, unit: str
) -> DataFrame:
    """Shared daily/hourly mean stage for the randomness/structure tests
    below: one corpus-sized partial-aggregable groupBy to ``(_b, _m)``
    with the 6-dp round-before-decimal-cast convention (see
    :func:`pettitt_changepoint` — a bare double→decimal cast resolves
    .5-ULP boundaries engine-differently)."""
    dec = "decimal(28,6)"
    keep = F.col(ts).isNotNull() & F.col(value).isNotNull()
    return (
        df.filter(keep)
        .groupBy(F.date_trunc(unit, F.col(ts)).alias("_b"))
        .agg(
            F.round(
                F.sum(F.col(value).cast(dec)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).cast(dec).alias("_m")
        )
    )


def turning_points_test(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    unit: str = "day",
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Turning-points randomness test on the bucket-mean series — the
    cheapest "is this metric i.i.d. noise or structured" screen beside
    :func:`runs_test`'s median-crossing view: count interior buckets
    that are strict local extrema (both neighbor deltas nonzero, with
    opposite signs); under i.i.d. exchangeability

        E[T] = 2(n−2)/3,   Var[T] = (16n − 29)/90,
        z = (T − E)/√Var

    — too FEW turning points means trend/drift, too MANY means
    oscillation/negative autocorrelation.  Bucket means via the shared
    6-dp decimal stage; the neighbor comparison is two lags on the
    bounded bucket axis; T is an exact integer.

    Output: one row — ``(n_buckets bigint, turning_points bigint,
    expected double, z double, nonrandom boolean)``.
    """
    b = _global_bucket_means(df, ts, value, unit)
    w = Window.orderBy("_b")
    m = F.col("_m").cast("double")
    lagm = F.lag(m).over(w)
    leadm = F.lead(m).over(w)
    d1 = F.signum(m - lagm)
    d2 = F.signum(leadm - m)
    tp = (
        lagm.isNotNull()
        & leadm.isNotNull()
        & (d1 * d2 < 0)
    ).cast("long")
    agg = b.select(tp.alias("_tp")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_tp").alias("_t"),
    )
    n = F.col("_n").cast("double")
    e = F.lit(2.0) * (n - F.lit(2.0)) / F.lit(3.0)
    var = (F.lit(16.0) * n - F.lit(29.0)) / F.lit(90.0)
    z = F.when(
        (F.col("_n") >= 3) & (var > 0),
        (F.col("_t").cast("double") - e) / F.sqrt(var),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_buckets"),
        F.col("_t").cast("long").alias("turning_points"),
        F.round(e, 9).alias("expected"),
        F.round(z, 9).alias("z"),
        F.coalesce(F.abs(z) > F.lit(z_crit), F.lit(False)).alias(
            "nonrandom"
        ),
    )


def bartels_rank_test(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    unit: str = "day",
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Bartels' rank version of the von Neumann ratio on the bucket-mean
    series — the rank-based serial-correlation test (no normality
    bought) between :func:`runs_test`'s sign crudeness and the
    parametric ACF:

        RVN = Σ(r_i − r_{i+1})² / Σ(r_i − r̄)²,
        E = 2,  Var = 4(n−2)(5n² − 2n − 9) / (5n(n+1)(n−1)²),
        z = (RVN − 2)/√Var

    Ranks are the TOTAL order (value, bucket) — a deterministic
    tiebreak (documented deviation from mid-ranks; 6-dp bucket means
    tie rarely), which makes the ranks a permutation of 1..n, so the
    denominator is the closed form n(n²−1)/12 and both sums are exact
    integers.  RVN < 2 flags positive serial correlation (trend),
    RVN > 2 rapid oscillation.

    Output: one row — ``(n_buckets bigint, rvn double, z double,
    nonrandom boolean)``.
    """
    b = _global_bucket_means(df, ts, value, unit)
    ranked = b.select(
        "_b",
        F.row_number().over(Window.orderBy("_m", "_b")).alias("_r"),
    )
    w = Window.orderBy("_b")
    nxt = F.lead("_r").over(w)
    d = F.col("_r") - nxt
    agg = ranked.select(
        F.col("_r"), (d * d).alias("_dd")
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dd").alias("_nm"),
    )
    n = F.col("_n").cast("double")
    denom = n * (n * n - F.lit(1.0)) / F.lit(12.0)
    rvn = F.try_divide(F.col("_nm").cast("double"), denom)
    var = (
        F.lit(4.0)
        * (n - F.lit(2.0))
        * (F.lit(5.0) * n * n - F.lit(2.0) * n - F.lit(9.0))
        / (
            F.lit(5.0)
            * n
            * (n + F.lit(1.0))
            * (n - F.lit(1.0))
            * (n - F.lit(1.0))
        )
    )
    z = F.when(
        (F.col("_n") >= 4) & (var > 0),
        (rvn - F.lit(2.0)) / F.sqrt(var),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_buckets"),
        F.round(rvn, 9).alias("rvn"),
        F.round(z, 9).alias("z"),
        F.coalesce(F.abs(z) > F.lit(z_crit), F.lit(False)).alias(
            "nonrandom"
        ),
    )


def spectral_entropy(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    unit: str = "hour",
    max_period: int = 48,
) -> DataFrame:
    """Normalized spectral entropy of the bucket-mean series over the
    same candidate-period grid as :func:`dominant_period` — the ONE
    number for "how forecastable is this metric": H → 0 when one period
    owns the spectrum (pure cycle), H → 1 when power is flat across
    periods (white noise); the Hyndman-features companion to
    ``seasonal_strength``.

        s_p = power(p)/Σ power,   H = −Σ s_p·ln s_p / ln(P)

    The projection grid is bucket-axis work exactly as in
    :func:`dominant_period` (same decimal(28,12) per-term quantization
    of the trig products); per-period powers round to 9 dp, shares form
    from exact decimal sums, each ``ln`` quantizes through
    decimal(28,12) before the weighted sum — engine-identical.

    Output: one row — ``(n_buckets bigint, n_periods bigint,
    spectral_entropy double)``; NULL entropy when the spectrum is
    all-zero or fewer than 4 buckets exist.
    """
    if max_period < 3:
        raise ValueError("need max_period >= 3")
    dec9 = "decimal(28,9)"
    dec12 = "decimal(28,12)"
    tau = 6.283185307179586
    b = _global_bucket_means(df, ts, value, unit)
    w_all = Window.partitionBy()
    w_ord = Window.orderBy("_b")
    idx = b.select(
        F.row_number().over(w_ord).alias("_i"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
        (
            F.col("_m").cast("double")
            - F.sum("_m").over(w_all).cast("double")
            / F.count(F.lit(1)).over(w_all).cast("double")
        ).alias("_d"),
    ).filter(F.col("_n") >= 4)
    grid = idx.select(
        "_i",
        "_n",
        "_d",
        F.explode(F.sequence(F.lit(2), F.lit(max_period))).alias("_p"),
    )
    ang = (
        F.lit(tau) * F.col("_i").cast("double") / F.col("_p").cast("double")
    )
    per = grid.groupBy("_p").agg(
        F.sum((F.col("_d") * F.cos(ang)).cast(dec12)).alias("_c"),
        F.sum((F.col("_d") * F.sin(ang)).cast(dec12)).alias("_s"),
        F.max("_n").alias("_n"),
    )
    power = F.round(
        (
            F.col("_c").cast("double") * F.col("_c").cast("double")
            + F.col("_s").cast("double") * F.col("_s").cast("double")
        )
        / (F.col("_n").cast("double") * F.col("_n").cast("double")),
        9,
    )
    pw = per.select(
        F.col("_n"), power.alias("_pw")
    )
    tot = pw.agg(
        F.max("_n").alias("_nb"),
        F.count(F.lit(1)).alias("_np"),
        F.sum(F.col("_pw").cast(dec9)).alias("_tot"),
    )
    shared = pw.crossJoin(F.broadcast(tot))
    s = F.try_divide(
        F.col("_pw"), F.col("_tot").cast("double")
    )
    # NULL (skipped by the sum) for zero-power periods — and when EVERY
    # period is zero-power the whole sum is NULL, which is exactly the
    # documented all-zero-spectrum NULL output.
    term = F.when(
        s > 0, F.round(s * F.log(s).cast(dec12).cast("double"), 12)
    )
    ent = shared.groupBy().agg(
        F.max("_nb").alias("_nb"),
        F.max("_np").alias("_np"),
        F.sum(term.cast(dec12)).alias("_h"),
    )
    lnp = F.log(F.col("_np").cast("double")).cast(dec12).cast("double")
    h = F.when(
        F.col("_h").isNotNull(),
        -F.col("_h").cast("double") / lnp,
    )
    return ent.select(
        F.col("_nb").cast("long").alias("n_buckets"),
        F.col("_np").cast("long").alias("n_periods"),
        F.round(h, 9).alias("spectral_entropy"),
    )


def bollinger_bands(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    unit: str = "day",
    window: int = 7,
    k: float = 2.0,
) -> DataFrame:
    """Bollinger bands over the bucket-mean series — the classic
    volatility envelope (trailing ``window``-bucket mean ± k·population
    std) with breach flags; the dashboard-native "is today's level
    outside its own recent volatility" readout beside
    :func:`zscore_anomalies`' global fences.

    The trailing moments ride exact decimals: bucket means are 6-dp
    decimal(18,6); their squares are exact decimal(37,12) products; the
    window sums stay decimal, so mid/std form from identical doubles in
    any engine (√ through the decimal(28,12) libm cut).  Buckets
    without a full trailing window emit NULL bands (no partial-window
    fences).  All windows run on the bounded bucket axis.

    Output per bucket: ``(bucket timestamp, value double, mid double,
    band_hi double, band_lo double, breach_hi boolean,
    breach_lo boolean)``.
    """
    if window < 2:
        raise ValueError("need window >= 2")
    dec12 = "decimal(28,12)"
    b = _global_bucket_means(df, ts, value, unit).select(
        F.col("_b"), F.col("_m").cast("decimal(18,6)").alias("_m")
    )
    w = Window.orderBy("_b").rowsBetween(-(window - 1), 0)
    cnt = F.count(F.lit(1)).over(w)
    sm = F.sum("_m").over(w)
    sq = F.sum(F.col("_m") * F.col("_m")).over(w)
    full = cnt == window
    wd = F.lit(float(window))
    mid = F.when(full, sm.cast("double") / wd)
    var = F.when(
        full,
        F.greatest(
            sq.cast("double") / wd - mid * mid, F.lit(0.0)
        ),
    )
    std = F.sqrt(var).cast(dec12).cast("double")
    hi = mid + F.lit(float(k)) * std
    lo = mid - F.lit(float(k)) * std
    m = F.col("_m").cast("double")
    return b.select(
        F.col("_b").alias("bucket"),
        F.round(m, 9).alias("value"),
        F.round(mid, 9).alias("mid"),
        F.round(hi, 9).alias("band_hi"),
        F.round(lo, 9).alias("band_lo"),
        F.when(full, m > hi).alias("breach_hi"),
        F.when(full, m < lo).alias("breach_lo"),
    )


def seasonal_mann_kendall(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    unit: str = "day",
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Seasonal Mann-Kendall trend test on the bucket-mean series — the
    weekly-cycle-proof version of :func:`mann_kendall_trend`: sign
    pairs are counted ONLY within each weekday's subseries, so a strong
    day-of-week profile (the thing event streams always have) cannot
    masquerade as monotone drift:

        S = Σ_w S_w,   Var = Σ_w [n_w(n_w−1)(2n_w+5) − tie_w]/18,
        z = (S − sign(S))/√Var      (continuity-corrected)

    Same exactness as the plain test: 6-dp decimal bucket means, exact
    integer S and tie polynomials, one IEEE z.  The O(Σ n_w²) pair
    fan-out runs on the per-weekday bucket axes (≤ (n/7)²·7 pairs).

    Output: one row — ``(n_buckets bigint, s bigint, var_s double,
    z double, trend string)``.
    """
    b = _global_bucket_means(df, ts, value, unit).select(
        F.col("_b"), F.col("_m"), F.dayofweek("_b").alias("_w")
    )
    a = b.select(
        F.col("_w"), F.col("_b").alias("_ba"), F.col("_m").alias("_ma")
    )
    c = b.select(
        F.col("_w"), F.col("_b").alias("_bb"), F.col("_m").alias("_mb")
    )
    pairs = a.join(c, "_w").filter(F.col("_ba") < F.col("_bb"))
    s_agg = pairs.agg(
        F.coalesce(
            F.sum(
                F.signum(
                    F.col("_mb").cast("double")
                    - F.col("_ma").cast("double")
                ).cast("long")
            ),
            F.lit(0),
        ).alias("s")
    )
    ties = (
        b.groupBy("_w", "_m")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy("_w")
        .agg(
            F.sum("_t").alias("_nw"),
            F.sum(
                F.col("_t")
                * (F.col("_t") - 1)
                * (F.lit(2) * F.col("_t") + 5)
            ).alias("_tie"),
        )
        .agg(
            F.sum("_nw").alias("n_buckets"),
            F.sum(
                F.col("_nw")
                * (F.col("_nw") - 1)
                * (F.lit(2) * F.col("_nw") + 5)
                - F.col("_tie")
            ).alias("_vnum"),
        )
    )
    joined = s_agg.crossJoin(F.broadcast(ties))
    var_s = F.col("_vnum").cast("double") / F.lit(18.0)
    sgn = F.col("s").cast("double")
    z = F.when(var_s > 0, (sgn - F.signum(sgn)) / F.sqrt(var_s))
    return joined.select(
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("s").cast("long").alias("s"),
        F.round(var_s, 9).alias("var_s"),
        F.round(z, 9).alias("z"),
        F.when(z > F.lit(z_crit), F.lit("increasing"))
        .when(z < F.lit(-z_crit), F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


def chow_test(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    unit: str = "day",
    frac: float = 0.5,
) -> DataFrame:
    """Chow structural-break test of the bucket-mean linear trend at a
    KNOWN split point (bucket ⌊n·frac⌋) — "did the trend line itself
    change at the cutover", the regression-level question
    :func:`pettitt_changepoint`'s level-shift test doesn't ask:

        F = ((SSR_pooled − SSR₁ − SSR₂)/2) / ((SSR₁+SSR₂)/(n−4))

    with each SSR the closed-form OLS residual sum Syy − S²xy/Sxx of
    y ~ bucket-index over the pooled series and the two segments.  All
    moment sums ride exact decimals (integer x-index; 6-dp decimal y),
    so every SSR — and F — is engine-identical.  Bucket-axis work only.

    Output: one row — ``(n_buckets bigint, break_bucket timestamp,
    ssr_pooled double, ssr_split double, f_stat double)``; NULL F when
    a segment has < 3 buckets.
    """
    if not 0.0 < frac < 1.0:
        raise ValueError("need 0 < frac < 1")
    dec = "decimal(28,6)"
    b = _global_bucket_means(df, ts, value, unit)
    w_ord = Window.orderBy("_b")
    w_all = Window.partitionBy()
    idx = b.select(
        "_b",
        "_m",
        F.row_number().over(w_ord).alias("_i"),
        F.count(F.lit(1)).over(w_all).alias("_n"),
    ).withColumn(
        "_k", F.floor(F.col("_n") * F.lit(float(frac))).cast("int")
    )

    def moments(seg: F.Column, tag: str) -> list:
        x = F.when(seg, F.col("_i"))
        y = F.when(seg, F.col("_m"))
        return [
            F.count(x).alias(f"_n{tag}"),
            F.sum(x.cast("long")).alias(f"_sx{tag}"),
            F.sum((x * x).cast("long")).alias(f"_sxx{tag}"),
            F.sum(y.cast(dec)).alias(f"_sy{tag}"),
            F.sum((y * y).cast("decimal(37,12)")).alias(f"_syy{tag}"),
            F.sum(
                (x.cast("decimal(18,0)") * y.cast("decimal(18,6)")).cast(
                    "decimal(37,6)"
                )
            ).alias(f"_sxy{tag}"),
        ]

    staged = idx.select(
        "_b", "_i", "_n", "_k",
        F.col("_m").cast("decimal(18,6)").alias("_m"),
    )
    agg = staged.agg(
        F.max("_n").alias("_nn"),
        F.max(F.when(F.col("_i") == F.col("_k"), F.col("_b"))).alias(
            "_bk"
        ),
        *moments(F.lit(True), "p"),
        *moments(F.col("_i") <= F.col("_k"), "1"),
        *moments(F.col("_i") > F.col("_k"), "2"),
    )

    def ssr(tag: str):
        n = F.col(f"_n{tag}").cast("double")
        sx = F.col(f"_sx{tag}").cast("double")
        sxx = F.col(f"_sxx{tag}").cast("double")
        sy = F.col(f"_sy{tag}").cast("double")
        syy = F.col(f"_syy{tag}").cast("double")
        sxy = F.col(f"_sxy{tag}").cast("double")
        vx = sxx - sx * sx / n
        cxy = sxy - sx * sy / n
        vy = syy - sy * sy / n
        return F.when(n >= 3, vy - F.try_divide(cxy * cxy, vx))

    sp, s1, s2 = ssr("p"), ssr("1"), ssr("2")
    nn = F.col("_nn").cast("double")
    fstat = F.when(
        nn > 4,
        F.try_divide(
            (sp - s1 - s2) / F.lit(2.0),
            (s1 + s2) / (nn - F.lit(4.0)),
        ),
    )
    return agg.select(
        F.col("_nn").cast("long").alias("n_buckets"),
        F.col("_bk").alias("break_bucket"),
        F.round(sp, 9).alias("ssr_pooled"),
        F.round(s1 + s2, 9).alias("ssr_split"),
        F.round(fstat, 9).alias("f_stat"),
    )


def interarrival_cv_profile(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    min_events: int = 3,
) -> DataFrame:
    """Per-user inter-arrival burstiness profile — the USER-level view
    :func:`interarrival_expfit`'s global rate fit averages away: each
    user's coefficient of variation CV = sd/mean of their gap sequence
    is ~1 under Poisson arrivals, ≫ 1 for bursty bot-like sessions,
    ≪ 1 for metronomic schedulers; the corpus summary says how much of
    the traffic is which.

    Gaps are exact integer seconds (lead over the per-user time-ordered
    window); per-user moments are exact integer sums, so each CV is one
    IEEE expression; the summary reduces CVs with 9-dp decimal sums and
    exact interpolated percentiles on the CV axis.

    Output: one row — ``(n_users bigint, mean_cv double, p50_cv
    double, p90_cv double, bursty_share double)`` (bursty: CV > 1),
    over users with ≥ ``min_events`` events.
    """
    w = Window.partitionBy("_u").orderBy("_t")
    gaps = (
        df.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(
            F.col(user_col).alias("_u"),
            F.col(ts_col).cast("timestamp").alias("_t"),
        )
        .withColumn(
            "_g",
            (
                F.unix_timestamp(F.lead("_t").over(w))
                - F.unix_timestamp("_t")
            ).cast("long"),
        )
        .filter(F.col("_g").isNotNull())
    )
    per_u = gaps.groupBy("_u").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_g").cast("decimal(38,0)")).alias("_s"),
        F.sum(
            (F.col("_g").cast("decimal(19,0)")
             * F.col("_g").cast("decimal(19,0)"))
        ).alias("_q"),
    ).filter(F.col("_n") >= min_events - 1)
    n = F.col("_n").cast("double")
    m = F.col("_s").cast("double") / n
    var = F.greatest(
        F.col("_q").cast("double") / n - m * m, F.lit(0.0)
    )
    cv = F.round(F.try_divide(F.sqrt(var), m), 9)
    cvs = per_u.select(cv.alias("_cv")).filter(F.col("_cv").isNotNull())
    return cvs.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.round(
            F.sum(F.col("_cv").cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("mean_cv"),
        F.round(F.percentile("_cv", F.lit(0.5)), 9).alias("p50_cv"),
        F.round(F.percentile("_cv", F.lit(0.9)), 9).alias("p90_cv"),
        F.round(
            F.sum((F.col("_cv") > 1.0).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("bursty_share"),
    )


def dickey_fuller_test(
    df: DataFrame,
    ts: str = "ts",
    value: str = "value",
    unit: str = "day",
    crit: float = -2.86,
) -> DataFrame:
    """Dickey-Fuller unit-root test (no augmentation lags) on the
    bucket-mean series — the "is this metric mean-reverting or a random
    walk" verdict that decides whether a level alert (stationary) or a
    drift alert (unit root) is the right monitor, complementing
    :func:`hurst_exponent`'s scaling view and the variance-ratio test:

        Δm_t = α + β·m_{t−1} + ε,   DF = β̂ / se(β̂),
        reject unit root when DF < crit (−2.86 ≈ 5% with constant)

    OLS on the bounded bucket axis from 9-dp-quantized decimal moment
    sums of the EXACT 6-dp bucket means (one corpus reduce, then
    n_buckets−1 rows); the t-statistic is one IEEE expression.

    Output: one row — ``(n bigint, beta double, se double, df_stat
    double, stationary boolean)``; NULL stats for n < 4.
    """
    dec = "decimal(28,9)"
    b = _global_bucket_means(df, ts, value, unit)
    w = Window.orderBy("_b")
    staged = (
        b.select(
            F.col("_m").cast("double").alias("_y"),
            F.lag(F.col("_m").cast("double")).over(w).alias("_x"),
        )
        .filter(F.col("_x").isNotNull())
        .select(
            F.col("_x"), (F.col("_y") - F.col("_x")).alias("_d")
        )
    )
    agg = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("_x"), 9).cast(dec)).alias("_sx"),
        F.sum(F.round(F.col("_d"), 9).cast(dec)).alias("_sy"),
        F.sum(
            F.round(F.col("_x") * F.col("_x"), 9).cast(dec)
        ).alias("_sxx"),
        F.sum(
            F.round(F.col("_x") * F.col("_d"), 9).cast(dec)
        ).alias("_sxy"),
        F.sum(
            F.round(F.col("_d") * F.col("_d"), 9).cast(dec)
        ).alias("_syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    vx = F.col("_sxx").cast("double") - sx * sx / n
    cxy = F.col("_sxy").cast("double") - sx * sy / n
    vy = F.col("_syy").cast("double") - sy * sy / n
    beta = F.try_divide(cxy, vx)
    sse = vy - F.try_divide(cxy * cxy, vx)
    se = F.when(
        F.col("n") > 3,
        F.sqrt(F.try_divide(sse / (n - F.lit(2.0)), vx)),
    )
    dfstat = F.try_divide(beta, se)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(beta, 9).alias("beta"),
        F.round(se, 9).alias("se"),
        F.round(dfstat, 9).alias("df_stat"),
        F.coalesce(dfstat < F.lit(float(crit)), F.lit(False)).alias(
            "stationary"
        ),
    )
