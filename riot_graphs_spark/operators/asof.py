"""J4 — generalized backward as-of join (SURVEY §2.3 J4, §4 item 2).

The reference pairs each nightly build with the last merge commit before the
03:00 anchor by iterating ``git log`` newest-first and taking the first hit
(``riot_graphs/rg.py:61-84``). The general operator — "for each left row, the
most recent right row with the same key at or before the left timestamp" —
has no native Spark SQL primitive, so it is implemented as the classic
union + conditional-last-IGNORE-NULLS plan:

1. tag both inputs and union them on (key, ts);
2. one window per key ordered by (ts, side) carries the latest right-side
   payload forward;
3. keep only left rows.

Cost: ONE shuffle on the key (same as the equi-join that any as-of
implementation needs) plus a per-key sort — no range cross-join, no
pointwise subqueries. Skewed keys are handled by AQE skew-join on the
shuffle; for the 100 TB case the inputs should be bucketed by key so the
shuffle vanishes entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: Sequence[str] = (),
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: latest right row with ``right.ts <= left.ts``
    per key.

    Returns all left columns plus ``{payload}{suffix}`` columns (NULL when no
    right row precedes — total, never drops left rows).
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = list(right_payload) or [
        c for c in right.columns if c not in (*keys, right_ts)
    ]
    # a right row sorts before the left row at an equal ts, so it is visible
    unioned = _tagged_union(left, right, keys, left_ts, right_ts, payload, 0)

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn(
        "_carried", F.last("_payload", ignorenulls=True).over(w)
    )
    is_left = F.col("_side") == 1
    out_payload = [
        F.col(f"_carried.{c}").alias(f"{c}{suffix}") for c in payload
    ]
    return carried.filter(is_left).select(*left.columns, *out_payload)


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    payload: list[str],
    right_side: int,
) -> DataFrame:
    """Shared as-of plumbing: tag and union both inputs on (key, _ts, _side).

    ``right_side`` decides whether a right row at the same timestamp sorts
    before (0) or after (1) the left row — i.e. whether it is visible to a
    window frame anchored at the left row in each direction.
    """
    right_tagged = right.select(
        *keys,
        F.col(right_ts).alias("_ts"),
        F.lit(right_side).alias("_side"),
        F.struct(*[F.col(c) for c in payload]).alias("_payload"),
    )
    left_tagged = left.select(
        "*",
        F.col(left_ts).alias("_ts"),
        F.lit(1 - right_side).alias("_side"),
        F.lit(None).cast(right_tagged.schema["_payload"].dataType).alias("_payload"),
    )
    return left_tagged.unionByName(
        right_tagged.select(
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in left.columns
                if c not in keys
            ],
            *keys,
            "_ts",
            "_side",
            "_payload",
        )
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: Sequence[str] = (),
    suffix: str = "_asof",
    right_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Forward as-of join: EARLIEST right row with ``right.ts >= left.ts``
    per key — the mirror of :func:`asof_join`, same
    one-shuffle union + window plan with the frame flipped to
    ``(current row, unbounded following)``.

    ``right_tiebreak``: right-side columns ordering ties at equal ``_ts``
    (pick the smallest) so the result is deterministic when multiple right
    rows share a timestamp.
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = list(right_payload) or [
        c for c in right.columns if c not in (*keys, right_ts)
    ]
    tb = list(right_tiebreak)
    # a right row sorts after the left row at an equal ts, so it is visible
    # from the forward frame
    unioned = _tagged_union(left, right, keys, left_ts, right_ts, payload, 1)
    w = (
        Window.partitionBy(*keys)
        .orderBy(
            F.col("_ts"),
            F.col("_side"),
            *[F.col("_payload")[c].asc_nulls_last() for c in tb],
        )
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carried = unioned.withColumn(
        "_carried", F.first("_payload", ignorenulls=True).over(w)
    )
    is_left = F.col("_side") == 0
    out_payload = [
        F.col(f"_carried.{c}").alias(f"{c}{suffix}") for c in payload
    ]
    return carried.filter(is_left).select(*left.columns, *out_payload)


def asof_join_interpolated(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value: str = "value",
    out: str = "interp_value",
) -> DataFrame:
    """Interpolated series alignment: for each left row, linearly
    interpolate the right series' ``value`` at the left timestamp from the
    bracketing right points — ``pandas.merge_asof`` + interpolate, the
    standard way to align two sensors sampled on different clocks before
    any arithmetic between them.

    Composition of the backward and forward as-of joins (each the
    one-shuffle union+window plan — two shuffles total on the key), then a
    row-local blend: ``pv + (nv − pv)·(lt − pt)/(nt − pt)`` on exact
    epoch-micros; timestamps at/outside the right series' edge take the
    single bracketing value (NULL when the key has no right rows at all).
    Right should be unique per (key, ts) — pre-aggregate ties — so both
    brackets are well-defined.

    Output: all left columns + ``{right_ts}_prev/_next`` + ``out``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    b = asof_join(
        left, right, keys, left_ts, right_ts,
        right_payload=[right_ts, value], suffix="_prev",
    )
    f = asof_join_forward(
        b, right, keys, left_ts, right_ts,
        right_payload=[right_ts, value], suffix="_next",
    )
    pt, pv = F.col(f"{right_ts}_prev"), F.col(f"{value}_prev")
    nt, nv = F.col(f"{right_ts}_next"), F.col(f"{value}_next")
    lt = F.col(left_ts)
    frac = (
        (F.unix_micros(lt) - F.unix_micros(pt)).cast("double")
        / (F.unix_micros(nt) - F.unix_micros(pt)).cast("double")
    )
    interp = (
        F.when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .when(F.unix_micros(nt) == F.unix_micros(pt), pv)
        .otherwise(pv + (nv - pv) * frac)
    )
    return f.withColumn(out, interp).drop(f"{value}_prev", f"{value}_next")
