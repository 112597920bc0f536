"""Banded range join: match points to intervals WITHOUT an equi-key.

Spark has no native range-join optimization — a plain
``intervals.join(points, start <= ts AND ts < end)`` plans as
BroadcastNestedLoopJoin (O(N·M) compares, driver-killing at scale). The
classic fix (same trick as Databricks' range-join hint and the J4 as-of
machinery in ``asof.py``): quantize time into fixed-width bands, explode
each interval onto the bands it overlaps, tag each point with its single
band, hash-join on the band, then apply the true range predicate as a
residual filter.

Cost model: intermediate rows = Σ_bands |intervals ∩ band| · |points ∩
band| — linear in data for band width ≈ median interval length. Both
sides shuffle co-partitioned on the band key, every stage is
whole-stage-codegen, and a point meets an interval exactly once (the
point's band is unique), so no dedup pass is needed. Unmatched-interval
("left") semantics compose on top: aggregate the inner result, then
left-join the aggregate back onto the interval table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_point_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    ts_col: str,
    band_seconds: int = 7 * 86400,
) -> DataFrame:
    """Inner-join each point (``ts_col``) to every interval with
    ``start <= ts < end``. Pick ``band_seconds`` near the typical
    interval length so each interval explodes to ~2 bands.
    """

    def band_of(c: Column) -> Column:
        # NTZ timestamps reject a direct double cast; hop through TIMESTAMP
        # (identity under the engine's enforced UTC session timezone)
        return F.floor(
            c.cast("timestamp").cast("double").cast("long") / band_seconds
        )

    iv = intervals.withColumn(
        "_band",
        F.explode(
            F.sequence(
                band_of(F.col(start_col)),
                # end is exclusive: the last overlapped band contains
                # end - 1s (an end exactly on a boundary does not reach
                # into the next band)
                band_of(F.col(end_col) - F.expr("INTERVAL 1 SECOND")),
            )
        ),
    )
    pt = points.withColumn("_band", band_of(F.col(ts_col)))
    cond = (F.col(ts_col) >= F.col(start_col)) & (
        F.col(ts_col) < F.col(end_col)
    )
    return iv.join(pt, "_band").filter(cond).drop("_band")


def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    start_col: str,
    end_col: str,
    on: list[str],
    band_seconds: int = 7 * 86400,
    suffix: str = "_b",
) -> DataFrame:
    """Interval×interval overlap join (CLOSED intervals: rows pair iff
    ``a.start <= b.end AND b.start <= a.end``), pre-keyed on the ``on``
    equi-columns (``[]`` for none) — the missing sibling of :func:`interval_point_join`
    (maintenance windows × outages, shipment spans × promotion spans,
    session spans × incident spans).

    Same banding strategy: both sides explode onto the fixed-width bands
    they cover and hash-join on (keys, band) — never a nested-loop. A pair
    overlapping several shared bands would match once per band; instead of
    a distinct pass (an extra corpus-wide shuffle), the join keeps a pair
    only in the FIRST band both intervals cover —
    ``band == greatest(band(a.start), band(b.start))`` — which any
    overlapping pair covers by construction, so each pair survives exactly
    once with zero dedup cost.

    ``b``'s non-key columns come back suffixed (default ``_b``), so
    self-joins work by passing the same frame twice.
    """
    def band(c: Column) -> Column:
        return F.floor(
            c.cast("timestamp").cast("double").cast("long") / band_seconds
        )

    ia = a.withColumn(
        "_band",
        F.explode(F.sequence(band(F.col(start_col)), band(F.col(end_col)))),
    )
    rb = b
    for c in b.columns:
        if c not in on:
            rb = rb.withColumnRenamed(c, c + suffix)
    sb, eb = start_col + suffix, end_col + suffix
    ib = rb.withColumn(
        "_band", F.explode(F.sequence(band(F.col(sb)), band(F.col(eb))))
    )
    joined = ia.join(ib, [*on, "_band"])
    overlap = (F.col(end_col) >= F.col(sb)) & (F.col(eb) >= F.col(start_col))
    first_shared = F.greatest(band(F.col(start_col)), band(F.col(sb)))
    return joined.filter(overlap & (F.col("_band") == first_shared)).drop(
        "_band"
    )
