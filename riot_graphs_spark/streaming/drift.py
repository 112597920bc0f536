"""Per-ingest drift scoring: a recorded baseline snapshot that each
arriving batch is scored against.

The operational loop the reference's nightly cron implies (each ingest run
should answer "does today's data look like the corpus I calibrated on?",
``/root/reference/rg.py:269-285`` nightly deltas) composed from the batch
drift operators:

1. calibrate ONCE: :func:`record_baseline` computes the baseline's fixed
   equi-depth bin edges (``profile.equi_depth_edges`` — equal mass per bin
   maximizes PSI sensitivity) and its bin counts, and stores both;
2. score every batch: bin it and compare its counts against the stored
   baseline (``profile.psi_from_counts``), or its values against the
   stored CDF (:func:`ks_against_baseline_cdf`).

Scale: the baseline table is (groups × bins) rows — broadcast-sized
forever; each batch pays one count aggregate over ITSELF (O(batch)).
Alert thresholds are the standard PSI bands (0.1 drifting / 0.25 shifted).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def record_baseline(
    baseline: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbuckets: int,
    group_cols: Sequence[str] = (),
    recorded_at: str | None = None,
) -> DataFrame:
    """The calibration artifact: per (group, bin) counts of the baseline
    snapshot under the FIXED clamp bins — write this table beside the bin
    spec; every later batch is scored against it without re-reading the
    baseline.  (Derive ``lo``/``hi``/``nbuckets`` from
    ``profile.equi_depth_edges`` output when choosing bins, or pass known
    physical bounds.)

    Pass ``recorded_at`` (an ISO timestamp string — explicit, never
    implicit wall-clock, so re-runs are reproducible) to stamp the
    artifact with WHEN it was calibrated: a baseline recorded before an
    upstream shift silently degrades into scoring drift against drift,
    and the stamp is what lets a reader flag the baseline as stale.

    Output: ``(*group_cols, bin int, n bigint[, recorded_at timestamp])``.
    """
    if nbuckets < 1 or not hi > lo:
        raise ValueError("need nbuckets >= 1 and hi > lo")
    width = (hi - lo) / nbuckets
    x = F.col(value_col)
    keep = x.isNotNull()
    for g in group_cols:
        keep = keep & F.col(g).isNotNull()
    b = F.greatest(
        F.lit(0),
        F.least(F.lit(nbuckets - 1), F.floor((x - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    out = (
        baseline.filter(keep)
        .groupBy(*group_cols, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if recorded_at is not None:
        out = out.withColumn(
            "recorded_at", F.lit(recorded_at).cast("timestamp")
        )
    return out


def record_baseline_cdf(
    baseline: DataFrame,
    value_col: str,
    nbins: int,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """The KS calibration artifact: the baseline's empirical CDF sampled
    at its own equi-depth edges — per (group, edge value), the EXACT
    cumulative count at that edge plus the group total.  PSI's bin-count
    artifact (:func:`record_baseline`) can't feed KS: KS needs the VALUE
    axis, and fixed-width bins quantize it; the equi-depth edges keep the
    CDF error bounded by 1/nbins everywhere mass actually sits.

    Edges are the first distinct values to reach each new 1/nbins CDF
    level (≤ nbins rows per group, fewer under heavy ties; the max value
    is always recorded, so both CDFs end at exactly 1).  Scoring a batch
    against this step-restricted CDF (:func:`ks_against_baseline_cdf`)
    yields a D within 1/nbins of the full two-sample D — the standard
    quantile-sketch bound; size ``nbins`` to the alarm resolution needed.

    Plan: one (group, value) count groupBy (the only corpus-sized
    shuffle) + cumulative/lag windows over the distinct-value axis.
    NULL values / group keys excluded.

    Output: ``(*group_cols, _v <value type>, cum bigint, n bigint)``.
    """
    if nbins < 1:
        raise ValueError("need nbins >= 1")
    gcols = list(group_cols)
    keep = F.col(value_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    counts = (
        baseline.filter(keep)
        .groupBy(*gcols, F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    w_lag = Window.partitionBy(*gcols).orderBy("_v")
    c = (
        counts.withColumn("_cum", F.sum("_n").over(w_cum))
        .withColumn("_tot", F.sum("_n").over(w_tot))
    )
    lvl = F.floor(
        F.lit(nbins) * F.col("_cum") / F.col("_tot").cast("double")
    )
    c = c.withColumn("_lvl", lvl).withColumn(
        "_prev", F.coalesce(F.lag("_lvl").over(w_lag), F.lit(0))
    )
    return c.filter(F.col("_lvl") > F.col("_prev")).select(
        *gcols,
        "_v",
        F.col("_cum").alias("cum"),
        F.col("_tot").alias("n"),
    )


def ks_against_baseline_cdf(
    baseline_cdf: DataFrame,
    batch_df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Score a batch's values against a stored :func:`record_baseline_cdf`
    artifact: reconstruct the baseline as per-edge count INCREMENTS
    (cum − lag(cum) — exact integers, never re-inflated rows), outer-join
    the batch's per-value counts on the value axis, and run
    ``profile.ks_from_counts``.  Cost: O(edges + batch-distinct) join
    rows per group.  Output: ``(*group_cols, n_a, n_b, ks_d)`` —
    ``n_a`` = baseline rows, ``n_b`` = batch rows; a group absent from
    the baseline gets NULL ``ks_d`` (no CDF to compare).
    """
    from ..operators.profile import ks_from_counts

    gcols = list(group_cols)
    w_lag = Window.partitionBy(*gcols).orderBy("_v")
    base = baseline_cdf.select(
        *gcols,
        "_v",
        (
            F.col("cum") - F.coalesce(F.lag("cum").over(w_lag), F.lit(0))
        ).alias("_na"),
    )
    keep = F.col(value_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    batch = (
        batch_df.filter(keep)
        .groupBy(*gcols, F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    joined = base.join(batch, [*gcols, "_v"], "full_outer").fillna(
        0, ["_na", "_nb"]
    )
    return ks_from_counts(joined, gcols)
