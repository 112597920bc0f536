"""Continuous A/B experiment guardrail over a micro-batched event stream.

The reference's whole product is CONTINUOUS monitoring (an always-on
``/update`` ingest loop, ``riot_graphs/server.py:11-17``) — an experiment
guardrail that only runs when someone remembers to run it misses exactly
the ramp incident it exists for.  This module wires the batch A/B
machinery (:func:`~..operators.evaluation.srm_check`'s chi-square
goodness-of-fit and :func:`~..operators.evaluation.ab_proportion_test`'s
pooled two-proportion z) into ``foreachBatch`` as a RUNNING contingency
state: per-batch counts land in a tiny ledger, every batch re-derives
the cumulative contingency table from the ledger (bounded: one row per
micro-batch — never event-sized state), and appends one verdict row to
the monitor.

Replay idempotency: a re-delivered micro-batch appends an IDENTICAL
ledger row for its ``batch_id``; the cumulative read deduplicates per
``batch_id`` (max of each count — the counts of a replayed batch are
equal by construction), so totals and verdicts are unchanged under
at-least-once delivery.  Monitor readers take the last row per
``batch_id``.

100 TB posture: the per-batch reduction is one partial-aggregable scan of
the micro-batch (four conditional integer counts); the ledger and every
cumulative read are O(n_batches) rows; no event-sized state, shuffle, or
driver loop anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.evaluation import Z95, _norm_p_two_sided


def ab_guardrail_writer(
    monitor_path: str,
    arm_col: str = "arm",
    flag_col: str = "converted",
    ratio_a: float = 0.5,
    srm_alarm_p: float = 0.001,
    z_crit: float = Z95,
):
    """Return a ``foreachBatch`` function that maintains the running
    experiment contingency table and appends one verdict row per
    micro-batch.

    Arm convention matches :func:`~..operators.evaluation.srm_check`:
    rows whose ``arm_col`` (as string) equals ``"0"`` are arm a, every
    other non-NULL arm is b.  ``flag_col`` is the success/conversion
    flag (truthy = success).

    Files written under ``monitor_path``:

    - ``ledger/``: one row per micro-batch — ``(batch_id, n_a, k_a,
      n_b, k_b)``.
    - ``report/``: one verdict row per micro-batch — cumulative counts,
      SRM χ²/p/flag and two-proportion rates/diff/z/flag.
    """
    if not 0.0 < ratio_a < 1.0:
        raise ValueError("need 0 < ratio_a < 1")
    ledger_path = f"{monitor_path}/ledger"
    report_path = f"{monitor_path}/report"

    def _guard(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        arm = F.col(arm_col).cast("string")
        flag = F.col(flag_col).cast("boolean")
        is_a = (arm == "0").cast("long")
        is_b = (arm != "0").cast("long")
        hit = F.coalesce(flag, F.lit(False)).cast("long")
        row = batch_df.filter(arm.isNotNull()).agg(
            F.coalesce(F.sum(is_a), F.lit(0)).alias("n_a"),
            F.coalesce(F.sum(is_a * hit), F.lit(0)).alias("k_a"),
            F.coalesce(F.sum(is_b), F.lit(0)).alias("n_b"),
            F.coalesce(F.sum(is_b * hit), F.lit(0)).alias("k_b"),
        ).select(F.lit(int(epoch_id)).alias("batch_id"), "*")
        row.write.mode("append").parquet(ledger_path)

        # Cumulative contingency table: dedup replayed batch_ids (their
        # rows are identical by construction), then one bounded reduce.
        cols = ("n_a", "k_a", "n_b", "k_b")
        cum = (
            spark.read.parquet(ledger_path)
            .groupBy("batch_id")
            .agg(*[F.max(c).alias(c) for c in cols])
            .agg(
                F.count(F.lit(1)).alias("n_batches"),
                *[F.sum(c).alias(c) for c in cols],
            )
        )
        na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
        ka, kb = F.col("k_a").cast("double"), F.col("k_b").cast("double")
        n = na + nb
        ea = n * F.lit(float(ratio_a))
        eb = n * F.lit(1.0 - float(ratio_a))
        chi2_srm = F.when(
            n > 0,
            (na - ea) * (na - ea) / ea + (nb - eb) * (nb - eb) / eb,
        )
        p_srm = _norm_p_two_sided(F.sqrt(chi2_srm))
        pa, pb = F.try_divide(ka, na), F.try_divide(kb, nb)
        pool = F.try_divide(ka + kb, na + nb)
        se = F.sqrt(
            pool
            * (F.lit(1.0) - pool)
            * (F.lit(1.0) / na + F.lit(1.0) / nb)
        )
        zstat = F.try_divide(pa - pb, se)
        report = cum.select(
            F.lit(int(epoch_id)).alias("batch_id"),
            F.col("n_batches").cast("long").alias("n_batches"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("k_a").cast("long").alias("k_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("k_b").cast("long").alias("k_b"),
            F.round(chi2_srm, 9).alias("srm_chi2"),
            F.round(p_srm, 9).alias("srm_p"),
            F.when(
                chi2_srm.isNotNull(), p_srm < F.lit(float(srm_alarm_p))
            ).alias("srm"),
            F.round(pa, 9).alias("rate_a"),
            F.round(pb, 9).alias("rate_b"),
            F.round(pa - pb, 9).alias("diff"),
            F.round(zstat, 9).alias("z"),
            F.coalesce(
                F.abs(zstat) > F.lit(float(z_crit)), F.lit(False)
            ).alias("significant"),
        )
        report.write.mode("append").parquet(report_path)

    return _guard
