"""Continuous A/B experiment guardrail over a micro-batched event stream.

The reference's whole product is CONTINUOUS monitoring (an always-on
``/update`` ingest loop, ``riot_graphs/server.py:11-17``) — an experiment
guardrail that only runs when someone remembers to run it misses exactly
the ramp incident it exists for.  This module wires the batch A/B
machinery (:func:`~..operators.evaluation.srm_check`'s chi-square
goodness-of-fit, :func:`~..operators.evaluation.ab_proportion_test`'s
pooled two-proportion z, :func:`~..operators.evaluation.mcnemar_test`'s
discordant-pair z) into ``foreachBatch`` as a RUNNING contingency state:
per-batch counts land in a tiny ledger, every batch re-derives
the cumulative contingency table from the ledger (bounded: one row per
micro-batch — never event-sized state), and appends one verdict row to
the monitor.

Replay idempotency: a re-delivered micro-batch appends an IDENTICAL
ledger row for its ``batch_id``; the cumulative read deduplicates per
``batch_id`` (max of each count — the counts of a replayed batch are
equal by construction), so totals and verdicts are unchanged under
at-least-once delivery.  Monitor readers take the last row per
``batch_id``.

Staleness guard: pass
``recorded_at`` (the experiment-design registration stamp) and every
verdict row carries ``design_recorded_at``; add ``max_age_sec`` and rows
also carry ``design_stale`` so a dashboard alerts on "this experiment
config predates the last assignment change" as loudly as on the metrics.
``max_age_sec`` without a stamp is a configuration error and raises.

100 TB posture: the per-batch reduction is one partial-aggregable scan of
the micro-batch (six conditional integer counts); the ledger and every
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
    baseline_flag_col: str | None = None,
    covariate_col: str | None = None,
    recorded_at: str | None = None,
    max_age_sec: float | None = None,
):
    """Return a ``foreachBatch`` function that maintains the running
    experiment contingency table and appends one verdict row per
    micro-batch.

    Arm convention matches :func:`~..operators.evaluation.srm_check`:
    rows whose ``arm_col`` (as string) equals ``"0"`` are arm a, every
    other non-NULL arm is b.  ``flag_col`` is the success/conversion
    flag (truthy = success).  With ``baseline_flag_col`` the guardrail
    also accumulates the PAIRED discordant cells (rows carrying both the
    holdout/baseline flag and the treatment flag — the shadow-deployment
    shape) and emits the continuity-corrected McNemar χ² beside the
    unpaired z.

    With ``covariate_col`` (each row's PRE-period covariate value, e.g.
    the user's pre-experiment conversion propensity or activity count)
    the ledger also accumulates per-arm decimal moment sums (Σx, Σx²,
    Σx·y) and every verdict row carries the CUPED variance-reduced
    readout beside the raw one: pooled ``theta`` = S_xy/S_xx, adjusted
    effect ``cuped_diff = (ȳ_a − ȳ_b) − θ(x̄_a − x̄_b)``, ``cuped_z``
    with the SE shrunk by ``sqrt(1 − ρ²)``, and ``var_reduction = ρ²``
    — the same estimator the batch :func:`~..operators.evaluation.
    cuped_adjustment` runs, folded into the running ledger so the
    streaming verdict is no noisier than the batch one for the same
    data.  Moment sums are 9-dp-quantized decimals: order-independent,
    so replayed batches stay bit-identical (same idempotency class as
    the integer counts).

    Files written under ``monitor_path``:

    - ``ledger/``: one row per micro-batch — ``(batch_id, n_a, k_a,
      n_b, k_b, d01, d10, sx_a, sxx_a, sxy_a, sx_b, sxx_b, sxy_b)``
      (d-cells 0 without ``baseline_flag_col``; moment sums 0 without
      ``covariate_col``).
    - ``report/``: one verdict row per micro-batch — cumulative counts,
      SRM χ²/p/flag, two-proportion rates/diff/z/flag, McNemar
      χ²/flag (NULL without pairing), CUPED theta/diff/z/flag/
      var_reduction (NULL without a covariate), plus staleness columns
      when stamped.
    """
    if not 0.0 < ratio_a < 1.0:
        raise ValueError("need 0 < ratio_a < 1")
    if max_age_sec is not None and recorded_at is None:
        raise ValueError(
            "max_age_sec needs a design stamp (recorded_at=…)"
        )
    ledger_path = f"{monitor_path}/ledger"
    report_path = f"{monitor_path}/report"

    def _guard(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        arm = F.col(arm_col).cast("string")
        flag = F.col(flag_col).cast("boolean")
        is_a = (arm == "0").cast("long")
        is_b = (arm != "0").cast("long")
        hit = F.coalesce(flag, F.lit(False)).cast("long")
        if baseline_flag_col is not None:
            base = F.coalesce(
                F.col(baseline_flag_col).cast("boolean"), F.lit(False)
            )
            new = F.coalesce(flag, F.lit(False))
            d01 = (base & ~new).cast("long")
            d10 = (~base & new).cast("long")
        else:
            d01 = F.lit(0)
            d10 = F.lit(0)
        dec = "decimal(28,9)"
        zero_dec = F.lit(0).cast(dec)
        if covariate_col is not None:
            x = F.coalesce(F.col(covariate_col).cast("double"), F.lit(0.0))
            hd = hit.cast("double")

            def _mom(side, expr):
                return F.coalesce(
                    F.sum(
                        F.when(side == 1, F.round(expr, 9)).cast(dec)
                    ),
                    zero_dec,
                )

            moms = [
                _mom(is_a, x).alias("sx_a"),
                _mom(is_a, x * x).alias("sxx_a"),
                _mom(is_a, x * hd).alias("sxy_a"),
                _mom(is_b, x).alias("sx_b"),
                _mom(is_b, x * x).alias("sxx_b"),
                _mom(is_b, x * hd).alias("sxy_b"),
            ]
        else:
            moms = [
                zero_dec.alias(c)
                for c in ("sx_a", "sxx_a", "sxy_a", "sx_b", "sxx_b", "sxy_b")
            ]
        row = batch_df.filter(arm.isNotNull()).agg(
            F.coalesce(F.sum(is_a), F.lit(0)).alias("n_a"),
            F.coalesce(F.sum(is_a * hit), F.lit(0)).alias("k_a"),
            F.coalesce(F.sum(is_b), F.lit(0)).alias("n_b"),
            F.coalesce(F.sum(is_b * hit), F.lit(0)).alias("k_b"),
            F.coalesce(F.sum(d01), F.lit(0)).alias("d01"),
            F.coalesce(F.sum(d10), F.lit(0)).alias("d10"),
            *moms,
        ).select(F.lit(int(epoch_id)).alias("batch_id"), "*")
        row.write.mode("append").parquet(ledger_path)

        # Cumulative contingency table: dedup replayed batch_ids (their
        # rows are identical by construction), then one bounded reduce.
        # mergeSchema: a monitor_path started before the CUPED upgrade has
        # 7-column ledger files (no sx_*/sxx_*/sxy_* moments); merge the
        # footers and fill the missing moments with zero decimals so old
        # directories keep resuming (pre-upgrade batches contribute no
        # covariate evidence, which is exactly what they recorded).
        ledger = (
            spark.read.option("mergeSchema", "true").parquet(ledger_path)
        )
        for c in ("sx_a", "sxx_a", "sxy_a", "sx_b", "sxx_b", "sxy_b"):
            if c not in ledger.columns:
                ledger = ledger.withColumn(c, zero_dec)
            else:
                ledger = ledger.withColumn(
                    c, F.coalesce(F.col(c).cast(dec), zero_dec)
                )
        cols = (
            "n_a", "k_a", "n_b", "k_b", "d01", "d10",
            "sx_a", "sxx_a", "sxy_a", "sx_b", "sxx_b", "sxy_b",
        )
        cum = (
            ledger.groupBy("batch_id")
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
        dd = (
            F.abs(F.col("d01") - F.col("d10")) - F.lit(1)
        )
        ddc = F.greatest(dd, F.lit(0)).cast("double")
        chi2_mc = F.try_divide(
            ddc * ddc, (F.col("d01") + F.col("d10")).cast("double")
        )
        # CUPED readout from the pooled moment sums (y is the 0/1 flag, so
        # Σy² = Σy): θ = S_xy/S_xx, ρ² = S_xy²/(S_xx·S_yy), adjusted diff
        # subtracts θ·(x̄_a − x̄_b), SE shrinks by sqrt(1 − ρ²).  With no
        # covariate every moment sum is 0 → S_xx = 0 → try_divide NULLs the
        # whole readout.
        sx = (F.col("sx_a") + F.col("sx_b")).cast("double")
        sxx_p = (F.col("sxx_a") + F.col("sxx_b")).cast("double")
        sxy_p = (F.col("sxy_a") + F.col("sxy_b")).cast("double")
        sy = ka + kb
        s_xx = sxx_p - F.try_divide(sx * sx, n)
        s_xy = sxy_p - F.try_divide(sx * sy, n)
        s_yy = sy - F.try_divide(sy * sy, n)
        theta = F.try_divide(s_xy, s_xx)
        rho2 = F.try_divide(s_xy * s_xy, s_xx * s_yy)
        xbar_gap = F.try_divide(F.col("sx_a").cast("double"), na) - F.try_divide(
            F.col("sx_b").cast("double"), nb
        )
        cuped_diff = (pa - pb) - theta * xbar_gap
        se_adj = se * F.sqrt(F.greatest(F.lit(1.0) - rho2, F.lit(0.0)))
        cuped_z = F.try_divide(cuped_diff, se_adj)
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
            F.col("d01").cast("long").alias("d01"),
            F.col("d10").cast("long").alias("d10"),
            F.round(chi2_mc, 9).alias("mcnemar_chi2"),
            F.round(theta, 9).alias("cuped_theta"),
            F.round(cuped_diff, 9).alias("cuped_diff"),
            F.round(cuped_z, 9).alias("cuped_z"),
            (F.abs(cuped_z) > F.lit(float(z_crit))).alias(
                "cuped_significant"
            ),
            F.round(rho2, 9).alias("var_reduction"),
        )
        if recorded_at is not None:
            stamp = F.lit(recorded_at).cast("timestamp")
            report = report.withColumn("design_recorded_at", stamp)
            if max_age_sec is not None:
                age = (
                    F.unix_timestamp(F.current_timestamp())
                    - F.unix_timestamp(stamp)
                ).cast("double")
                report = report.withColumn(
                    "design_stale", age > F.lit(float(max_age_sec))
                )
        report.write.mode("append").parquet(report_path)

    return _guard
