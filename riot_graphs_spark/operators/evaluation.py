"""Classifier / ranker evaluation: the measurement layer that grades the
quality-scoring and retrieval operators the way ``ann_recall_ivf`` grades
IVF — ROC-AUC, calibration, precision/recall at thresholds, lift/gains,
NDCG, and Wilson proportion intervals.

A training-data pipeline ships a quality classifier (``textstats.
quality_score``) and a retrieval stack (``ranking.bm25_search_topk``); these
operators answer "is the score any good?" against a label column, so a
threshold change is a measured decision instead of a guess.  (The reference
computes no evaluation metrics — its nightly build-size plots,
``/root/reference/rg.py:269-285``, are the unscored ancestor of this layer.)

Determinism discipline (the BASELINE.md hash-gate rules):

- Every reduction over floats is quantized to DECIMAL before the sum;
  rank/count arithmetic stays in exact integers end-to-end.
- AUC and the lift table are COUNTS-BASED over the distinct-score axis —
  no global per-row ORDER BY rank anywhere, so nothing funnels through a
  single partition at 100 TB.  Ties share average ranks (AUC) or land in
  one bucket together (lift) — deterministic without a tiebreak column.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import fastsum as _fs

#: z for a 95% two-sided normal interval; oracle SQL must use this literal.
Z95 = 1.959963984540054


def _pos(label_col: str) -> Column:
    """Positive-class indicator: boolean TRUE or numeric nonzero -> 1."""
    c = F.col(label_col)
    return F.when(c.cast("boolean"), F.lit(1)).otherwise(F.lit(0))


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """ROC-AUC via the rank-sum (Mann–Whitney) identity with exact tie
    handling — the standard single-number grade of a score column against
    a binary label:

        AUC = (Σ ranks(positives) − n⁺(n⁺+1)/2) / (n⁺ · n⁻)

    where tied scores share their AVERAGE rank (each tie group of size t
    starting at rank r contributes r + (t−1)/2 — exactly the 0.5-credit
    Mann–Whitney convention, so a constant score yields AUC = 0.5).

    Exactness: everything up to the final division is integer.  Doubled
    average ranks are integers (2·avg = 2·cum_before + t + 1), each distinct
    value contributes ``n⁺_v · (2·cum_before + t + 1)``, and the sum rides
    ``decimal(38,0)`` (a per-term product caps near n², the sum near n³ —
    decimal38 holds to n ≈ 10¹², far past any corpus).

    Plan: ONE corpus-sized count groupBy on (group, score), then windows
    over the DISTINCT-SCORE axis only (the ``ks_two_sample`` caveat: for a
    continuous score at extreme scale, pre-quantize upstream — a score
    column is typically already rounded).  NULL scores/labels/groups are
    excluded.  A one-class group (n⁺ = 0 or n⁻ = 0) has no defined AUC:
    NULL via ``try_divide``.

    Output: one row per group — ``(*group_cols, n_pos bigint, n_neg
    bigint, auc double)``.
    """
    gcols = list(group_cols)
    keep = F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(*gcols, F.col(score_col).alias("_s"))
        .agg(
            F.sum(_pos(label_col)).alias("_np"),
            F.count(F.lit(1)).alias("_nt"),
        )
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = counts.withColumn("_cb", F.sum("_nt").over(w_cum) - F.col("_nt"))
    # Long-buffer exact rank-sum (functions.fastsum.parts3_int): the
    # product is computed in LONG exactly as before (its n ≲ 3·10⁹ cap is
    # unchanged), only the >18-precision decimal BUFFER goes (r13-opt).
    term = F.col("_np") * (
        F.lit(2) * F.col("_cb") + F.col("_nt") + F.lit(1)
    )
    agg = c.groupBy(*gcols).agg(
        F.sum("_np").alias("n_pos"),
        (F.sum("_nt") - F.sum("_np")).alias("n_neg"),
        *_fs.parts3_int(term, "s2"),
    ).select(
        *gcols, "n_pos", "n_neg", _fs.value3_int("s2").alias("_s2")
    )
    npos = F.col("n_pos").cast("decimal(38,0)")
    auc = F.try_divide(
        (F.col("_s2") - npos * (npos + F.lit(1))).cast("double"),
        (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double"),
    )
    return agg.select(
        *gcols, "n_pos", "n_neg", F.round(auc, 9).alias("auc")
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    nbins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Reliability table: fixed-width score bins vs observed positive rate
    — a well-calibrated score has ``pos_rate ≈ mean_score`` per bin; the
    gap IS the calibration error a threshold consumer needs to know.

    Same clamped ``floor((s−lo)/width)`` bins as ``fixed_histogram`` /
    ``psi_report`` (fixed spec, never data-derived).  ``mean_score`` sums
    ``decimal(28,12)``-quantized scores (order-free); counts are exact
    ints.  Empty bins are simply absent (no spine).  One corpus-sized
    count groupBy; output ≤ nbins rows.

    Output: ``(bin int, n bigint, mean_score double, pos_rate double)``.
    """
    if nbins < 1 or not hi > lo:
        raise ValueError("need nbins >= 1 and hi > lo")
    width = (hi - lo) / nbins
    s = F.col(score_col)
    b = F.greatest(
        F.lit(0),
        F.least(F.lit(nbins - 1), F.floor((s - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    return (
        df.filter(s.isNotNull() & F.col(label_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(s.cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("mean_score"),
            F.round(
                F.sum(_pos(label_col)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                9,
            ).alias("pos_rate"),
        )
    )


def pr_at_thresholds(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: Sequence[float],
) -> DataFrame:
    """Precision / recall / F1 at FIXED decision thresholds (``score >= t``
    predicts positive) — the operating-point table behind choosing a
    corpus-filter cutoff.

    ONE scan: every threshold's tp/fp/fn ride the same single ``agg`` as
    conditional counts (3·|thresholds| integer aggregates — partial-
    aggregable, no per-threshold job), then the one result row explodes
    into |thresholds| rows driver-free.  Ratios are exact-int divisions;
    a degenerate cell (no predicted / no actual positives) yields NULL via
    ``try_divide``.

    Output: ``(threshold double, tp bigint, fp bigint, fn bigint,
    precision double, recall double, f1 double)``.
    """
    if not thresholds:
        raise ValueError("need at least one threshold")
    s, pos = F.col(score_col), _pos(label_col)
    base = df.filter(s.isNotNull() & F.col(label_col).isNotNull())
    aggs = []
    for i, t in enumerate(thresholds):
        pred = s >= F.lit(float(t))
        aggs.append(F.sum(F.when(pred, pos).otherwise(0)).alias(f"_tp{i}"))
        aggs.append(
            F.sum(F.when(pred, 1 - pos).otherwise(0)).alias(f"_fp{i}")
        )
        aggs.append(
            F.sum(F.when(~pred, pos).otherwise(0)).alias(f"_fn{i}")
        )
    one = base.agg(*aggs)
    rows = []
    for i, t in enumerate(thresholds):
        tp = F.col(f"_tp{i}")
        fp = F.col(f"_fp{i}")
        fn = F.col(f"_fn{i}")
        prec = F.try_divide(tp.cast("double"), (tp + fp).cast("double"))
        rec = F.try_divide(tp.cast("double"), (tp + fn).cast("double"))
        f1 = F.try_divide(
            F.lit(2) * tp.cast("double"),
            (F.lit(2) * tp + fp + fn).cast("double"),
        )
        rows.append(
            F.struct(
                F.lit(float(t)).alias("threshold"),
                tp.alias("tp"),
                fp.alias("fp"),
                fn.alias("fn"),
                F.round(prec, 9).alias("precision"),
                F.round(rec, 9).alias("recall"),
                F.round(f1, 9).alias("f1"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    nbins: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table: rank the population by score
    DESCENDING, cut into ``nbins`` equal-mass buckets, and report how much
    of the positive class the top buckets capture — "the top decile of the
    quality score holds 34% of the keepers" is the sentence a curation
    budget decision is made on.

    Buckets are cut on the DISTINCT-SCORE axis: a distinct value's whole
    tie group lands in ``ceil(nbins · cum/n)`` of its cumulative count —
    deterministic with NO per-row tiebreak and no per-ROW global
    numbering (``ntile`` over a full ORDER BY funnels the corpus through
    one partition; this never ranks rows).  Heavy ties make buckets
    unequal — that is reported honestly by ``n`` rather than split
    arbitrarily.  The cumulative window still runs single-partition over
    the DISTINCT scores, so — same caveat as :func:`roc_auc` — a truly
    continuous score must be quantized upstream (round to a fixed
    precision) before this is cheap at corpus scale; the distinct-score
    axis, not the row count, is the scalability bound.

    Exactness: integer counts end-to-end; ratios divide at the end.
    ``lift`` = bucket pos-rate / overall pos-rate; ``cum_capture`` =
    positives at-or-above the bucket / all positives (the gains curve).

    Output: one row per non-empty bucket — ``(bucket int, n bigint,
    n_pos bigint, pos_rate double, cum_capture double, lift double)``,
    bucket 1 = highest scores.
    """
    if nbins < 1:
        raise ValueError("need nbins >= 1")
    keep = F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(F.col(score_col).alias("_s"))
        .agg(
            F.sum(_pos(label_col)).alias("_np"),
            F.count(F.lit(1)).alias("_nt"),
        )
    )
    w_cum = (
        Window.orderBy(F.desc("_s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy()
    c = (
        counts.withColumn("_c", F.sum("_nt").over(w_cum))
        .withColumn("_n", F.sum("_nt").over(w_tot))
        .withColumn("_p", F.sum("_np").over(w_tot))
    )
    bucket = F.ceil(F.lit(nbins) * F.col("_c") / F.col("_n")).cast("int")
    per = (
        c.groupBy(bucket.alias("bucket"))
        .agg(
            F.sum("_nt").alias("n"),
            F.sum("_np").alias("n_pos"),
            F.max("_n").alias("_n"),
            F.max("_p").alias("_p"),
        )
    )
    w_cap = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        per.withColumn("_cp", F.sum("n_pos").over(w_cap))
        .select(
            "bucket",
            "n",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n").cast("double"), 9
            ).alias("pos_rate"),
            F.round(
                F.try_divide(
                    F.col("_cp").cast("double"), F.col("_p").cast("double")
                ),
                9,
            ).alias("cum_capture"),
            F.round(
                F.try_divide(
                    F.col("n_pos").cast("double") / F.col("n").cast("double"),
                    F.col("_p").cast("double") / F.col("_n").cast("double"),
                ),
                9,
            ).alias("lift"),
        )
    )


def ndcg_at_k(
    run: DataFrame,
    qrels: DataFrame,
    k: int,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """NDCG@k of a retrieval run against graded relevance judgments — the
    standard ranking grade for the BM25 / hybrid-RRF stack (the way
    ``ann_recall_ivf`` grades the ANN index):

        DCG@k  = Σ_{rank ≤ k} (2^rel − 1) / log2(rank + 1)
        NDCG@k = DCG@k / IDCG@k   (IDCG from the qrels' own best ordering)

    Gains ``2^rel − 1`` are exact integers (rel is a small int grade);
    the per-row discount is one IEEE expression; per-query sums quantize
    terms to ``decimal(28,12)`` first.  The ideal ordering ranks qrels
    per query by (rel DESC, doc ASC — deterministic tiebreak) inside a
    per-QUERY window (bounded by judgments per query, never corpus-wide).
    A run row with no judgment counts as rel 0; a query with IDCG 0 gets
    NULL ndcg via ``try_divide``.

    Plan: run⋈qrels is an equi-join on (query, doc) — qrels are the small
    side in any real eval (broadcast); one per-query agg each side.

    Output: ``(query_id, dcg double, idcg double, ndcg double)`` — one
    row per query present in the run.
    """
    if k < 1:
        raise ValueError("need k >= 1")

    def gain(rel: Column) -> Column:
        return F.pow(F.lit(2.0), rel.cast("double")) - F.lit(1.0)

    r = run.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).cast("int").alias("_r"),
    ).filter(F.col("_r") <= k)
    j = qrels.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rel_col).cast("int").alias("_rel"),
    )
    dcg_term = (
        gain(F.coalesce(F.col("_rel"), F.lit(0)))
        / F.log2(F.col("_r").cast("double") + F.lit(1.0))
    ).cast("decimal(28,12)")
    dcg = (
        r.join(F.broadcast(j), ["_q", "_d"], "left")
        .groupBy("_q")
        .agg(F.sum(dcg_term).cast("double").alias("dcg"))
    )
    w_ideal = Window.partitionBy("_q").orderBy(F.desc("_rel"), F.asc("_d"))
    ideal = (
        j.withColumn("_ir", F.row_number().over(w_ideal))
        .filter(F.col("_ir") <= k)
        .groupBy("_q")
        .agg(
            F.sum(
                (
                    gain(F.col("_rel"))
                    / F.log2(F.col("_ir").cast("double") + F.lit(1.0))
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("idcg")
        )
    )
    return (
        dcg.join(F.broadcast(ideal), "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            F.round("dcg", 9).alias("dcg"),
            F.round(F.coalesce(F.col("idcg"), F.lit(0.0)), 9).alias("idcg"),
            F.round(
                F.try_divide(F.col("dcg"), F.col("idcg")), 9
            ).alias("ndcg"),
        )
    )


def proportion_wilson_ci(
    df: DataFrame,
    flag_col: str,
    group_cols: Sequence[str] = (),
    z: float = Z95,
) -> DataFrame:
    """Wilson score interval for a per-group proportion — the error bar a
    keep-rate / defect-rate dashboard needs (the naive ±z·√(p(1−p)/n)
    collapses at p near 0/1 and small n; Wilson stays inside [0,1]):

        center = (p + z²/2n) / (1 + z²/n)
        half   = z·√(p(1−p)/n + z²/4n²) / (1 + z²/n)

    Counts are exact ints; the interval is closed-form per group (sqrt is
    correctly-rounded IEEE — deterministic across engines).  One count
    groupBy, output one row per group.  An empty group cannot occur (no
    rows → no group); NULL flags/groups are excluded.

    Output: ``(*group_cols, n bigint, k bigint, rate double, ci_lo double,
    ci_hi double)``.
    """
    gcols = list(group_cols)
    keep = F.col(flag_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    agg = (
        df.filter(keep)
        .groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_pos(flag_col)).alias("k"),
        )
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    return agg.select(
        *gcols,
        "n",
        "k",
        F.round(p, 9).alias("rate"),
        F.round(F.greatest(center - half, F.lit(0.0)), 9).alias("ci_lo"),
        F.round(F.least(center + half, F.lit(1.0)), 9).alias("ci_hi"),
    )


#: Poisson(1) CDF thresholds on the md5-derived 14-hex-digit integer
#: (h < _POISSON_T[k]  ⇔  uniform u < P(X ≤ k)); weights cap at 6
#: (P(X > 5) ≈ 6e-4).  Python-computed once; oracle SQL inlines the same
#: literals, so both engines draw identical replicate weights.
_POISSON_T = (
    26508507426831584, 53017014853663168, 66271268567078960,
    70689353138217560, 71793874281002208, 72014778509559136,
)


def calibration_summary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    nbins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Single-row calibration grade: Brier score plus expected / maximum
    calibration error over fixed-width bins — the one-number companions
    to :func:`calibration_bins`' per-bin table:

        brier = mean((s − y)²)            — proper score, refinement+calibration
        ece   = Σ_b (n_b/n)·|pos_rate_b − mean_score_b|
        mce   = max_b |pos_rate_b − mean_score_b|

    ONE corpus scan: per-bin counts, decimal-quantized score sums,
    positive counts, and per-row quantized (s−y)² all ride the same
    groupBy; the summary reduces the ≤ nbins bin rows.  Gap terms are
    per-bin IEEE on exact aggregates; the ECE sum re-quantizes to
    ``decimal(28,12)`` (order-free).

    Output: one row — ``(n bigint, brier double, ece double,
    mce double)``.
    """
    if nbins < 1 or not hi > lo:
        raise ValueError("need nbins >= 1 and hi > lo")
    width = (hi - lo) / nbins
    s, pos = F.col(score_col), _pos(label_col)
    b = F.greatest(
        F.lit(0),
        F.least(F.lit(nbins - 1), F.floor((s - F.lit(lo)) / F.lit(width))),
    ).cast("int")
    sq = (s - pos.cast("double")) * (s - pos.cast("double"))
    bins = (
        df.filter(s.isNotNull() & F.col(label_col).isNotNull())
        .groupBy(b.alias("_b"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(s.cast("decimal(28,12)")).alias("_ss"),
            F.sum(pos).alias("_p"),
            F.sum(sq.cast("decimal(28,12)")).alias("_sq"),
        )
    )
    w_tot = Window.partitionBy()
    gap = F.abs(
        F.col("_p").cast("double") / F.col("_n").cast("double")
        - F.col("_ss").cast("double") / F.col("_n").cast("double")
    )
    terms = bins.withColumn("_tot", F.sum("_n").over(w_tot)).select(
        "_n",
        "_sq",
        "_tot",
        gap.alias("_gap"),
        (
            (F.col("_n").cast("double") / F.col("_tot").cast("double"))
            * gap
        ).cast("decimal(28,12)").alias("_ece_term"),
    )
    return terms.agg(
        F.max("_tot").cast("long").alias("n"),
        F.round(
            F.sum("_sq").cast("double") / F.max("_tot").cast("double"), 9
        ).alias("brier"),
        F.round(F.sum("_ece_term").cast("double"), 9).alias("ece"),
        F.round(F.max("_gap"), 9).alias("mce"),
    )


def _poisson_weight(id_col: Column, rep_col: Column) -> Column:
    """Deterministic Poisson(1) replicate weight: md5(id, replicate) as a
    14-hex-digit integer against the precomputed CDF thresholds — both
    engines (and any two cluster runs) draw bit-identical weights."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", id_col, rep_col)), 1, 14),
        16,
        10,
    ).cast("long")
    w = F.when(h < F.lit(_POISSON_T[0]), F.lit(0))
    for k in range(1, len(_POISSON_T)):
        w = w.when(h < F.lit(_POISSON_T[k]), F.lit(k))
    return w.otherwise(F.lit(len(_POISSON_T)))


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    b: int = 40,
    z: float = Z95,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Error bar on a corpus mean via the DETERMINISTIC Poisson bootstrap
    — the scalable bootstrap (each replicate draws each row
    Poisson(1)-many times, so replicate membership is a row-local
    decision; no resampling shuffle, no global n needed up front).  The
    per-(row, replicate) weight comes from the md5 of ``(id, replicate)``
    against Python-precomputed Poisson CDF thresholds — both engines (and
    any two cluster runs) draw bit-identical replicates, so the CI is
    hash-checkable, reproducible at 100 TB, and B is an explicit cost
    knob (the scan inflates ×B before partial aggregation — B=40 default;
    raise for tighter quantiles, never silently).

    CI is the normal approximation from the replicate spread:
    ``mean ± z·sd(replicate means)`` with sd over exact decimal moments
    of the (≤ B) quantized replicate means.  Observed n/mean come from a
    SECOND aggregate over the un-exploded base relation (two scans of the
    input: one ×B replicate scan, one plain count/mean scan — the plain
    scan is the cheap one and keeps the replicate branch weight-only).

    With ``group_cols`` the whole statistic runs PER GROUP — the
    stratified form a dashboard shows beside per-group means ("the de
    quality mean is 0.42 ± how much?").  Replicate membership stays a
    row-local md5 decision on (id, replicate) — the SAME id draws the
    same weight whatever its group — so the per-group replicate scans
    are just the global plan with the group key prepended to every
    groupBy; nothing re-shuffles per group and the boot side stays
    |groups|·B-sized (broadcast into the final join).  NULL group keys
    are excluded, like NULL values.

    Output: one row per group — ``(*group_cols, n bigint, mean double,
    se_boot double, ci_lo double, ci_hi double)``.
    """
    if b < 2:
        raise ValueError("need b >= 2 replicates")
    gcols = list(group_cols)
    v = F.col(value_col)
    keep = v.isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    base = df.filter(keep).select(
        *gcols, F.col(id_col).cast("string").alias("_id"), v.alias("_v")
    )
    rep = base.select(
        *gcols,
        "_id",
        "_v",
        F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_r"),
    )
    w = _poisson_weight(F.col("_id"), F.col("_r"))
    means = (
        rep.select(*gcols, "_r", "_v", w.alias("_w"))
        .groupBy(*gcols, "_r")
        .agg(
            F.sum((F.col("_v") * F.col("_w")).cast("decimal(28,12)")).alias(
                "_sv"
            ),
            F.sum("_w").alias("_sw"),
        )
        .select(
            *gcols,
            F.try_divide(
                F.col("_sv").cast("double"), F.col("_sw").cast("double")
            )
            .cast("decimal(28,12)")
            .alias("_m"),
        )
        .filter(F.col("_m").isNotNull())
    )
    # square in DOUBLE (the quantized mean read back — engine-identical),
    # then quantize: decimal×decimal would hit Spark's precision-loss
    # rules, which other engines don't share
    md = F.col("_m").cast("double")
    boot = means.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("_bn"),
        F.sum("_m").alias("_sm"),
        F.sum((md * md).cast("decimal(38,12)")).alias("_smm"),
    )
    obs = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("_v").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("mean"),
    )
    bn = F.col("_bn").cast("double")
    var = (
        bn * F.col("_smm").cast("double")
        - F.col("_sm").cast("double") * F.col("_sm").cast("double")
    ) / (bn * (bn - F.lit(1.0)))
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    joined = (
        obs.join(F.broadcast(boot), gcols)
        if gcols
        else obs.crossJoin(F.broadcast(boot))
    )
    return joined.select(
        *gcols,
        "n",
        "mean",
        F.round(se, 9).alias("se_boot"),
        F.round(F.col("mean") - F.lit(z) * se, 9).alias("ci_lo"),
        F.round(F.col("mean") + F.lit(z) * se, 9).alias("ci_hi"),
    )


def classification_report(
    df: DataFrame, truth_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision / recall / F1 with support — the standard
    multi-class grade of a categorical predictor against stored truth
    (the per-class view :func:`..operators.profile.cohen_kappa` averages
    away: κ says "better than chance overall", this says WHICH language
    the lang-ID misses).

    Per class k over the confusion counts: ``tp = cell(k,k)``,
    ``fp = col_k − tp`` (predicted k, was something else), ``fn = row_k −
    tp``; classes from EITHER side appear (a class never predicted shows
    precision NULL, a class never true shows recall NULL — via
    ``try_divide``).  Exact integer counts end-to-end; one corpus-sized
    confusion groupBy, marginals joined on the levels axis (broadcast).

    Output: one row per class — ``(label string, support bigint,
    tp bigint, fp bigint, fn bigint, precision double, recall double,
    f1 double)``.
    """
    joint = (
        df.filter(F.col(truth_col).isNotNull() & F.col(pred_col).isNotNull())
        .select(
            F.col(truth_col).cast("string").alias("_t"),
            F.col(pred_col).cast("string").alias("_p"),
        )
        .groupBy("_t", "_p")
        .agg(F.count(F.lit(1)).alias("_o"))
        # levels²-sized; checkpoint so the four derived aggregates below
        # (marginals, diagonal, label union) reuse it instead of
        # re-running the corpus scan + upstream predictor four times
        .localCheckpoint()
    )
    row_m = joint.groupBy("_t").agg(F.sum("_o").alias("_support"))
    col_m = joint.groupBy("_p").agg(F.sum("_o").alias("_pred"))
    diag = joint.filter(F.col("_t") == F.col("_p")).select(
        F.col("_t").alias("label"), F.col("_o").alias("tp")
    )
    labels = (
        row_m.select(F.col("_t").alias("label"))
        .unionByName(col_m.select(F.col("_p").alias("label")))
        .distinct()
    )
    full = (
        labels.join(
            F.broadcast(row_m.withColumnRenamed("_t", "label")),
            "label", "left",
        )
        .join(
            F.broadcast(col_m.withColumnRenamed("_p", "label")),
            "label", "left",
        )
        .join(F.broadcast(diag), "label", "left")
        .select(
            "label",
            F.coalesce(F.col("_support"), F.lit(0)).alias("support"),
            F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
            (
                F.coalesce(F.col("_pred"), F.lit(0))
                - F.coalesce(F.col("tp"), F.lit(0))
            ).alias("fp"),
            (
                F.coalesce(F.col("_support"), F.lit(0))
                - F.coalesce(F.col("tp"), F.lit(0))
            ).alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return full.select(
        "label",
        "support",
        "tp",
        "fp",
        "fn",
        F.round(
            F.try_divide(tp.cast("double"), (tp + fp).cast("double")), 9
        ).alias("precision"),
        F.round(
            F.try_divide(tp.cast("double"), (tp + fn).cast("double")), 9
        ).alias("recall"),
        F.round(
            F.try_divide(
                F.lit(2) * tp.cast("double"),
                (F.lit(2) * tp + fp + fn).cast("double"),
            ),
            9,
        ).alias("f1"),
    )


def retrieval_recall_mrr(
    run: DataFrame,
    qrels: DataFrame,
    k: int,
    rel_threshold: int = 1,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Recall@k and reciprocal rank per query — the binary-relevance
    companions to :func:`ndcg_at_k` (NDCG grades the whole ordering;
    recall@k answers "did the k-cut keep what matters", RR answers "how
    deep is the first hit").  A judgment counts as relevant when
    ``rel >= rel_threshold``.

    ``n_rel`` counts ALL relevant judgments for the query (the recall
    denominator — not just those retrieved); ``hits`` are relevant docs
    inside the top-k; ``rr = 1/rank`` of the best-ranked relevant doc
    (0.0 when none).  Exact integer counts; the single division per query
    happens at the end.  Run⋈qrels is an equi-join with the qrels side
    broadcast; per-query aggregates only.

    Output: one row per query in the run — ``(query_id, n_rel bigint,
    hits bigint, recall double, rr double)``.
    """
    if k < 1:
        raise ValueError("need k >= 1")
    r = run.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).cast("int").alias("_r"),
    ).filter(F.col("_r") <= k)
    j = qrels.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        (F.col(rel_col) >= F.lit(rel_threshold)).alias("_rel"),
    )
    totals = j.filter(F.col("_rel")).groupBy("_q").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    hit = F.when(F.coalesce(F.col("_rel"), F.lit(False)), 1).otherwise(0)
    per = (
        r.join(F.broadcast(j), ["_q", "_d"], "left")
        .groupBy("_q")
        .agg(
            F.sum(hit).alias("hits"),
            F.min(F.when(F.coalesce(F.col("_rel"), F.lit(False)), F.col("_r"))).alias(
                "_first"
            ),
        )
    )
    return (
        per.join(F.broadcast(totals), "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
            "hits",
            F.round(
                F.try_divide(
                    F.col("hits").cast("double"),
                    F.coalesce(F.col("n_rel"), F.lit(0)).cast("double"),
                ),
                9,
            ).alias("recall"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("_first").cast("double"), F.lit(0.0)
                ),
                9,
            ).alias("rr"),
        )
    )


def ab_proportion_test(
    df: DataFrame,
    variant_col: str,
    flag_col: str,
    z: float = Z95,
) -> DataFrame:
    """Two-proportion z-test between every pair of experiment variants —
    the "did the new filter/prompt/mixture change the conversion rate"
    readout (the experiment companion to
    :func:`proportion_wilson_ci`'s per-group error bars):

        z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b)),  p̂ pooled

    Emits the unordered variant pairs (a < b by name — deterministic)
    with both rates, the difference, the z statistic, and a two-sided
    significance flag at the supplied critical value.  Counts are exact
    integers; the closed form is one IEEE expression per pair.  One
    count groupBy (the only corpus-sized shuffle); the pair join runs on
    the |variants|-sized aggregate (broadcast).  A pair with a
    degenerate pooled rate (0 or 1 — no variance) gets NULL z via
    ``try_divide``.

    Output: one row per pair — ``(variant_a, variant_b, n_a, k_a, n_b,
    k_b, rate_a, rate_b, diff, z, significant boolean)``.
    """
    keep = F.col(variant_col).isNotNull() & F.col(flag_col).isNotNull()
    per = (
        df.filter(keep)
        .groupBy(F.col(variant_col).cast("string").alias("_v"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(_pos(flag_col)).alias("_k"),
        )
    )
    a = per.select(
        F.col("_v").alias("variant_a"),
        F.col("_n").alias("n_a"),
        F.col("_k").alias("k_a"),
    )
    b = per.select(
        F.col("_v").alias("variant_b"),
        F.col("_n").alias("n_b"),
        F.col("_k").alias("k_b"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("variant_a") < F.col("variant_b")
    )
    na, ka = F.col("n_a").cast("double"), F.col("k_a").cast("double")
    nb, kb = F.col("n_b").cast("double"), F.col("k_b").cast("double")
    pa, pb = ka / na, kb / nb
    pool = (ka + kb) / (na + nb)
    se = F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    zstat = F.try_divide(pa - pb, se)
    return pairs.select(
        "variant_a",
        "variant_b",
        "n_a",
        "k_a",
        "n_b",
        "k_b",
        F.round(pa, 9).alias("rate_a"),
        F.round(pb, 9).alias("rate_b"),
        F.round(pa - pb, 9).alias("diff"),
        F.round(zstat, 9).alias("z"),
        (F.abs(zstat) > F.lit(z)).alias("significant"),
    )


def roc_auc_bootstrap_ci(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    b: int = 40,
    z: float = Z95,
) -> DataFrame:
    """Error bar on the ROC-AUC itself via the deterministic Poisson
    bootstrap — "is 0.74 vs 0.71 a real ranking improvement or resample
    noise", the question a filter-model comparison actually asks.  The
    integer replicate weights slot DIRECTLY into the rank-sum identity:
    drawing a row w times just multiplies its (positive, total) counts,
    so each replicate's AUC is the exact tie-aware :func:`roc_auc` of
    its weighted multiset — no approximation stacked on another.

    Plan: the ×B explode reduces straight into a (replicate, score)
    count groupBy (partial-aggregable); per-replicate windows run over
    the distinct-score axis PARTITIONED BY replicate (B independent
    small windows, nothing global); one-class replicates drop out NULL.
    CI is the normal approximation from exact decimal moments of the
    quantized replicate AUCs; the point estimate is the observed
    (unweighted) AUC from the same scan shape.

    Output: one row — ``(n_pos bigint, n_neg bigint, auc double,
    se_boot double, ci_lo double, ci_hi double)``.
    """
    if b < 2:
        raise ValueError("need b >= 2 replicates")
    keep = (
        F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(id_col).isNotNull()
    )
    base = df.filter(keep).select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(score_col).alias("_s"),
        _pos(label_col).alias("_y"),
    )
    rep = base.select(
        "_id",
        "_s",
        "_y",
        F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_r"),
    )
    w = _poisson_weight(F.col("_id"), F.col("_r"))
    counts = (
        rep.select("_r", "_s", (w * F.col("_y")).alias("_wp"), w.alias("_wt"))
        .groupBy("_r", "_s")
        .agg(F.sum("_wp").alias("_np"), F.sum("_wt").alias("_nt"))
        .filter(F.col("_nt") > 0)
    )
    w_cum = (
        Window.partitionBy("_r")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = counts.withColumn("_cb", F.sum("_nt").over(w_cum) - F.col("_nt"))
    # Long product (unchanged cap) + long-buffer split sum — see roc_auc.
    term = F.col("_np") * (
        F.lit(2) * F.col("_cb") + F.col("_nt") + F.lit(1)
    )
    per = c.groupBy("_r").agg(
        F.sum("_np").alias("_pos"),
        (F.sum("_nt") - F.sum("_np")).alias("_neg"),
        *_fs.parts3_int(term, "s2"),
    ).select("_r", "_pos", "_neg", _fs.value3_int("s2").alias("_s2"))
    npos = F.col("_pos").cast("decimal(38,0)")
    auc_r = F.try_divide(
        (F.col("_s2") - npos * (npos + F.lit(1))).cast("double"),
        (F.lit(2) * F.col("_pos") * F.col("_neg")).cast("double"),
    )
    aucs = per.select(
        auc_r.cast("decimal(28,12)").alias("_a")
    ).filter(F.col("_a").isNotNull())
    ad = F.col("_a").cast("double")
    boot = aucs.agg(
        F.count(F.lit(1)).alias("_bn"),
        F.sum("_a").alias("_sa"),
        F.sum((ad * ad).cast("decimal(38,12)")).alias("_saa"),
    )
    obs = roc_auc(
        base.select(F.col("_s").alias("s"), F.col("_y").alias("y")), "s", "y"
    )
    bn = F.col("_bn").cast("double")
    var = (
        bn * F.col("_saa").cast("double")
        - F.col("_sa").cast("double") * F.col("_sa").cast("double")
    ) / (bn * (bn - F.lit(1.0)))
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    return obs.crossJoin(F.broadcast(boot)).select(
        "n_pos",
        "n_neg",
        "auc",
        F.round(se, 9).alias("se_boot"),
        F.round(F.col("auc") - F.lit(z) * se, 9).alias("ci_lo"),
        F.round(F.col("auc") + F.lit(z) * se, 9).alias("ci_hi"),
    )


def delta_auc_paired_bootstrap(
    df: DataFrame,
    score_a_col: str,
    score_b_col: str,
    label_col: str,
    id_col: str,
    b: int = 40,
    z: float = Z95,
) -> DataFrame:
    """PAIRED bootstrap on the AUC DIFFERENCE of two scorers graded on
    the SAME rows — "did the new quality filter beat the old one", the
    comparison every curation iteration actually makes.  Two separate
    CIs (:func:`roc_auc_bootstrap_ci` per scorer) overlap even when the
    swap is decisive, because the scorers are evaluated on the same
    documents and their resampling noise is strongly correlated; the
    paired test bootstraps ``Δ = AUC_A − AUC_B`` directly, so the shared
    noise cancels inside each replicate instead of inflating both bars.

    Pairing = ONE deterministic Poisson weight per (row, replicate)
    applied to BOTH scores: a document drawn w times in replicate r is
    drawn w times for scorer A *and* scorer B.  The row fans out onto a
    2-ary scorer axis (``_k``) before the count groupBy, so one ×B·2
    explode reduces straight into a (replicate, scorer, score) count
    relation — partial-aggregable, single corpus scan.  Per-replicate
    rank-sum windows run over the distinct-score axis PARTITIONED BY
    (replicate, scorer); each replicate's two AUCs are the exact
    tie-aware :func:`roc_auc` of the same weighted multiset, and their
    difference rides exact decimals into the moment aggregate.

    A one-class replicate (all-positive or all-negative after
    weighting) has no AUC for EITHER scorer — it drops out of the
    replicate spread entirely (never half-paired).  ``significant`` is
    the z-gate ``|Δ| > z·se`` at the same level as the CI.

    Output: one row — ``(auc_a double, auc_b double, d_auc double,
    se_boot double, ci_lo double, ci_hi double, significant boolean)``.
    """
    if b < 2:
        raise ValueError("need b >= 2 replicates")
    keep = (
        F.col(score_a_col).isNotNull()
        & F.col(score_b_col).isNotNull()
        & F.col(label_col).isNotNull()
        & F.col(id_col).isNotNull()
    )
    base = df.filter(keep).select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(score_a_col).alias("_sa"),
        F.col(score_b_col).alias("_sb"),
        _pos(label_col).alias("_y"),
    )
    rep = base.select(
        "_id",
        "_sa",
        "_sb",
        "_y",
        F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_r"),
    )
    w = _poisson_weight(F.col("_id"), F.col("_r"))
    stacked = rep.select(
        "_r",
        "_y",
        w.alias("_w"),
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("_k"), F.col("_sa").alias("_s")),
                F.struct(F.lit(1).alias("_k"), F.col("_sb").alias("_s")),
            )
        ).alias("_x"),
    ).select("_r", "_y", "_w", F.col("_x._k").alias("_k"), F.col("_x._s").alias("_s"))
    counts = (
        stacked.groupBy("_r", "_k", "_s")
        .agg(
            F.sum(F.col("_w") * F.col("_y")).alias("_np"),
            F.sum("_w").alias("_nt"),
        )
        .filter(F.col("_nt") > 0)
    )
    w_cum = (
        Window.partitionBy("_r", "_k")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = counts.withColumn("_cb", F.sum("_nt").over(w_cum) - F.col("_nt"))
    # Long product (unchanged cap) + long-buffer split sum — see roc_auc.
    term = F.col("_np") * (
        F.lit(2) * F.col("_cb") + F.col("_nt") + F.lit(1)
    )
    is_a = F.col("_k") == 0
    # pos/neg identical across the scorer axis (same weighted labels);
    # read them off the _k = 0 branch
    per = c.groupBy("_r").agg(
        F.sum(F.when(is_a, F.col("_np"))).alias("_pos"),
        F.sum(F.when(is_a, F.col("_nt"))).alias("_tot"),
        *_fs.parts3_int(F.when(is_a, term), "s2a"),
        *_fs.parts3_int(F.when(~is_a, term), "s2b"),
    ).select(
        "_r",
        "_pos",
        "_tot",
        _fs.value3_int("s2a").alias("_s2a"),
        _fs.value3_int("s2b").alias("_s2b"),
    )
    npos = F.col("_pos").cast("decimal(38,0)")
    nneg = F.col("_tot") - F.col("_pos")
    denom = (F.lit(2) * F.col("_pos") * nneg).cast("double")

    def _auc(s2: str) -> Column:
        return F.try_divide(
            (F.col(s2) - npos * (npos + F.lit(1))).cast("double"), denom
        ).cast("decimal(28,12)")

    deltas = per.select(
        (_auc("_s2a") - _auc("_s2b")).alias("_d")
    ).filter(F.col("_d").isNotNull())
    dd = F.col("_d").cast("double")
    boot = deltas.agg(
        F.count(F.lit(1)).alias("_bn"),
        F.sum("_d").alias("_sd"),
        F.sum((dd * dd).cast("decimal(38,12)")).alias("_sdd"),
    )
    obs_a = roc_auc(
        base.select(F.col("_sa").alias("s"), F.col("_y").alias("y")), "s", "y"
    ).select(F.col("auc").alias("auc_a"))
    obs_b = roc_auc(
        base.select(F.col("_sb").alias("s"), F.col("_y").alias("y")), "s", "y"
    ).select(F.col("auc").alias("auc_b"))
    bn = F.col("_bn").cast("double")
    var = (
        bn * F.col("_sdd").cast("double")
        - F.col("_sd").cast("double") * F.col("_sd").cast("double")
    ) / (bn * (bn - F.lit(1.0)))
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    d_obs = F.round(F.col("auc_a") - F.col("auc_b"), 9)
    return (
        obs_a.crossJoin(F.broadcast(obs_b))
        .crossJoin(F.broadcast(boot))
        .select(
            "auc_a",
            "auc_b",
            d_obs.alias("d_auc"),
            F.round(se, 9).alias("se_boot"),
            F.round(d_obs - F.lit(z) * se, 9).alias("ci_lo"),
            F.round(d_obs + F.lit(z) * se, 9).alias("ci_hi"),
            (F.abs(d_obs) > F.lit(z) * se).alias("significant"),
        )
    )


#: chi-square 95th percentile at 1 dof — the McNemar significance gate,
#: inlined as a literal so both engines compare against the same constant.
CHI2_95_1DF = 3.841458820694124


def mcnemar_test(
    df: DataFrame,
    correct_a_col: str,
    correct_b_col: str,
    chi2_crit: float = CHI2_95_1DF,
) -> DataFrame:
    """McNemar's test: did classifier A beat classifier B on the SAME
    rows?  The paired significance test for per-row correctness flags —
    the categorical sibling of :func:`delta_auc_paired_bootstrap`: two
    accuracies computed on shared documents are correlated, so comparing
    their separate error bars overstates uncertainty; McNemar looks ONLY
    at the discordant cells (rows one classifier got right and the other
    wrong), which is where all the evidence lives:

        χ² = (|n01 − n10| − 1)² / (n01 + n10)      (continuity-corrected)

    with ``n01`` = A wrong / B right, ``n10`` = A right / B wrong.
    Degenerate case ``n01 + n10 = 0`` (the classifiers never disagree)
    has no evidence either way: NULL statistic via ``try_divide``,
    ``significant`` false.

    Exactness/plan: four conditional integer counts in ONE partial-
    aggregable scan; the statistic is one integer-ratio division at the
    end, compared against the 1-dof χ² critical value inlined as a
    literal.  NULL flags are excluded (a row must be graded by both).

    Output: one row — ``(n bigint, n_both_right bigint, n_both_wrong
    bigint, n01 bigint, n10 bigint, acc_a double, acc_b double,
    chi2 double, significant boolean)``.
    """
    a = F.col(correct_a_col).cast("boolean")
    b = F.col(correct_b_col).cast("boolean")
    base = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.alias("_a"), b.alias("_b")
    )
    one = F.count(F.lit(1))
    agg = base.agg(
        one.alias("n"),
        F.sum((F.col("_a") & F.col("_b")).cast("long")).alias(
            "n_both_right"
        ),
        F.sum((~F.col("_a") & ~F.col("_b")).cast("long")).alias(
            "n_both_wrong"
        ),
        F.sum((~F.col("_a") & F.col("_b")).cast("long")).alias("n01"),
        F.sum((F.col("_a") & ~F.col("_b")).cast("long")).alias("n10"),
        F.sum(F.col("_a").cast("long")).alias("_ca"),
        F.sum(F.col("_b").cast("long")).alias("_cb"),
    )
    d = F.abs(F.col("n01") - F.col("n10")) - F.lit(1)
    # a single discordant row (|d| - 1 = 0) is exact-zero evidence, and
    # n01 = n10 would go negative: clamp at 0 before squaring
    dc = F.greatest(d, F.lit(0)).cast("double")
    chi2 = F.try_divide(
        dc * dc, (F.col("n01") + F.col("n10")).cast("double")
    )
    return agg.select(
        "n",
        "n_both_right",
        "n_both_wrong",
        "n01",
        "n10",
        F.round(
            F.try_divide(F.col("_ca").cast("double"),
                         F.col("n").cast("double")), 9
        ).alias("acc_a"),
        F.round(
            F.try_divide(F.col("_cb").cast("double"),
                         F.col("n").cast("double")), 9
        ).alias("acc_b"),
        F.round(chi2, 9).alias("chi2"),
        F.coalesce(
            chi2 > F.lit(chi2_crit), F.lit(False)
        ).alias("significant"),
    )


def bootstrap_median_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    b: int = 40,
    z: float = Z95,
) -> DataFrame:
    """Error bar on the corpus MEDIAN via the deterministic Poisson
    bootstrap — the robust-location companion to
    :func:`bootstrap_mean_ci`: a mean CI on a heavy-tailed column (doc
    length, perplexity) is driven by its tail, while the median moves
    with the bulk; this puts the error bar on the statistic dashboards
    actually plot.

    The integer replicate weights slot into a WEIGHTED-median reduction
    the same way they slot into the rank-sum AUC: the ×B explode reduces
    into a (replicate, value) weight-sum groupBy, cumulative windows run
    over the distinct-value axis PARTITIONED BY replicate, and each
    replicate's median is the first distinct value whose doubled
    cumulative weight reaches the replicate total (the LOWER weighted
    median — pure integer comparisons, engine-identical; no midpoint
    averaging, whose halving would reintroduce float ties).  The
    observed median uses the identical rule with weight 1, so observed
    and replicate statistics are the same estimator.

    CI is the normal approximation from exact decimal moments of the
    replicate medians — for a coarsely-discrete value the replicate
    medians may all coincide (se 0); that is the honest reading, not an
    artifact.  Same distinct-value-axis caveat as :func:`roc_auc`.

    Output: one row — ``(n bigint, median double, se_boot double,
    ci_lo double, ci_hi double)``.
    """
    if b < 2:
        raise ValueError("need b >= 2 replicates")
    v = F.col(value_col)
    base = df.filter(v.isNotNull() & F.col(id_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("_id"), v.alias("_v")
    )
    rep = base.select(
        "_id", "_v", F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_r")
    )
    w = _poisson_weight(F.col("_id"), F.col("_r"))
    counts = (
        rep.select("_r", "_v", w.alias("_w"))
        .groupBy("_r", "_v")
        .agg(F.sum("_w").alias("_nw"))
        .filter(F.col("_nw") > 0)
    )
    w_cum = (
        Window.partitionBy("_r")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("_r")
    c = counts.withColumn("_cum", F.sum("_nw").over(w_cum)).withColumn(
        "_tot", F.sum("_nw").over(w_tot)
    )
    med_r = (
        c.filter(F.lit(2) * F.col("_cum") >= F.col("_tot"))
        .groupBy("_r")
        .agg(F.min("_v").alias("_m"))
        .select(F.col("_m").cast("decimal(28,12)").alias("_m"))
    )
    md = F.col("_m").cast("double")
    boot = med_r.agg(
        F.count(F.lit(1)).alias("_bn"),
        F.sum("_m").alias("_sm"),
        F.sum((md * md).cast("decimal(38,12)")).alias("_smm"),
    )
    ocounts = base.groupBy("_v").agg(F.count(F.lit(1)).alias("_nw"))
    ow_cum = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ow_tot = Window.partitionBy()
    oc = ocounts.withColumn("_cum", F.sum("_nw").over(ow_cum)).withColumn(
        "_tot", F.sum("_nw").over(ow_tot)
    )
    obs = (
        oc.filter(F.lit(2) * F.col("_cum") >= F.col("_tot"))
        .agg(
            F.max("_tot").alias("n"),
            F.round(F.min("_v").cast("double"), 9).alias("median"),
        )
    )
    bn = F.col("_bn").cast("double")
    var = (
        bn * F.col("_smm").cast("double")
        - F.col("_sm").cast("double") * F.col("_sm").cast("double")
    ) / (bn * (bn - F.lit(1.0)))
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    return obs.crossJoin(F.broadcast(boot)).select(
        F.col("n").cast("long").alias("n"),
        "median",
        F.round(se, 9).alias("se_boot"),
        F.round(F.col("median") - F.lit(z) * se, 9).alias("ci_lo"),
        F.round(F.col("median") + F.lit(z) * se, 9).alias("ci_hi"),
    )


def randomization_mean_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    b: int = 200,
) -> DataFrame:
    """Deterministic randomization (permutation) test on the difference
    of MEANS between two arms — the continuous-metric companion to
    :func:`ab_proportion_test`'s closed-form rate test: a per-user spend
    / latency / token-count metric has no tidy pooled-variance formula,
    but under H0 the arm label is arbitrary, so re-drawing labels and
    reading where the observed difference falls in the re-drawn
    distribution IS the test, assumption-free.

    Re-labeling is the md5 parity bit of ``(id, replicate)`` — a fresh
    50/50 Bernoulli assignment per replicate, which matches the
    hash-split design of the experiments this grades (the null is
    "assignment was an arbitrary hash", re-drawing hashes samples
    exactly that null); deterministic, so the p-value is hash-checkable
    and identical across engines and cluster runs.  The p-value carries
    the standard +1 correction (the observed assignment is itself one
    draw): ``p = (1 + #{|d_r| ≥ |d_obs|}) / (B + 1)``.

    Exactness: per-(replicate, arm) sums ride ``decimal(28,12)``; each
    replicate's mean difference (and the observed one) is quantized to
    decimal BEFORE the ≥ comparison, so the tail count — the one place a
    last-ulp float wobble could flip a row — compares exact decimals.
    The ×B explode reduces straight into a (replicate, arm) partial
    aggregate; nothing is corpus-sized after it.  Exactly two non-NULL
    arms are required — any other arm count NULLs the means/d_obs/
    p_value (lazily checkable, never a silent drop of a third arm).

    Output: one row — ``(n_a bigint, n_b bigint, mean_a double,
    mean_b double, d_obs double, b int, n_ge bigint, p_value double)``
    with arms ordered by group value ascending (a < b).
    """
    if b < 1:
        raise ValueError("need b >= 1 replicates")
    dec = "decimal(28,12)"
    keep = (
        F.col(value_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(id_col).isNotNull()
    )
    base = df.filter(keep).select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    arms = (
        base.groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_v").cast(dec)).alias("_s"),
        )
        .withColumn("_rk", F.row_number().over(Window.orderBy("_g")))
        # a third arm would silently vanish behind the two-arm pivot:
        # carry the arm count and NULL the statistic unless it is 2
        .withColumn("_narms", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    a = arms.filter(F.col("_rk") == 1).select(
        F.col("_n").alias("n_a"), F.col("_s").alias("_sa"), "_narms"
    )
    bb = arms.filter(F.col("_rk") == 2).select(
        F.col("_n").alias("n_b"), F.col("_s").alias("_sb")
    )
    two = F.col("_narms") == 2
    mean_a = F.when(
        two,
        F.try_divide(F.col("_sa").cast("double"), F.col("n_a").cast("double")),
    )
    mean_b = F.when(
        two,
        F.try_divide(F.col("_sb").cast("double"), F.col("n_b").cast("double")),
    )
    obs = a.crossJoin(F.broadcast(bb)).select(
        "n_a",
        "n_b",
        F.round(mean_a, 9).alias("mean_a"),
        F.round(mean_b, 9).alias("mean_b"),
        (mean_a - mean_b).cast(dec).alias("_dobs"),
    )
    rep = base.select(
        "_id", "_v", F.explode(F.sequence(F.lit(1), F.lit(b))).alias("_r")
    )
    # parity bit of the same 14-hex md5 integer the Poisson weights use
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.col("_id"), F.col("_r"))), 1, 14
        ),
        16,
        10,
    ).cast("long")
    per = (
        rep.select("_r", "_v", (h % 2).alias("_arm"))
        .groupBy("_r")
        .agg(
            F.sum(F.when(F.col("_arm") == 0, F.col("_v").cast(dec))).alias(
                "_s0"
            ),
            F.sum(
                F.when(F.col("_arm") == 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("_n0"),
            F.sum(F.when(F.col("_arm") == 1, F.col("_v").cast(dec))).alias(
                "_s1"
            ),
            F.sum(
                F.when(F.col("_arm") == 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("_n1"),
        )
    )
    d_r = (
        F.try_divide(F.col("_s0").cast("double"), F.col("_n0").cast("double"))
        - F.try_divide(
            F.col("_s1").cast("double"), F.col("_n1").cast("double")
        )
    ).cast(dec)
    deltas = per.select(d_r.alias("_d")).filter(F.col("_d").isNotNull())
    return obs.crossJoin(
        F.broadcast(
            deltas.crossJoin(F.broadcast(obs.select("_dobs"))).agg(
                F.sum(
                    F.when(
                        F.abs(F.col("_d")) >= F.abs(F.col("_dobs")), 1
                    ).otherwise(0)
                ).alias("n_ge")
            )
        )
    ).select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        F.round(F.col("_dobs").cast("double"), 9).alias("d_obs"),
        F.lit(int(b)).alias("b"),
        F.when(F.col("_dobs").isNotNull(), F.col("n_ge"))
        .cast("long")
        .alias("n_ge"),
        F.when(
            F.col("_dobs").isNotNull(),
            F.round(
                (F.lit(1) + F.col("n_ge")).cast("double")
                / F.lit(float(b + 1)),
                9,
            ),
        ).alias("p_value"),
    )


def histogram_calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    nbins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Histogram-binning calibration with a before/after Brier report —
    the simplest trainable calibrator (map each score to its bin's
    observed positive rate) evaluated in-sample: "how much of the Brier
    score was mis-calibration, recoverable by a monotone-ish remap, vs
    irreducible ranking error".  ``brier_after`` equals the refinement
    term of the classic Brier decomposition (reliability removed), so
    ``brier_before − brier_after`` IS the reliability — the number
    :func:`calibration_summary`'s ECE approximates with absolute gaps.

    Exactness: the same fixed clamp bins as :func:`calibration_bins`;
    per-bin rates are exact-integer divisions; both Brier sums quantize
    per-row squared errors to ``decimal(28,12)``.  Two passes over the
    (score, label) projection with the bin table broadcast back — at
    corpus scale the projection is checkpoint-cheap, and no per-row
    state beyond the ≤nbins-row map exists.

    Output: one row — ``(n bigint, nbins int, brier_before double,
    brier_after double, reliability double)``.
    """
    if nbins < 1 or not hi > lo:
        raise ValueError("need nbins >= 1 and hi > lo")
    width = (hi - lo) / nbins
    dec = "decimal(28,12)"
    s = F.col(score_col)
    keep = s.isNotNull() & F.col(label_col).isNotNull()
    base = df.filter(keep).select(
        s.alias("_s"), _pos(label_col).cast("double").alias("_y")
    )
    b = F.greatest(
        F.lit(0),
        F.least(
            F.lit(nbins - 1), F.floor((F.col("_s") - F.lit(lo)) / F.lit(width))
        ),
    ).cast("int")
    binned = base.withColumn("_b", b)
    rates = binned.groupBy("_b").agg(
        (
            F.sum("_y").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("_rate")
    )
    joined = binned.join(F.broadcast(rates), "_b")
    d0 = F.col("_s").cast("double") - F.col("_y")
    d1 = F.col("_rate") - F.col("_y")
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((d0 * d0).cast(dec)).alias("_sb0"),
        F.sum((d1 * d1).cast(dec)).alias("_sb1"),
    )
    nb = F.col("n").cast("double")
    before = F.col("_sb0").cast("double") / nb
    after = F.col("_sb1").cast("double") / nb
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.lit(int(nbins)).alias("nbins"),
        F.round(before, 9).alias("brier_before"),
        F.round(after, 9).alias("brier_after"),
        F.round(before - after, 9).alias("reliability"),
    )


def simpsons_check(
    df: DataFrame,
    variant_col: str,
    flag_col: str,
    stratum_col: str,
) -> DataFrame:
    """Simpson's-paradox check for a two-arm experiment: does the POOLED
    conversion difference agree with the per-stratum differences?  The
    pooled A/B read flips sign (or materializes from nothing) whenever
    arm assignment correlates with a stratum that also drives the
    metric — the classic aggregation trap; this emits the per-stratum
    table plus the pooled row so the disagreement is visible in one
    artifact instead of discovered in a postmortem.

    Exactly two arms (ordered ascending: a < b); ``diff`` = rate_a −
    rate_b.  ``agrees_with_pooled`` compares each stratum's sign to the
    pooled sign (zero diffs agree with everything).  Exact integer
    counts; one (stratum, arm) groupBy, everything after on the strata
    axis.  NULL strata/arms/flags excluded.

    Output: one row per stratum plus the ``\\x00pooled`` row —
    ``(stratum string, n_a bigint, k_a bigint, n_b bigint, k_b bigint,
    rate_a double, rate_b double, diff double, agrees_with_pooled
    boolean)``.
    """
    keep = (
        F.col(variant_col).isNotNull()
        & F.col(flag_col).isNotNull()
        & F.col(stratum_col).isNotNull()
    )
    base = df.filter(keep).select(
        F.col(stratum_col).cast("string").alias("_s"),
        F.col(variant_col).cast("string").alias("_v"),
        _pos(flag_col).alias("_y"),
    )
    per = base.groupBy("_s", "_v").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_k")
    )
    arms = (
        per.groupBy("_v")
        .agg(F.lit(1).alias("_one"))
        .withColumn("_rk", F.row_number().over(Window.orderBy("_v")))
    )
    a_arm = arms.filter(F.col("_rk") == 1).select(
        F.col("_v").alias("_va")
    )
    b_arm = arms.filter(F.col("_rk") == 2).select(
        F.col("_v").alias("_vb")
    )
    lab = F.broadcast(a_arm.crossJoin(b_arm))
    pooled = per.groupBy("_v").agg(
        F.sum("_n").alias("_n"), F.sum("_k").alias("_k")
    ).withColumn("_s", F.lit("\x00pooled"))
    both = per.unionByName(pooled.select("_s", "_v", "_n", "_k"))
    wide = (
        both.crossJoin(lab)
        .groupBy("_s")
        .agg(
            F.sum(F.when(F.col("_v") == F.col("_va"), F.col("_n"))).alias(
                "n_a"
            ),
            F.sum(F.when(F.col("_v") == F.col("_va"), F.col("_k"))).alias(
                "k_a"
            ),
            F.sum(F.when(F.col("_v") == F.col("_vb"), F.col("_n"))).alias(
                "n_b"
            ),
            F.sum(F.when(F.col("_v") == F.col("_vb"), F.col("_k"))).alias(
                "k_b"
            ),
        )
    )
    rate_a = F.try_divide(F.col("k_a").cast("double"), F.col("n_a").cast("double"))
    rate_b = F.try_divide(F.col("k_b").cast("double"), F.col("n_b").cast("double"))
    diff = rate_a - rate_b
    scored = wide.select(
        F.col("_s").alias("stratum"),
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("k_a", F.lit(0)).cast("long").alias("k_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        F.coalesce("k_b", F.lit(0)).cast("long").alias("k_b"),
        F.round(rate_a, 9).alias("rate_a"),
        F.round(rate_b, 9).alias("rate_b"),
        F.round(diff, 9).alias("diff"),
    )
    pooled_sign = F.first(
        F.when(F.col("stratum") == "\x00pooled", F.signum(F.col("diff")))
    , ignorenulls=True).over(Window.partitionBy())
    return scored.select(
        "*",
        (
            (F.signum(F.col("diff")) == pooled_sign)
            | (F.signum(F.col("diff")) == 0)
        ).alias("agrees_with_pooled"),
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    z_crit: float = Z95,
) -> DataFrame:
    """Mann–Whitney U rank-sum test between exactly two arms — the
    non-parametric "is one arm's distribution shifted" verdict that
    :func:`randomization_mean_test` answers by brute re-labeling and a
    Welch t answers only under normality: MW asks how often arm-a values
    exceed arm-b values, so one outlier moves ranks by one slot, not by
    its magnitude.

    Counts-based over the DISTINCT-VALUE axis (the :func:`roc_auc`
    discipline — no global per-row rank): with per-value counts c_a, c_b
    and B(<v) = Σ_{w<v} c_b(w),

        2·U_a = Σ_v c_a(v) · (2·B(<v) + c_b(v))        (ties = ½ each)
        μ_U   = n_a·n_b / 2
        Var   = n_a·n_b/12 · [(n+1) − Σ_t(t³−t)/(n(n−1))]   (tie-corr.)
        z     = (U_a − μ_U ∓ ½) / √Var                  (continuity)

    2·U_a, 2·(U_a−μ_U), and both variance polynomials are exact int64 —
    every comparison happens integer-side.  The cumulative window runs
    over distinct values in one partition: fine for integer/quantized
    metrics (doc lengths, token counts, graded scores); pre-quantize a
    truly continuous metric upstream, as with :func:`roc_auc`.

    Also emits the rank-biserial effect size r = 2·U_a/(n_a·n_b) − 1
    (= 2·AUC − 1 ∈ [−1, 1]): the z says "real", r says "how big".

    Output: one row — ``(group_a string, group_b string, n_a bigint,
    n_b bigint, u_a double, u_b double, rank_biserial double, z double,
    significant boolean)`` with arms ordered ascending by group value;
    any arm count ≠ 2 NULLs the statistics (never a silent third-arm
    drop).  NULL z (zero variance: all values tied) → not significant.
    """
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    arms = (
        base.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_rk", F.row_number().over(Window.orderBy("_g")))
        .withColumn("_narms", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    ga = arms.filter(F.col("_rk") == 1).select(
        F.col("_g").alias("group_a"),
        F.col("_n").alias("n_a"),
        "_narms",
    )
    gb = arms.filter(F.col("_rk") == 2).select(
        F.col("_g").alias("group_b"), F.col("_n").alias("n_b")
    )
    # per-distinct-value counts for each arm: facts reduce in ONE
    # partial-aggregable (value, group) groupBy, then the tiny arms
    # table broadcasts in to tag which side is a
    vc = (
        base.groupBy("_v", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .join(F.broadcast(arms.select("_g", "_rk")), "_g")
        .groupBy("_v")
        .agg(
            F.sum(F.when(F.col("_rk") == 1, F.col("_c")).otherwise(0))
            .cast("long")
            .alias("_ca"),
            F.sum(F.when(F.col("_rk") == 2, F.col("_c")).otherwise(0))
            .cast("long")
            .alias("_cb"),
        )
    )
    w_lt = (
        Window.orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    stats = vc.select(
        "_ca",
        "_cb",
        F.coalesce(F.sum("_cb").over(w_lt), F.lit(0)).alias("_blt"),
        (F.col("_ca") + F.col("_cb")).alias("_t"),
    ).agg(
        F.sum(
            F.col("_ca") * (F.lit(2) * F.col("_blt") + F.col("_cb"))
        ).alias("_u2a"),
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie_poly"),
    )
    out = ga.crossJoin(F.broadcast(gb)).crossJoin(F.broadcast(stats))
    two = F.col("_narms") == 2
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u_a = F.col("_u2a").cast("double") / F.lit(2.0)
    u_b = na * nb - u_a
    # 2(U_a - mu) = u2a - n_a*n_b: exact integer sign for the
    # continuity correction
    dev2 = F.col("_u2a") - F.col("n_a") * F.col("n_b")
    var_u = (
        na * nb / F.lit(12.0)
        * (
            (n + 1)
            - F.col("_tie_poly").cast("double") / (n * (n - 1))
        )
    )
    z = F.when(
        two & (var_u > 0),
        (
            (F.col("_u2a").cast("double") - na * nb) / F.lit(2.0)
            - F.lit(0.5) * F.signum(dev2.cast("double"))
        )
        / F.sqrt(var_u),
    )
    return out.select(
        F.when(two, F.col("group_a")).alias("group_a"),
        F.when(two, F.col("group_b")).alias("group_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.when(two, u_a), 9).alias("u_a"),
        F.round(F.when(two, u_b), 9).alias("u_b"),
        F.round(
            F.when(two, F.lit(2.0) * u_a / (na * nb) - F.lit(1.0)), 9
        ).alias("rank_biserial"),
        F.round(z, 9).alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(z_crit), F.lit(False)
        ).alias("significant"),
    )


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    z_crit: float = Z95,
) -> DataFrame:
    """Welch two-sample t-test with Cohen's d — the parametric mean
    comparison beside :func:`mann_whitney_u`'s rank verdict and
    :func:`randomization_mean_test`'s brute-force one: unequal variances
    allowed (no pooled-variance assumption in the test), and the effect
    size answers "how many standard deviations apart", which neither the
    rank test nor the permutation p carries.

        t  = (m₁ − m₂) / √(v₁/n₁ + v₂/n₂)
        df = (v₁/n₁ + v₂/n₂)² / [(v₁/n₁)²/(n₁−1) + (v₂/n₂)²/(n₂−1)]
        d  = (m₁ − m₂) / √(((n₁−1)v₁ + (n₂−1)v₂)/(n₁+n₂−2))

    Exactness: per-arm n/Σx/Σx² reduce in ONE partial-aggregable
    groupBy with decimal(28,12) sums (squares taken in double, then
    quantized — never decimal×decimal); means/variances derive from
    those exact decimals in a fixed expression order, so the t, df, and
    d are bit-identical across engines and cluster runs.  Significance
    is the NORMAL approximation |t| > z_crit (no t-CDF in either
    engine); at the df this grades (hundreds+) the gap to the exact t
    threshold is <1% — documented, not hidden.

    Output: one row — ``(group_a string, group_b string, n_a bigint,
    n_b bigint, mean_a double, mean_b double, var_a double, var_b
    double, t double, df double, cohens_d double, significant
    boolean)``, arms ascending; an arm count ≠ 2 or any n < 2 NULLs the
    statistics.
    """
    dec = "decimal(28,12)"
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    arms = (
        base.groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_v").cast(dec)).alias("_s"),
            F.sum((F.col("_v") * F.col("_v")).cast(dec)).alias("_q"),
        )
        .withColumn("_rk", F.row_number().over(Window.orderBy("_g")))
        .withColumn("_narms", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    a = arms.filter(F.col("_rk") == 1).select(
        F.col("_g").alias("group_a"),
        F.col("_n").alias("n_a"),
        F.col("_s").alias("_sa"),
        F.col("_q").alias("_qa"),
        "_narms",
    )
    bb = arms.filter(F.col("_rk") == 2).select(
        F.col("_g").alias("group_b"),
        F.col("_n").alias("n_b"),
        F.col("_s").alias("_sb"),
        F.col("_q").alias("_qb"),
    )
    out = a.crossJoin(F.broadcast(bb))
    ok = (F.col("_narms") == 2) & (F.col("n_a") >= 2) & (
        F.col("n_b") >= 2
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    m1 = F.col("_sa").cast("double") / na
    m2 = F.col("_sb").cast("double") / nb
    v1 = F.try_divide(
        F.col("_qa").cast("double") - na * m1 * m1, na - 1
    )
    v2 = F.try_divide(
        F.col("_qb").cast("double") - nb * m2 * m2, nb - 1
    )
    se2 = v1 / na + v2 / nb
    t = F.when(ok & (se2 > 0), (m1 - m2) / F.sqrt(se2))
    dfree = F.when(
        ok & (se2 > 0),
        F.try_divide(
            se2 * se2,
            F.try_divide((v1 / na) * (v1 / na), na - 1)
            + F.try_divide((v2 / nb) * (v2 / nb), nb - 1),
        ),
    )
    pooled = F.try_divide(
        (na - 1) * v1 + (nb - 1) * v2, na + nb - 2
    )
    d = F.when(ok & (pooled > 0), (m1 - m2) / F.sqrt(pooled))
    return out.select(
        F.when(ok, F.col("group_a")).alias("group_a"),
        F.when(ok, F.col("group_b")).alias("group_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.when(ok, m1), 9).alias("mean_a"),
        F.round(F.when(ok, m2), 9).alias("mean_b"),
        F.round(F.when(ok, v1), 9).alias("var_a"),
        F.round(F.when(ok, v2), 9).alias("var_b"),
        F.round(t, 9).alias("t"),
        F.round(dfree, 9).alias("df"),
        F.round(d, 9).alias("cohens_d"),
        F.coalesce(F.abs(t) > F.lit(z_crit), F.lit(False)).alias(
            "significant"
        ),
    )


def anova_oneway(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-way ANOVA across k groups — the "does ANY source differ"
    omnibus before pairwise :func:`welch_t_test` comparisons (running
    C(k,2) pairwise tests first is the multiple-comparison trap; the
    omnibus F gates them).

        SSB = Σ_g s_g²/n_g − S²/N       (between-group)
        SSW = Σ_g q_g − Σ_g s_g²/n_g    (within-group)
        F   = (SSB/(k−1)) / (SSW/(N−k))
        η²  = SSB / (SSB + SSW)          (variance explained)

    One partial-aggregable groupBy reduces the corpus to per-group
    (n, Σx, Σx²) with decimal(28,12) sums (squares in double, then
    quantized); every cross-GROUP combination quantizes its per-group
    term to decimal before summing, so SSB/SSW are independent of group
    summation order — the statistic is bit-identical across engines and
    partitionings.  No F-CDF exists in either engine, so like
    :func:`~..operators.profile.categorical_association` this emits the
    statistic and the effect size, not a p-value; η² says "how much",
    F with (df1, df2) feeds any table.

    Output: one row — ``(n bigint, k bigint, df1 bigint, df2 bigint,
    ss_between double, ss_within double, f double, eta_squared
    double)``; F is NULL for k < 2, n ≤ k, or zero within-variance.
    """
    dec = "decimal(28,12)"
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    groups = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_v").cast(dec)).alias("_s"),
        F.sum((F.col("_v") * F.col("_v")).cast(dec)).alias("_q"),
    )
    # per-group s^2/n quantized BEFORE the cross-group sum: group order
    # can't move the statistic
    term = (
        F.col("_s").cast("double")
        * F.col("_s").cast("double")
        / F.col("_n").cast("double")
    ).cast(dec)
    agg = groups.agg(
        F.sum("_n").alias("_nn"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.col("_s")).alias("_ss"),
        F.sum(F.col("_q")).alias("_qq"),
        F.sum(term).alias("_sq_over_n"),
    )
    nn = F.col("_nn").cast("double")
    k = F.col("_k").cast("double")
    # SSB/SSW are SMALL differences of HUGE sums: ROUND each operand to
    # 6 dp in decimal FIRST (half-up on the exact decimal — F.round
    # here, round() in DuckDB; a decimal->decimal CAST downscale
    # TRUNCATES in DuckDB and double-casts of the big operands differ
    # between engines in the last ulp — both were sf0.001 anova red
    # rows), subtract exactly in decimal, cast to double once.  The
    # per-row double->decimal quantization itself differs at 1e-12
    # between engines, so operands agree only after the 6 dp cut.
    grand6 = F.round(
        (
            F.col("_ss").cast("double")
            * F.col("_ss").cast("double")
            / nn
        ).cast("decimal(28,12)"),
        6,
    )
    q6 = F.round(F.col("_qq"), 6)
    sq6 = F.round(F.col("_sq_over_n"), 6)
    ssb = (sq6 - grand6).cast("double")
    ssw = (q6 - sq6).cast("double")
    ok = (F.col("_k") >= 2) & (nn > k)
    fstat = F.when(
        ok & (ssw > 0),
        F.try_divide(ssb / (k - 1), ssw / (nn - k)),
    )
    return agg.select(
        F.col("_nn").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k"),
        (F.col("_k") - 1).cast("long").alias("df1"),
        (F.col("_nn") - F.col("_k")).cast("long").alias("df2"),
        F.round(F.when(ok, ssb), 9).alias("ss_between"),
        F.round(F.when(ok, ssw), 9).alias("ss_within"),
        F.round(fstat, 9).alias("f"),
        F.round(
            F.when(ok, F.try_divide(ssb, ssb + ssw)), 9
        ).alias("eta_squared"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal–Wallis H across k groups — the rank-based omnibus beside
    :func:`anova_oneway`'s parametric F (k-group generalization of
    :func:`mann_whitney_u`): does ANY group's distribution sit higher,
    with no normality assumption and outliers moving ranks, not sums.

    Counts-based over the DISTINCT-VALUE axis: with per-value per-group
    counts c_g(v), total t(v), and L(v) = Σ_{w<v} t(w), the midrank is
    L(v) + (t(v)+1)/2, so 2·R_g = Σ_v c_g(v)·(2·L(v) + t(v) + 1) is
    exact int64; then

        H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1)
        H_corr = H / (1 − Σ_v(t³−t)/(N³−N))        (tie correction)
        ε² = (H − k + 1)/(N − k)                    (effect size)

    Per-group Σ R_g²/n_g terms quantize to decimal(28,12) before the
    cross-group sum (order-independence); the tie polynomial is exact
    int64.  The cumulative window runs over distinct values — the
    :func:`roc_auc` caveat applies: pre-quantize a truly continuous
    metric upstream.  No χ²-CDF in either engine → statistic + effect
    size, not p (H_corr ~ χ²_{k−1} feeds any table).

    Output: one row — ``(n bigint, k bigint, dof bigint, h double,
    h_tie_corrected double, epsilon_squared double)``; NULL H for
    k < 2 or all-tied data (correction denominator 0).
    """
    dec = "decimal(28,12)"
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    vc = base.groupBy("_v", "_g").agg(F.count(F.lit(1)).alias("_c"))
    w_lt = (
        Window.orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    # t(v) on the (value, group) cells, L(v) on the distinct-value axis
    tv = vc.groupBy("_v").agg(F.sum("_c").alias("_t"))
    lv = tv.select(
        "_v",
        "_t",
        F.coalesce(F.sum("_t").over(w_lt), F.lit(0)).alias("_l"),
    )
    ranks = vc.join(lv, "_v").groupBy("_g").agg(
        F.sum("_c").alias("_n"),
        F.sum(
            F.col("_c")
            * (F.lit(2) * F.col("_l") + F.col("_t") + F.lit(1))
        ).alias("_r2"),
    )
    term = (
        F.col("_r2").cast("double")
        * F.col("_r2").cast("double")
        / (F.lit(4.0) * F.col("_n").cast("double"))
    ).cast(dec)
    ties = tv.agg(
        F.sum(
            F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
        ).alias("_tie_poly")
    )
    agg = ranks.agg(
        F.sum("_n").alias("_nn"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(term).alias("_r2n"),
    ).crossJoin(F.broadcast(ties))
    nn = F.col("_nn").cast("double")
    k = F.col("_k").cast("double")
    h = F.lit(12.0) / (nn * (nn + 1)) * F.col("_r2n").cast(
        "double"
    ) - F.lit(3.0) * (nn + 1)
    corr = F.lit(1.0) - F.col("_tie_poly").cast("double") / (
        nn * nn * nn - nn
    )
    ok = (F.col("_k") >= 2) & (nn > k)
    h_ok = F.when(ok, h)
    return agg.select(
        F.col("_nn").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k"),
        (F.col("_k") - 1).cast("long").alias("dof"),
        F.round(h_ok, 9).alias("h"),
        F.round(
            F.when(ok & (corr > 0), h / corr), 9
        ).alias("h_tie_corrected"),
        F.round(
            F.when(ok, F.try_divide(h - k + 1, nn - k)), 9
        ).alias("epsilon_squared"),
    )


def _norm_p_two_sided(t: Column) -> Column:
    """Two-sided normal p ≈ erfc(|t|/√2) via the Abramowitz–Stegun
    7.1.26 polynomial (|error| < 1.5e-7) — pure arithmetic, evaluated
    with the SAME literals in the DuckDB oracles, so the p and any
    threshold flag on it are hash-stable; NULL t propagates."""
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
    return poly * F.exp(-x * x)


def pairwise_welch(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """All C(k,2) pairwise Welch comparisons with Bonferroni control —
    the post-hoc step after :func:`anova_oneway`'s omnibus says
    "something differs": WHICH groups differ, with the per-pair p
    compared against α/m (m = number of pairs) so running ten
    comparisons doesn't manufacture one fake discovery (the
    multiple-comparison trap the omnibus-first workflow exists to
    avoid).

    One partial-aggregable groupBy reduces the corpus to per-group
    (n, Σx, Σx²) exact decimals; the pair grid is a self-join on the
    GROUPS axis (k rows a side — dashboard-sized, broadcast).  Per pair
    the Welch t / df / Cohen's d follow :func:`welch_t_test` exactly;
    the p is the normal approximation via :func:`_norm_p_two_sided`
    (same large-df caveat as welch_t_test, documented).

    Output: one row per pair (group_a < group_b) — ``(group_a, group_b,
    n_a, n_b, mean_a, mean_b, t, df, cohens_d, p_approx double,
    m_pairs bigint, significant_raw boolean, significant_bonferroni
    boolean)`` at α = 0.05; pairs with n < 2 on either side carry NULL
    statistics.
    """
    dec = "decimal(28,12)"
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    groups = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_v").cast(dec)).alias("_s"),
        F.sum((F.col("_v") * F.col("_v")).cast(dec)).alias("_q"),
    )
    a = groups.select(
        F.col("_g").alias("group_a"),
        F.col("_n").alias("n_a"),
        F.col("_s").alias("_sa"),
        F.col("_q").alias("_qa"),
    )
    b = groups.select(
        F.col("_g").alias("group_b"),
        F.col("_n").alias("n_b"),
        F.col("_s").alias("_sb"),
        F.col("_q").alias("_qb"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("group_a") < F.col("group_b")
    ).withColumn(
        "_m",
        F.count(F.lit(1)).over(Window.partitionBy()),
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    m1 = F.col("_sa").cast("double") / na
    m2 = F.col("_sb").cast("double") / nb
    v1 = F.try_divide(
        F.col("_qa").cast("double") - na * m1 * m1, na - 1
    )
    v2 = F.try_divide(
        F.col("_qb").cast("double") - nb * m2 * m2, nb - 1
    )
    se2 = v1 / na + v2 / nb
    t = F.when(ok & (se2 > 0), (m1 - m2) / F.sqrt(se2))
    dfree = F.when(
        ok & (se2 > 0),
        F.try_divide(
            se2 * se2,
            F.try_divide((v1 / na) * (v1 / na), na - 1)
            + F.try_divide((v2 / nb) * (v2 / nb), nb - 1),
        ),
    )
    pooled = F.try_divide(
        (na - 1) * v1 + (nb - 1) * v2, na + nb - 2
    )
    d = F.when(ok & (pooled > 0), (m1 - m2) / F.sqrt(pooled))
    p = _norm_p_two_sided(t)
    alpha = 2.0 * (1.0 - 0.975)  # z_crit=Z95 <-> alpha=0.05
    return pairs.select(
        "group_a",
        "group_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.when(ok, m1), 9).alias("mean_a"),
        F.round(F.when(ok, m2), 9).alias("mean_b"),
        F.round(t, 9).alias("t"),
        F.round(dfree, 9).alias("df"),
        F.round(d, 9).alias("cohens_d"),
        F.round(p, 9).alias("p_approx"),
        F.col("_m").cast("long").alias("m_pairs"),
        F.coalesce(p < F.lit(alpha), F.lit(False)).alias(
            "significant_raw"
        ),
        F.coalesce(
            p < F.lit(alpha) / F.col("_m").cast("double"),
            F.lit(False),
        ).alias("significant_bonferroni"),
    )


#: z for 80% power (one-sided 0.80 quantile); oracle SQL must use this
#: literal.
Z_POWER80 = 0.8416212335729143


def proportion_power_mde(
    df: DataFrame,
    variant_col: str,
    flag_col: str,
    z_alpha: float = Z95,
    z_power: float = Z_POWER80,
) -> DataFrame:
    """Power / minimum-detectable-effect readout for a two-proportion
    experiment — the question :func:`ab_proportion_test` CAN'T answer
    when it comes back not-significant: "could this experiment even have
    seen the effect we care about, and how long until it can?"  A
    not-significant verdict with MDE ≫ the effect of interest is an
    underpowered experiment, not a null result — the distinction every
    ship/hold decision needs.

    Closed forms at significance ``z_alpha`` (two-sided) and power
    ``z_power`` (one-sided), with p̄ the pooled rate and d the observed
    difference:

        MDE_abs  = (z_α + z_β)·√(p̄(1−p̄)(1/n_a + 1/n_b))
        power    = Φ(|d|/se − z_α)      (post-hoc, at the observed d)
        n_req    = (z_α + z_β)²·2p̄(1−p̄)/d²   (per arm, equal split)

    Φ evaluates via the same Abramowitz–Stegun erfc polynomial as
    :func:`_norm_p_two_sided` (identical literals in the oracle —
    hash-stable).  One unit-level reduction; everything after is a
    broadcast pair combine, exactly :func:`ab_proportion_test`'s shape.

    Output: one row per variant pair (a < b) — ``(variant_a, variant_b,
    n_a bigint, k_a bigint, n_b bigint, k_b bigint, rate_a, rate_b,
    diff, pooled, mde_abs, mde_rel, posthoc_power, n_per_arm_required
    bigint)``; zero-variance pools NULL the derived columns, a zero
    observed diff NULLs power/n_req.
    """
    flag = F.when(F.col(flag_col).cast("boolean"), 1).otherwise(0)
    # Same population as ab_proportion_test: NULL flags are excluded, not
    # counted as non-conversions — the power/MDE readout must use the same
    # n and rates as the significance verdict it contextualizes.
    per = (
        df.filter(
            F.col(variant_col).isNotNull() & F.col(flag_col).isNotNull()
        )
        .select(
            F.col(variant_col).cast("string").alias("_v"),
            flag.alias("_y"),
        )
        .groupBy("_v")
        .agg(
            F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_k")
        )
    )
    a = per.select(
        F.col("_v").alias("variant_a"),
        F.col("_n").alias("n_a"),
        F.col("_k").alias("k_a"),
    )
    b = per.select(
        F.col("_v").alias("variant_b"),
        F.col("_n").alias("n_b"),
        F.col("_k").alias("k_b"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("variant_a") < F.col("variant_b")
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("k_a").cast("double") / na
    pb = F.col("k_b").cast("double") / nb
    pool = (F.col("k_a") + F.col("k_b")).cast("double") / (na + nb)
    var = pool * (1 - pool)
    se = F.sqrt(var * (1 / na + 1 / nb))
    d = pa - pb
    mde = F.when(se > 0, F.lit(z_alpha + z_power) * se)
    # post-hoc power: Phi(|d|/se - z_alpha) via erfc symmetry
    u = F.abs(d) / se - F.lit(z_alpha)
    e = _norm_p_two_sided(u)  # = erfc(|u|/sqrt(2))
    power = F.when(
        se > 0,
        F.when(u >= 0, 1 - e / 2).otherwise(e / 2),
    )
    n_req = F.when(
        (var > 0) & (d != 0),
        F.ceil(
            F.lit((z_alpha + z_power) ** 2) * 2 * var / (d * d)
        ).cast("long"),
    )
    return pairs.select(
        "variant_a",
        "variant_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("k_a").cast("long").alias("k_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("k_b").cast("long").alias("k_b"),
        F.round(pa, 9).alias("rate_a"),
        F.round(pb, 9).alias("rate_b"),
        F.round(d, 9).alias("diff"),
        F.round(pool, 9).alias("pooled"),
        F.round(mde, 9).alias("mde_abs"),
        F.round(F.try_divide(mde, pool), 9).alias("mde_rel"),
        F.round(F.when(d != 0, power), 9).alias("posthoc_power"),
        n_req.alias("n_per_arm_required"),
    )


def bh_adjust(
    df: DataFrame,
    p_col: str,
    tiebreak_cols: Sequence[str],
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Hochberg FDR adjustment over ANY table of p-values —
    the modern replacement for :func:`pairwise_welch`'s Bonferroni flag
    when the hypothesis list grows (per-language tests, hundreds of
    segment comparisons): Bonferroni controls the chance of ONE false
    positive and strangles power at large m; BH controls the false-
    DISCOVERY rate, which is what a triage list actually wants.

    Step-up rule on p₍₁₎ ≤ … ≤ p₍ₘ₎: q₍ᵢ₎ = min(1, min_{j≥i} m·p₍ⱼ₎/j)
    (the monotone adjusted p), reject where q ≤ α.  Ties order by
    ``tiebreak_cols`` so the ranking — and therefore every q — is
    deterministic.  The sort/suffix-min windows run on the HYPOTHESES
    axis (the rows of ``df`` — comparison-list-sized, never corpus-
    sized).  NULL p rows pass through with NULL q and a false flag and
    do not count toward m.

    Output: the input columns plus ``(rank_p bigint, m bigint, q_value
    double, significant_bh boolean)``.
    """
    order = [F.col(p_col).asc_nulls_last()] + [
        F.col(c).asc() for c in tiebreak_cols
    ]
    w_rank = Window.orderBy(*order)
    w_suffix = w_rank.rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_all = Window.partitionBy()
    i = F.row_number().over(w_rank)
    m = F.count(p_col).over(w_all)
    q_raw = F.when(
        F.col(p_col).isNotNull(),
        m.cast("double") * F.col(p_col) / i.cast("double"),
    )
    staged = df.select(
        "*",
        F.when(F.col(p_col).isNotNull(), i).cast("long").alias(
            "rank_p"
        ),
        m.alias("m"),
        q_raw.alias("_qr"),
    )
    q = F.least(F.min("_qr").over(w_suffix), F.lit(1.0))
    return staged.select(
        *[c for c in staged.columns if c != "_qr"],
        F.round(
            F.when(F.col(p_col).isNotNull(), q), 9
        ).alias("q_value"),
        F.coalesce(
            F.when(F.col(p_col).isNotNull(), q) <= F.lit(alpha),
            F.lit(False),
        ).alias("significant_bh"),
    ).withColumn("m", F.col("m").cast("long"))


def levene_brown_forsythe(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Brown–Forsythe (median-centered Levene) test for variance
    homogeneity — the assumption check the :func:`anova_oneway` /
    pooled-variance family needs: are the groups' SPREADS equal, asked
    robustly (deviations from the group MEDIAN, so heavy tails don't
    masquerade as unequal variances the way the mean-centered original
    suffers).

    W = the one-way ANOVA F computed on zᵢ = |xᵢ − median(group)|;
    medians are the LOWER weighted median via cumulative counts over
    the per-group distinct-value axis (pure integer comparisons — the
    :func:`~..operators.timeseries.theil_sen_slope` convention, and
    engine-stable where midpoint averaging is not).  Two corpus scans:
    one (value, group) count reduction for the medians (broadcast back,
    k rows), one ANOVA reduction over z — then everything downstream
    follows :func:`anova_oneway`'s exact-decimal discipline verbatim
    (it IS anova_oneway on the transformed column).  The distinct-value
    caveat applies: quantize a truly continuous metric upstream.

    Output: one row — ``(n bigint, k bigint, df1 bigint, df2 bigint,
    w double, eta_squared double)``; NULL W for k < 2 or zero within-
    spread.
    """
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    vc = base.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_c"))
    w_cum = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("_g")
    med = (
        vc.withColumn("_cum", F.sum("_c").over(w_cum))
        .withColumn("_tot", F.sum("_c").over(w_tot))
        .filter(F.lit(2) * F.col("_cum") >= F.col("_tot"))
        .groupBy("_g")
        .agg(F.min("_v").alias("_med"))
    )
    z = base.join(F.broadcast(med), "_g").select(
        "_g", F.abs(F.col("_v") - F.col("_med")).alias("_z")
    )
    out = anova_oneway(z, "_z", "_g")
    return out.select(
        "n",
        "k",
        "df1",
        "df2",
        F.col("f").alias("w"),
        "eta_squared",
    )


def cochran_armitage_trend(
    df: DataFrame,
    flag_col: str,
    score_col: str,
    z_crit: float = Z95,
) -> DataFrame:
    """Cochran–Armitage test for TREND in proportions across ordered
    dose levels — the question k-level rate tables actually pose that
    a chi-square omnibus wastes power on: "does conversion RISE with
    activity/quality/exposure", one directed degree of freedom instead
    of k−1 undirected ones.

    With integer scores wᵢ, per-level (nᵢ, rᵢ), N = Σn, R = Σr:

        T   = Σ wᵢ rᵢ − (R/N)·Σ wᵢ nᵢ
        Var = (R/N)(1−R/N)·[Σ wᵢ²nᵢ − (Σ wᵢnᵢ)²/N]
        z   = T / √Var    (computed as N-scaled integer combinations)

    One unit-level (score) groupBy reduces to k rows; the five moment
    sums are exact int64 (they convert to double exactly at < 2⁵³ —
    the only subsequent arithmetic is IEEE double over identical
    inputs, engine-identical).  Direction is the sign of z: positive =
    rates rise with the score.

    Output: one row — ``(n bigint, n_pos bigint, k_levels bigint,
    z double, direction string ∈ {'increasing','decreasing','none'},
    significant boolean)``; NULL z for a single level, an all-equal
    outcome, or zero variance.
    """
    flag = F.when(F.col(flag_col).cast("boolean"), 1).otherwise(0)
    keep = F.col(flag_col).isNotNull() & F.col(score_col).isNotNull()
    levels = (
        df.filter(keep)
        .select(
            F.col(score_col).cast("long").alias("_w"),
            flag.alias("_y"),
        )
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_r"))
    )
    agg = levels.agg(
        F.sum("_n").alias("_nn"),
        F.sum("_r").alias("_rr"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.col("_w") * F.col("_n")).alias("_swn"),
        F.sum(F.col("_w") * F.col("_r")).alias("_swr"),
        F.sum(F.col("_w") * F.col("_w") * F.col("_n")).alias("_sw2n"),
    )
    nd = F.col("_nn").cast("double")
    rd = F.col("_rr").cast("double")
    t = nd * F.col("_swr").cast("double") - rd * F.col("_swn").cast(
        "double"
    )
    b = nd * F.col("_sw2n").cast("double") - F.col("_swn").cast(
        "double"
    ) * F.col("_swn").cast("double")
    a = rd * (nd - rd)
    z = F.when(
        (F.col("_k") >= 2) & (a > 0) & (b > 0),
        t * F.sqrt(nd) / F.sqrt(a * b),
    )
    return agg.select(
        F.col("_nn").cast("long").alias("n"),
        F.col("_rr").cast("long").alias("n_pos"),
        F.col("_k").cast("long").alias("k_levels"),
        F.round(z, 9).alias("z"),
        F.when(z > F.lit(z_crit), F.lit("increasing"))
        .when(z < F.lit(-z_crit), F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("direction"),
        F.coalesce(
            F.abs(z) > F.lit(z_crit), F.lit(False)
        ).alias("significant"),
    )


def eb_shrunk_rates(
    df: DataFrame,
    flag_col: str,
    group_col: str,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) shrinkage of per-group rates —
    the fix for the dashboard lie :func:`proportion_wilson_ci` can only
    FLAG: a 3-doc source at 100% keep-rate tops the leaderboard over a
    10k-doc source at 92%; shrinking every group toward the corpus
    prior by its own evidence re-ranks them honestly.

    Method-of-moments beta prior over the group rates: with group rates
    p_g (m groups), μ = mean(p), s² = sample var(p),

        α = μ·(μ(1−μ)/s² − 1),   β = (1−μ)·(μ(1−μ)/s² − 1)
        shrunk_g = (k_g + α) / (n_g + α + β)

    — big groups barely move, tiny groups collapse to the prior mean.
    One unit-level (group) reduction; the prior fit is one aggregate
    over the GROUPS axis with per-group p/p² quantized to
    decimal(28,12) (order-independence), broadcast back as one row.
    Degenerate priors (m < 2, zero variance, or s² ≥ μ(1−μ) — more
    spread than a beta can hold) NULL α/β/shrunk and keep the raw rate.

    Output: one row per group — ``(group string, n bigint, k bigint,
    rate_raw double, rate_shrunk double, alpha double, beta double)``.
    """
    dec = "decimal(28,12)"
    flag = F.when(F.col(flag_col).cast("boolean"), 1).otherwise(0)
    per = (
        df.filter(
            F.col(group_col).isNotNull() & F.col(flag_col).isNotNull()
        )
        .select(
            F.col(group_col).cast("string").alias("group"),
            flag.alias("_y"),
        )
        .groupBy("group")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_y").alias("k"))
    )
    p = F.col("k").cast("double") / F.col("n").cast("double")
    prior = per.select(
        p.cast(dec).alias("_p"), (p * p).cast(dec).alias("_p2")
    ).agg(
        F.count(F.lit(1)).alias("_m"),
        F.sum("_p").alias("_sp"),
        F.sum("_p2").alias("_sp2"),
    )
    m = F.col("_m").cast("double")
    mu = F.col("_sp").cast("double") / m
    # sample variance over group rates
    var = F.try_divide(
        F.col("_sp2").cast("double") - m * mu * mu, m - 1
    )
    scale = mu * (1 - mu) / var - 1
    ok = (
        (F.col("_m") >= 2)
        & (var > 0)
        & (var < mu * (1 - mu))
        & (mu > 0)
        & (mu < 1)
    )
    alpha = F.when(ok, mu * scale)
    beta = F.when(ok, (1 - mu) * scale)
    out = per.crossJoin(
        F.broadcast(
            prior.select(alpha.alias("_alpha"), beta.alias("_beta"))
        )
    )
    shrunk = (F.col("k").cast("double") + F.col("_alpha")) / (
        F.col("n").cast("double") + F.col("_alpha") + F.col("_beta")
    )
    return out.select(
        "group",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(p, 9).alias("rate_raw"),
        F.round(shrunk, 9).alias("rate_shrunk"),
        F.round(F.col("_alpha"), 9).alias("alpha"),
        F.round(F.col("_beta"), 9).alias("beta"),
    )


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-square test of independence between two categorical columns —
    the omnibus "are these labels related at all" screen before any
    per-cell drill-down (:func:`~..operators.profile.categorical_association`
    emits Cramér's V alone; this adds the χ² statistic, its degrees of
    freedom, and a closed-form p so the V has a significance verdict).

        χ²  = Σ_cells (O − R·C/N)² / (R·C/N)
        V   = √(χ² / (N · min(r−1, c−1)))
        p   ≈ P(χ²_k > x) via Wilson–Hilferty: the cube-root transform
              z = ((x/k)^⅓ − (1 − 2/9k)) / √(2/9k) is ~N(0,1), and Φ
              evaluates through the same A–S erfc polynomial as
              :func:`_norm_p_two_sided` (identical literals in the
              oracle — hash-stable).

    Exactness: each cell term is formed from EXACT integers first —
    (O·N − R·C)² / (R·C·N) with the numerator an exact decimal(38,0)
    square — so the only doubles are one division per cell and the
    A–S polynomial; per-cell terms quantize to decimal(28,12) before
    the cross-cell sum (cell order can't move the statistic).  One
    (a,b) count groupBy reduces the corpus; marginals derive from the
    cells-axis aggregate (broadcast back — never a second corpus scan).

    Output: one row — ``(n bigint, r bigint, c bigint, dof bigint,
    chi2 double, cramers_v double, p_approx double)``; dof = 0 (single
    row or column) NULLs the statistics.
    """
    keep = F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    cells = (
        df.filter(keep)
        .groupBy(
            F.col(a_col).cast("string").alias("_a"),
            F.col(b_col).cast("string").alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_o"))
        .localCheckpoint()
    )
    rows = cells.groupBy("_a").agg(F.sum("_o").alias("_r"))
    colsy = cells.groupBy("_b").agg(F.sum("_o").alias("_c"))
    tot = cells.agg(
        F.sum("_o").alias("_n"),
        F.count_distinct("_a").alias("_nr"),
        F.count_distinct("_b").alias("_nc"),
    )
    dec0 = "decimal(38,0)"
    joined = (
        cells.join(F.broadcast(rows), "_a")
        .join(F.broadcast(colsy), "_b")
        .crossJoin(F.broadcast(tot))
    )
    # (O*N - R*C)^2 / (R*C*N): numerator exact decimal, one division
    num = (
        F.col("_o").cast(dec0) * F.col("_n").cast(dec0)
        - F.col("_r").cast(dec0) * F.col("_c").cast(dec0)
    )
    den = (
        F.col("_r").cast(dec0)
        * F.col("_c").cast(dec0)
        * F.col("_n").cast(dec0)
    )
    term = (
        (num.cast("double") * num.cast("double")) / den.cast("double")
    ).cast("decimal(28,12)")
    agg = joined.agg(
        F.max("_n").alias("n"),
        F.max("_nr").alias("r"),
        F.max("_nc").alias("c"),
        F.sum(term).alias("_chi2"),
    )
    k = (
        (F.col("r") - 1) * (F.col("c") - 1)
    ).cast("double")
    chi2 = F.col("_chi2").cast("double")
    ok = k > 0
    v = F.sqrt(
        F.try_divide(
            chi2,
            F.col("n").cast("double")
            * F.least(F.col("r") - 1, F.col("c") - 1).cast("double"),
        )
    )
    # Wilson-Hilferty z, then upper-tail p through the shared erfc poly
    z = (
        F.cbrt(chi2 / k) - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * k))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * k))
    e = _norm_p_two_sided(z)
    p = F.when(z >= 0, e / 2).otherwise(F.lit(1.0) - e / 2)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("r"),
        F.col("c").cast("long").alias("c"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round(F.when(ok, chi2), 9).alias("chi2"),
        F.round(F.when(ok, v), 9).alias("cramers_v"),
        F.round(F.when(ok, p), 9).alias("p_approx"),
    )


def jarque_bera(
    df: DataFrame,
    value_col: str,
    group_col: str,
    scale: int = 100,
) -> DataFrame:
    """Jarque–Bera normality test per group — the "can I even use the
    t/F machinery on this column" gate: JB combines sample skewness and
    excess kurtosis into one χ²(2) statistic whose p-value is CLOSED
    FORM (p = exp(−JB/2) — no CDF table needed, so unlike the F test
    this emits a real p both engines agree on bit-for-bit).

        S  = m₃/m₂^1.5,   K = m₄/m₂² − 3
        JB = n/6 · (S² + K²/4),   p = exp(−JB/2)

    Exactness: the column is scaled by *scale* and rounded to an exact
    integer first (the :func:`~..operators.profile.benford_first_digit`
    rule — 2-dp money/metric columns lose nothing), the group mean is
    kept as an exact rational (Σ, n), and the central power sums ride
    the SCALED INTEGER axis: Σ(s·x − Σs/n·1)^k expands to integer-exact
    decimal sums via the binomial theorem... computed directly here as
    Σ(d_i)^k with d_i = n·s_i − S (an exact decimal integer per row —
    no per-row double→decimal cast anywhere), then de-scaled once in
    double.  Moments are therefore engine-identical, not just close.

    Output: one row per group — ``(group string, n bigint, skewness
    double, ex_kurtosis double, jb double, p_value double)``; n < 8 or
    zero variance NULLs the statistics.
    """
    dec = "decimal(38,0)"
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.round(F.col(value_col).cast("double") * F.lit(float(scale)), 0)
        .cast("long")
        .alias("_s"),
    )
    sums = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_s").cast(dec)).alias("_t"),
    )
    # d_i = n*s_i - T is an exact integer; its powers stay decimal-exact
    # (|d| <= n*max|s| ~ 1e6*5e4: d^2 <= 1e21, sums of d^2 <= 1e27 fit
    # decimal(38,0); d^3/d^4 ride as (d^2)*(d) and (d^2)*(d^2) in double
    # AFTER a de-scale — see below — to stay inside decimal range).
    joined = base.join(F.broadcast(sums), "_g")
    d = (
        F.col("_n").cast(dec) * F.col("_s").cast(dec) - F.col("_t")
    ).cast("decimal(38,0)")
    # De-scale d once in double per row: u = d / (n*scale). Both engines
    # compute u from the SAME exact decimal integer d and the same long
    # n, so u is IEEE-identical; its powers are too.  Quantize u^k to
    # decimal(38,12) for order-independent sums ((38,12) holds Σu⁴ to
    # ~1e26 — u^4 ~ 1e11 per row leaves headroom past 1e14 rows).
    u = d.cast("double") / (
        F.col("_n").cast("double") * F.lit(float(scale))
    )
    q = "decimal(38,12)"
    moments = joined.groupBy("_g").agg(
        F.max("_n").alias("n"),
        F.sum((u * u).cast(q)).alias("_m2"),
        F.sum((u * u * u).cast(q)).alias("_m3"),
        F.sum((u * u * u * u).cast(q)).alias("_m4"),
    )
    nn = F.col("n").cast("double")
    m2 = F.col("_m2").cast("double") / nn
    m3 = F.col("_m3").cast("double") / nn
    m4 = F.col("_m4").cast("double") / nn
    ok = (F.col("n") >= 8) & (m2 > 0)
    s = m3 / F.pow(m2, F.lit(1.5))
    kx = m4 / (m2 * m2) - F.lit(3.0)
    jb = nn / F.lit(6.0) * (s * s + kx * kx / F.lit(4.0))
    return moments.select(
        F.col("_g").alias("group"),
        F.col("n").cast("long").alias("n"),
        F.round(F.when(ok, s), 9).alias("skewness"),
        F.round(F.when(ok, kx), 9).alias("ex_kurtosis"),
        F.round(F.when(ok, jb), 9).alias("jb"),
        F.round(F.when(ok, F.exp(-jb / 2)), 9).alias("p_value"),
    )


def kendall_tau_binned(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bins: int = 20,
) -> DataFrame:
    """Kendall τ-b rank correlation on an equal-width BINNED grid — the
    concordance companion to :func:`~..operators.profile.spearman_correlation`:
    Spearman asks "do ranks move together", τ asks "how often does a
    random pair agree in direction" (a probability — directly
    interpretable as P(concordant) − P(discordant)).

    Exact τ over n rows needs all C(n,2) pair orientations; this bins
    both axes into *bins* equal-width buckets first (the documented
    quantization knob — the same scale discipline as
    :func:`mann_whitney_u`'s distinct-value axis), then counts pair
    orientations over the ≤bins² CELL table with multiplicities:

        C = Σ n₁n₂ over cell pairs with sign(Δbx)·sign(Δby) > 0
        D = Σ n₁n₂ over cell pairs with sign < 0
        τ_b = (C − D) / √((n₀ − n_x)(n₀ − n_y)),  n₀ = C(n,2),
        n_x/n_y = Σ C(t,2) over x-/y-bin marginals (tie corrections)

    All counts and products are exact decimal integers; the cell-pair
    join runs on the bins²-sized AGGREGATE (broadcast), never the
    corpus.  Bin edges come from exact min/max; a constant axis (one
    bin) NULLs τ.

    Output: one row — ``(n bigint, bins bigint, concordant bigint,
    discordant bigint, tau_b double)``.
    """
    dec = "decimal(38,0)"
    keep = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    base = df.filter(keep).select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    ext = base.agg(
        F.min("_x").alias("_xlo"), F.max("_x").alias("_xhi"),
        F.min("_y").alias("_ylo"), F.max("_y").alias("_yhi"),
    )
    b = F.lit(float(bins))

    def _bin(c: str, lo: str, hi: str) -> Column:
        w = (F.col(hi) - F.col(lo)) / b
        raw = F.when(
            F.col(hi) > F.col(lo),
            F.least(
                F.lit(bins - 1),
                F.floor((F.col(c) - F.col(lo)) / w).cast("int"),
            ),
        ).otherwise(F.lit(0))
        return raw

    cells = (
        base.crossJoin(F.broadcast(ext))
        .select(
            _bin("_x", "_xlo", "_xhi").alias("_bx"),
            _bin("_y", "_ylo", "_yhi").alias("_by"),
        )
        .groupBy("_bx", "_by")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint()
    )
    a = cells.select(
        F.col("_bx").alias("_bx1"), F.col("_by").alias("_by1"),
        F.col("_n").alias("_n1"),
    )
    c2 = cells.select(
        F.col("_bx").alias("_bx2"), F.col("_by").alias("_by2"),
        F.col("_n").alias("_n2"),
    )
    # ordered pairs of distinct cells; each unordered pair counted twice
    orient = a.crossJoin(c2).filter(
        (F.col("_bx1") != F.col("_bx2")) | (F.col("_by1") != F.col("_by2"))
    ).select(
        (
            F.signum((F.col("_bx2") - F.col("_bx1")).cast("double"))
            * F.signum((F.col("_by2") - F.col("_by1")).cast("double"))
        ).alias("_sg"),
        (F.col("_n1").cast(dec) * F.col("_n2").cast(dec)).alias("_w"),
    )
    cd = orient.agg(
        (
            F.sum(F.when(F.col("_sg") > 0, F.col("_w")).otherwise(F.lit(0).cast(dec)))
            / F.lit(2).cast(dec)
        ).cast(dec).alias("_conc"),
        (
            F.sum(F.when(F.col("_sg") < 0, F.col("_w")).otherwise(F.lit(0).cast(dec)))
            / F.lit(2).cast(dec)
        ).cast(dec).alias("_disc"),
    )

    def _c2(col: Column) -> Column:
        n = col.cast("long")
        ev = n % 2 == F.lit(0)
        h = F.when(ev, F.shiftright(n, 1)).otherwise(n)
        o = F.when(ev, n - 1).otherwise(F.shiftright(n - 1, 1))
        return (h.cast("decimal(18,0)") * o.cast("decimal(18,0)")).cast(dec)

    xt = cells.groupBy("_bx").agg(F.sum("_n").alias("_t")).agg(
        F.sum(_c2(F.col("_t"))).alias("_nx"), F.sum("_t").alias("_ntot")
    )
    yt = cells.groupBy("_by").agg(F.sum("_n").alias("_t")).agg(
        F.sum(_c2(F.col("_t"))).alias("_ny")
    )
    out = cd.crossJoin(F.broadcast(xt)).crossJoin(F.broadcast(yt))
    n0 = _c2(F.col("_ntot"))
    denx = (n0 - F.col("_nx")).cast("double")
    deny = (n0 - F.col("_ny")).cast("double")
    tau = F.try_divide(
        (F.col("_conc") - F.col("_disc")).cast("double"),
        F.sqrt(denx) * F.sqrt(deny),
    )
    return out.select(
        F.col("_ntot").cast("long").alias("n"),
        F.lit(bins).cast("long").alias("bins"),
        F.col("_conc").cast("long").alias("concordant"),
        F.col("_disc").cast("long").alias("discordant"),
        F.round(tau, 9).alias("tau_b"),
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Cliff's delta ordinal effect size between exactly two arms —
    the magnitude companion :func:`mann_whitney_u`'s z can't be (z
    grows with n; δ = P(x>y) − P(x<y) does not):

        δ = Σ_v c_a(v)·(B(<v) − B(>v)) / (n_a·n_b)   ∈ [−1, 1]

    Counts-based over the distinct-value axis (one partial-aggregable
    (value, group) groupBy; the cumulative window runs over distinct
    values only — the :func:`mann_whitney_u` scale discipline, with the
    same "pre-quantize a truly continuous metric" caveat).  Every term
    is an exact integer; the single division is the last step.  Also
    emits |δ| and the conventional magnitude band (negligible < 0.147
    ≤ small < 0.33 ≤ medium < 0.474 ≤ large).

    Output: one row — ``(group_a, group_b, n_a bigint, n_b bigint,
    delta double, abs_delta double, magnitude string)``; arm count ≠ 2
    NULLs the statistics.
    """
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    arms = (
        base.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_rk", F.row_number().over(Window.orderBy("_g")))
        .withColumn("_narms", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    vc = (
        base.groupBy("_v", "_g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .join(F.broadcast(arms.select("_g", "_rk")), "_g")
        .groupBy("_v")
        .agg(
            F.sum(F.when(F.col("_rk") == 1, F.col("_c")).otherwise(0))
            .cast("long")
            .alias("_ca"),
            F.sum(F.when(F.col("_rk") == 2, F.col("_c")).otherwise(0))
            .cast("long")
            .alias("_cb"),
        )
    )
    w_lt = (
        Window.orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    dec = "decimal(38,0)"
    stats = vc.select(
        "_ca",
        "_cb",
        F.coalesce(F.sum("_cb").over(w_lt), F.lit(0)).alias("_blt"),
    ).select(
        "_ca",
        "_blt",
        (
            F.sum("_cb").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            - F.col("_blt")
            - F.col("_cb")
        ).alias("_bgt"),
    ).agg(
        F.sum(
            F.col("_ca").cast(dec)
            * (F.col("_blt") - F.col("_bgt")).cast(dec)
        ).alias("_num")
    )
    ga = arms.filter(F.col("_rk") == 1).select(
        F.col("_g").alias("group_a"), F.col("_n").alias("n_a"), "_narms"
    )
    gb = arms.filter(F.col("_rk") == 2).select(
        F.col("_g").alias("group_b"), F.col("_n").alias("n_b")
    )
    out = ga.crossJoin(F.broadcast(gb)).crossJoin(F.broadcast(stats))
    two = F.col("_narms") == 2
    delta = F.col("_num").cast("double") / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    mag = F.when(F.abs(delta) < 0.147, "negligible").when(
        F.abs(delta) < 0.33, "small"
    ).when(F.abs(delta) < 0.474, "medium").otherwise("large")
    return out.select(
        F.when(two, F.col("group_a")).alias("group_a"),
        F.when(two, F.col("group_b")).alias("group_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(F.when(two, delta), 9).alias("delta"),
        F.round(F.when(two, F.abs(delta)), 9).alias("abs_delta"),
        F.when(two, mag).alias("magnitude"),
    )


def hodges_lehmann_shift(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Hodges–Lehmann location-shift estimator between exactly two arms
    — the robust "BY HOW MUCH is arm a shifted above arm b" point
    estimate that pairs with :func:`mann_whitney_u`'s verdict and
    :func:`cliffs_delta`'s probability: the median of all n_a·n_b
    pairwise differences (median-unbiased, 29% breakdown — one wild
    outlier moves a mean difference by its magnitude but this by one
    pair slot).

    Runs on the DISTINCT-VALUE axes with multiplicities: the pairwise
    difference table is d_A × d_B DISTINCT-value pairs (not n_a·n_b
    rows) with weight c_a·c_b, and the estimate is the LOWER weighted
    median over the difference axis via cumulative counts — the
    :func:`bootstrap_median_ci` engine-stable rule (no midpoint
    averaging).  Pre-quantize truly continuous metrics upstream: the
    d_A·d_B cross term is the documented scale knob.

    Output: one row — ``(group_a, group_b, n_a bigint, n_b bigint,
    n_pairs bigint, hl_shift double)``; arm count ≠ 2 NULLs the
    statistics.
    """
    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    arms = (
        base.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_rk", F.row_number().over(Window.orderBy("_g")))
        .withColumn("_narms", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    tagged = base.join(F.broadcast(arms.select("_g", "_rk")), "_g")
    va = tagged.filter(F.col("_rk") == 1).groupBy("_v").agg(
        F.count(F.lit(1)).alias("_ca")
    ).select(F.col("_v").alias("_va"), "_ca")
    vb = tagged.filter(F.col("_rk") == 2).groupBy("_v").agg(
        F.count(F.lit(1)).alias("_cb")
    ).select(F.col("_v").alias("_vb"), "_cb")
    dec = "decimal(38,0)"
    diffs = (
        va.crossJoin(vb)
        .groupBy((F.col("_va") - F.col("_vb")).alias("_d"))
        .agg(
            F.sum(F.col("_ca").cast(dec) * F.col("_cb").cast(dec))
            .alias("_w")
        )
    )
    w_cum = Window.orderBy("_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = (
        diffs.withColumn("_cum", F.sum("_w").over(w_cum))
        .withColumn("_tot", F.sum("_w").over(w_tot))
        .filter(F.lit(2).cast(dec) * F.col("_cum") >= F.col("_tot"))
        .agg(
            F.max("_tot").alias("_np"),
            F.min("_d").alias("_hl"),
        )
    )
    ga = arms.filter(F.col("_rk") == 1).select(
        F.col("_g").alias("group_a"), F.col("_n").alias("n_a"), "_narms"
    )
    gb = arms.filter(F.col("_rk") == 2).select(
        F.col("_g").alias("group_b"), F.col("_n").alias("n_b")
    )
    out = ga.crossJoin(F.broadcast(gb)).crossJoin(F.broadcast(med))
    two = F.col("_narms") == 2
    return out.select(
        F.when(two, F.col("group_a")).alias("group_a"),
        F.when(two, F.col("group_b")).alias("group_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("_np").cast("long").alias("n_pairs"),
        F.round(F.when(two, F.col("_hl")), 9).alias("hl_shift"),
    )


def snis_mean(
    df: DataFrame,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Self-normalized importance-sampling estimate of a metric's mean
    under a reweighted corpus — the "what would mean doc length be if I
    sampled by THESE weights" readout every mixture decision needs
    before materializing anything (reweight first, measure, THEN build;
    :func:`~..operators.curation.mixture_weights` proposes weights,
    this prices them):

        μ̂ = Σ wᵢvᵢ / Σ wᵢ,    ESS = (Σ wᵢ)² / Σ wᵢ²

    ESS is the honesty meter: n_eff ≪ n means a few huge weights own
    the estimate (the importance-sampling failure mode — report it, or
    the μ̂ looks better-grounded than it is).

    Exactness: per-row products quantize to decimal(38,12) before the
    cross-row sums (order-independent); the two divisions happen once.
    One scan, one partial-aggregable reduction — nothing here minds
    100 TB.

    Output: one row — ``(n bigint, sum_w double, snis_mean double, ess
    double, ess_ratio double)``; zero total weight NULLs the mean.
    """
    q = "decimal(38,12)"
    keep = F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
    base = df.filter(keep).select(
        F.col(value_col).cast("double").alias("_v"),
        F.col(weight_col).cast("double").alias("_w"),
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_w").cast(q)).alias("_sw"),
        F.sum((F.col("_w") * F.col("_w")).cast(q)).alias("_sw2"),
        F.sum((F.col("_w") * F.col("_v")).cast(q)).alias("_swv"),
    )
    sw = F.col("_sw").cast("double")
    sw2 = F.col("_sw2").cast("double")
    ess = F.try_divide(sw * sw, sw2)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(sw, 9).alias("sum_w"),
        F.round(
            F.try_divide(F.col("_swv").cast("double"), sw), 9
        ).alias("snis_mean"),
        F.round(ess, 9).alias("ess"),
        F.round(
            F.try_divide(ess, F.col("n").cast("double")), 9
        ).alias("ess_ratio"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman rank test over COMPLETE blocks — the repeated-measures
    companion to :func:`kruskal_wallis`: KW assumes independent groups,
    while event-type daily counts share each day's traffic level;
    ranking WITHIN each block removes that shared component before
    asking "do the k treatments differ".

    Midranks within each block (ties share the average rank), then the
    tie-corrected statistic

        Q = (k−1)·Σ_j (R_j − n(k+1)/2)² / (Σ_ij r²_ij − n·k·(k+1)²/4)

    ~ χ²_{k−1} under H0.  Exactness: midranks are half-integers, so the
    whole computation runs on DOUBLED ranks (2r = 2·rank + ties − 1 —
    exact integers): Q = (k−1)·Σ_j(2R_j − n(k+1))² / (Σ(2r)² −
    n·k·(k+1)²) is integer arithmetic to the final division.

    Blocks missing any treatment are dropped first (complete-block
    design); k is the GLOBAL distinct treatment count.  Input must be
    pre-aggregated to one value per (block, treatment).  Plan: ranks are
    windows over k rows per block (k tiny), then two integer reduces.

    Output: one row — ``(n_blocks bigint, k bigint, q_stat double,
    df bigint)``; NULL q for n = 0, k < 2 or all-tied blocks.
    """
    base = df.filter(
        F.col(block_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(block_col).alias("_blk"),
        F.col(treatment_col).alias("_trt"),
        F.col(value_col).alias("_v"),
    )
    base = base.localCheckpoint(eager=False)
    k_df = base.agg(F.count_distinct("_trt").alias("_k"))
    complete = (
        base.groupBy("_blk")
        .agg(F.count_distinct("_trt").alias("_kt"))
        .crossJoin(F.broadcast(k_df))
        .filter(F.col("_kt") == F.col("_k"))
        .select("_blk")
    )
    kept = base.join(F.broadcast(complete), "_blk")
    w_rank = Window.partitionBy("_blk").orderBy("_v")
    w_tie = Window.partitionBy("_blk", "_v")
    ranked = kept.select(
        "_blk",
        "_trt",
        (
            F.lit(2) * F.rank().over(w_rank)
            + F.count(F.lit(1)).over(w_tie)
            - F.lit(1)
        ).alias("_r2"),
    )
    per_trt = ranked.groupBy("_trt").agg(
        F.sum("_r2").alias("_R2"),
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_r2") * F.col("_r2")).alias("_q2"),
    )
    agg = per_trt.crossJoin(F.broadcast(k_df)).agg(
        F.max("_n").alias("_n"),
        F.max("_k").alias("_k"),
        F.sum(
            (
                F.col("_R2") - F.col("_n") * (F.col("_k") + F.lit(1))
            ).cast("decimal(38,0)")
            * (
                F.col("_R2") - F.col("_n") * (F.col("_k") + F.lit(1))
            ).cast("decimal(38,0)")
        ).alias("_num"),
        F.sum(F.col("_q2").cast("decimal(38,0)")).alias("_sq2"),
    )
    n = F.col("_n")
    k = F.col("_k")
    den = F.col("_sq2") - (
        n * k * (k + F.lit(1)) * (k + F.lit(1))
    ).cast("decimal(38,0)")
    q = F.when(
        (n >= 1) & (k >= 2) & (den.cast("double") > 0),
        (k - F.lit(1)).cast("double")
        * F.col("_num").cast("double")
        / den.cast("double"),
    )
    return agg.select(
        n.cast("long").alias("n_blocks"),
        k.cast("long").alias("k"),
        F.round(q, 9).alias("q_stat"),
        (k - F.lit(1)).cast("long").alias("df"),
    )


def cochran_q_test(df: DataFrame, flag_cols: Sequence[str]) -> DataFrame:
    """Cochran's Q over k binary raters/heuristics applied to the same
    subjects — "do these k screens pass at different rates", the k-way
    generalization of :func:`mcnemar_test` (k = 2 reduces to it).

        Q = (k−1)·(k·ΣC²_j − T²) / (k·T − ΣR²_i)

    with C_j the per-flag pass totals, R_i the per-subject pass counts,
    T = ΣC = ΣR — integer arithmetic to the final division.  Rows with
    any NULL flag are excluded (complete-case).  Plan: ONE scan reduces
    every term (R_i and R²_i fold into per-row expressions summed
    alongside the C_j) — fully partial-aggregable, no joins.

    Output: one row — ``(n bigint, k bigint, q_stat double, df
    bigint)``; NULL q when the denominator is 0 (all-equal rows).
    """
    flags = list(flag_cols)
    k = len(flags)
    if k < 2:
        raise ValueError("need at least two flag columns")
    keep = F.lit(True)
    for c in flags:
        keep = keep & F.col(c).isNotNull()
    base = df.filter(keep)
    r = None
    for c in flags:
        term = F.col(c).cast("int")
        r = term if r is None else r + term
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(r.cast("decimal(38,0)")).alias("_t"),
        F.sum((r * r).cast("decimal(38,0)")).alias("_r2"),
    ]
    for i, c in enumerate(flags):
        aggs.append(
            F.sum(F.col(c).cast("int").cast("decimal(38,0)")).alias(
                f"_c{i}"
            )
        )
    agg = base.agg(*aggs)
    c2 = None
    for i in range(k):
        t = F.col(f"_c{i}") * F.col(f"_c{i}")
        c2 = t if c2 is None else c2 + t
    num = (F.lit(k).cast("decimal(38,0)") * c2
           - F.col("_t") * F.col("_t"))
    den = F.lit(k).cast("decimal(38,0)") * F.col("_t") - F.col("_r2")
    q = F.when(
        den.cast("double") > 0,
        F.lit(float(k - 1)) * num.cast("double") / den.cast("double"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.round(q, 9).alias("q_stat"),
        F.lit(k - 1).cast("long").alias("df"),
    )


def mcc_binary(df: DataFrame, pred_col: str, label_col: str) -> DataFrame:
    """Matthews correlation coefficient for a binary predictor — the
    single-number grade that, unlike accuracy or F1, stays honest under
    class imbalance (it is the Pearson correlation of the two binary
    columns, so a majority-class predictor scores 0, not 95%).

        MCC = (tp·tn − fp·fn) / (√(tp+fp)·√(tp+fn)·√(tn+fp)·√(tn+fn))

    The denominator multiplies the four SQUARE ROOTS (not the rooted
    product): each marginal fits a double exactly long past 2⁵³ rows,
    while the 4-way integer product overflows even decimal(38) at
    corpus scale.  Confusion counts reduce exactly in ONE scan.  NULL
    pred or label rows are excluded.

    Output: one row — ``(tp bigint, fp bigint, fn bigint, tn bigint,
    mcc double)``; NULL mcc when any marginal is 0.
    """
    p = F.col(pred_col).cast("boolean")
    y = F.col(label_col).cast("boolean")
    base = df.filter(p.isNotNull() & y.isNotNull())
    agg = base.agg(
        F.sum(F.when(p & y, 1).otherwise(0)).alias("_tp"),
        F.sum(F.when(p & ~y, 1).otherwise(0)).alias("_fp"),
        F.sum(F.when(~p & y, 1).otherwise(0)).alias("_fn"),
        F.sum(F.when(~p & ~y, 1).otherwise(0)).alias("_tn"),
    )
    tp = F.col("_tp").cast("double")
    fp = F.col("_fp").cast("double")
    fn = F.col("_fn").cast("double")
    tn = F.col("_tn").cast("double")
    den = (
        F.sqrt(tp + fp) * F.sqrt(tp + fn) * F.sqrt(tn + fp)
        * F.sqrt(tn + fn)
    )
    mcc = F.when(den > 0, (tp * tn - fp * fn) / den)
    return agg.select(
        F.col("_tp").cast("long").alias("tp"),
        F.col("_fp").cast("long").alias("fp"),
        F.col("_fn").cast("long").alias("fn"),
        F.col("_tn").cast("long").alias("tn"),
        F.round(mcc, 9).alias("mcc"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Isotonic (PAVA) calibration of a binary outcome against a score,
    over ``n_bins`` equi-count score bins — the monotone-regression fit
    :func:`calibration_bins` doesn't do: raw bin rates can zig-zag from
    sampling noise; the isotonic fit is the closest NON-DECREASING rate
    curve (L2), which is what "higher score ⇒ higher propensity" claims
    actually assert.

    PAVA is computed by the MINIMAX identity — no sequential
    pool-merging loop:

        iso_i = max_{a≤i} min_{b≥i} ( Σ_{a..b} pos / Σ_{a..b} n )

    over the bin axis: with B bins that is a B×B×B triple join on a
    B-row broadcast table — O(B³) on ≤ tens of rows, never fact-sized.
    Bins are cut on the DISTINCT-SCORE axis by the :func:`lift_table`
    equal-mass rule — a distinct value's whole tie group lands in
    ``ceil(n_bins · cum/n)`` of its cumulative count (ascending score).
    No per-ROW global numbering: the previous ``ntile`` over a full
    ``ORDER BY (score, id)`` funneled the entire scored population
    through one window partition; the cumulative window here runs over
    the DISTINCT scores only, so a continuous score must be quantized
    upstream for this to stay cheap at corpus scale (the distinct-score
    axis, not the row count, is the scalability bound).  ``id_col`` is
    retained for signature compatibility but unused: tie groups never
    split, so no tiebreak is needed.  Heavy ties make bins unequal (and
    can leave bin indices empty) — reported honestly by ``n`` rather
    than split arbitrarily.  Segment means are int/int doubles; min/max
    are order-free; one 9-dp round at output.

    Output: one row per non-empty bin — ``(bin bigint, n bigint, pos
    bigint, rate_raw double, rate_iso double)``, rate_iso
    non-decreasing.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    del id_col  # bin cut is tie-group-whole: no per-row tiebreak
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    g = base.groupBy(F.col(score_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("_nt"),
        F.sum(F.col(label_col).cast("int")).alias("_yp"),
    )
    w_cum = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.withColumn("_c", F.sum("_nt").over(w_cum)).withColumn(
        "_nn", F.sum("_nt").over(Window.partitionBy())
    )
    bin_expr = F.ceil(
        (F.lit(n_bins) * F.col("_c")) / F.col("_nn").cast("double")
    ).cast("int")
    bins = c.groupBy(bin_expr.alias("_bin")).agg(
        F.sum("_nt").alias("_n"), F.sum("_yp").alias("_pos")
    )
    w_cum = Window.orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = bins.select(
        "_bin",
        "_n",
        "_pos",
        F.sum("_n").over(w_cum).alias("_cn"),
        F.sum("_pos").over(w_cum).alias("_cp"),
    )
    cum = cum.localCheckpoint(eager=False)
    lo = cum.select(
        F.col("_bin").alias("_a"),
        (F.col("_cn") - F.col("_n")).alias("_cn0"),
        (F.col("_cp") - F.col("_pos")).alias("_cp0"),
    )
    hi = cum.select(
        F.col("_bin").alias("_b"),
        F.col("_cn").alias("_cnb"),
        F.col("_cp").alias("_cpb"),
    )
    seg = (
        F.broadcast(lo)
        .join(F.broadcast(hi), F.col("_b") >= F.col("_a"))
        .select(
            "_a",
            "_b",
            (
                (F.col("_cpb") - F.col("_cp0")).cast("double")
                / (F.col("_cnb") - F.col("_cn0")).cast("double")
            ).alias("_avg"),
        )
    )
    idx = cum.select(F.col("_bin").alias("_i"))
    inner = (
        F.broadcast(idx)
        .join(
            F.broadcast(seg),
            (F.col("_a") <= F.col("_i")) & (F.col("_b") >= F.col("_i")),
        )
        .groupBy("_i", "_a")
        .agg(F.min("_avg").alias("_mn"))
        .groupBy("_i")
        .agg(F.max("_mn").alias("_iso"))
    )
    return (
        bins.join(F.broadcast(inner), bins["_bin"] == inner["_i"])
        .select(
            F.col("_bin").cast("long").alias("bin"),
            F.col("_n").cast("long").alias("n"),
            F.col("_pos").cast("long").alias("pos"),
            F.round(
                F.col("_pos").cast("double") / F.col("_n").cast("double"),
                9,
            ).alias("rate_raw"),
            F.round(F.col("_iso"), 9).alias("rate_iso"),
        )
    )


def cvm_two_sample(
    df_a: DataFrame, df_b: DataFrame, value_col: str
) -> DataFrame:
    """Two-sample Cramér–von Mises statistic — the WHOLE-CDF companion
    to :func:`~.profile.ks_two_sample`: KS sees only the single worst
    CDF gap (sensitive mid-distribution, weak in the tails and to
    multiple small gaps); CvM integrates the SQUARED gap across the
    distribution, so many modest shifts accumulate.

        T = (n·m)/(n+m) · Σ_v (F_a(v) − F_b(v))² · h(v)

    — the step-integral ∫(F_a−F_b)² dH over the pooled empirical
    measure H (h(v) = pooled count at v / (n+m)), evaluated on the
    DISTINCT-VALUE axis: CDFs are exact integer-count ratios, each
    distinct value contributes one IEEE term quantized to 9 dp before
    the decimal-carried sum.  Same axis/plan as ``ks_two_sample`` — one
    tagged-union count groupBy, cumulative windows over distinct
    values.  (Equivalent to the classical rank-sum form; the integral
    form is the one that reduces over counts without a global per-row
    rank.)

    Output: one row — ``(n_a bigint, n_b bigint, cvm_t double)``;
    NULL when either side is empty.
    """

    def side(df: DataFrame, tag: int) -> DataFrame:
        return df.filter(F.col(value_col).isNotNull()).select(
            F.col(value_col).alias("_v"),
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
    w_tot = Window.partitionBy()
    c = (
        counts.withColumn("_ca", F.sum("_na").over(w_cum))
        .withColumn("_cb", F.sum("_nb").over(w_cum))
        .withColumn("_ta", F.sum("_na").over(w_tot))
        .withColumn("_tb", F.sum("_nb").over(w_tot))
    )
    gap = F.try_divide(
        F.col("_ca").cast("double"), F.col("_ta").cast("double")
    ) - F.try_divide(F.col("_cb").cast("double"), F.col("_tb").cast("double"))
    h = (F.col("_na") + F.col("_nb")).cast("double") / (
        F.col("_ta") + F.col("_tb")
    ).cast("double")
    term = F.round(gap * gap * h, 9).cast("decimal(28,9)")
    agg = c.groupBy().agg(
        F.max("_ta").alias("_n"),
        F.max("_tb").alias("_m"),
        F.sum(term).alias("_s"),
    )
    nd = F.col("_n").cast("double")
    md = F.col("_m").cast("double")
    t = F.when(
        (F.col("_n") > 0) & (F.col("_m") > 0),
        nd * md / (nd + md) * F.col("_s").cast("double"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_a"),
        F.col("_m").cast("long").alias("n_b"),
        F.round(t, 9).alias("cvm_t"),
    )


def vif_three(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Variance-inflation factors for EXACTLY three integer-valued
    features — the multicollinearity pre-flight before any regression on
    them (:func:`~.profile.partial_correlation`'s companion: partials
    ask "is the pairwise link real", VIF asks "can a fit even separate
    the three").  For 3 features the auxiliary R² is closed-form from
    pairwise Pearson correlations:

        R²_{i|jk} = (r²_ij + r²_ik − 2·r_ij·r_ik·r_jk) / (1 − r²_jk),
        VIF_i = 1 / (1 − R²_i)

    Correlations come from exact integer moments (one decimal-carried
    scan — the same moment row serves all three), so every VIF is a
    fixed IEEE expression.  More than 3 features needs a matrix inverse
    — out of scope by design (raise), not silently approximated.

    Output: 3 rows — ``(feature string, r2_aux double, vif double)``;
    NULL vif when the auxiliary fit is degenerate (R² = 1 or constant
    columns).
    """
    feats = list(cols)
    if len(feats) != 3:
        raise ValueError("vif_three takes exactly three feature columns")
    keep = F.lit(True)
    for c in feats:
        keep = keep & F.col(c).isNotNull()
    base = df.filter(keep)
    d0 = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(feats):
        aggs.append(F.sum(F.col(c).cast(d0)).alias(f"_s{i}"))
    for i, ci in enumerate(feats):
        for j, cj in enumerate(feats):
            if i <= j:
                aggs.append(
                    F.sum(
                        (F.col(ci) * F.col(cj)).cast(d0)
                    ).alias(f"_q{i}{j}")
                )
    mom = base.agg(*aggs)
    n = F.col("_n").cast("double")

    def cen(i: int, j: int):
        a, b = min(i, j), max(i, j)
        return (
            F.col(f"_q{a}{b}").cast("double")
            - F.col(f"_s{i}").cast("double")
            * F.col(f"_s{j}").cast("double")
            / n
        )

    def r(i: int, j: int):
        return F.try_divide(
            cen(i, j), F.sqrt(cen(i, i)) * F.sqrt(cen(j, j))
        )

    rows = []
    for i in range(3):
        j, k = [x for x in range(3) if x != i]
        rij, rik, rjk = r(i, j), r(i, k), r(j, k)
        r2 = F.try_divide(
            rij * rij + rik * rik - F.lit(2.0) * rij * rik * rjk,
            F.lit(1.0) - rjk * rjk,
        )
        vif = F.try_divide(F.lit(1.0), F.lit(1.0) - r2)
        rows.append(
            mom.select(
                F.lit(feats[i]).alias("feature"),
                F.round(r2, 9).alias("r2_aux"),
                F.round(vif, 9).alias("vif"),
            )
        )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out


def holm_adjust(
    df: DataFrame,
    p_col: str,
    tiebreak_cols: Sequence[str],
    alpha: float = 0.05,
) -> DataFrame:
    """Holm step-down adjustment — the UNIFORMLY-more-powerful drop-in
    for Bonferroni (same familywise-error guarantee, no independence
    assumption, strictly more rejections), sitting between
    :func:`pairwise_welch`'s Bonferroni flag and :func:`bh_adjust`'s
    FDR: use Holm when ANY false positive is unacceptable but
    Bonferroni's constant m penalty is leaving power on the table.

    Step-down rule on p₍₁₎ ≤ … ≤ p₍ₘ₎:
    q₍ᵢ₎ = min(1, max_{j≤i} (m−j+1)·p₍ⱼ₎) — the running max makes the
    adjusted sequence monotone, so rejection is simply q ≤ α.  Ties
    order by ``tiebreak_cols`` (deterministic ranks).  Sort/prefix-max
    windows run on the HYPOTHESES axis only.  NULL p rows pass through
    with NULL q, false flag, and don't count toward m.

    Output: the input columns plus ``(rank_p bigint, m bigint, q_holm
    double, significant_holm boolean)``.
    """
    order = [F.col(p_col).asc_nulls_last()] + [
        F.col(c).asc() for c in tiebreak_cols
    ]
    w_rank = Window.orderBy(*order)
    w_prefix = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    i = F.row_number().over(w_rank)
    m = F.count(p_col).over(w_all)
    q_raw = F.when(
        F.col(p_col).isNotNull(),
        (m - i + F.lit(1)).cast("double") * F.col(p_col),
    )
    staged = df.select(
        "*",
        F.when(F.col(p_col).isNotNull(), i).cast("long").alias("rank_p"),
        m.cast("long").alias("m"),
        F.max(q_raw).over(w_prefix).alias("_qm"),
    )
    q = F.when(
        F.col(p_col).isNotNull(), F.least(F.lit(1.0), F.col("_qm"))
    )
    out = staged.withColumn("q_holm", F.round(q, 9)).withColumn(
        "significant_holm",
        F.when(F.col(p_col).isNotNull(), F.col("q_holm") <= F.lit(alpha)),
    )
    return out.select(*[c for c in out.columns if c != "_qm"])


def ad_two_sample(
    df_a: DataFrame, df_b: DataFrame, value_col: str
) -> DataFrame:
    """Two-sample Anderson–Darling statistic (Scholz–Stephens k-sample
    form, k = 2, tie-adjusted midrank version) — the TAIL-weighted
    member of the two-sample family: KS sees the single worst gap
    (mid-distribution), CvM integrates the squared gap uniformly, AD
    divides by B(N−B) so the same gap counts more in the tails — the
    right alarm when tail drift (doc-length extremes, latency P99s) is
    what breaks downstream.

        A² = (N−1)/N · Σ_{i∈{a,b}} (1/n_i) Σ_j (h_j/N) ·
             (N·M̃_ij − n_i·B̃_j)² / (B̃_j(N−B̃_j) − N·h_j/4)

    over distinct pooled values j, with h_j the pooled count, B̃_j the
    pooled MID-cumulative (H_j − h_j/2), M̃_ij sample i's mid-cumulative
    — the Scholz–Stephens (1987) A²akN.  Under H0, A² ≈ 1; the usual
    5% line for k = 2 is ≈ 1.96.

    All cumulatives are exact integers-over-2 (doubled units carried as
    ints); each distinct value contributes one IEEE term per sample,
    9-dp-quantized into a decimal sum.  Same distinct-value-axis plan
    as :func:`cvm_two_sample`.

    Output: one row — ``(n_a bigint, n_b bigint, ad_stat double)``;
    NULL when either side is empty or N < 2.
    """

    def side(d: DataFrame, tag: int) -> DataFrame:
        return d.filter(F.col(value_col).isNotNull()).select(
            F.col(value_col).alias("_v"),
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
    w_tot = Window.partitionBy()
    c = (
        counts.withColumn("_h", F.col("_na") + F.col("_nb"))
        .withColumn("_ca", F.sum("_na").over(w_cum))
        .withColumn("_cb", F.sum("_nb").over(w_cum))
        .withColumn("_ta", F.sum("_na").over(w_tot))
        .withColumn("_tb", F.sum("_nb").over(w_tot))
    )
    # doubled units keep every mid-cumulative an exact integer
    n2 = (F.col("_ta") + F.col("_tb")).cast("double") * F.lit(2.0)
    bt2 = (
        (F.col("_ca") + F.col("_cb")) * 2 - F.col("_h")
    ).cast("double")  # 2·B̃_j
    h2 = F.col("_h").cast("double") * F.lit(2.0)
    nn = (F.col("_ta") + F.col("_tb")).cast("double")

    def term(cum, cnt, tot):
        m2 = (cum * 2 - cnt).cast("double")  # 2·M̃_ij
        ni = tot.cast("double")
        num = (nn * m2 - ni * bt2) * (nn * m2 - ni * bt2)
        den = bt2 * (n2 - bt2) - nn * h2 / F.lit(2.0)
        # doubled units scale num and den by the same factor 4; the
        # (h_j/N)·(1/n_i) weights stay outside
        return F.try_divide(
            F.col("_h").cast("double") / nn * num / ni, den
        )

    t_a = term(F.col("_ca"), F.col("_na"), F.col("_ta"))
    t_b = term(F.col("_cb"), F.col("_nb"), F.col("_tb"))
    summed = c.select(
        "_ta",
        "_tb",
        F.round(
            F.coalesce(t_a, F.lit(0.0)) + F.coalesce(t_b, F.lit(0.0)), 9
        )
        .cast("decimal(28,9)")
        .alias("_t"),
    )
    agg = summed.groupBy().agg(
        F.max("_ta").alias("_n"),
        F.max("_tb").alias("_m"),
        F.sum("_t").alias("_s"),
    )
    nd = (F.col("_n") + F.col("_m")).cast("double")
    ad = F.when(
        (F.col("_n") > 0) & (F.col("_m") > 0) & (nd >= 2),
        (nd - F.lit(1.0)) / nd * F.col("_s").cast("double"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_a"),
        F.col("_m").cast("long").alias("n_b"),
        F.round(ad, 9).alias("ad_stat"),
    )


def srm_check(
    df: DataFrame,
    arm_col: str,
    ratio_a: float = 0.5,
    alarm_p: float = 0.001,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a two-arm experiment — the
    first check every A/B readout must pass: if the observed split
    deviates from the DESIGNED ratio more than chance allows, the
    assignment (or logging) is broken and every downstream metric
    comparison is void.  Chi-square goodness-of-fit on the two arm
    counts (1 df):

        χ² = (O_a − E_a)²/E_a + (O_b − E_b)²/E_b,
        p ≈ 2·(1 − Φ(√χ²))     (1-df χ² ⇔ |Z| tail)

    with the same Abramowitz–Stegun Φ polynomial every p-value in this
    module uses.  The alarm threshold defaults to the industry 0.001 —
    SRM tests run on every experiment, so a 5% line would fire weekly
    on healthy systems.  Exact integer counts; one scan.

    Output: one row — ``(n_a bigint, n_b bigint, n bigint, chi2
    double, p_approx double, srm boolean)``; NULL chi2 for an empty
    table.
    """
    if not 0.0 < ratio_a < 1.0:
        raise ValueError("need 0 < ratio_a < 1")
    arms = df.filter(F.col(arm_col).isNotNull()).agg(
        F.sum(
            F.when(F.col(arm_col).cast("string") == "0", 1).otherwise(0)
        ).alias("_na"),
        F.sum(
            F.when(F.col(arm_col).cast("string") == "0", 0).otherwise(1)
        ).alias("_nb"),
    )
    n = (F.col("_na") + F.col("_nb")).cast("double")
    ea = n * F.lit(float(ratio_a))
    eb = n * F.lit(1.0 - float(ratio_a))
    oa = F.col("_na").cast("double")
    ob = F.col("_nb").cast("double")
    chi2 = F.when(
        n > 0, (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
    )
    p = _norm_p_two_sided(F.sqrt(chi2))
    return arms.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        (F.col("_na") + F.col("_nb")).cast("long").alias("n"),
        F.round(chi2, 9).alias("chi2"),
        F.round(p, 9).alias("p_approx"),
        F.when(chi2.isNotNull(), p < F.lit(alarm_p)).alias("srm"),
    )


def cuped_adjustment(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    arm_col_expr: str = "user_id % 2",
    cutover: str = "2024-01-16 00:00:00",
) -> DataFrame:
    """CUPED variance reduction for a two-arm experiment — the industry-
    standard trick that makes the SAME experiment detect effects
    1/(1−ρ²)× faster: regress each user's experiment-period metric Y on
    their PRE-period metric X (θ = cov(X,Y)/var(X), estimated pooled)
    and analyze Y_adj = Y − θ·(X − X̄) instead; randomization makes the
    adjustment unbiased while stripping the between-user variance X
    explains.

    Per-user X (before ``cutover``) and Y (after) reduce as exact
    decimal sums (one fact scan); the pooled θ and X̄ come from
    9-dp-quantized decimal moments over the USER axis and broadcast
    back; per-arm means/variances of Y and Y_adj reduce the same way.
    ``var_reduction = 1 − var(Y_adj)/var(Y)`` ≈ ρ² is the speedup
    readout.

    Output: one row per arm — ``(arm string, n_users bigint, theta
    double, mean_y double, mean_y_adj double, var_y double, var_y_adj
    double, var_reduction double)``.
    """
    dec = "decimal(28,9)"
    per_user = (
        df.filter(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(user_col).alias("_u"),
            F.expr(arm_col_expr).cast("string").alias("_arm"),
        )
        .agg(
            F.sum(
                F.when(
                    F.col(ts_col) < F.lit(cutover).cast("timestamp"),
                    F.col(value_col),
                ).otherwise(F.lit(0.0)).cast("decimal(28,6)")
            ).cast("double").alias("_x"),
            F.sum(
                F.when(
                    F.col(ts_col) >= F.lit(cutover).cast("timestamp"),
                    F.col(value_col),
                ).otherwise(F.lit(0.0)).cast("decimal(28,6)")
            ).cast("double").alias("_y"),
        )
    )
    per_user = per_user.localCheckpoint(eager=False)
    mom = per_user.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.round(F.col("_x"), 9).cast(dec)).alias("_sx"),
        F.sum(F.round(F.col("_y"), 9).cast(dec)).alias("_sy"),
        F.sum(F.round(F.col("_x") * F.col("_x"), 9).cast(dec)).alias(
            "_sxx"
        ),
        F.sum(F.round(F.col("_x") * F.col("_y"), 9).cast(dec)).alias(
            "_sxy"
        ),
    )
    nd = F.col("_n").cast("double")
    xbar = F.col("_sx").cast("double") / nd
    sxx = F.col("_sxx").cast("double") - nd * xbar * xbar
    sxy = (
        F.col("_sxy").cast("double")
        - F.col("_sx").cast("double")
        * F.col("_sy").cast("double")
        / nd
    )
    theta = F.try_divide(sxy, sxx)
    state = mom.select(
        theta.alias("_theta"), xbar.alias("_xbar")
    )
    adj = per_user.crossJoin(F.broadcast(state)).withColumn(
        "_yadj",
        F.col("_y") - F.col("_theta") * (F.col("_x") - F.col("_xbar")),
    )
    per_arm = adj.groupBy("_arm").agg(
        F.count(F.lit(1)).alias("_nu"),
        F.max("_theta").alias("_theta"),
        F.sum(F.round(F.col("_y"), 9).cast(dec)).alias("_sy"),
        F.sum(F.round(F.col("_yadj"), 9).cast(dec)).alias("_sa"),
        F.sum(F.round(F.col("_y") * F.col("_y"), 9).cast(dec)).alias(
            "_syy"
        ),
        F.sum(
            F.round(F.col("_yadj") * F.col("_yadj"), 9).cast(dec)
        ).alias("_saa"),
    )
    nu = F.col("_nu").cast("double")
    my = F.col("_sy").cast("double") / nu
    ma = F.col("_sa").cast("double") / nu
    vy = F.when(
        F.col("_nu") >= 2,
        (F.col("_syy").cast("double") - nu * my * my)
        / (nu - F.lit(1.0)),
    )
    va = F.when(
        F.col("_nu") >= 2,
        (F.col("_saa").cast("double") - nu * ma * ma)
        / (nu - F.lit(1.0)),
    )
    return per_arm.select(
        F.col("_arm").alias("arm"),
        F.col("_nu").cast("long").alias("n_users"),
        F.round(F.col("_theta"), 9).alias("theta"),
        F.round(my, 9).alias("mean_y"),
        F.round(ma, 9).alias("mean_y_adj"),
        # 6-dp: a 1e5-magnitude variance at 9 dp sits near the scaled-
        # multiply .5 boundary where engine round() rules diverge
        F.round(vy, 6).alias("var_y"),
        F.round(va, 6).alias("var_y_adj"),
        F.round(F.lit(1.0) - F.try_divide(va, vy), 9).alias(
            "var_reduction"
        ),
    )


def binary_info_gain(
    df: DataFrame,
    flag_cols: Sequence[str],
    label_col: str,
) -> DataFrame:
    """Information gain of binary features against a binary label — the
    decision-stump feature ranking that answers "which screen actually
    separates the classes" BEFORE anyone trains a model: for each flag,

        IG = H(y) − Σ_{v∈{0,1}} p(v)·H(y | flag = v)

    (entropies in bits), plus the split balance p(flag) — a flag with
    high IG but 0.1% coverage is a rule, not a feature.

    All eight cell counts per feature reduce in ONE scan (conditional
    sums side by side — no per-feature jobs); entropies are a handful
    of IEEE terms on exact integer ratios, with the 0·log 0 = 0
    convention via NULL-safe guards.  Rows with NULL label or NULL flag
    in a given feature's cells are excluded per feature (complete-case
    per column).

    Output: one row per feature — ``(feature string, n bigint, p_flag
    double, h_prior double, h_cond double, info_gain double)``; NULL
    gain for degenerate (single-class or single-value) columns.
    """
    flags = list(flag_cols)
    if not flags:
        raise ValueError("need at least one flag column")
    y = F.col(label_col).cast("boolean")
    aggs = []
    for i, c in enumerate(flags):
        f = F.col(c).cast("boolean")
        ok = f.isNotNull() & y.isNotNull()
        aggs += [
            F.sum(F.when(ok, 1).otherwise(0)).alias(f"_n{i}"),
            F.sum(F.when(ok & y, 1).otherwise(0)).alias(f"_p{i}"),
            F.sum(F.when(ok & f, 1).otherwise(0)).alias(f"_f{i}"),
            F.sum(F.when(ok & f & y, 1).otherwise(0)).alias(f"_fp{i}"),
        ]
    mom = df.agg(*aggs)

    def h(pos, n):
        # binary entropy in bits on exact integer ratios; 0 log 0 -> 0
        p = F.try_divide(pos.cast("double"), n.cast("double"))
        q = F.lit(1.0) - p
        t1 = F.when(p > 0, -p * F.log2(p)).otherwise(F.lit(0.0))
        t2 = F.when(q > 0, -q * F.log2(q)).otherwise(F.lit(0.0))
        return F.when(n > 0, t1 + t2)

    rows = []
    for i, c in enumerate(flags):
        n = F.col(f"_n{i}")
        pos = F.col(f"_p{i}")
        nf = F.col(f"_f{i}")
        posf = F.col(f"_fp{i}")
        h_prior = h(pos, n)
        pf = F.try_divide(nf.cast("double"), n.cast("double"))
        h_cond = pf * F.coalesce(h(posf, nf), F.lit(0.0)) + (
            F.lit(1.0) - pf
        ) * F.coalesce(h(pos - posf, n - nf), F.lit(0.0))
        gain = F.when(
            (n > 0) & (nf > 0) & (nf < n), h_prior - h_cond
        )
        rows.append(
            mom.select(
                F.lit(c).alias("feature"),
                n.cast("long").alias("n"),
                F.round(pf, 9).alias("p_flag"),
                F.round(h_prior, 9).alias("h_prior"),
                F.round(h_cond, 9).alias("h_cond"),
                F.round(gain, 9).alias("info_gain"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def by_adjust(
    df: DataFrame,
    p_col: str,
    tiebreak_cols: Sequence[str],
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Yekutieli FDR adjustment — :func:`bh_adjust` made valid
    under ARBITRARY dependence between the hypotheses (BH's guarantee
    needs independence or positive dependence; correlated metric
    families — the same users under many segment cuts — violate it):
    the same step-up rule with the harmonic penalty c(m) = Σ_{j≤m} 1/j,

        q₍ᵢ₎ = min(1, min_{j≥i} c(m)·m·p₍ⱼ₎/j)

    — costs a ln(m) power factor, buys correctness with no dependence
    model.  c(m) is an exact prefix sum over the hypotheses axis
    (9-dp-quantized decimal — order-free); everything else is the BH
    plan: rank + suffix-min windows over the comparison-list-sized
    table.  NULL p rows pass through with NULL q and don't count.

    Output: the input columns plus ``(rank_p bigint, m bigint, q_by
    double, significant_by boolean)``.
    """
    order = [F.col(p_col).asc_nulls_last()] + [
        F.col(c).asc() for c in tiebreak_cols
    ]
    w_rank = Window.orderBy(*order)
    w_suffix = w_rank.rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_all = Window.partitionBy()
    i = F.row_number().over(w_rank)
    m = F.count(p_col).over(w_all)
    # c(m) = sum over the m non-null rows of 1/rank — an order-free
    # decimal sum over the hypotheses axis
    harm_term = F.when(
        F.col(p_col).isNotNull(),
        F.round(F.lit(1.0) / i.cast("double"), 9).cast("decimal(28,9)"),
    )
    cm = F.sum(harm_term).over(w_all).cast("double")
    q_raw = F.when(
        F.col(p_col).isNotNull(),
        cm * m.cast("double") * F.col(p_col) / i.cast("double"),
    )
    staged = df.select(
        "*",
        F.when(F.col(p_col).isNotNull(), i).cast("long").alias("rank_p"),
        m.cast("long").alias("m"),
        F.min(q_raw).over(w_suffix).alias("_qm"),
    )
    q = F.when(
        F.col(p_col).isNotNull(), F.least(F.lit(1.0), F.col("_qm"))
    )
    out = staged.withColumn("q_by", F.round(q, 9)).withColumn(
        "significant_by",
        F.when(F.col(p_col).isNotNull(), F.col("q_by") <= F.lit(alpha)),
    )
    return out.select(*[c for c in out.columns if c != "_qm"])


def yuen_trimmed_t(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Yuen's trimmed-means t-test — the robust two-sample location test
    for heavy-tailed columns: :func:`welch_t_test` answers about MEANS
    (owned by the tail), :func:`mann_whitney_u` about stochastic order
    (no magnitude); Yuen compares 20%-trimmed-class means with the
    WINSORIZED variance, keeping magnitude while capping tail leverage.

    Per side: g = ⌊trim·n⌋ observations drop from each end BY EXACT
    ORDER-STATISTIC COUNT over the distinct-value axis (per distinct
    value, kept multiplicity = clamp(cum, g, n−g) arithmetic on exact
    integer cumulative counts — no per-row global rank); the winsorized
    sample replaces each trimmed tail with g copies of the surviving
    boundary values L = x₍g+1₎, U = x₍n−g₎.

        t = (x̄t,a − x̄t,b) / √(d_a + d_b),
        d = (n−1)·s²_w / (h·(h−1)),   h = n − 2g
        df ≈ (d_a+d_b)² / (d_a²/(h_a−1) + d_b²/(h_b−1))

    Values are CAST TO LONG on ingest (integer-valued columns only —
    quantize a continuous column upstream first, the
    :func:`mann_whitney_u` discipline); integer values keep every
    trimmed/winsorized sum EXACT in decimal;
    the approximate two-sided p uses the module's shared normal
    polynomial (adequate for the h ≥ 30 regimes this targets — the
    t-vs-normal gap is documented, not hidden).

    Output: one row — ``(n_a, n_b, h_a, h_b bigint, tmean_a, tmean_b,
    t, df, p_approx double)``; NULL t for h < 2 or zero winsorized
    variance on both sides.
    """
    if not 0.0 <= trim < 0.5:
        raise ValueError("need 0 <= trim < 0.5")

    def side(d: DataFrame, tag: str) -> DataFrame:
        counts = (
            d.filter(F.col(value_col).isNotNull())
            .groupBy(F.col(value_col).cast("long").alias("_v"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w_cum = Window.orderBy("_v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_all = Window.partitionBy()
        c = counts.select(
            "_v",
            "_c",
            F.sum("_c").over(w_cum).alias("_cum"),
            F.sum("_c").over(w_all).alias("_n"),
        )
        g = F.floor(F.lit(float(trim)) * F.col("_n")).cast("long")
        lo = g
        hi = F.col("_n") - g
        kept = F.greatest(
            F.lit(0),
            F.least(F.col("_cum"), hi)
            - F.greatest(F.col("_cum") - F.col("_c"), lo),
        )
        d0 = "decimal(38,0)"
        is_l = (F.col("_cum") >= g + 1) & (
            F.col("_cum") - F.col("_c") < g + 1
        )
        is_u = (F.col("_cum") >= hi) & (F.col("_cum") - F.col("_c") < hi)
        agg = c.groupBy().agg(
            F.max("_n").alias("_n"),
            F.max(g).alias("_g"),
            F.sum(
                (kept.cast(d0) * F.col("_v").cast(d0))
            ).alias("_ts"),
            F.sum(
                kept.cast(d0)
                * F.col("_v").cast(d0)
                * F.col("_v").cast(d0)
            ).alias("_tq"),
            F.max(F.when(is_l, F.col("_v"))).alias("_L"),
            F.max(F.when(is_u, F.col("_v"))).alias("_U"),
        )
        return agg.select(
            *[
                F.col(col).alias(f"{col}_{tag}")
                for col in ("_n", "_g", "_ts", "_tq", "_L", "_U")
            ]
        )

    j = side(df_a, "a").crossJoin(F.broadcast(side(df_b, "b")))

    def stats(tag: str):
        n = F.col(f"_n_{tag}")
        g = F.col(f"_g_{tag}")
        h = (n - 2 * g).cast("double")
        ts = F.col(f"_ts_{tag}").cast("double")
        tq = F.col(f"_tq_{tag}").cast("double")
        L = F.col(f"_L_{tag}").cast("double")
        U = F.col(f"_U_{tag}").cast("double")
        gd = g.cast("double")
        nd = n.cast("double")
        tmean = F.try_divide(ts, h)
        ws = ts + gd * L + gd * U
        wq = tq + gd * L * L + gd * U * U
        s2w = F.when(
            n >= 2, (wq - ws * ws / nd) / (nd - F.lit(1.0))
        )
        dterm = F.try_divide(
            (nd - F.lit(1.0)) * s2w, h * (h - F.lit(1.0))
        )
        return n, h, tmean, dterm

    na, ha, ma, da = stats("a")
    nb, hb, mb, db = stats("b")
    t = F.when(
        (ha >= 2) & (hb >= 2) & (da + db > 0),
        (ma - mb) / F.sqrt(da + db),
    )
    dfree = F.try_divide(
        (da + db) * (da + db),
        da * da / (ha - F.lit(1.0)) + db * db / (hb - F.lit(1.0)),
    )
    p = _norm_p_two_sided(t)
    return j.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        ha.cast("long").alias("h_a"),
        hb.cast("long").alias("h_b"),
        F.round(ma, 9).alias("tmean_a"),
        F.round(mb, 9).alias("tmean_b"),
        F.round(t, 9).alias("t"),
        F.round(dfree, 9).alias("df"),
        F.round(p, 9).alias("p_approx"),
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    arm_col: str,
    flag_col: str,
) -> DataFrame:
    """Cochran–Mantel–Haenszel test + Mantel–Haenszel common odds ratio
    over stratified 2×2 tables — the CONFOUNDER-ADJUSTED association
    verdict :func:`ab_proportion_test` can't give: when an imbalanced
    covariate (activity level, language, source) drives both arm and
    outcome, the pooled 2×2 lies (Simpson's reversal —
    :func:`simpsons_check` detects it, CMH fixes it by testing within
    strata and pooling the evidence):

        CMH = (|Σ aᵢ − Σ Eᵢ| − ½)² / Σ Vᵢ       ~ χ²₁
        Eᵢ = r1ᵢ·c1ᵢ/nᵢ,   Vᵢ = r1ᵢr2ᵢc1ᵢc2ᵢ / (nᵢ²(nᵢ−1))
        OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ)

    Exactness: the per-stratum cells are exact integer counts; E, V and
    the OR terms are per-stratum IEEE expressions 9-dp-quantized into
    decimal sums over the STRATUM axis (bounded).  Single-arm or
    single-outcome strata contribute V = 0 and drop out of the
    evidence, as the estimator prescribes.  One fact-sized
    (stratum, arm, flag) count groupBy.

    Output: one row — ``(n bigint, k_strata bigint, cmh double,
    p_approx double, or_mh double)``; NULL statistic when ΣV = 0.
    """
    base = df.filter(
        F.col(stratum_col).isNotNull()
        & F.col(arm_col).isNotNull()
        & F.col(flag_col).isNotNull()
    ).select(
        F.col(stratum_col).alias("_s"),
        F.col(arm_col).cast("string").alias("_g"),
        F.col(flag_col).cast("boolean").cast("int").alias("_y"),
    )
    cells = base.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("_g") == "0", F.col("_y")).otherwise(0)).alias(
            "_a"
        ),
        F.sum(
            F.when(F.col("_g") == "0", 1 - F.col("_y")).otherwise(0)
        ).alias("_b"),
        F.sum(F.when(F.col("_g") != "0", F.col("_y")).otherwise(0)).alias(
            "_c"
        ),
        F.sum(
            F.when(F.col("_g") != "0", 1 - F.col("_y")).otherwise(0)
        ).alias("_d"),
    )
    n = F.col("_n").cast("double")
    a = F.col("_a").cast("double")
    b = F.col("_b").cast("double")
    c = F.col("_c").cast("double")
    d = F.col("_d").cast("double")
    r1 = a + b
    r2 = c + d
    c1 = a + c
    c2 = b + d
    e = r1 * c1 / n
    v = F.when(
        F.col("_n") >= 2, r1 * r2 * c1 * c2 / (n * n * (n - F.lit(1.0)))
    ).otherwise(F.lit(0.0))
    dec = "decimal(28,9)"
    agg = cells.agg(
        F.sum("_n").alias("_tot"),
        F.count(F.lit(1)).alias("_k"),
        F.sum(F.col("_a").cast("decimal(38,0)")).alias("_sa"),
        F.sum(F.round(e, 9).cast(dec)).alias("_se"),
        F.sum(F.round(v, 9).cast(dec)).alias("_sv"),
        F.sum(F.round(a * d / n, 9).cast(dec)).alias("_sad"),
        F.sum(F.round(b * c / n, 9).cast(dec)).alias("_sbc"),
    )
    dev = F.abs(
        F.col("_sa").cast("double") - F.col("_se").cast("double")
    )
    sv = F.col("_sv").cast("double")
    cmh = F.when(
        sv > 0,
        (dev - F.lit(0.5)) * (dev - F.lit(0.5)) / sv,
    )
    p = _norm_p_two_sided(F.sqrt(cmh))
    or_mh = F.try_divide(
        F.col("_sad").cast("double"), F.col("_sbc").cast("double")
    )
    return agg.select(
        F.col("_tot").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_strata"),
        F.round(cmh, 9).alias("cmh"),
        F.round(p, 9).alias("p_approx"),
        F.round(or_mh, 9).alias("or_mh"),
    )


def cohens_d(
    df: DataFrame,
    value_col: str,
    flag_col,
) -> DataFrame:
    """Cohen's d and Hedges' g between the flag=true and flag=false
    groups — the STANDARDIZED effect size the raw mean difference
    (:func:`welch_t_test`'s job) can't give: "the English docs are 0.4
    pooled-SDs longer" transfers across corpora and releases where "212
    chars longer" doesn't, and it is the number power planning consumes.

        s_p = √(((n₁−1)s₁² + (n₀−1)s₀²) / (n₁+n₀−2))
        d   = (m₁ − m₀) / s_p
        g   = d · (1 − 3/(4(n₁+n₀) − 9))      (small-sample correction)

    One partial-aggregable scan reduces exact integer/decimal moments
    per group (``decimal(38,0)`` sums for integer columns via the
    9-dp-rounded decimal rule); means, sample variances, and the
    closed-form d/g are then one IEEE expression each — engine-
    identical.  A degenerate pooled SD (both groups constant) yields
    NULL d via ``try_divide``.

    Output: one row — ``(n_true bigint, n_false bigint, mean_true
    double, mean_false double, pooled_sd double, cohens_d double,
    hedges_g double)``.
    """
    dec = "decimal(28,9)"
    flag = flag_col if not isinstance(flag_col, str) else F.col(flag_col)
    flag = flag.cast("boolean")
    v = F.round(F.col(value_col).cast("double"), 9)
    base = df.filter(
        F.col(value_col).isNotNull() & flag.isNotNull()
    ).select(flag.alias("_f"), v.alias("_v"))
    agg = base.groupBy("_f").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_v").cast(dec)).alias("_s"),
        F.sum(
            F.round(F.col("_v") * F.col("_v"), 9).cast(dec)
        ).alias("_q"),
    )
    t = agg.filter(F.col("_f")).select(
        F.col("_n").alias("_n1"),
        F.col("_s").alias("_s1"),
        F.col("_q").alias("_q1"),
    )
    fl = agg.filter(~F.col("_f")).select(
        F.col("_n").alias("_n0"),
        F.col("_s").alias("_s0"),
        F.col("_q").alias("_q0"),
    )
    out = t.crossJoin(F.broadcast(fl))
    n1, n0 = F.col("_n1").cast("double"), F.col("_n0").cast("double")
    m1 = F.col("_s1").cast("double") / n1
    m0 = F.col("_s0").cast("double") / n0
    ss1 = F.col("_q1").cast("double") - n1 * m1 * m1
    ss0 = F.col("_q0").cast("double") - n0 * m0 * m0
    sp = F.sqrt(
        F.try_divide(ss1 + ss0, n1 + n0 - F.lit(2.0))
    )
    d = F.try_divide(m1 - m0, sp)
    g = d * (
        F.lit(1.0)
        - F.lit(3.0) / (F.lit(4.0) * (n1 + n0) - F.lit(9.0))
    )
    return out.select(
        F.col("_n1").cast("long").alias("n_true"),
        F.col("_n0").cast("long").alias("n_false"),
        F.round(m1, 9).alias("mean_true"),
        F.round(m0, 9).alias("mean_false"),
        F.round(sp, 9).alias("pooled_sd"),
        F.round(d, 9).alias("cohens_d"),
        F.round(g, 9).alias("hedges_g"),
    )


def ratio_metric_delta(
    df: DataFrame,
    unit_col: str,
    num_col,
    den_col,
    arm_col_expr: str = "user_id % 2",
    z: float = Z95,
) -> DataFrame:
    """Two-arm comparison of a RATIO metric (revenue per event, clicks
    per session) with the delta-method SE — the correction naive
    per-row t-tests get wrong: the unit of randomization is the USER,
    so the ratio-of-sums R = Σx/Σy is the estimand and its variance
    must account for the within-user correlation of numerator and
    denominator:

        R       = x̄/ȳ                    (per-arm ratio of sums)
        Var(R)  ≈ (s²_x − 2R·s_xy + R²·s²_y) / (n·ȳ²)
        z       = (R_a − R_b) / √(Var_a + Var_b)

    One scan reduces per-user (x, y), a second bounded reduce forms
    per-arm exact decimal moments (Σx, Σy, Σx², Σy², Σxy — each
    9-dp-rounded before the decimal(28,9) sums); the delta-method
    algebra is one IEEE expression per arm.  Arms follow the
    :func:`cuped_adjustment` convention (``arm_col_expr`` over the
    unit row, "0" vs "1").

    Output: one row — ``(n_a bigint, n_b bigint, ratio_a double,
    ratio_b double, diff double, se double, z double,
    significant boolean)``.
    """
    dec = "decimal(28,9)"
    per_unit = (
        df.filter(F.col(unit_col).isNotNull())
        .groupBy(F.col(unit_col).alias("_u"))
        .agg(
            F.sum(
                F.round(num_col.cast("double"), 9).cast(dec)
            ).alias("_x"),
            F.sum(
                F.round(den_col.cast("double"), 9).cast(dec)
            ).alias("_y"),
        )
        .select(
            F.expr(arm_col_expr.replace("user_id", "_u"))
            .cast("string")
            .alias("_arm"),
            F.col("_x").cast("double").alias("_x"),
            F.col("_y").cast("double").alias("_y"),
        )
    )
    agg = per_unit.groupBy("_arm").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.round(F.col("_x"), 9).cast(dec)).alias("_sx"),
        F.sum(F.round(F.col("_y"), 9).cast(dec)).alias("_sy"),
        F.sum(
            F.round(F.col("_x") * F.col("_x"), 9).cast(dec)
        ).alias("_sxx"),
        F.sum(
            F.round(F.col("_y") * F.col("_y"), 9).cast(dec)
        ).alias("_syy"),
        F.sum(
            F.round(F.col("_x") * F.col("_y"), 9).cast(dec)
        ).alias("_sxy"),
    )

    def _stats(side: str):
        n = F.col("_n").cast("double")
        sx = F.col("_sx").cast("double")
        sy = F.col("_sy").cast("double")
        mx, my = sx / n, sy / n
        vx = (F.col("_sxx").cast("double") - n * mx * mx) / (
            n - F.lit(1.0)
        )
        vy = (F.col("_syy").cast("double") - n * my * my) / (
            n - F.lit(1.0)
        )
        cxy = (F.col("_sxy").cast("double") - n * mx * my) / (
            n - F.lit(1.0)
        )
        r = F.try_divide(sx, sy)
        var = F.try_divide(
            vx - F.lit(2.0) * r * cxy + r * r * vy, n * my * my
        )
        return F.struct(
            F.col("_n").alias("n"), r.alias("r"), var.alias("v")
        ).alias(side)

    a = agg.filter(F.col("_arm") == "0").select(_stats("_a"))
    b = agg.filter(F.col("_arm") != "0").select(_stats("_b"))
    out = a.crossJoin(F.broadcast(b))
    ra, rb = F.col("_a.r"), F.col("_b.r")
    se = F.sqrt(F.col("_a.v") + F.col("_b.v"))
    zstat = F.try_divide(ra - rb, se)
    return out.select(
        F.col("_a.n").cast("long").alias("n_a"),
        F.col("_b.n").cast("long").alias("n_b"),
        F.round(ra, 9).alias("ratio_a"),
        F.round(rb, 9).alias("ratio_b"),
        F.round(ra - rb, 9).alias("diff"),
        F.round(se, 9).alias("se"),
        F.round(zstat, 9).alias("z"),
        F.coalesce(
            F.abs(zstat) > F.lit(float(z)), F.lit(False)
        ).alias("significant"),
    )


def sprt_daily(
    df: DataFrame,
    ts_col: str,
    success_col,
    p0: float = 0.2,
    p1: float = 0.25,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """Wald's sequential probability ratio test replayed over the daily
    event history — the "could we have stopped this experiment early"
    readout, and the sequential-decision shape a fixed-horizon z-test
    cannot give without alpha inflation:

        LLR_t = k_t·ln(p₁/p₀) + (n_t−k_t)·ln((1−p₁)/(1−p₀))
        accept H₁ when LLR ≥ ln((1−β)/α);  accept H₀ when ≤ ln(β/(1−α))

    Both log-likelihood coefficients and both boundaries are PYTHON
    literals (exact doubles shipped into both engines), so every LLR is
    an integer-weighted sum of two literals — bit-deterministic with no
    libm call at all.  One scan reduces to the day axis; cumulative
    counts are window sums over days; ``decision`` marks the state per
    day and ``crossed`` the first boundary hit.

    Output per day: ``(day timestamp, n bigint, k bigint, n_cum bigint,
    k_cum bigint, llr double, decision string, crossed boolean)``.
    """
    import math

    if not (0 < p0 < 1 and 0 < p1 < 1 and p0 != p1):
        raise ValueError("need distinct p0, p1 in (0,1)")
    c1 = math.log(p1 / p0)
    c0 = math.log((1 - p1) / (1 - p0))
    hi = math.log((1 - beta) / alpha)
    lo = math.log(beta / (1 - alpha))
    from pyspark.sql import Window

    succ = success_col.cast("boolean")
    per_day = (
        df.filter(F.col(ts_col).isNotNull() & succ.isNotNull())
        .groupBy(F.date_trunc("day", F.col(ts_col)).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(succ.cast("long")).alias("k"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    staged = per_day.select(
        "day",
        "n",
        "k",
        F.sum("n").over(w).alias("n_cum"),
        F.sum("k").over(w).alias("k_cum"),
    )
    llr = (
        F.col("k_cum").cast("double") * F.lit(c1)
        + (F.col("n_cum") - F.col("k_cum")).cast("double") * F.lit(c0)
    )
    decision = (
        F.when(llr >= F.lit(hi), F.lit("accept_h1"))
        .when(llr <= F.lit(lo), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    w_prev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prior_hits = F.coalesce(
        F.sum(
            (
                (llr >= F.lit(hi)) | (llr <= F.lit(lo))
            ).cast("int")
        ).over(w_prev),
        F.lit(0),
    )
    crossed = (decision != "continue") & (prior_hits == 0)
    return staged.select(
        "day",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.col("n_cum").cast("long").alias("n_cum"),
        F.col("k_cum").cast("long").alias("k_cum"),
        F.round(llr, 9).alias("llr"),
        decision.alias("decision"),
        crossed.alias("crossed"),
    )


def count_overdispersion(
    df: DataFrame,
    unit_col: str,
) -> DataFrame:
    """Poisson overdispersion check on per-unit event counts — the
    model-sanity gate before any rate test on this corpus: the
    dispersion index D = s²/m̄ is 1 under Poisson; D ≫ 1 (bursty users,
    bot traffic) means Poisson-based CIs understate variance and a
    negative-binomial (or per-unit) analysis is required.

        χ² = (n−1)·D      (~χ²_{n−1} under Poisson)
        z  = √(2χ²) − √(2(n−1)−1)    (Fisher's approximation)

    One groupBy reduces rows to per-unit integer counts, one bounded
    reduce forms exact ``decimal(38,0)`` count moments; D, χ² and the
    Fisher z are each one IEEE expression.  ``overdispersed`` flags
    z > 1.959963984540054.

    Output: one row — ``(n_units bigint, n_events bigint, mean double,
    variance double, dispersion double, chi2 double, z double,
    overdispersed boolean)``.
    """
    d0 = "decimal(38,0)"
    per = (
        df.filter(F.col(unit_col).isNotNull())
        .groupBy(F.col(unit_col).alias("_u"))
        .agg(F.count(F.lit(1)).alias("_k"))
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_k").cast(d0)).alias("_s"),
        F.sum((F.col("_k") * F.col("_k")).cast(d0)).alias("_q"),
    )
    n = F.col("_n").cast("double")
    m = F.col("_s").cast("double") / n
    var = (F.col("_q").cast("double") - n * m * m) / (n - F.lit(1.0))
    disp = F.try_divide(var, m)
    chi2 = (n - F.lit(1.0)) * disp
    zf = F.sqrt(F.lit(2.0) * chi2) - F.sqrt(
        F.lit(2.0) * (n - F.lit(1.0)) - F.lit(1.0)
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_units"),
        F.col("_s").cast("long").alias("n_events"),
        F.round(m, 9).alias("mean"),
        F.round(var, 9).alias("variance"),
        F.round(disp, 9).alias("dispersion"),
        F.round(chi2, 9).alias("chi2"),
        F.round(zf, 9).alias("z"),
        F.coalesce(zf > F.lit(Z95), F.lit(False)).alias(
            "overdispersed"
        ),
    )


def jonckheere_terpstra(
    df: DataFrame,
    value_col: str,
    group_col: str,
    order: Sequence[str],
    z_crit: float = Z95,
) -> DataFrame:
    """Jonckheere-Terpstra trend test across ORDERED groups — the
    omnibus for "does the metric increase with dose" that
    :func:`anova_oneway` (unordered) and pairwise MW (no ordering
    credit) both waste power on; the rank-based sibling of
    :func:`~..operators.timeseries.isotonic_regression`'s fitted view:

        J = Σ_{g<h} U_gh,   U_gh = #{x_g < x_h} + ½·ties
        μ = (N² − Σn_g²)/4,
        σ² = (N²(2N+3) − Σn_g²(2n_g+3))/72    (no tie correction —
             documented; the STATISTIC carries exact ½-tie credit)

    Counts-based over the distinct-value × group axis (the
    :func:`mann_whitney_u` discipline, generalized): per-value per-group
    counts pivot once, cumulative windows run over distinct values in
    one partition, and every pair's 2·U_gh is an exact integer — so
    4(J−μ) is exact integer-side arithmetic before the one z division.

    Output: one row — ``(n bigint, k bigint, j2 bigint, z double,
    trend string)`` where ``j2 = 2·J`` (exact).
    """
    from pyspark.sql import Window

    order = list(order)
    k = len(order)
    if k < 2:
        raise ValueError("need >= 2 ordered groups")
    g = F.col(group_col).cast("string")
    keep = F.col(value_col).isNotNull() & g.isin(*order)
    per_v = (
        df.filter(keep)
        .groupBy(F.col(value_col).alias("_v"))
        .pivot(group_col, order)
        .count()
        .na.fill(0)
    )
    cols = [F.col(f"`{o}`").alias(f"_c{i}") for i, o in enumerate(order)]
    per_v = per_v.select("_v", *cols)
    w_prev = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_v.select(
        "_v",
        *[F.col(f"_c{i}") for i in range(k)],
        *[
            F.coalesce(F.sum(f"_c{i}").over(w_prev), F.lit(0)).alias(
                f"_p{i}"
            )
            for i in range(k)
        ],
    )
    terms = []
    for gi in range(k):
        for hi in range(gi + 1, k):
            terms.append(
                F.col(f"_c{hi}")
                * (F.lit(2) * F.col(f"_p{gi}") + F.col(f"_c{gi}"))
            )
    u2 = terms[0]
    for t in terms[1:]:
        u2 = u2 + t
    agg = cum.select(
        u2.alias("_t"),
        *[F.col(f"_c{i}") for i in range(k)],
    ).agg(
        F.sum("_t").alias("_j2"),
        *[F.sum(f"_c{i}").alias(f"_n{i}") for i in range(k)],
    )
    n = F.lit(0)
    for i in range(k):
        n = n + F.col(f"_n{i}")
    sum_sq = F.lit(0)
    sum_poly = F.lit(0)
    for i in range(k):
        ng = F.col(f"_n{i}")
        sum_sq = sum_sq + ng * ng
        sum_poly = sum_poly + ng * ng * (F.lit(2) * ng + F.lit(3))
    nd = n.cast("double")
    mu4 = (n * n - sum_sq).cast("double")  # 4*mu
    var = (
        (n * n).cast("double") * (F.lit(2.0) * nd + F.lit(3.0))
        - sum_poly.cast("double")
    ) / F.lit(72.0)
    z = F.try_divide(
        (F.lit(2.0) * F.col("_j2").cast("double") - mu4),
        F.lit(4.0) * F.sqrt(var),
    )
    return agg.select(
        n.cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.col("_j2").cast("long").alias("j2"),
        F.round(z, 9).alias("z"),
        F.when(z > F.lit(z_crit), F.lit("increasing"))
        .when(z < F.lit(-z_crit), F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


def mood_median_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Mood's median test across k groups — the maximally-robust "do the
    groups share a median" omnibus (each observation contributes ONE bit:
    above the pooled median or not), the right tool when tails are so
    heavy even rank tests (:func:`kruskal_wallis`) get dragged:

        m = pooled LOWER median (exact order statistic),
        χ² = Σ_{2×k cells} (O−E)²/E,   df = k−1,
        p via Wilson-Hilferty + the shared A-S erfc polynomial

    The pooled median reads off cumulative integer counts on the
    distinct-value axis (the :func:`~..operators.profile.huber_location`
    rule — no midpoint float); cell counts and margins are exact
    integers; χ² is one IEEE expression over 2k bounded cells.

    Output: one row — ``(n bigint, k bigint, median double, chi2
    double, dof bigint, p_approx double)``.
    """
    from pyspark.sql import Window

    keep = F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    base = df.filter(keep).select(
        F.col(group_col).cast("string").alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    cnt = base.groupBy("_v").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    med = (
        cnt.withColumn("_cum", F.sum("_c").over(w))
        .withColumn("_tot", F.sum("_c").over(tot))
        .filter(F.col("_cum") * 2 >= F.col("_tot"))
        .orderBy("_v")
        .limit(1)
        .select(F.col("_v").alias("_m"))
    )
    cells = (
        base.crossJoin(F.broadcast(med))
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum((F.col("_v") > F.col("_m")).cast("long")).alias("_a"),
            F.max("_m").alias("_mm"),
        )
    )
    marg = cells.agg(
        F.sum("_n").alias("_nn"),
        F.sum("_a").alias("_aa"),
        F.count(F.lit(1)).alias("_k"),
        F.max("_mm").alias("_med"),
    )
    jx = cells.crossJoin(F.broadcast(marg))
    nn = F.col("_nn").cast("double")
    ea = F.col("_n").cast("double") * F.col("_aa").cast("double") / nn
    eb = (
        F.col("_n").cast("double")
        * (F.col("_nn") - F.col("_aa")).cast("double")
        / nn
    )
    oa = F.col("_a").cast("double")
    ob = (F.col("_n") - F.col("_a")).cast("double")
    term = F.round(
        F.try_divide((oa - ea) * (oa - ea), ea)
        + F.try_divide((ob - eb) * (ob - eb), eb),
        12,
    )
    agg = jx.groupBy().agg(
        F.max("_nn").alias("n"),
        F.max("_k").alias("k"),
        F.max("_med").alias("median"),
        F.sum(term.cast("decimal(28,12)")).alias("_chi2"),
    )
    kk = (F.col("k") - F.lit(1)).cast("double")
    chi2 = F.col("_chi2").cast("double")
    uu = (
        F.cbrt(F.try_divide(chi2, kk))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * kk))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * kk))
    x = F.abs(uu) / F.sqrt(F.lit(2.0))
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
    e = poly * F.exp(-x * x)
    p = F.when(uu >= 0, e / 2).otherwise(F.lit(1.0) - e / 2)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round(F.col("median"), 9).alias("median"),
        F.round(F.when(F.col("k") >= 2, chi2), 9).alias("chi2"),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.round(F.when(F.col("k") >= 2, p), 9).alias("p_approx"),
    )
