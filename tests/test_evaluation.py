"""Evaluation operators: ROC-AUC, calibration, PR thresholds, lift/gains,
NDCG, Wilson CI, Cohen's kappa, Spearman — hand-computed expectations on
small fixtures (the closed-form answers, not engine round-trips)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from riot_graphs_spark.operators.evaluation import (
    calibration_bins,
    lift_table,
    ndcg_at_k,
    pr_at_thresholds,
    proportion_wilson_ci,
    roc_auc,
)
from riot_graphs_spark.operators.profile import (
    cohen_kappa,
    spearman_correlation,
)


def test_roc_auc_perfect_random_and_ties(spark):
    # perfect separation -> 1.0
    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "s double, y int"
    )
    assert roc_auc(df, "s", "y").collect()[0]["auc"] == 1.0
    # reversed -> 0.0
    df = spark.createDataFrame(
        [(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)], "s double, y int"
    )
    assert roc_auc(df, "s", "y").collect()[0]["auc"] == 0.0
    # constant score: every pair ties -> 0.5 exactly (avg-rank convention)
    df = spark.createDataFrame(
        [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)], "s double, y int"
    )
    row = roc_auc(df, "s", "y").collect()[0]
    assert row["auc"] == 0.5 and row["n_pos"] == 2 and row["n_neg"] == 2
    # hand case with one tie: scores [.1-, .5+, .5-, .9+]
    # ranks: .1->1, .5 tie avg 2.5, .9->4 ; sum ranks(+) = 2.5 + 4 = 6.5
    # AUC = (6.5 - 2*3/2) / (2*2) = 3.5/4 = 0.875
    df = spark.createDataFrame(
        [(0.1, 0), (0.5, 1), (0.5, 0), (0.9, 1)], "s double, y int"
    )
    assert roc_auc(df, "s", "y").collect()[0]["auc"] == 0.875
    # one-class group -> NULL auc
    df = spark.createDataFrame([(0.3, 1), (0.7, 1)], "s double, y int")
    assert roc_auc(df, "s", "y").collect()[0]["auc"] is None


def test_roc_auc_grouped_and_boolean_labels(spark):
    df = spark.createDataFrame(
        [("a", 0.9, True), ("a", 0.1, False),
         ("b", 0.1, True), ("b", 0.9, False)],
        "g string, s double, y boolean",
    )
    got = {r["g"]: r["auc"] for r in roc_auc(df, "s", "y", ["g"]).collect()}
    assert got == {"a": 1.0, "b": 0.0}


def test_calibration_bins_exact_means_and_rates(spark):
    df = spark.createDataFrame(
        [(0.05, 0), (0.15, 0), (0.15, 1), (0.95, 1), (1.0, 1)],
        "s double, y int",
    )
    rows = {r["bin"]: r for r in calibration_bins(df, "s", "y").collect()}
    assert rows[0]["n"] == 1 and rows[0]["pos_rate"] == 0.0
    assert rows[1]["n"] == 2 and rows[1]["pos_rate"] == 0.5
    assert rows[1]["mean_score"] == pytest.approx(0.15)
    # hi clamps into the top bin
    assert rows[9]["n"] == 2 and rows[9]["pos_rate"] == 1.0
    with pytest.raises(ValueError):
        calibration_bins(df, "s", "y", nbins=0)


def test_pr_at_thresholds(spark):
    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.4, 1), (0.1, 0)], "s double, y int"
    )
    rows = {
        r["threshold"]: r
        for r in pr_at_thresholds(df, "s", "y", [0.5, 0.95]).collect()
    }
    r5 = rows[0.5]
    assert (r5["tp"], r5["fp"], r5["fn"]) == (1, 1, 1)
    assert r5["precision"] == 0.5 and r5["recall"] == 0.5 and r5["f1"] == 0.5
    r95 = rows[0.95]  # nothing predicted positive -> precision NULL
    assert (r95["tp"], r95["fp"], r95["fn"]) == (0, 0, 2)
    assert r95["precision"] is None and r95["recall"] == 0.0
    with pytest.raises(ValueError):
        pr_at_thresholds(df, "s", "y", [])


def test_lift_table_buckets_and_gains(spark):
    # 10 rows, distinct scores 10..1, positives on the top 3 scores
    rows = [(float(10 - i), 1 if i < 3 else 0) for i in range(10)]
    df = spark.createDataFrame(rows, "s double, y int")
    got = {r["bucket"]: r for r in lift_table(df, "s", "y", 5).collect()}
    # bucket 1 = top 2 scores -> 2 pos of 2; overall rate 0.3 -> lift 10/3
    assert got[1]["n"] == 2 and got[1]["n_pos"] == 2
    assert got[1]["pos_rate"] == 1.0
    assert got[1]["cum_capture"] == pytest.approx(2 / 3)
    assert got[1]["lift"] == pytest.approx(1.0 / 0.3)
    assert got[2]["n_pos"] == 1 and got[2]["cum_capture"] == 1.0
    assert got[5]["cum_capture"] == 1.0
    # heavy ties land in ONE bucket together (no arbitrary split)
    tied = spark.createDataFrame(
        [(1.0, 1)] * 6 + [(0.0, 0)] * 4, "s double, y int"
    )
    got = {r["bucket"]: r for r in lift_table(tied, "s", "y", 5).collect()}
    assert got[3]["n"] == 6  # all six tied rows in ceil(5*6/10)=3
    assert got[5]["n"] == 4


def test_ndcg_at_k_hand_case(spark):
    # run ranks docs d1,d2,d3 ; rels: d1=0, d2=2, d3=1
    run = spark.createDataFrame(
        [(1, "d1", 1), (1, "d2", 2), (1, "d3", 3)],
        "query_id int, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, "d1", 0), (1, "d2", 2), (1, "d3", 1)],
        "query_id int, doc_id string, rel int",
    )
    row = ndcg_at_k(run, qrels, k=3).collect()[0]
    dcg = 0.0 + 3.0 / math.log2(3) + 1.0 / math.log2(4)
    idcg = 3.0 / math.log2(2) + 1.0 / math.log2(3) + 0.0
    assert row["dcg"] == pytest.approx(dcg, abs=1e-9)
    assert row["idcg"] == pytest.approx(idcg, abs=1e-9)
    assert row["ndcg"] == pytest.approx(dcg / idcg, abs=1e-9)
    # unjudged run doc counts as rel 0; all-zero qrels -> NULL ndcg
    qrels0 = spark.createDataFrame(
        [(1, "d1", 0)], "query_id int, doc_id string, rel int"
    )
    row = ndcg_at_k(run, qrels0, k=3).collect()[0]
    assert row["dcg"] == 0.0 and row["idcg"] == 0.0 and row["ndcg"] is None


def test_wilson_ci_known_value(spark):
    # k=8, n=10: Wilson 95% ~ (0.4902, 0.9433)
    df = spark.createDataFrame(
        [(1,)] * 8 + [(0,)] * 2, "y int"
    )
    row = proportion_wilson_ci(df, "y").collect()[0]
    assert (row["n"], row["k"], row["rate"]) == (10, 8, 0.8)
    assert row["ci_lo"] == pytest.approx(0.4901625, abs=2e-4)
    assert row["ci_hi"] == pytest.approx(0.9433178, abs=2e-4)
    assert 0.0 <= row["ci_lo"] < row["rate"] < row["ci_hi"] <= 1.0
    # p = 1.0 stays inside [0, 1]
    allpos = spark.createDataFrame([(1,)] * 5, "y int")
    row = proportion_wilson_ci(allpos, "y").collect()[0]
    assert row["ci_hi"] == 1.0 and row["ci_lo"] > 0.5


def test_cohen_kappa_hand_case(spark):
    # classic 2x2: a/b counts: (y,y)=20, (y,n)=5, (n,y)=10, (n,n)=15
    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5
        + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    row = cohen_kappa(df, "a", "b").collect()[0]
    # po = 35/50 = .7 ; pe = (25*30 + 25*20)/2500 = .5 ; kappa = .4
    assert row["n"] == 50
    assert row["po"] == 0.7 and row["pe"] == 0.5
    assert row["kappa"] == pytest.approx(0.4)


def test_cohen_kappa_unobserved_diagonal_still_counts_in_pe(spark):
    # both raters use label "c" but never agree on it: pe must include
    # row_c * col_c even though cell (c,c) is unobserved
    rows = [("c", "d"), ("d", "c"), ("e", "e"), ("e", "e")]
    df = spark.createDataFrame(rows, "a string, b string")
    row = cohen_kappa(df, "a", "b").collect()[0]
    # n=4, po=2/4=.5 ; marginals a: c=1,d=1,e=2 ; b: d=1,c=1,e=2
    # pe = (1*1 + 1*1 + 2*2)/16 = 6/16 = .375 ; kappa = .125/.625 = .2
    assert row["po"] == 0.5
    assert row["pe"] == 0.375
    assert row["kappa"] == pytest.approx(0.2)
    # perfect agreement on a constant column -> pe = 1 -> NULL kappa
    const = spark.createDataFrame([("x", "x")] * 3, "a string, b string")
    assert cohen_kappa(const, "a", "b").collect()[0]["kappa"] is None


def test_spearman_monotonic_ties_and_groups(spark):
    # strictly monotonic (nonlinear) -> rho exactly 1
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (4.0, 100.0)],
        "x double, y double",
    )
    assert spearman_correlation(df, "x", "y").collect()[0]["rho"] == 1.0
    # reversed -> -1
    df = spark.createDataFrame(
        [(1.0, 9.0), (2.0, 4.0), (3.0, 1.0)], "x double, y double"
    )
    assert spearman_correlation(df, "x", "y").collect()[0]["rho"] == -1.0
    # tie case, hand-computed: x=[1,2,2,3], y=[1,2,3,4]
    # rx=[1,2.5,2.5,4], ry=[1,2,3,4]; rho = cov/sd = 0.9486832980505139
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 4.0)],
        "x double, y double",
    )
    rho = spearman_correlation(df, "x", "y").collect()[0]["rho"]
    assert rho == pytest.approx(0.9486832980505139, abs=1e-9)
    # constant column -> NULL
    df = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0)], "x double, y double"
    )
    assert spearman_correlation(df, "x", "y").collect()[0]["rho"] is None
    # grouped: one group ascending, one descending
    df = spark.createDataFrame(
        [("g1", 1.0, 1.0), ("g1", 2.0, 2.0), ("g1", 3.0, 4.0),
         ("g2", 1.0, 3.0), ("g2", 2.0, 2.0), ("g2", 3.0, 0.0)],
        "g string, x double, y double",
    )
    got = {
        r["g"]: r["rho"]
        for r in spearman_correlation(df, "x", "y", ["g"]).collect()
    }
    assert got == {"g1": 1.0, "g2": -1.0}


def test_null_rows_excluded_everywhere(spark):
    df = spark.createDataFrame(
        [(0.9, 1), (None, 1), (0.1, None), (0.1, 0)],
        "s double, y int",
    )
    row = roc_auc(df, "s", "y").collect()[0]
    assert row["n_pos"] == 1 and row["n_neg"] == 1 and row["auc"] == 1.0
    assert calibration_bins(df, "s", "y").agg(
        F.sum("n")
    ).collect()[0][0] == 2


def test_calibration_summary_hand_case(spark):
    from riot_graphs_spark.operators.evaluation import calibration_summary

    df = spark.createDataFrame(
        [(0.1, 0), (0.3, 1), (0.9, 1), (0.7, 0)], "s double, y int"
    )
    row = calibration_summary(df, "s", "y", nbins=2).collect()[0]
    # brier = (.01+.49+.01+.49)/4 = .25
    assert row["n"] == 4 and row["brier"] == pytest.approx(0.25)
    # both bins: |pos_rate .5 - mean_score (.2 / .8)| = .3
    assert row["ece"] == pytest.approx(0.3)
    assert row["mce"] == pytest.approx(0.3)
    # perfectly calibrated ints: s == y -> brier 0, gaps 0
    perfect = spark.createDataFrame(
        [(0.0, 0), (1.0, 1), (0.0, 0), (1.0, 1)], "s double, y int"
    )
    row = calibration_summary(perfect, "s", "y").collect()[0]
    assert row["brier"] == 0.0 and row["ece"] == 0.0 and row["mce"] == 0.0
    with pytest.raises(ValueError):
        calibration_summary(df, "s", "y", nbins=0)


def test_bootstrap_mean_ci_deterministic_and_sane(spark):
    from riot_graphs_spark.operators.evaluation import bootstrap_mean_ci

    df = spark.createDataFrame(
        [(i, float(i % 10)) for i in range(500)], "id bigint, v double"
    )
    r1 = bootstrap_mean_ci(df, "v", "id", b=20).collect()[0]
    r2 = bootstrap_mean_ci(df, "v", "id", b=20).collect()[0]
    assert r1 == r2  # bit-identical across runs: hash-drawn replicates
    assert r1["n"] == 500 and r1["mean"] == pytest.approx(4.5)
    assert r1["se_boot"] > 0.0
    assert r1["ci_lo"] < r1["mean"] < r1["ci_hi"]
    # the spread of 0..9 has sd ~2.87 -> se of the mean ~0.128; the
    # bootstrap estimate should be the right order of magnitude
    assert 0.03 < r1["se_boot"] < 0.5
    # constant column: every replicate mean identical -> se exactly 0
    const = spark.createDataFrame(
        [(i, 5.0) for i in range(200)], "id bigint, v double"
    )
    row = bootstrap_mean_ci(const, "v", "id", b=10).collect()[0]
    assert row["se_boot"] == 0.0
    assert row["ci_lo"] == 5.0 and row["ci_hi"] == 5.0
    with pytest.raises(ValueError):
        bootstrap_mean_ci(df, "v", "id", b=1)


def test_classification_report_hand_case(spark):
    from riot_graphs_spark.operators.evaluation import classification_report

    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a"),
         ("a", "d")],
        "truth string, pred string",
    )
    rows = {
        r["label"]: r
        for r in classification_report(df, "truth", "pred").collect()
    }
    a = rows["a"]
    # truth a: {a,b,d} predicted; support 3, tp 1, fp ((a,a)+(c,a))-1=1,
    # fn 2
    assert (a["support"], a["tp"], a["fp"], a["fn"]) == (3, 1, 1, 2)
    assert a["precision"] == 0.5 and a["recall"] == pytest.approx(1 / 3)
    b = rows["b"]
    assert (b["support"], b["tp"], b["fp"], b["fn"]) == (2, 2, 1, 0)
    assert b["precision"] == pytest.approx(2 / 3) and b["recall"] == 1.0
    assert b["f1"] == pytest.approx(0.8)
    # class true-but-never-predicted: precision NULL (0 predicted)
    c = rows["c"]
    assert (c["support"], c["tp"], c["fp"], c["fn"]) == (1, 0, 0, 1)
    assert c["precision"] is None and c["recall"] == 0.0
    # class predicted-but-never-true: recall NULL (0 support)
    d = rows["d"]
    assert (d["support"], d["tp"], d["fp"], d["fn"]) == (0, 0, 1, 0)
    assert d["precision"] == 0.0 and d["recall"] is None


def test_retrieval_recall_mrr_hand_case(spark):
    from riot_graphs_spark.operators.evaluation import retrieval_recall_mrr

    run = spark.createDataFrame(
        [(1, "d1", 1), (1, "d2", 2), (1, "d3", 3),
         (2, "d1", 1), (2, "d2", 2)],
        "query_id int, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, "d2", 2), (1, "d3", 1), (1, "d9", 3), (2, "d1", 0)],
        "query_id int, doc_id string, rel int",
    )
    got = {
        r["query_id"]: r
        for r in retrieval_recall_mrr(run, qrels, k=3).collect()
    }
    q1 = got[1]
    # 3 relevant total (d2,d3,d9); top-3 holds d2,d3 -> recall 2/3;
    # first relevant at rank 2 -> rr .5
    assert (q1["n_rel"], q1["hits"]) == (3, 2)
    assert q1["recall"] == pytest.approx(2 / 3) and q1["rr"] == 0.5
    # q2: only a rel-0 judgment -> nothing relevant: recall NULL, rr 0
    q2 = got[2]
    assert (q2["n_rel"], q2["hits"]) == (0, 0)
    assert q2["recall"] is None and q2["rr"] == 0.0
    with pytest.raises(ValueError):
        retrieval_recall_mrr(run, qrels, k=0)


def test_autocorrelation_hand_case(spark):
    from riot_graphs_spark.operators.timeseries import autocorrelation
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", t0 + dt.timedelta(hours=i), i, float(v))
        for i, v in enumerate([1, 2, 3, 4, 5])
    ]
    df = spark.createDataFrame(
        rows, "grp string, ts timestamp, event_id bigint, value double"
    )
    got = {
        r["lag"]: r
        for r in autocorrelation(
            df, ["grp"], "ts", "value", max_lag=2, tiebreak="event_id"
        ).collect()
    }
    # xc = [-2,-1,0,1,2], den = 10; num1 = 4, num2 = -1
    assert got[1]["n_pairs"] == 4 and got[1]["acf"] == pytest.approx(0.4)
    assert got[2]["n_pairs"] == 3 and got[2]["acf"] == pytest.approx(-0.1)
    # constant series -> zero variance -> NULL
    const = spark.createDataFrame(
        [("s", t0 + dt.timedelta(hours=i), i, 7.0) for i in range(4)],
        "grp string, ts timestamp, event_id bigint, value double",
    )
    got = autocorrelation(
        const, ["grp"], "ts", "value", 1, tiebreak="event_id"
    ).collect()
    assert got[0]["acf"] is None
    with pytest.raises(ValueError):
        autocorrelation(df, ["grp"], "ts", "value", 0, tiebreak="event_id")


def test_benford_first_digit_string_exact(spark):
    from riot_graphs_spark.operators.profile import benford_first_digit

    df = spark.createDataFrame(
        [(1.23,), (19.0,), (2.5,), (0.0,), (-3.0,), (None,)], "v double"
    )
    rows = {r["digit"]: r for r in benford_first_digit(df, "v").collect()}
    # zero/negative/NULL excluded; scaled ints 123, 1900, 250
    assert set(rows) == {1, 2}
    assert rows[1]["n"] == 2 and rows[1]["share"] == pytest.approx(2 / 3)
    assert rows[1]["expected"] == pytest.approx(0.301029996, abs=1e-9)
    assert rows[2]["abs_dev"] == pytest.approx(
        abs(1 / 3 - 0.17609125905568124), abs=1e-9
    )


def test_concentration_gini_hand_cases(spark):
    from riot_graphs_spark.operators.profile import concentration_gini

    # equal masses -> 0
    df = spark.createDataFrame(
        [(g,) for g in "abcd" for _ in range(3)], "g string"
    )
    row = concentration_gini(df, "g").collect()[0]
    assert (row["n_groups"], row["total"], row["gini"]) == (4, 12, 0.0)
    # [1, 3] -> 0.25 (mean abs diff / 2*mean)
    df = spark.createDataFrame([("a",), ("b",), ("b",), ("b",)], "g string")
    assert concentration_gini(df, "g").collect()[0]["gini"] == 0.25
    # single group -> 0; NULL keys excluded
    df = spark.createDataFrame([("a",), ("a",), (None,)], "g string")
    row = concentration_gini(df, "g").collect()[0]
    assert (row["n_groups"], row["total"], row["gini"]) == (1, 2, 0.0)


def test_lexical_diversity_hand_case(spark):
    from riot_graphs_spark.operators.textstats import lexical_diversity

    df = spark.createDataFrame(
        [(1, "a a b"), (2, ""), (3, "x y z")], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in lexical_diversity(df).collect()}
    r1 = rows[1]
    assert (r1["n_tokens"], r1["n_types"], r1["n_hapax"]) == (3, 2, 1)
    assert r1["ttr"] == pytest.approx(2 / 3) and r1["hapax_ratio"] == 0.5
    r2 = rows[2]  # empty doc: NULL ratios, zero counts
    assert (r2["n_tokens"], r2["n_types"]) == (0, 0)
    assert r2["ttr"] is None and r2["hapax_ratio"] is None
    r3 = rows[3]  # all unique: ttr 1, hapax 1
    assert r3["ttr"] == 1.0 and r3["hapax_ratio"] == 1.0


def test_cross_correlation_hand_case(spark):
    from riot_graphs_spark.operators.timeseries import cross_correlation
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0 + dt.timedelta(hours=i), float(a), float(b))
        for i, (a, b) in enumerate(zip([1, 2, 3, 4], [2, 4, 6, 8]))
    ]
    df = spark.createDataFrame(rows, "ts timestamp, a double, b double")
    got = {
        r["lag"]: r for r in cross_correlation(df, "ts", "a", "b", 1).collect()
    }
    # b = 2a: perfect correlation at lag 0; symmetric 0.25 at +/-1
    assert got[0]["ccf"] == 1.0 and got[0]["n_pairs"] == 4
    assert got[1]["ccf"] == 0.25 and got[1]["n_pairs"] == 3
    assert got[-1]["ccf"] == 0.25 and got[-1]["n_pairs"] == 3
    # b is a shifted one bucket into the future -> peak at lag +1
    rows = [
        (t0 + dt.timedelta(hours=i), float(a), float(b))
        for i, (a, b) in enumerate(
            zip([1, 5, 1, 1, 5, 1], [0, 1, 5, 1, 1, 5])
        )
    ]
    df = spark.createDataFrame(rows, "ts timestamp, a double, b double")
    got = {
        r["lag"]: r["ccf"]
        for r in cross_correlation(df, "ts", "a", "b", 2).collect()
    }
    assert got[1] == max(got.values())
    # constant series -> NULL everywhere
    const = spark.createDataFrame(
        [(t0 + dt.timedelta(hours=i), 1.0, float(i)) for i in range(4)],
        "ts timestamp, a double, b double",
    )
    assert all(
        r["ccf"] is None
        for r in cross_correlation(const, "ts", "a", "b", 1).collect()
    )
    with pytest.raises(ValueError):
        cross_correlation(df, "ts", "a", "b", 0)


def test_seasonal_decompose_hand_case(spark):
    from riot_graphs_spark.operators.timeseries import seasonal_decompose
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("s", t0 + dt.timedelta(hours=i), float(v))
        for i, v in enumerate([1, 3, 1, 3, 1, 3])
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, value double")
    out = {
        r["ts"]: r
        for r in seasonal_decompose(df, ["grp"], "ts", "value", 2).collect()
    }
    h = lambda i: t0 + dt.timedelta(hours=i)  # noqa: E731
    # edges: no full 3-point window -> NULL trend/resid
    assert out[h(0)]["trend"] is None and out[h(0)]["resid"] is None
    assert out[h(5)]["trend"] is None
    # interior: trend = 3-point MA -> 5/3 under the 3s, 7/3 under the 1s;
    # seasonal -4/3 on idx 0 (the 1s), +4/3 on idx 1 (the 3s); residual
    # exactly 0 for this pure seasonal series
    assert out[h(1)]["trend"] == pytest.approx(5 / 3, abs=1e-9)
    assert out[h(2)]["trend"] == pytest.approx(7 / 3, abs=1e-9)
    assert out[h(2)]["seasonal"] == pytest.approx(-4 / 3, abs=1e-9)
    assert out[h(3)]["seasonal"] == pytest.approx(4 / 3, abs=1e-9)
    for i in (1, 2, 3, 4):
        assert out[h(i)]["resid"] == pytest.approx(0.0, abs=1e-9)
    # season component re-centers to ~0 over one period
    assert out[h(2)]["seasonal"] + out[h(3)]["seasonal"] == pytest.approx(
        0.0, abs=1e-9
    )
    with pytest.raises(ValueError):
        seasonal_decompose(df, ["grp"], "ts", "value", 1)


def test_ab_proportion_test_hand_case(spark):
    from riot_graphs_spark.operators.evaluation import ab_proportion_test

    rows = (
        [("a", 1)] * 30 + [("a", 0)] * 70
        + [("b", 1)] * 50 + [("b", 0)] * 50
    )
    df = spark.createDataFrame(rows, "v string, y int")
    out = ab_proportion_test(df, "v", "y").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["variant_a"], r["variant_b"]) == ("a", "b")
    assert (r["n_a"], r["k_a"], r["n_b"], r["k_b"]) == (100, 30, 100, 50)
    assert r["diff"] == pytest.approx(-0.2)
    # pooled p = .4, se = sqrt(.4*.6*(1/100+1/100)) ~ 0.069282
    assert r["z"] == pytest.approx(-0.2 / math.sqrt(0.4 * 0.6 * 0.02),
                                   abs=1e-9)
    assert bool(r["significant"]) is True
    # identical variants: z ~ 0, not significant
    same = spark.createDataFrame(
        [("a", 1), ("a", 0), ("b", 1), ("b", 0)], "v string, y int"
    )
    r = ab_proportion_test(same, "v", "y").collect()[0]
    assert r["z"] == 0.0 and bool(r["significant"]) is False
    # degenerate pooled rate (all positive) -> NULL z
    allpos = spark.createDataFrame(
        [("a", 1), ("b", 1)], "v string, y int"
    )
    r = ab_proportion_test(allpos, "v", "y").collect()[0]
    assert r["z"] is None


def test_roc_auc_bootstrap_ci_deterministic_and_sane(spark):
    from riot_graphs_spark.operators.evaluation import roc_auc_bootstrap_ci

    # noisy but informative score: higher scores mostly positive
    rows = [
        (i, float((i * 7) % 100) / 100.0, 1 if (i * 7) % 100 >= 40 else 0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id bigint, s double, y int")
    r1 = roc_auc_bootstrap_ci(df, "s", "y", "id", b=20).collect()[0]
    r2 = roc_auc_bootstrap_ci(df, "s", "y", "id", b=20).collect()[0]
    assert r1 == r2  # hash-drawn replicates: bit-identical
    assert r1["auc"] == 1.0  # perfectly separable by construction
    assert r1["se_boot"] == 0.0  # every replicate is also separable
    # degrade separation: flip some labels -> auc < 1, se > 0, ci straddles
    rows = [
        (i, float((i * 7) % 100) / 100.0,
         1 if ((i * 7) % 100 >= 40) ^ (i % 5 == 0) else 0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id bigint, s double, y int")
    r = roc_auc_bootstrap_ci(df, "s", "y", "id", b=20).collect()[0]
    assert 0.5 < r["auc"] < 1.0
    assert r["se_boot"] > 0.0
    assert r["ci_lo"] < r["auc"] < r["ci_hi"]
    with pytest.raises(ValueError):
        roc_auc_bootstrap_ci(df, "s", "y", "id", b=1)


def test_delta_auc_paired_bootstrap_identical_scores(spark):
    from riot_graphs_spark.operators.evaluation import (
        delta_auc_paired_bootstrap,
    )

    # scorer B IS scorer A: every replicate delta is exactly 0 -> the
    # paired test is decisively null (se 0, not-significant), which the
    # unpaired two-CI comparison can never say
    rows = [
        (i, float((i * 7) % 100) / 100.0,
         1 if ((i * 7) % 100 >= 40) ^ (i % 5 == 0) else 0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id bigint, s double, y int").select(
        "id", "s", F.col("s").alias("s2"), "y"
    )
    r = delta_auc_paired_bootstrap(df, "s", "s2", "y", "id", b=20).collect()[0]
    assert r["auc_a"] == r["auc_b"]
    assert r["d_auc"] == 0.0 and r["se_boot"] == 0.0
    assert r["ci_lo"] == 0.0 and r["ci_hi"] == 0.0
    assert bool(r["significant"]) is False


def test_delta_auc_paired_bootstrap_matches_observed_and_pairs(spark):
    from riot_graphs_spark.operators.evaluation import (
        delta_auc_paired_bootstrap,
        roc_auc,
    )

    # scorer A informative, scorer B = anti-correlated noise of A
    rows = [
        (i, float((i * 7) % 100) / 100.0,
         float((i * 13) % 100) / 100.0,
         1 if ((i * 7) % 100 >= 40) ^ (i % 7 == 0) else 0)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id bigint, sa double, sb double, y int")
    r1 = delta_auc_paired_bootstrap(df, "sa", "sb", "y", "id", b=20)
    r2 = delta_auc_paired_bootstrap(df, "sa", "sb", "y", "id", b=20)
    a, b = r1.collect()[0], r2.collect()[0]
    assert a == b  # hash-drawn replicates: bit-identical
    auc_a = roc_auc(df, "sa", "y").collect()[0]["auc"]
    auc_b = roc_auc(df, "sb", "y").collect()[0]["auc"]
    assert a["auc_a"] == auc_a and a["auc_b"] == auc_b
    assert a["d_auc"] == pytest.approx(round(auc_a - auc_b, 9), abs=1e-12)
    assert a["se_boot"] > 0.0
    assert a["ci_lo"] < a["d_auc"] < a["ci_hi"]
    # A clearly beats random B on this construction
    assert a["d_auc"] > 0.0
    with pytest.raises(ValueError):
        delta_auc_paired_bootstrap(df, "sa", "sb", "y", "id", b=1)


def test_bootstrap_mean_ci_grouped_matches_per_group_global(spark):
    from riot_graphs_spark.operators.evaluation import bootstrap_mean_ci

    # replicate weights hash only (id, replicate) -> a group's row in the
    # grouped form must EQUAL the global form run on that group alone
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), float((i * 11) % 17)) for i in range(300)],
        "id bigint, g string, v double",
    )
    grouped = {
        r["g"]: r
        for r in bootstrap_mean_ci(
            df, "v", "id", b=15, group_cols=["g"]
        ).collect()
    }
    assert set(grouped) == {"g0", "g1", "g2"}
    for gval, grow in grouped.items():
        solo = bootstrap_mean_ci(
            df.filter(F.col("g") == gval), "v", "id", b=15
        ).collect()[0]
        assert (grow["n"], grow["mean"], grow["se_boot"], grow["ci_lo"],
                grow["ci_hi"]) == tuple(solo)
    # NULL group keys are excluded
    with_null = df.union(
        spark.createDataFrame([(999, None, 1.0)], df.schema)
    )
    rows = bootstrap_mean_ci(
        with_null, "v", "id", b=15, group_cols=["g"]
    ).collect()
    assert sum(r["n"] for r in rows) == 300


def test_mcnemar_test_hand_cases(spark):
    from riot_graphs_spark.operators.evaluation import mcnemar_test

    # classic discordant split 5 vs 15: chi2 = (10-1)^2/20 = 4.05 > 3.84
    rows = (
        [(True, True)] * 30 + [(False, False)] * 10
        + [(False, True)] * 5 + [(True, False)] * 15
    )
    df = spark.createDataFrame(rows, "ca boolean, cb boolean")
    r = mcnemar_test(df, "ca", "cb").collect()[0]
    assert (r["n"], r["n_both_right"], r["n_both_wrong"]) == (60, 30, 10)
    assert (r["n01"], r["n10"]) == (5, 15)
    assert r["chi2"] == pytest.approx(81 / 20)
    assert bool(r["significant"]) is True
    assert r["acc_a"] == pytest.approx(45 / 60)
    assert r["acc_b"] == pytest.approx(35 / 60)
    # balanced discordants: |b-c|-1 clamps at 0 -> chi2 0, not significant
    bal = spark.createDataFrame(
        [(True, False)] * 4 + [(False, True)] * 4, "ca boolean, cb boolean"
    )
    r = mcnemar_test(bal, "ca", "cb").collect()[0]
    assert r["chi2"] == 0.0 and bool(r["significant"]) is False
    # classifiers never disagree: no evidence -> NULL chi2, not significant
    same = spark.createDataFrame(
        [(True, True), (False, False)], "ca boolean, cb boolean"
    )
    r = mcnemar_test(same, "ca", "cb").collect()[0]
    assert r["chi2"] is None and bool(r["significant"]) is False


def test_js_divergence_by_group_hand_case(spark):
    from riot_graphs_spark.operators.profile import js_divergence_by_group

    # two disjoint-key groups of equal mass: global is 50/50; hand JSD of
    # P=(1,0) vs Q=(.5,.5) with M=(.75,.25)
    rows = [("a", "k1")] * 10 + [("b", "k2")] * 10
    df = spark.createDataFrame(rows, "g string, k string")
    got = {
        r["g"]: r for r in js_divergence_by_group(df, "k", "g").collect()
    }
    expected = 0.5 * (
        1.0 * math.log(1.0 / 0.75)
        + (0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25))
    ) / math.log(2)
    assert got["a"]["n"] == 10 and got["b"]["n"] == 10
    assert got["a"]["jsd_bits"] == pytest.approx(expected, abs=1e-9)
    assert got["b"]["jsd_bits"] == pytest.approx(expected, abs=1e-9)
    assert 0.0 < got["a"]["jsd_bits"] < 1.0
    # a single group IS the corpus: P = Q -> exactly 0
    one = spark.createDataFrame(
        [("a", "k1")] * 3 + [("a", "k2")] * 7, "g string, k string"
    )
    r = js_divergence_by_group(one, "k", "g").collect()[0]
    assert r["jsd_bits"] == 0.0
    # NULL keys/groups excluded
    with_null = df.union(
        spark.createDataFrame([("a", None), (None, "k1")], df.schema)
    )
    rows2 = js_divergence_by_group(with_null, "k", "g").collect()
    assert sum(r["n"] for r in rows2) == 20


def test_bootstrap_median_ci_deterministic_and_sane(spark):
    from riot_graphs_spark.operators.evaluation import bootstrap_median_ci

    df = spark.createDataFrame(
        [(i, float((i * 13) % 101)) for i in range(501)],
        "id bigint, v double",
    )
    r1 = bootstrap_median_ci(df, "v", "id", b=20).collect()[0]
    r2 = bootstrap_median_ci(df, "v", "id", b=20).collect()[0]
    assert r1 == r2  # hash-drawn replicates: bit-identical
    assert r1["n"] == 501
    # 0..100 spread ~uniformly: observed lower median is the exact 50.0
    assert r1["median"] == 50.0
    assert r1["se_boot"] > 0.0
    assert r1["ci_lo"] <= r1["median"] <= r1["ci_hi"]
    # constant column: every replicate median identical -> se exactly 0
    const = spark.createDataFrame(
        [(i, 7.0) for i in range(100)], "id bigint, v double"
    )
    r = bootstrap_median_ci(const, "v", "id", b=10).collect()[0]
    assert r["median"] == 7.0 and r["se_boot"] == 0.0
    assert r["ci_lo"] == 7.0 and r["ci_hi"] == 7.0
    # lower-median rule on an even count: first value reaching half
    even = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)], "id bigint, v double"
    )
    r = bootstrap_median_ci(even, "v", "id", b=5).collect()[0]
    assert r["median"] == 2.0  # 2*cum(2.0)=4 >= tot=4 -> lower median
    with pytest.raises(ValueError):
        bootstrap_median_ci(df, "v", "id", b=1)


def test_vocabulary_coverage_hand_case(spark):
    from riot_graphs_spark.operators.textstats import vocabulary_coverage

    # a:4 b:3 c:2 d:1 (total 10): cum shares 40/70/90/100
    df = spark.createDataFrame(
        [("a a a b b c",), ("a b c d",)], "text string"
    )
    got = {
        r["coverage_pct"]: r
        for r in vocabulary_coverage(df, percents=(40, 50, 90, 100))
        .collect()
    }
    assert got[40]["k_types"] == 1   # a alone covers exactly 40%
    assert got[50]["k_types"] == 2   # a+b = 70% is the first >= 50%
    assert got[90]["k_types"] == 3   # a+b+c = 90% exactly
    assert got[100]["k_types"] == 4
    assert all(
        (r["vocab_size"], r["total_tokens"]) == (4, 10)
        for r in got.values()
    )
    # frequency tie breaks by token text: y and z both 2x -> y ranks first
    tie = spark.createDataFrame([("z y z y x",)], "text string")
    r = {
        x["coverage_pct"]: x
        for x in vocabulary_coverage(tie, percents=(40,)).collect()
    }
    assert r[40]["k_types"] == 1  # y (2/5 = 40%) suffices
    with pytest.raises(ValueError):
        vocabulary_coverage(df, percents=())
    with pytest.raises(ValueError):
        vocabulary_coverage(df, percents=(0,))


def test_mixture_effective_sample_size_hand_case(spark):
    from riot_graphs_spark.operators.curation import (
        mixture_effective_sample_size,
    )

    # balanced strata under a uniform target: every weight 1 -> ESS = n
    bal = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 10, "g string"
    )
    r = mixture_effective_sample_size(bal, "g").collect()[0]
    assert (r["n"], r["n_strata"]) == (20, 2)
    assert r["ess"] == pytest.approx(20.0) and r["ess_ratio"] == 1.0
    # 90/10 split, uniform target: ESS = S^2 / sum(1/n_s)
    skew = spark.createDataFrame(
        [("a",)] * 90 + [("b",)] * 10, "g string"
    )
    r = mixture_effective_sample_size(skew, "g").collect()[0]
    expected = 4.0 / (1 / 90 + 1 / 10)  # = S^2 / sum(1/n_s) = 36
    assert r["ess"] == pytest.approx(expected, rel=1e-9)
    assert r["ess_ratio"] == pytest.approx(expected / 100, rel=1e-9)
    # NULL strata excluded
    with_null = skew.union(spark.createDataFrame([(None,)], "g string"))
    r = mixture_effective_sample_size(with_null, "g").collect()[0]
    assert r["n"] == 100


def test_randomization_mean_test_null_and_effect(spark):
    from riot_graphs_spark.operators.evaluation import (
        randomization_mean_test,
    )

    # value independent of arm: p should be comfortably non-significant
    null_df = spark.createDataFrame(
        [(i, str(i % 2), float((i * 13) % 50)) for i in range(400)],
        "id bigint, g string, v double",
    )
    r1 = randomization_mean_test(null_df, "v", "g", "id", b=50).collect()[0]
    r2 = randomization_mean_test(null_df, "v", "g", "id", b=50).collect()[0]
    assert r1 == r2  # md5 relabelings: bit-identical
    assert (r1["n_a"], r1["n_b"], r1["b"]) == (200, 200, 50)
    assert r1["p_value"] > 0.05
    assert r1["p_value"] == pytest.approx((1 + r1["n_ge"]) / 51)
    # a 10-point arm shift no relabeling reproduces: minimum p = 1/(B+1)
    eff = spark.createDataFrame(
        [(i, "0", 10.0 + (i % 3)) for i in range(200)]
        + [(200 + i, "1", 20.0 + (i % 3)) for i in range(200)],
        "id bigint, g string, v double",
    )
    r = randomization_mean_test(eff, "v", "g", "id", b=50).collect()[0]
    assert r["n_ge"] == 0 and r["p_value"] == pytest.approx(1 / 51)
    assert r["d_obs"] == pytest.approx(-10.0)
    assert r["mean_a"] == pytest.approx(10.995)
    with pytest.raises(ValueError):
        randomization_mean_test(eff, "v", "g", "id", b=0)


def test_lang_mix_entropy_hand_cases(spark):
    from riot_graphs_spark.operators.textstats import lang_mix_entropy

    df = spark.createDataFrame(
        [
            (1, "the and of to in is it"),       # pure-en profile hits
            (2, "the der el le 的"),              # spread across profiles
            (3, "12345 67890"),                   # zero profile hits
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in lang_mix_entropy(df).collect()}
    pure = rows[1]
    assert pure["mix_entropy_bits"] == 0.0 and pure["top_share"] == 1.0
    assert pure["predicted_lang"] == "en"
    mixed = rows[2]
    assert mixed["n_profile_hits"] >= 4
    assert mixed["mix_entropy_bits"] > 1.0  # spread over >= 4 languages
    assert mixed["top_share"] < 0.5
    none = rows[3]
    assert none["n_profile_hits"] == 0
    assert none["mix_entropy_bits"] is None and none["top_share"] is None


def test_vocab_entropy_by_group_hand_cases(spark):
    from riot_graphs_spark.operators.textstats import vocab_entropy_by_group

    df = spark.createDataFrame(
        [
            ("tmpl", "spam spam spam spam spam spam spam eggs"),
            ("rich", "one two three four five six seven eight"),
        ],
        "source string, text string",
    )
    rows = {
        r["source"]: r
        for r in vocab_entropy_by_group(df, group_col="source").collect()
    }
    # uniform over 8 types: H = 3 bits exactly, normalized 1
    rich = rows["rich"]
    assert (rich["n_tokens"], rich["vocab_size"]) == (8, 8)
    assert rich["entropy_bits"] == pytest.approx(3.0, abs=1e-9)
    assert rich["norm_entropy"] == pytest.approx(1.0, abs=1e-9)
    # 7/8-1/8 over 2 types: far below the 1-bit max
    tmpl = rows["tmpl"]
    assert tmpl["vocab_size"] == 2
    expected = -(7 / 8) * math.log2(7 / 8) - (1 / 8) * math.log2(1 / 8)
    assert tmpl["entropy_bits"] == pytest.approx(expected, abs=1e-9)
    assert tmpl["norm_entropy"] == pytest.approx(expected, abs=1e-9)
    assert tmpl["entropy_bits"] < rich["entropy_bits"]


def test_histogram_calibration_report_hand_cases(spark):
    from riot_graphs_spark.operators.evaluation import (
        histogram_calibration_report,
    )

    # systematically over-confident score (s=0.95/0.05 for 50/50 labels
    # within bins): binning recovers the whole reliability term
    rows = (
        [(0.95, 1)] * 5 + [(0.95, 0)] * 5    # bin 9: rate 0.5
        + [(0.05, 1)] * 2 + [(0.05, 0)] * 8  # bin 0: rate 0.2
    )
    df = spark.createDataFrame(rows, "s double, y int")
    r = histogram_calibration_report(df, "s", "y").collect()[0]
    assert r["n"] == 20 and r["nbins"] == 10
    # hand Brier before: 10*(0.45^2+0.55^2)/2... compute exactly
    before = (
        5 * (0.95 - 1) ** 2 + 5 * 0.95 ** 2
        + 2 * (0.05 - 1) ** 2 + 8 * 0.05 ** 2
    ) / 20
    after = (5 * 0.25 + 5 * 0.25 + 2 * 0.64 + 8 * 0.04) / 20
    assert r["brier_before"] == pytest.approx(before, abs=1e-9)
    assert r["brier_after"] == pytest.approx(after, abs=1e-9)
    assert r["reliability"] == pytest.approx(before - after, abs=1e-9)
    assert r["reliability"] > 0
    # a perfectly calibrated integer score: binning changes nothing
    perfect = spark.createDataFrame(
        [(0.0, 0), (1.0, 1)] * 10, "s double, y int"
    )
    r = histogram_calibration_report(perfect, "s", "y").collect()[0]
    assert r["brier_before"] == 0.0 and r["brier_after"] == 0.0
    assert r["reliability"] == 0.0
    with pytest.raises(ValueError):
        histogram_calibration_report(df, "s", "y", nbins=0)


def test_randomization_mean_test_three_arms_nulls(spark):
    from riot_graphs_spark.operators.evaluation import (
        randomization_mean_test,
    )

    # any arm count other than 2 NULLs the statistic — a third arm must
    # never silently vanish behind the two-arm pivot
    df3 = spark.createDataFrame(
        [(i, str(i % 3), float(i % 7)) for i in range(90)],
        "id bigint, g string, v double",
    )
    r = randomization_mean_test(df3, "v", "g", "id", b=10).collect()[0]
    assert r["mean_a"] is None and r["mean_b"] is None
    assert r["d_obs"] is None and r["n_ge"] is None
    assert r["p_value"] is None


def test_k_anonymity_report_hand_case(spark):
    from riot_graphs_spark.operators.profile import k_anonymity_report

    rows = (
        [("en", "web")] * 10       # safe combo
        + [("de", "web")] * 3      # below k=5
        + [("fr", None)] * 1       # NULL level, below k
    )
    df = spark.createDataFrame(rows, "lang string, source string")
    r = k_anonymity_report(df, ["lang", "source"], k=5).collect()[0]
    assert (r["k"], r["n_rows"], r["n_combos"]) == (5, 14, 3)
    assert r["n_combos_below_k"] == 2 and r["n_rows_below_k"] == 4
    assert r["share_rows_below_k"] == pytest.approx(4 / 14)
    assert r["min_combo_size"] == 1
    with pytest.raises(ValueError):
        k_anonymity_report(df, ["lang"], k=1)
    with pytest.raises(ValueError):
        k_anonymity_report(df, [], k=5)


def test_blocklist_screen_hand_case(spark):
    from riot_graphs_spark.operators.textstats import blocklist_screen

    df = spark.createDataFrame(
        [
            (1, "the Customer called the customer desk"),  # 2 hits, 1 doc
            (2, "accustomed is not a hit"),                # boundary guard
            (3, "customer again"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r["term"]: r
        for r in blocklist_screen(df, ["customer", "missing"]).collect()
    }
    assert rows["customer"]["n_docs"] == 2
    assert rows["customer"]["n_hits"] == 3  # case-insensitive, bounded
    # zero-hit term still reported: the audit shows it WAS screened
    assert rows["missing"]["n_docs"] == 0 and rows["missing"]["n_hits"] == 0
    with pytest.raises(ValueError):
        blocklist_screen(df, [])
    with pytest.raises(ValueError):
        blocklist_screen(df, [f"t{i}" for i in range(201)])


def test_simpsons_check_classic_reversal(spark):
    from riot_graphs_spark.operators.evaluation import simpsons_check

    # the textbook reversal: A wins inside EVERY stratum, loses pooled
    rows = (
        [("A", "s1", 1)] * 81 + [("A", "s1", 0)] * 19
        + [("B", "s1", 1)] * 234 + [("B", "s1", 0)] * 66
        + [("A", "s2", 1)] * 192 + [("A", "s2", 0)] * 108
        + [("B", "s2", 1)] * 55 + [("B", "s2", 0)] * 45
    )
    df = spark.createDataFrame(rows, "v string, s string, y int")
    got = {
        r["stratum"]: r
        for r in simpsons_check(df, "v", "y", "s").collect()
    }
    pooled = got["\x00pooled"]
    assert pooled["diff"] < 0 and bool(pooled["agrees_with_pooled"])
    assert got["s1"]["diff"] > 0 and got["s2"]["diff"] > 0
    assert not bool(got["s1"]["agrees_with_pooled"])
    assert not bool(got["s2"]["agrees_with_pooled"])
    assert (got["s1"]["n_a"], got["s1"]["n_b"]) == (100, 300)
    # no paradox: agreement everywhere
    ok = spark.createDataFrame(
        [("A", "s1", 1)] * 8 + [("A", "s1", 0)] * 2
        + [("B", "s1", 1)] * 5 + [("B", "s1", 0)] * 5
        + [("A", "s2", 1)] * 7 + [("A", "s2", 0)] * 3
        + [("B", "s2", 1)] * 4 + [("B", "s2", 0)] * 6,
        "v string, s string, y int",
    )
    got = {
        r["stratum"]: r for r in simpsons_check(ok, "v", "y", "s").collect()
    }
    assert all(bool(r["agrees_with_pooled"]) for r in got.values())


def test_mann_whitney_u_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.evaluation import mann_whitney_u

    def run(rows):
        df = spark.createDataFrame(rows, "g string, v double")
        return mann_whitney_u(df, "v", "g").collect()[0]

    # complete separation: every a below every b -> U_a = 0, r = -1,
    # z = (0 - 12.5 + 0.5)/sqrt(25*11/12) = -2.5069...
    sep = run(
        [("a", float(v)) for v in range(1, 6)]
        + [("b", float(v)) for v in range(6, 11)]
    )
    assert (sep["group_a"], sep["group_b"]) == ("a", "b")
    assert (sep["n_a"], sep["n_b"]) == (5, 5)
    assert sep["u_a"] == 0.0 and sep["u_b"] == 25.0
    assert sep["rank_biserial"] == -1.0
    assert sep["z"] == _pytest.approx(-12.0 / (25 * 11 / 12.0) ** 0.5)
    assert sep["significant"]

    # identical multisets: U_a = U_b = n^2/2, r = 0, z ~ 0 after the
    # continuity nudge -> not significant
    same = run(
        [("a", float(v)) for v in [1, 2, 3, 4]]
        + [("b", float(v)) for v in [1, 2, 3, 4]]
    )
    assert same["u_a"] == same["u_b"] == 8.0
    assert same["rank_biserial"] == 0.0
    assert not same["significant"]

    # all-tied: variance 0 -> NULL z, not significant (not a crash)
    tied = run([("a", 7.0)] * 3 + [("b", 7.0)] * 3)
    assert tied["u_a"] == 4.5 and tied["z"] is None
    assert not tied["significant"]

    # a third arm NULLs the verdict instead of silently vanishing
    three = run([("a", 1.0), ("b", 2.0), ("c", 3.0)])
    assert three["group_a"] is None and three["z"] is None
    assert not three["significant"]


def test_welch_t_test_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.evaluation import welch_t_test

    def run(rows):
        df = spark.createDataFrame(rows, "g string, v double")
        return welch_t_test(df, "v", "g").collect()[0]

    # a = [1..5] (m=3, v=2.5), b = [6..10] (m=8, v=2.5):
    # t = -5/sqrt(1) = -5, df = 8 (equal variances), pooled sd =
    # sqrt(2.5) -> d = -5/1.5811 = -3.1623
    got = run(
        [("a", float(v)) for v in range(1, 6)]
        + [("b", float(v)) for v in range(6, 11)]
    )
    assert (got["mean_a"], got["mean_b"]) == (3.0, 8.0)
    assert got["var_a"] == _pytest.approx(2.5)
    assert got["t"] == _pytest.approx(-5.0)
    assert got["df"] == _pytest.approx(8.0)
    assert got["cohens_d"] == _pytest.approx(-5.0 / 2.5 ** 0.5)
    assert got["significant"]

    # identical arms: t = 0, not significant
    same = run(
        [("a", float(v)) for v in [1, 2, 3]]
        + [("b", float(v)) for v in [1, 2, 3]]
    )
    assert same["t"] == 0.0 and not same["significant"]

    # zero variance both arms: NULL t (se 0), not a crash
    flat = run([("a", 4.0), ("a", 4.0), ("b", 4.0), ("b", 4.0)])
    assert flat["t"] is None and not flat["significant"]

    # single-row arm: n<2 guard NULLs everything
    tiny = run([("a", 1.0), ("b", 2.0), ("b", 3.0)])
    assert tiny["t"] is None and tiny["mean_a"] is None


def test_anova_oneway_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.evaluation import anova_oneway

    def run(rows):
        df = spark.createDataFrame(rows, "g string, v double")
        return anova_oneway(df, "v", "g").collect()[0]

    # three groups with means 2/5/8, within-var 1 each:
    # SSB = 54, SSW = 6, F = (54/2)/(6/6) = 27, eta2 = 0.9
    got = run(
        [("a", v) for v in [1.0, 2.0, 3.0]]
        + [("b", v) for v in [4.0, 5.0, 6.0]]
        + [("c", v) for v in [7.0, 8.0, 9.0]]
    )
    assert (got["n"], got["k"], got["df1"], got["df2"]) == (9, 3, 2, 6)
    assert got["ss_between"] == _pytest.approx(54.0)
    assert got["ss_within"] == _pytest.approx(6.0)
    assert got["f"] == _pytest.approx(27.0)
    assert got["eta_squared"] == _pytest.approx(0.9)

    # identical group means: SSB = 0 -> F = 0
    flat = run([("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0)])
    assert flat["f"] == _pytest.approx(0.0)
    assert flat["eta_squared"] == _pytest.approx(0.0)

    # zero within-variance: F NULL (not a divide crash)
    sep = run([("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)])
    assert sep["f"] is None and sep["ss_between"] == _pytest.approx(1.0)

    # one group: omnibus undefined
    one = run([("a", 1.0), ("a", 2.0)])
    assert one["f"] is None and one["k"] == 1


def test_kruskal_wallis_hand_cases(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.evaluation import kruskal_wallis

    def run(rows):
        df = spark.createDataFrame(rows, "g string, v double")
        return kruskal_wallis(df, "v", "g").collect()[0]

    # no ties, a=[1,2] b=[3,4]: R_a=3, R_b=7 ->
    # H = 12/20 * (9/2 + 49/2) - 15 = 2.4; no correction applies
    got = run([("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)])
    assert (got["n"], got["k"], got["dof"]) == (4, 2, 1)
    assert got["h"] == _pytest.approx(2.4)
    assert got["h_tie_corrected"] == _pytest.approx(2.4)

    # ties across groups: a=[1,2,2] b=[2,3,3] — midranks 1, 3, 3, 3,
    # 5.5, 5.5: R_a=7, R_b=14, H = 12/42*(49/3+196/3) - 21 = 2.333...,
    # tie poly = (3^3-3)+(2^3-2) = 30, corr = 1 - 30/210 = 6/7
    tie = run(
        [("a", 1.0), ("a", 2.0), ("a", 2.0),
         ("b", 2.0), ("b", 3.0), ("b", 3.0)]
    )
    assert tie["h"] == _pytest.approx(12.0 / 42 * (49 / 3 + 196 / 3) - 21)
    assert tie["h_tie_corrected"] == _pytest.approx(
        (12.0 / 42 * (49 / 3 + 196 / 3) - 21) / (6.0 / 7)
    )

    # all values tied: H = 0 and the correction divides by zero -> NULL
    flat = run([("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)])
    assert flat["h"] == _pytest.approx(0.0)
    assert flat["h_tie_corrected"] is None


def test_pairwise_welch_hand_cases(spark):
    import math

    import pytest as _pytest

    from riot_graphs_spark.operators.evaluation import pairwise_welch

    rows = (
        [("a", float(v)) for v in range(1, 6)]
        + [("b", float(v)) for v in range(6, 11)]
        + [("c", float(v)) for v in [3.0, 4.0, 5.0, 6.0, 7.0]]
        + [("d", 9.0)]  # single-row group -> NULL stats for its pairs
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = pairwise_welch(df, "v", "g").collect()
    got = {(r["group_a"], r["group_b"]): r for r in out}
    assert len(got) == 6 and all(r["m_pairs"] == 6 for r in out)

    # a vs b matches the two-sample welch hand case exactly: t = -5
    ab = got[("a", "b")]
    assert ab["t"] == _pytest.approx(-5.0)
    assert ab["df"] == _pytest.approx(8.0)
    # p ~ erfc(5/sqrt(2)) = 5.73e-7: raw AND bonferroni significant
    assert ab["p_approx"] == _pytest.approx(
        math.erfc(5 / math.sqrt(2)), abs=2e-7
    )
    assert ab["significant_raw"] and ab["significant_bonferroni"]

    # a vs c: means 3 vs 5, moderate t — raw-significant at 0.05 but
    # NOT after the /6 bonferroni correction (the trap in action):
    # t = -2/sqrt(2.5/5+2.5/5) = -2, p ~ 0.0455
    ac = got[("a", "c")]
    assert ac["t"] == _pytest.approx(-2.0)
    assert ac["p_approx"] == _pytest.approx(
        math.erfc(2 / math.sqrt(2)), abs=2e-7
    )
    assert ac["significant_raw"] and not ac["significant_bonferroni"]

    # pairs with the singleton group: NULL statistics, never a crash
    ad = got[("a", "d")]
    assert ad["t"] is None and not ad["significant_raw"]


def test_proportion_power_mde_hand_cases(spark):
    from riot_graphs_spark.operators.evaluation import (
        Z_POWER80,
        proportion_power_mde,
    )

    Z95L = 1.959963984540054

    # arms: a = 100 units / 20 conv, b = 100 / 30 -> pooled .25
    rows = (
        [("a", 1)] * 20 + [("a", 0)] * 80
        + [("b", 1)] * 30 + [("b", 0)] * 70
    )
    df = spark.createDataFrame(rows, "v string, y int")
    got = proportion_power_mde(df, "v", "y").collect()[0]
    assert (got["n_a"], got["k_a"], got["n_b"], got["k_b"]) == (
        100, 20, 100, 30,
    )
    se = (0.25 * 0.75 * (0.01 + 0.01)) ** 0.5
    assert got["mde_abs"] == pytest.approx((Z95L + Z_POWER80) * se)
    assert got["mde_rel"] == pytest.approx(
        (Z95L + Z_POWER80) * se / 0.25
    )
    # |d|/se = .1/.06124 = 1.633 < 1.96 -> not significant, and the
    # post-hoc power must be below 50%+ but positive
    u = 0.1 / se - Z95L
    phi = 0.5 * math.erfc(abs(u) / math.sqrt(2))
    expected_power = 1 - phi if u >= 0 else phi
    assert got["posthoc_power"] == pytest.approx(expected_power, abs=2e-7)
    assert 0 < got["posthoc_power"] < 0.6
    # n required per arm for d=.1 at 80%: (2.8016)^2*2*.1875/.01 = 294.3
    assert got["n_per_arm_required"] == math.ceil(
        (Z95L + Z_POWER80) ** 2 * 2 * 0.1875 / 0.01
    )

    # zero observed diff: MDE still defined, power/n_req NULL
    flat = proportion_power_mde(
        spark.createDataFrame(
            [("a", 1), ("a", 0), ("b", 1), ("b", 0)], "v string, y int"
        ),
        "v",
        "y",
    ).collect()[0]
    assert flat["mde_abs"] is not None
    assert flat["posthoc_power"] is None
    assert flat["n_per_arm_required"] is None

    # degenerate all-zero pool: everything derived NULLs
    zero = proportion_power_mde(
        spark.createDataFrame(
            [("a", 0), ("b", 0)], "v string, y int"
        ),
        "v",
        "y",
    ).collect()[0]
    assert zero["mde_abs"] is None and zero["posthoc_power"] is None


def test_bh_adjust_hand_cases(spark):
    from riot_graphs_spark.operators.evaluation import bh_adjust

    # classic: p = [.01, .02, .03, .04, .05], m=5, alpha=.05
    # q_i = min suffix of (5p_i/i): [.05, .05, .05, .05, .05] -> all in
    df = spark.createDataFrame(
        [(f"h{i}", p) for i, p in enumerate(
            [0.01, 0.02, 0.03, 0.04, 0.05]
        )],
        "h string, p double",
    )
    out = bh_adjust(df, "p", ["h"]).collect()
    assert all(r["q_value"] == pytest.approx(0.05) for r in out)
    assert all(r["significant_bh"] for r in out)

    # the step-up catch: p=[.01,.04,.2], q = [.03, .06, .2]:
    # only the first survives at alpha=.05
    df2 = spark.createDataFrame(
        [("a", 0.01), ("b", 0.04), ("c", 0.2)], "h string, p double"
    )
    got = {r["h"]: r for r in bh_adjust(df2, "p", ["h"]).collect()}
    assert got["a"]["q_value"] == pytest.approx(0.03)
    assert got["b"]["q_value"] == pytest.approx(0.06)
    assert got["c"]["q_value"] == pytest.approx(0.2)
    assert got["a"]["significant_bh"]
    assert not got["b"]["significant_bh"]
    assert (got["a"]["rank_p"], got["c"]["rank_p"]) == (1, 3)

    # monotone repair: sorted p=[.01,.045,.05] -> raw m*p/i =
    # [.03, .0675, .05] is NOT monotone; suffix-min pulls rank 2 down
    # to min(.0675, .05) = .05
    df3 = spark.createDataFrame(
        [("a", 0.01), ("b", 0.05), ("c", 0.045)], "h string, p double"
    )
    got = {r["h"]: r for r in bh_adjust(df3, "p", ["h"]).collect()}
    assert got["c"]["q_value"] == pytest.approx(0.05)
    assert got["b"]["q_value"] == pytest.approx(0.05)

    # NULL p: passes through, excluded from m, never significant
    df4 = spark.createDataFrame(
        [("a", 0.01), ("b", None)], "h string, p double"
    )
    got = {r["h"]: r for r in bh_adjust(df4, "p", ["h"]).collect()}
    assert got["a"]["m"] == 1 and got["a"]["q_value"] == pytest.approx(
        0.01
    )
    assert got["b"]["q_value"] is None
    assert not got["b"]["significant_bh"]
    assert got["b"]["rank_p"] is None


def test_levene_brown_forsythe_hand_cases(spark):
    from riot_graphs_spark.operators.evaluation import (
        levene_brown_forsythe,
    )

    # a = [1,2,3,4,100] (median 3 -> z = 2,1,0,1,97: huge spread),
    # b = [10..14] (median 12 -> z = 2,1,0,1,2): W = ANOVA F on z
    rows = [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 100.0]] + [
        ("b", v) for v in [10.0, 11.0, 12.0, 13.0, 14.0]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = levene_brown_forsythe(df, "v", "g").collect()[0]
    assert (got["n"], got["k"], got["df1"], got["df2"]) == (10, 2, 1, 8)
    ssb = 5 * (20.2 - 10.7) ** 2 + 5 * (1.2 - 10.7) ** 2
    ssw = (9415 - 5 * 20.2 ** 2) + (10 - 5 * 1.2 ** 2)
    assert got["w"] == pytest.approx(ssb / (ssw / 8))

    # identical spread patterns around different centers: SSB(z) = 0
    same = spark.createDataFrame(
        [("a", v) for v in [1.0, 2.0, 3.0]]
        + [("b", v) for v in [101.0, 102.0, 103.0]],
        "g string, v double",
    )
    assert levene_brown_forsythe(same, "v", "g").collect()[0][
        "w"
    ] == pytest.approx(0.0)

    # even n uses the LOWER median: [1,2,3,4] -> med 2 -> z = 1,0,1,2
    even = spark.createDataFrame(
        [("a", v) for v in [1.0, 2.0, 3.0, 4.0]]
        + [("b", v) for v in [5.0, 6.0, 7.0, 8.0]],
        "g string, v double",
    )
    got = levene_brown_forsythe(even, "v", "g").collect()[0]
    # both groups z = [1,0,1,2] -> identical -> W = 0
    assert got["w"] == pytest.approx(0.0)


def test_cochran_armitage_hand_cases(spark):
    from riot_graphs_spark.operators.evaluation import (
        cochran_armitage_trend,
    )

    def mk(rates):
        rows = []
        for w, r in rates:
            rows += [(w, 1)] * r + [(w, 0)] * (10 - r)
        return spark.createDataFrame(rows, "w int, y int")

    # rising rates 1/10, 5/10, 9/10 over scores 1..3:
    # T=8, Var=5 -> z = 8/sqrt(5)
    got = cochran_armitage_trend(
        mk([(1, 1), (2, 5), (3, 9)]), "y", "w"
    ).collect()[0]
    assert (got["n"], got["n_pos"], got["k_levels"]) == (30, 15, 3)
    assert got["z"] == pytest.approx(8 / 5 ** 0.5)
    assert got["direction"] == "increasing" and got["significant"]

    down = cochran_armitage_trend(
        mk([(1, 9), (2, 5), (3, 1)]), "y", "w"
    ).collect()[0]
    assert down["z"] == pytest.approx(-(8 / 5 ** 0.5))
    assert down["direction"] == "decreasing"

    flat = cochran_armitage_trend(
        mk([(1, 5), (2, 5), (3, 5)]), "y", "w"
    ).collect()[0]
    assert flat["z"] == 0.0 and flat["direction"] == "none"
    assert not flat["significant"]

    # all-positive outcome: a = R(N-R) = 0 -> NULL z, not a crash
    allpos = cochran_armitage_trend(
        mk([(1, 10), (2, 10)]), "y", "w"
    ).collect()[0]
    assert allpos["z"] is None and allpos["direction"] == "none"

    # single level: no trend axis
    one = cochran_armitage_trend(mk([(1, 5)]), "y", "w").collect()[0]
    assert one["z"] is None and one["k_levels"] == 1


def test_eb_shrunk_rates_hand_cases(spark):
    from riot_graphs_spark.operators.evaluation import eb_shrunk_rates

    # three groups: rates .2 (n=10), .5 (n=10), .8 (n=10):
    # mu = .5, s2 = .09, scale = .25/.09 - 1 = 16/9
    # alpha = beta = 8/9; shrunk_g = (k + 8/9)/(n + 16/9)
    rows = []
    for g, k in [("a", 2), ("b", 5), ("c", 8)]:
        rows += [(g, 1)] * k + [(g, 0)] * (10 - k)
    df = spark.createDataFrame(rows, "g string, y int")
    got = {r["group"]: r for r in eb_shrunk_rates(df, "y", "g").collect()}
    al = 0.5 * (0.25 / 0.09 - 1)
    assert got["a"]["alpha"] == pytest.approx(al)
    assert got["a"]["beta"] == pytest.approx(al)
    for g, k in [("a", 2), ("b", 5), ("c", 8)]:
        assert got[g]["rate_shrunk"] == pytest.approx(
            (k + al) / (10 + 2 * al)
        )
    # shrinkage pulls toward the prior mean: a rises, c falls
    assert got["a"]["rate_shrunk"] > got["a"]["rate_raw"]
    assert got["c"]["rate_shrunk"] < got["c"]["rate_raw"]

    # the leaderboard fix: with a tight prior well below 1 (eight
    # 50-doc groups at 70%), a tiny perfect group collapses to the
    # prior and ranks BELOW a big 90% group
    rows2 = [("tiny", 1)] * 3 + [("big", 1)] * 90 + [("big", 0)] * 10
    for i in range(8):
        rows2 += [(f"g{i}", 1)] * 35 + [(f"g{i}", 0)] * 15
    df2 = spark.createDataFrame(rows2, "g string, y int")
    got2 = {
        r["group"]: r for r in eb_shrunk_rates(df2, "y", "g").collect()
    }
    assert got2["tiny"]["rate_raw"] == 1.0
    assert got2["tiny"]["rate_shrunk"] < got2["big"]["rate_shrunk"]

    # identical rates: zero variance -> NULL prior, raw kept
    same = spark.createDataFrame(
        [("a", 1), ("a", 0), ("b", 1), ("b", 0)], "g string, y int"
    )
    got3 = eb_shrunk_rates(same, "y", "g").collect()[0]
    assert got3["alpha"] is None and got3["rate_shrunk"] is None
    assert got3["rate_raw"] == 0.5


# --------------------------------------------------------------------------
# Round-9: Friedman / Cochran Q / MCC / isotonic / CvM / VIF
# --------------------------------------------------------------------------
def test_friedman_hand_case(spark):
    from riot_graphs_spark.operators.evaluation import friedman_test

    # 3 blocks x 3 treatments, no ties; classic Q =
    # 12/(n k (k+1)) * sum R_j^2 - 3 n (k+1)
    rows = [
        ("b1", "t1", 1.0), ("b1", "t2", 2.0), ("b1", "t3", 3.0),
        ("b2", "t1", 1.0), ("b2", "t2", 3.0), ("b2", "t3", 2.0),
        ("b3", "t1", 1.0), ("b3", "t2", 2.0), ("b3", "t3", 3.0),
    ]
    df = spark.createDataFrame(rows, "blk string, trt string, v double")
    out = friedman_test(df, "blk", "trt", "v").collect()[0]
    # R = (3, 7, 8): Q = 12/(3*3*4)*(9+49+64) - 3*3*4 = 40.666.. - 36
    assert out["n_blocks"] == 3 and out["k"] == 3 and out["df"] == 2
    assert out["q_stat"] == pytest.approx(14 / 3, abs=1e-9)


def test_friedman_drops_incomplete_blocks(spark):
    from riot_graphs_spark.operators.evaluation import friedman_test

    rows = [
        ("b1", "t1", 1.0), ("b1", "t2", 2.0),
        ("b2", "t1", 2.0), ("b2", "t2", 1.0),
        ("b3", "t1", 5.0),  # incomplete: no t2
    ]
    df = spark.createDataFrame(rows, "blk string, trt string, v double")
    out = friedman_test(df, "blk", "trt", "v").collect()[0]
    assert out["n_blocks"] == 2


def test_cochran_q_hand_case_and_validation(spark):
    from riot_graphs_spark.operators.evaluation import cochran_q_test

    rows = [
        (True, True, False),
        (True, False, False),
        (True, True, True),
        (False, False, False),
    ]
    df = spark.createDataFrame(rows, "f1 boolean, f2 boolean, f3 boolean")
    out = cochran_q_test(df, ["f1", "f2", "f3"]).collect()[0]
    # C = (3, 2, 1), T = 6, sumR2 = 4+1+9+0 = 14
    # Q = (k-1)(k*sumC2 - T^2)/(k*T - sumR2) = 2*(3*14-36)/(18-14) = 3.0
    assert out["n"] == 4 and out["k"] == 3 and out["df"] == 2
    assert out["q_stat"] == pytest.approx(3.0, abs=1e-9)
    with pytest.raises(ValueError):
        cochran_q_test(df, ["f1"])


def test_mcc_hand_case_and_degenerate(spark):
    from riot_graphs_spark.operators.evaluation import mcc_binary

    rows = [(True, True)] * 4 + [(False, False)] * 4 + [(True, False)]
    df = spark.createDataFrame(rows, "p boolean, y boolean")
    out = mcc_binary(df, "p", "y").collect()[0]
    # tp=4 fp=1 fn=0 tn=4: mcc = 16/sqrt(5*4*5*4) = 0.8
    assert out["tp"] == 4 and out["fp"] == 1 and out["tn"] == 4
    assert out["mcc"] == pytest.approx(0.8, abs=1e-8)
    # constant predictor -> NULL mcc (zero marginal)
    const = spark.createDataFrame(
        [(True, True), (True, False)], "p boolean, y boolean"
    )
    assert mcc_binary(const, "p", "y").collect()[0]["mcc"] is None


def test_isotonic_pools_violations_and_preserves_monotone(spark):
    from riot_graphs_spark.operators.evaluation import isotonic_calibration

    # scores 1..8, labels produce bin rates (0, 1, 0, 1) over 4 bins of 2
    rows = [
        (1, 0, 1), (2, 0, 2), (3, 1, 3), (4, 1, 4),
        (5, 0, 5), (6, 0, 6), (7, 1, 7), (8, 1, 8),
    ]
    df = spark.createDataFrame(rows, "s int, y int, id int")
    out = {
        r["bin"]: r
        for r in isotonic_calibration(df, "s", "y", "id", n_bins=4).collect()
    }
    # PAVA pools bins 2-3 (rates 1, 0) to 0.5; bins 1 and 4 untouched
    assert out[1]["rate_iso"] == pytest.approx(0.0)
    assert out[2]["rate_iso"] == pytest.approx(0.5)
    assert out[3]["rate_iso"] == pytest.approx(0.5)
    assert out[4]["rate_iso"] == pytest.approx(1.0)
    # already-monotone input is unchanged
    iso = isotonic_calibration(
        spark.createDataFrame(
            [(1, 0, 1), (2, 0, 2), (3, 1, 3), (4, 1, 4)],
            "s int, y int, id int",
        ),
        "s", "y", "id", n_bins=2,
    ).collect()
    for r in iso:
        assert r["rate_iso"] == pytest.approx(r["rate_raw"])


def test_cvm_zero_for_identical_and_positive_for_shift(spark):
    from riot_graphs_spark.operators.evaluation import cvm_two_sample

    a = spark.createDataFrame([(i,) for i in range(10)], "v int")
    out = cvm_two_sample(a, a, "v").collect()[0]
    assert out["n_a"] == 10 and out["n_b"] == 10
    assert out["cvm_t"] == pytest.approx(0.0)
    b = spark.createDataFrame([(i + 100,) for i in range(10)], "v int")
    assert cvm_two_sample(a, b, "v").collect()[0]["cvm_t"] > 1.0


def test_vif_three_collinear_and_validation(spark):
    from riot_graphs_spark.operators.evaluation import vif_three

    # x2 = x0 + x1 exactly: every auxiliary fit is perfect -> NULL VIFs
    rows = [(i, (i * 7) % 5, i + (i * 7) % 5) for i in range(20)]
    df = spark.createDataFrame(rows, "x0 int, x1 int, x2 int")
    for r in vif_three(df, ["x0", "x1", "x2"]).collect():
        assert r["vif"] is None or r["vif"] > 1e6
    with pytest.raises(ValueError):
        vif_three(df, ["x0", "x1"])


def test_ad_two_sample_scholz_stephens_reference(spark):
    from riot_graphs_spark.operators.evaluation import ad_two_sample

    # Scholz–Stephens midrank A2akN on a hand case; reference value
    # computed from the published formula (pure-python, exact loop)
    a = spark.createDataFrame([(v,) for v in [1, 2, 3, 4, 5, 6, 7, 8]],
                              "v int")
    b = spark.createDataFrame(
        [(v,) for v in [5, 6, 7, 8, 9, 10, 11, 12]], "v int"
    )
    out = ad_two_sample(a, b, "v").collect()[0]
    assert out["n_a"] == 8 and out["n_b"] == 8
    assert out["ad_stat"] == pytest.approx(3.7019186436, abs=1e-8)
    # identical samples -> near the H0 expectation, far below shifted
    same = ad_two_sample(a, a, "v").collect()[0]["ad_stat"]
    assert same < out["ad_stat"]


def test_holm_uniformly_beats_bonferroni_and_matches_hand(spark):
    from riot_graphs_spark.operators.evaluation import holm_adjust

    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.04), ("c", 0.03), ("d", None)],
        "hyp string, p double",
    )
    got = {r["hyp"]: r for r in holm_adjust(df, "p", ["hyp"]).collect()}
    # m=3; sorted p: .01, .03, .04 -> q: .03, max(.03,.06)=.06, .06
    assert got["a"]["q_holm"] == pytest.approx(0.03)
    assert got["c"]["q_holm"] == pytest.approx(0.06)
    assert got["b"]["q_holm"] == pytest.approx(0.06)
    assert got["a"]["significant_holm"] is True
    assert got["d"]["q_holm"] is None and got["d"]["rank_p"] is None
    # holm q <= bonferroni m*p everywhere
    for h, p in (("a", 0.01), ("b", 0.04), ("c", 0.03)):
        assert got[h]["q_holm"] <= min(1.0, 3 * p) + 1e-12


def test_srm_check_detects_broken_split(spark):
    from riot_graphs_spark.operators.evaluation import srm_check

    ok = spark.createDataFrame(
        [(i % 2,) for i in range(1000)], "arm int"
    )
    out = srm_check(ok, "arm").collect()[0]
    assert out["n_a"] == 500 and out["chi2"] == pytest.approx(0.0)
    assert out["srm"] is False
    broken = spark.createDataFrame(
        [(0,)] * 700 + [(1,)] * 300, "arm int"
    )
    bad = srm_check(broken, "arm").collect()[0]
    # chi2 = (200^2/500)*2 = 160
    assert bad["chi2"] == pytest.approx(160.0)
    assert bad["srm"] is True
    with pytest.raises(ValueError):
        srm_check(ok, "arm", ratio_a=1.5)


def test_cuped_reduces_variance_when_correlated(spark):
    from riot_graphs_spark.operators.evaluation import cuped_adjustment

    # Y strongly tracks X per user -> large var_reduction in each arm
    rows = []
    for u in range(40):
        base = float(10 + (u * 13) % 17)
        rows.append((u, "2024-01-05 00:00:00", base))        # pre
        rows.append((u, "2024-01-20 00:00:00", base + 5.0))  # post
    df = spark.createDataFrame(rows, "user_id int, ts string, value double")
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    out = cuped_adjustment(df, "user_id", "ts", "value").collect()
    assert len(out) == 2
    for r in out:
        assert r["theta"] == pytest.approx(1.0, abs=1e-6)
        assert r["var_reduction"] == pytest.approx(1.0, abs=1e-6)


def test_info_gain_perfect_and_useless_features(spark):
    from riot_graphs_spark.operators.evaluation import binary_info_gain

    rows = [(True, True, True), (True, True, False),
            (False, False, True), (False, False, False)] * 5
    df = spark.createDataFrame(rows, "y boolean, good boolean, coin boolean")
    got = {
        r["feature"]: r
        for r in binary_info_gain(df, ["good", "coin"], "y").collect()
    }
    # 'good' == y exactly: IG = H(y) = 1 bit; 'coin' is independent: 0
    assert got["good"]["info_gain"] == pytest.approx(1.0)
    assert got["good"]["h_cond"] == pytest.approx(0.0)
    assert got["coin"]["info_gain"] == pytest.approx(0.0)
    with pytest.raises(ValueError):
        binary_info_gain(df, [], "y")


def test_by_adjust_harmonic_penalty_vs_bh(spark):
    from riot_graphs_spark.operators.evaluation import bh_adjust, by_adjust

    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", None)],
        "hyp string, p double",
    )
    bh = {r["hyp"]: r for r in bh_adjust(df, "p", ["hyp"]).collect()}
    by = {r["hyp"]: r for r in by_adjust(df, "p", ["hyp"]).collect()}
    cm = 1 + 0.5 + 1 / 3  # harmonic number for m = 3
    for h in ("a", "b", "c"):
        # BY = BH scaled by c(m) (capped at 1)
        assert by[h]["q_by"] == pytest.approx(
            min(1.0, bh[h]["q_value"] * cm), abs=1e-6
        )
    assert by["d"]["q_by"] is None


def test_yuen_trimmed_hand_case(spark):
    from riot_graphs_spark.operators.evaluation import yuen_trimmed_t

    # a = 1..10 with trim 0.1 -> g=1, h=8, trimmed mean 5.5; the 100 in
    # b's tail is trimmed away, so b's trimmed mean tracks its bulk
    a = spark.createDataFrame([(v,) for v in range(1, 11)], "v int")
    b = spark.createDataFrame(
        [(v,) for v in list(range(11, 20)) + [1000]], "v int"
    )
    out = yuen_trimmed_t(a, b, "v", trim=0.1).collect()[0]
    assert out["n_a"] == 10 and out["h_a"] == 8
    assert out["tmean_a"] == pytest.approx(sum(range(2, 10)) / 8)
    assert out["tmean_b"] == pytest.approx(sum(range(12, 20)) / 8)
    assert out["t"] < 0  # a sits below b
    # outlier-leverage check: winsorized variance ignores the 1000
    assert abs(out["tmean_b"]) < 20
    with pytest.raises(ValueError):
        yuen_trimmed_t(a, b, "v", trim=0.6)


def test_cmh_pools_within_stratum_evidence(spark):
    from riot_graphs_spark.operators.evaluation import cmh_test

    # within each stratum arm '0' converts 3x more; pooled table would
    # see it too, but build a Simpson-prone imbalance anyway
    rows = []
    for s, (n0, n1) in (("lo", (60, 20)), ("hi", (20, 60))):
        for i in range(n0):
            rows.append((s, "0", 1 if i < n0 * 0.6 else 0))
        for i in range(n1):
            rows.append((s, "1", 1 if i < n1 * 0.2 else 0))
    df = spark.createDataFrame(rows, "s string, g string, y int")
    out = cmh_test(df, "s", "g", "y").collect()[0]
    assert out["k_strata"] == 2 and out["n"] == 160
    assert out["or_mh"] > 3.0  # strong common association
    assert out["p_approx"] < 0.01
    # no-association case: flag independent of arm
    flat = spark.createDataFrame(
        [("s1", str(i % 2), i % 3 == 0) for i in range(120)],
        "s string, g string, y boolean",
    )
    res = cmh_test(flat, "s", "g", "y").collect()[0]
    assert res["p_approx"] > 0.2
