#!/usr/bin/env python
"""Scale-linearity check: run representative operators on 1× and 10× the
sf0.1 input (10× = union of ten scans — 10× scan rows and 10× shuffle
volume) and report the wall-time ratio.

A ratio ≲ 10 on every operator is evidence the plan scales linearly in
input size (no quadratic blowup, no driver-side collection); ratios well
under 10 mean the 1× run was overhead-dominated and cores were idle.
Prints one JSON line. Not part of bench.py — run ad hoc.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from riot_graphs_spark.operators.timeseries import (
    last_per_bucket,
    time_bucket_agg,
)
from riot_graphs_spark.plans.flagship import daily_last_value_delta
from riot_graphs_spark.session import get_spark
from riot_graphs_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))


def scaled(df, copies):
    out = df
    for _ in range(copies - 1):
        out = out.unionByName(df)
    return out


def run(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 2)


def _mv(events):
    from riot_graphs_spark.operators.timeseries import moving_average

    return moving_average(
        events.select("event_type", "ts", "event_id", "value"),
        dims=["event_type"], ts="ts", value="value", n=4, tiebreak="event_id",
    )


def _integral(events):
    from riot_graphs_spark.operators.timeseries import integral_per_bucket

    return integral_per_bucket(
        events, dims=["event_type"], ts="ts", value="value", unit="day",
        tiebreak="event_id",
    )


def _rep(documents):
    from riot_graphs_spark.operators.textstats import repetition_stats

    return repetition_stats(documents)


def _zscore(events):
    from riot_graphs_spark.operators.timeseries import zscore_anomalies

    return zscore_anomalies(
        events.select("event_type", "ts", "event_id", "value"),
        dims=["event_type"], ts="ts", value="value",
        trailing=100, tiebreak="event_id",
    )


def _cdc(events):
    from riot_graphs_spark.operators.cdc import apply_changelog

    return apply_changelog(
        events.select("event_id", "user_id", "ts", "event_type", "value"),
        keys=["user_id"], seq=["ts", "event_id"],
        op_col="event_type", delete_op="error",
    )


def _m4(events):
    from riot_graphs_spark.operators.timeseries import m4_downsample

    return m4_downsample(
        events, dims=["event_type"], ts="ts", value="value",
        unit="day", tiebreak="event_id",
    )


def _spans(documents):
    from riot_graphs_spark.operators.dedup import repeated_spans

    return repeated_spans(documents, k=20, w=8)


def _bm25(documents):
    from riot_graphs_spark.operators.ranking import bm25_scores

    return bm25_scores(documents, ["spark", "join", "window"])


def _lm(documents):
    from riot_graphs_spark.operators.ranking import unigram_lm_cross_entropy

    return unigram_lm_cross_entropy(documents)


def _norm(documents):
    from riot_graphs_spark.operators.textstats import normalize_text

    return normalize_text(documents)


def _shards(documents):
    from riot_graphs_spark.operators.curation import shard_corpus

    return shard_corpus(documents.select("doc_id", "source"), n_shards=64)


def _seasonal(events):
    from riot_graphs_spark.operators.timeseries import (
        seasonal_residual_anomalies,
    )

    return seasonal_residual_anomalies(
        events, dims=["event_type"], ts="ts", value="value"
    )


def _transitions(events):
    from riot_graphs_spark.operators.funnel import event_transitions

    return event_transitions(events)


def _incremental(documents):
    from riot_graphs_spark.operators.dedup import incremental_novel_docs

    is_new = F.col("source").isin("src0", "src1")
    return incremental_novel_docs(
        documents.filter(is_new), documents.filter(~is_new)
    )


def _winsorize(events):
    from riot_graphs_spark.operators.profile import winsorize

    return winsorize(events)


def _l2norm(documents):
    # embeddings aren't in the scaled-table set; derive a vector column of
    # the same shape from documents so the 10× union scales the input
    from riot_graphs_spark.operators.similarity import l2_normalize

    vecs = documents.select(
        F.col("doc_id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (F.crc32(F.concat(F.col("doc_id").cast("string"),
                                        i.cast("string"))) % 1000).cast("float"),
        ).alias("embedding"),
    )
    return l2_normalize(vecs)


def _phash(documents):
    # The 10× union duplicates every image exactly, so the CORRECT pair
    # output is quadratic in the duplication factor (ten copies really do
    # form 45 pairs) — an unguarded run measured 31.8× at 10 copies, which
    # is output size, not plan blowup. Production runs pair generation with
    # the max_bucket_size boilerplate guard for exactly this reason; the
    # scale case measures the guarded form.
    from riot_graphs_spark.operators.multimodal import (
        media_from_documents,
        phash_near_dup_pairs,
    )

    return phash_near_dup_pairs(
        media_from_documents(documents),
        max_hamming=7,
        bands=8,
        max_bucket_size=64,
    )


def _ppl(documents):
    from riot_graphs_spark.operators.ranking import perplexity_buckets

    return perplexity_buckets(documents)


def _hh(documents):
    from riot_graphs_spark.operators.profile import heavy_hitters
    from riot_graphs_spark.operators.textstats import tokens

    toks = documents.select(F.explode(tokens("text")).alias("token"))
    return heavy_hitters(toks, key_col="token", min_share=0.033)


def _gidx(documents):
    from riot_graphs_spark.operators.curation import global_index

    return global_index(documents)


def _urls(documents):
    from riot_graphs_spark.operators.curation import url_domain_report
    from riot_graphs_spark.plans.driver_queries import _url_fixture

    return url_domain_report(_url_fixture(documents))


def _pagerank(lineitem):
    from riot_graphs_spark.operators.graph import pagerank

    li = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    return pagerank(edges, iterations=3, dedup_edges=False)


def _hits(tables):
    from riot_graphs_spark.operators.graph import hits

    o = tables["orders"].select("o_orderkey", "o_custkey")
    li = tables["lineitem"].select("l_orderkey", "l_partkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("src"),
                F.col("l_partkey").alias("dst"))
        .distinct()
    )
    return hits(edges, iterations=2)


def _tri(lineitem):
    from riot_graphs_spark.operators.graph import triangle_counts

    li = lineitem.select("l_orderkey", "l_partkey").distinct()
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("src", "dst")
    )
    return triangle_counts(edges)


def _pmi(documents):
    from riot_graphs_spark.operators.ranking import collocations_pmi

    return collocations_pmi(documents, min_count=10, k=20)


def _snm(documents):
    from riot_graphs_spark.operators.dedup import sorted_neighborhood_pairs

    key = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 24
    )
    return sorted_neighborhood_pairs(documents, key, w=3)


def _lshift(events):
    from riot_graphs_spark.operators.timeseries import level_shift

    return level_shift(
        events.select("event_type", "ts", "event_id", "value"),
        dims=["event_type"],
    )


def _leakage(documents):
    from riot_graphs_spark.operators.curation import eval_leakage_report

    return eval_leakage_report(
        documents.filter(F.col("doc_id") % 97 != 0),
        documents.filter(F.col("doc_id") % 97 == 0),
    )


def _ewma_w(events):
    from riot_graphs_spark.operators.timeseries import ewma_window

    return ewma_window(
        events.select("event_type", "ts", "event_id", "value"),
        dims=["event_type"], ts="ts", value="value", alpha=0.3, k=8,
        tiebreak="event_id",
    )


def _hh_grouped(documents):
    from riot_graphs_spark.operators.profile import heavy_hitters_grouped
    from riot_graphs_spark.operators.textstats import tokens

    toks = documents.select(
        "source", F.explode(tokens("text")).alias("token")
    )
    return heavy_hitters_grouped(
        toks, key_col="token", group_col="source", min_share=0.033
    )


def _paragraphs(documents):
    from riot_graphs_spark.operators.dedup import paragraph_dedup_stats

    return paragraph_dedup_stats(documents, block_tokens=10)


def _holt_seasonal(events):
    from riot_graphs_spark.operators.timeseries import holt_forecast

    daily = events.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(F.avg("value").alias("daily_mean"))
    return holt_forecast(
        daily, dims=["event_type"], ts="day", value="daily_mean",
        season_length=7, horizon=7,
    )


def _rollup(events):
    from riot_graphs_spark.operators.rollup import (
        daily_partials,
        merge_to_grain,
    )

    return merge_to_grain(
        daily_partials(events, dims=["event_type"]), dims=["event_type"]
    )


def _xsource(documents):
    from riot_graphs_spark.operators.dedup import cross_source_overlap

    return cross_source_overlap(documents, block_tokens=10)


def _corrmat(lineitem):
    from riot_graphs_spark.operators.profile import correlation_matrix

    return correlation_matrix(
        lineitem, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _assoc(documents):
    from riot_graphs_spark.operators.profile import categorical_association

    return categorical_association(documents, "lang", "source")


def _hist_rollup(events):
    from riot_graphs_spark.operators.rollup import (
        histogram_partials,
        histogram_percentiles,
        merge_histogram_to_grain,
    )

    daily = histogram_partials(
        events, dims=["event_type"], lo=0.0, hi=500.0, nbuckets=50
    )
    return histogram_percentiles(
        merge_histogram_to_grain(daily, dims=["event_type"]),
        dims=["event_type"],
    )


def _split_col():
    # built lazily: Column construction needs the live session
    return F.to_timestamp(F.lit("2024-01-16 00:00:00"))


def _psi(events):
    from riot_graphs_spark.operators.profile import psi_report

    return psi_report(
        events.filter(F.col("ts") < _split_col()),
        events.filter(F.col("ts") >= _split_col()),
        value_col="value", lo=0.0, hi=500.0, nbuckets=50,
        group_cols=["event_type"],
    )


def _ks(events):
    from riot_graphs_spark.operators.profile import ks_two_sample

    return ks_two_sample(
        events.filter(F.col("ts") < _split_col()),
        events.filter(F.col("ts") >= _split_col()),
        value_col="value", group_cols=["event_type"],
    )


def _mi(documents):
    from riot_graphs_spark.operators.profile import (
        categorical_mutual_information,
    )

    return categorical_mutual_information(documents, "lang", "source")


def _cdrift(tables):
    from riot_graphs_spark.operators.similarity import centroid_drift

    emb = tables["embeddings"]
    return centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


def _qnorm(documents):
    from riot_graphs_spark.operators.curation import quantile_normalize

    return quantile_normalize(documents, "n_chars", ["source"]).select(
        "doc_id", "source", "n_chars", "n_chars_qn"
    )


def _drift_monitor(base_events, batch_events):
    """The streaming monitor's per-batch scoring composition (PSI + KS)
    with the baseline consumed as count artifacts — the batch side is the
    only input that scales.  The monitored feature is integer-quantized
    (the documented continuous-value caveat: the distinct-value axis a
    batch contributes stays bounded by the feature's quantized support)."""
    from pyspark.sql import functions as FF

    from riot_graphs_spark.operators.profile import psi_from_counts
    from riot_graphs_spark.streaming.drift import (
        ks_against_baseline_cdf,
        record_baseline,
        record_baseline_cdf,
    )

    def feat(ev):
        return ev.select(
            "event_type", FF.round(FF.col("value"), 0).alias("value")
        )

    spec = dict(value_col="value", lo=0.0, hi=500.0, nbuckets=50,
                group_cols=["event_type"])
    base = feat(base_events)
    batch = feat(batch_events)
    counts = record_baseline(base, **spec).withColumnRenamed("n", "_na")
    cdf = record_baseline_cdf(base, "value", 50, ["event_type"])
    batch_counts = record_baseline(batch, **spec).withColumnRenamed(
        "n", "_nb"
    )
    joined = counts.join(
        batch_counts, ["event_type", "bin"], "full_outer"
    ).fillna(0, ["_na", "_nb"])
    psi = psi_from_counts(joined, ["event_type"])
    ks = ks_against_baseline_cdf(cdf, batch, "value", ["event_type"])
    return psi.join(
        ks.select("event_type", "ks_d"), ["event_type"], "full_outer"
    )


def _ks_gof(events):
    from riot_graphs_spark.operators.profile import ks_goodness_of_fit

    return ks_goodness_of_fit(
        events, value_col="value", lo=0.0, hi=500.0,
        group_cols=["event_type"],
    )


def _ipf(documents):
    from riot_graphs_spark.operators.curation import ipf_mixture_weights

    return ipf_mixture_weights(
        documents, row_col="lang", col_col="source", iterations=2
    )


def _edges(events):
    from riot_graphs_spark.operators.profile import equi_depth_edges

    return equi_depth_edges(
        events, value_col="value", k=10, group_cols=["event_type"]
    )


def _trending(events):
    from riot_graphs_spark.operators.profile import heavy_hitters_grouped

    ev = events.select(
        F.date_trunc("day", F.col("ts")).alias("bucket"), "user_id"
    )
    return heavy_hitters_grouped(
        ev, key_col="user_id", group_col="bucket", min_share=0.01
    )


# ---------------------------------------------------------------------------
# Generic query-level harness: scale ANY registered query by patching the
# registry's load_table with a DISJOINTED 10x union — each copy gets shifted
# ids and timestamps so the scaled input models real growth (more keys, more
# history) instead of densifying the same keys/window.  Dimension tables
# (region/nation/customer/supplier/part) stay 1x: at 100 TB the fact grows,
# the dims don't.  Document TEXT is left identical across copies, so
# pair-expanding near-dup VERIFY ops see 10 exact near-dups per doc and
# their OUTPUT is quadratic by semantics — the pHash lesson; those cases
# are interpreted in docs/SCALING.md, the guarded production forms are the
# hand cases above.
# ---------------------------------------------------------------------------

_FACT_SHIFT = {
    # table -> (id columns to offset by i*1e9, has time axis)
    "events": (["event_id"], True),
    "documents": (["doc_id"], False),
    "lineitem": (["l_orderkey"], False),
    "orders": (["o_orderkey"], True),
    "embeddings": (["vec_id"], False),
}


def _disjoint_copy(df, name: str, i: int):
    cols, _ = _FACT_SHIFT[name]
    out = df
    for c in cols:
        out = out.withColumn(c, F.col(c) + F.lit(i * 10**9))
    if name == "events":
        # shift BOTH the derived ts and the raw nanos column `_ts_ns`
        # (load_table keeps it so time predicates reach the scan)
        out = out.withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {35 * i} DAYS")
        )
        if "_ts_ns" in out.columns:
            out = out.withColumn(
                "_ts_ns",
                F.col("_ts_ns") + F.lit(i * 35 * 86400 * 10**9),
            )
        # more history also means more users, not denser ones
        out = out.withColumn("user_id", F.col("user_id") + F.lit(i * 10**6))
    elif name == "orders":
        out = out.withColumn(
            "o_orderdate", F.date_add(F.col("o_orderdate"), 35 * i)
        )
    elif name == "embeddings":
        # nudge each copy's vectors so they are near- but not exact dups
        out = out.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x: (x + F.lit(float(i)) * F.lit(1e-4)).cast("float"),
            ),
        )
    return out


def _make_scaled_loader(copies: int):
    from riot_graphs_spark.sources.tables import load_table as _load

    def loader(spark, sf_dir, name):
        base = _load(spark, sf_dir, name)
        if copies == 1 or name not in _FACT_SHIFT:
            return base
        out = base
        for i in range(1, copies):
            out = out.unionByName(_disjoint_copy(base, name, i))
        return out

    return loader


def run_query_cases(spark, names, copies):
    from riot_graphs_spark.plans import driver_queries as dq

    original = dq.load_table

    def timed(fn) -> float:
        # time CONSTRUCTION + execution: several registered queries
        # materialize during construction (checkpointed graph iterations,
        # k-means training collects), so timing only the final write would
        # measure the post-checkpoint tail
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 2)

    report = {}
    try:
        for name in names:
            fn = dq.QUERIES[name]
            dq.load_table = _make_scaled_loader(1)
            timed(fn)  # warm
            t1 = timed(fn)
            dq.load_table = _make_scaled_loader(copies)
            tn = timed(fn)
            report[name] = {
                "t1x": t1,
                f"t{copies}x": tn,
                "ratio": round(tn / t1, 1),
            }
            # stream one line per case so a crash keeps partial results
            print(json.dumps({"qcase": name, **report[name]}), flush=True)
    finally:
        dq.load_table = original
    return report


#: Every benched query >= 1 s at sf0.1 (BENCH_r05/bench_out.json) — the
#: population the 2x wall-time gate protects but whose SHAPE only a 10x
#: harness can check (the pHash 31.8x lesson).  Regenerate the list after
#: a bench run: [k for k,v in bench_out["queries"].items() if v >= 1.0].
QUERY_CASES = [
    "repeated_span_ranges", "emb_kmeans_cells", "lsh_recall_vs_exact",
    "dedup_cc_clusters_star", "graph_hits_bipartite", "graph_pagerank_parts",
    "semdedup_keep_best", "dedup_simhash_pairs", "repeated_spans",
    "embed_neardup_clusters", "ann_pq_topk", "minhash_estimate_error",
    "j6_interval_overlap", "bm25_search_topk", "dedup_report_by_source",
    "dedup_incremental_novel", "graph_triangle_profile", "bpe_train_merges",
    "dedup_keep_best", "item_item_similarity", "dedup_cc_clusters",
    "lang_id_confusion", "corpus_select", "emb_knn_label_eval",
    "graph_k_core", "graph_label_propagation", "basket_part_pairs",
    "dedup_cluster_size_hist", "dedup_graph_degrees", "dedup_simhash",
    "profile_orders", "pq_assign_fixed", "dedup_minhash_lsh",
    "dedup_sorted_neighborhood", "q7_nation_volume", "ann_quantized_rescore",
    "hybrid_search_rrf", "text_bigram_lm", "q1_pricing_summary",
    "profile_correlations", "ann_recall_ivf", "supplier_scorecard",
    "dedup_minhash_signatures", "embed_neardup_pairs", "j_salted_skew",
    "j1_lineitem_orders", "mm_phash_pairs", "q8_market_share",
    "dedup_paragraph_hashes", "fuzzy_edit_pairs", "pareto_parts",
    "text_repetition", "q21_waiting_suppliers", "ann_ivf_topk",
    "ts_level_shift", "ts_seasonal_anomalies", "q9_product_profit",
    "ngram_leakage_report", "emb_l2_normalize", "emb_outliers_fixed",
    "decontaminated_corpus", "ccnet_perplexity_buckets",
    "text_collocations_pmi", "q18_large_orders",
    # round-7: the one >=1s benched query that had no case (two grouped
    # exact medians + broadcast joins back -> expected ~linear)
    "ts_mad_anomalies",
    # round-13: every >=1 s registration from the r13 bench slice
    "graph_modularity_fixed", "supplier_ship_delay_by_nation",
    "emb_centrality_doclen_corr", "lepage_value_weekend",
    "eval_ece_quality", "ts_dfa", "segment_priority_independence",
    "event_burstiness_memory", "ad_value_normal",
    "mmd_rbf_doclen_en_rest", "ts_transfer_entropy",
    "influxql_fill_previous", "collocations_llr_top",
    "emb_twonn_intrinsic_dim", "vocab_heaps_by_source",
    "orders_priority_mix_psi_monthly",
    # round-7 evaluation layer (every >=1s entry from the registration
    # bench): counts-based AUC/lift over the distinct-score axis,
    # one-scan PR thresholds, broadcast-qrels NDCG/recall, confusion
    # groupBys, closed-form Wilson groups
    "quality_auc_report",
    "kappa_lang_agreement",
    "eval_pr_thresholds",
    "lift_quality_deciles",
    "ndcg_search_eval",
    "keep_rate_wilson_ci",
    "quality_calibration_summary",
    "quality_auc_by_lang",
    "lang_id_class_report",
    "retrieval_recall_mrr",
    # round-7 late: zero-shuffle row-local array math (must be ~linear);
    # one-window-sort per-series ACF at the 1s boundary
    "text_lexical_diversity",
    "ts_autocorrelation",
    # MG candidates + broadcast recount over the trigram explosion
    "freq_boilerplate_trigrams",
    # xB explode -> (replicate, score) partial agg -> per-replicate
    # distinct-score windows
    "quality_auc_bootstrap_ci",
    # round-8: paired bootstrap — the xB·2 scorer-axis explode must
    # reduce through the same partial agg (2x the AUC-bootstrap volume)
    "quality_delta_auc_paired",
    # round-8: grouped bootstrap — global plan with the group key
    # prepended; boot side stays |groups|xB, broadcast
    "quality_mean_ci_by_source",
    # round-8: the end-to-end manifest composition — scales like the sum
    # of its (individually-cased) stages; the checkpoints bound re-scans
    "corpus_build_manifest",
    # round-8: lang-ID pass + four conditional counts in one partial agg
    "mcnemar_langid_vs_majority",
    # round-8: xB explode -> (replicate, value) weight sums -> per-
    # replicate distinct-value windows (the median twin of the AUC case)
    "doclen_median_bootstrap_ci",
    # round-8: user-level pre-agg then xB relabel explode into a
    # (replicate, arm) partial aggregate — nothing corpus-sized after
    "perm_test_user_value",
    # round-8: broadcast eval n-grams + one train scan + source groupBy
    "contamination_rate_by_source",
    # round-8: row-local profile-hit entropy — must be ~linear/flat
    "lang_mix_entropy",
    # round-8: fingerprint groupBy then groups-axis arithmetic
    "split_dup_leakage",
    # round-8: sampled exact pairwise eval — pairs scale with (sample)^2
    # BY DESIGN of the eval (the lsh_recall_vs_exact class)
    "emb_similarity_hist",
    # round-8: two passes over the checkpointed (score, label)
    # projection with the <=nbins bin map broadcast back
    "quality_hist_calibration",
    # round-8: row-local w-gram chunking + one chunk-hash groupBy
    "cdc_chunk_dedup_report",
    # round-8: posexplode -> dim groupBy, partial-aggregable
    "emb_dim_stats",
    # round-8: chunk-bucket pairing — within-bucket expansion only,
    # boilerplate buckets capped (the minhash_lsh_pairs discipline)
    "cdc_chunk_neardup_pairs",
    # round-8: BM25 + dense + fused runs (queries x k each), literal-
    # weight RBO join — the corpus scans feed the runs, the RBO is tiny
    "search_rbo_lexical_vs_dense",
    # round-8: event pre-agg (linear) -> users-axis quintile window ->
    # (stratum, arm) counts
    "ab_simpsons_check",
    # round-8: bucket reduction (linear) -> O(days^2) pair sum on the
    # bucket axis only
    "ts_mann_kendall",
    # round-8: decomposition windows per series on the bucket axis +
    # one moment aggregate
    "ts_seasonal_strength",
    # round-8: bucket reduction (linear) -> O(days^2) pair self-join
    # and distinct-slope median windows, both on the bucket axis
    "ts_theil_sen",
    # round-8: bucket reduction (linear) -> CUSUM windows + x60
    # permutation explode, all on the bucket axis
    "ts_cusum_changepoint",
    # round-8: one (value, group) partial aggregate; rank arithmetic on
    # the distinct-value axis only
    "mw_doclen_sources",
    # round-8: one (group) partial aggregate carrying n/sum/sumsq;
    # downstream is a broadcast one-row combine
    "welch_value_click_purchase",
    # round-8: bucket reduction (linear) -> lag windows + two
    # per-method metric aggregates on the bucket axis
    "ts_forecast_backtest",
    # round-8: one (group) partial aggregate; C(k,2) grid on the
    # groups axis only
    "pairwise_welch_event_types",
    # round-8: same reduction; BH windows on the 10-row hypotheses axis
    "pairwise_welch_bh_fdr",
    # round-8: zero-shuffle assignment scan -> per-cell aggregate;
    # ratio joins on the k-row cells axis
    "emb_davies_bouldin_fixed",
    # round-8: (value, group) count reduction -> broadcast medians ->
    # one ANOVA reduction over z
    "levene_doclen_by_lang",
    # round-8: hourly bucket reduction (linear) -> buckets x 47
    # projection grid + rank window, all on the bucket axis
    "ts_dominant_period",
    # round-8: two per-key count reductions -> full-outer combine on
    # the key axis -> one row
    "join_audit_lineitem_orders",
    # round-8: pivoted bucket reduction (linear) -> rolling sums on
    # the merged day axis
    "ts_rolling_corr_click_view",
    # round-8: per-user reduction (linear) -> (time x arm) grid
    # suffix sums on the distinct-duration axis
    "logrank_churn_by_parity",
    # round-8: token->first-doc + per-doc count reductions (linear) ->
    # cumulative walk + regression on the doc axis
    "vocab_heaps_fit",
    # round-8: zero-shuffle assignment scan -> (cell, dim) partial
    # aggregate -> one-row moment combines
    "emb_calinski_harabasz_fixed",
    # round-8: ntile windows on the doc axis -> one confusion groupBy
    # -> broadcast levels-squared grid
    "kappa_weighted_length_deciles",
    # round-8: gopher-flag scan + (group) reduction; prior fit on the
    # groups axis broadcast back
    "keep_rate_eb_shrunk_by_source",
    # round-8: distinct (group, token) reduction -> token-axis
    # self-join with C(G,2)-bounded fanout
    "vocab_jaccard_sources",
    # round-8: per-user reduction (linear) -> time-axis hazard windows
    "retention_na_hazard",
    # round-8: per-series lag window -> distinct-gap KS
    "ts_interarrival_expfit",
    # round-8: per-user + per-duration reductions -> time-axis segment
    # integral to one row
    "retention_survival_summary",
    # round-8: zero-shuffle assignment -> (cell, label) contingency ->
    # cells-axis combinatorics
    "emb_cells_vs_labels_ari",
    # round-9 >=1 s additions
    "graph_bfs_layers",
    "emb_covariance_pairs",
    "markov_stationary_events",
    "graph_link_prediction",
    "graph_assortativity",
    "mcc_langid_en",
    "huber_location_price",
    "rake_keywords_top",
    "chi2_lang_source",
    "kendall_tau_len_tokens",
    "emb_centroid_margin",
    "textrank_keywords_top",
    "jarque_bera_value",
    "text_compressibility",
    "markov_entropy_rate",
    "emb_power_iteration_top",
    "krippendorff_lang_alpha",
    "feature_info_gain",
    "pairwise_welch_by_fdr",
    "emb_spectral_gap",
    "esd_outlier_days",
    "yuen_trimmed_doclen",
    "cmh_purchase_by_activity",
    "binseg_daily_value",
    # round-10 >=1s registrations
    "retention_km_bands", "emb_participation_ratio", "emb_int8_snr",
    "dedup_cluster_purity", "part_affinity_lift",
    "anova_value_weekday", "dedup_lsh_band_stats", "discount_band_profile",
    "supplier_revenue_hhi", "quality_ks_by_source",
    # round-11 >=1s registrations: bigram DF + semi-join; probe-scaled IVF
    # passes over the shared brute side; fixed-probe brute scans; word-table
    # EM passes; state-sized sketch merge; pre-aggregated dim joins
    "ngram_novelty_bigram", "ann_recall_ivf", "emb_hubness_topk",
    "ann_ivf_multiprobe", "unigram_train_pieces", "emb_nn_margin",
    "nation_trade_balance", "rollup_quantile_sketch",
    # round-11 post-window >=1s: per-(user,side) decimal-mean reduce +
    # pair join; distinct-|diff| axis ranks; binned Brier moments;
    # day-axis OLS residual windows
    "sign_test_weekend_value", "wilcoxon_signed_rank_weekend",
    "quality_brier_decomposition", "durbin_watson_daily",
    # second post-window >=1s: user-keyed gap sessionization + entry pick
    "session_bounce_rate",
    # round-12 >=1s registrations: fact⋈dim log-log moments; bounded
    # basket pair fan-out; row-local dim-pair covariance fan-out; shared
    # BM25 run scans; blocked day×day rank tables; bit-packed scans vs
    # brute; corpus token explodes; gap sessionization + per-session
    # entropy; 4-cell IVF probe scan; bipartite degree reduces
    "discount_qty_elasticity", "part_affinity_conviction",
    "emb_cka_halves", "retrieval_precision_curve", "quade_event_types",
    "emb_bitvector_hamming_recall", "text_burrows_delta",
    "session_type_entropy", "ann_ivf_probe4", "supplier_part_coverage",
    # round-12 post-window >=1s: triple re-banding + pair dedup; bit
    # extraction over signatures; bigram-axis full-outer JS pairs
    "minhash_band_tuning", "simhash_bit_balance", "char_bigram_js_langs",
    "ann_ivfpq_topk",
]


def _stream_guardrail_scale(spark, n_events: int, slices: int = 8) -> dict:
    """A/B guardrail under load: replay ``n_events`` assignment rows in
    ``slices`` micro-batches through ``ab_guardrail_writer`` and read
    back wall time AND the ledger row count.  The event volume scales;
    the persisted state is the LEDGER — one row per micro-batch, O(8)
    here no matter how many events flow — pinning the "running
    contingency state is batch-counted, never event-sized" claim.  Per-
    batch cost is one partial-aggregable scan of the batch."""
    import shutil
    import tempfile

    from riot_graphs_spark.streaming.guardrail import ab_guardrail_writer

    base = tempfile.mkdtemp(prefix="riot_guard_scale_")
    indir, ckpt, mon = base + "/in", base + "/ckpt", base + "/mon"
    per = n_events // slices
    for s in range(slices):
        (
            spark.range(per)
            .select(
                (F.col("id") % 2).cast("string").alias("arm"),
                (F.col("id") % 7 == 0).alias("converted"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(indir)
        )
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("arm string, converted boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    t0 = time.perf_counter()
    q = (
        stream.writeStream.foreachBatch(ab_guardrail_writer(mon))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    ledger_rows = spark.read.parquet(mon + "/ledger").count()
    shutil.rmtree(base, ignore_errors=True)
    return {"wall": wall, "ledger_rows": ledger_rows}


def _stream_sessions_scale(spark, n_events: int, n_users: int = 200,
                           slices: int = 8) -> dict:
    """Streaming sessionization under load: replay a time-ordered event
    history through ``stream_session_stats`` (availableNow, one file per
    micro-batch) and read back wall time AND peak state rows from the
    query progress.  The event volume scales; the ACTIVE-KEY count is
    fixed — so state rows must stay O(n_users), pinning the "state ∝
    concurrently-active users, not history" claim, while micro-batch
    cost may grow only with batch rows.

    Data shape: ``slices`` two-hour windows, each holding one contiguous
    run of per-second events per user (one session per user per slice —
    the 30-minute gap closes it when the next slice's watermark
    advances).  More events = longer sessions, never more of them."""
    import shutil
    import tempfile

    from riot_graphs_spark.streaming.sessions import stream_session_stats

    base = tempfile.mkdtemp(prefix="riot_sess_scale_")
    indir, ckpt = base + "/in", base + "/ckpt"
    per = n_events // slices
    for s in range(slices):
        (
            spark.range(per)
            .select(
                (F.col("id") % n_users).cast("long").alias("user_id"),
                F.timestamp_seconds(
                    F.lit(1_700_000_000 + s * 7200)
                    + (F.col("id") / n_users).cast("long")
                ).alias("ts"),
                (F.col("id") % 97).cast("double").alias("value"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(indir)
        )
        time.sleep(0.05)  # ascending mod-times -> in-order replay
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    t0 = time.perf_counter()
    q = (
        stream_session_stats(stream, gap="30 minutes",
                             watermark="10 minutes")
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 2)
    state_peak = 0
    for p in q.recentProgress:
        j = p.json if hasattr(p, "json") else p  # .json is a str property
        prog = json.loads(j) if isinstance(j, str) else j
        for op in prog.get("stateOperators") or []:
            state_peak = max(state_peak, op.get("numRowsTotal", 0))
    shutil.rmtree(base, ignore_errors=True)
    return {"wall": wall, "state_peak": state_peak,
            "n_events": n_events, "n_users": n_users}


def main() -> None:
    spark = get_spark(app_name="riot-graphs-scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    from riot_graphs_spark.operators.curation import (
        contamination_check,
        pack_sequences,
    )
    from riot_graphs_spark.operators.dedup import minhash_signatures
    from riot_graphs_spark.operators.textstats import token_count

    tables = {
        t: load_table(spark, SF_DIR, t)
        for t in ("events", "lineitem", "documents", "orders", "embeddings")
    }

    cases = {
        "flagship_daily_delta": lambda t: daily_last_value_delta(t["events"]),
        "a1_last_of_day": lambda t: last_per_bucket(
            t["events"], ts="ts", dims=["user_id"],
            payload=["event_id", "event_type", "value"], tiebreak="event_id",
        ),
        "g1_hourly_agg": lambda t: time_bucket_agg(
            t["events"], ts="ts", unit="hour", dims=["event_type"],
            aggs=[F.count("*").alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)")).alias("s")],
        ),
        "q1_pricing": lambda t: t["lineitem"].groupBy(
            "l_returnflag", "l_linestatus"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
        ),
        # curation family: row-local signature math, window packing, and a
        # broadcast semi-join — the three plan shapes of the extension surface
        "dedup_minhash_sigs": lambda t: minhash_signatures(t["documents"]),
        "pack_sequences": lambda t: pack_sequences(
            t["documents"].select(
                "lang", "doc_id", token_count("text").alias("n_tokens")
            ),
            budget=512, token_col="n_tokens",
        ),
        "contamination_check": lambda t: contamination_check(
            t["documents"].filter(F.col("doc_id") % 97 != 0),
            t["documents"].filter(F.col("doc_id") % 97 == 0),
        ),
        # InfluxQL transform family: per-series windows (shuffle on dims,
        # per-series sort) and window+agg composition
        "ts_moving_average": lambda t: _mv(t["events"]),
        "ts_integral_daily": lambda t: _integral(t["events"]),
        # Gopher repetition: row-local line stats + two count-only groupBys
        "text_repetition": lambda t: _rep(t["documents"]),
        # O(n) trailing window (running-sum differences, not a bounded frame)
        "ts_zscore_anomalies": lambda t: _zscore(t["events"]),
        # keyed compaction: max_by partial agg — state one row per key
        "cdc_compaction": lambda t: _cdc(t["events"]),
        # M4: four partial min_by/max_by aggs, output bounded by buckets×4
        "ts_m4_downsample": lambda t: _m4(t["events"]),
        # winnowing: row-local fingerprinting, one count shuffle — linear
        "repeated_spans": lambda t: _spans(t["documents"]),
        # ranking family: scan-side term filter + vocab-sized stats joins
        "rank_bm25": lambda t: _bm25(t["documents"]),
        # LM scoring: one-agg model + token-keyed scoring join
        "text_lm_cross_entropy": lambda t: _lm(t["documents"]),
        # normalization: pure row-local regex chain — must be ~flat
        "text_normalize": lambda t: _norm(t["documents"]),
        # shard shuffle: one hash exchange + per-shard sort — linear
        "corpus_shards": lambda t: _shards(t["documents"]),
        # incremental dedup: band-bucket semi-join, no pair expansion
        "dedup_incremental": lambda t: _incremental(t["documents"]),
        # seasonal anomalies: two partial aggs + broadcast profile join
        "ts_seasonal_anomalies": lambda t: _seasonal(t["events"]),
        # transition graph: one per-user lead window + pair count
        "event_transitions": lambda t: _transitions(t["events"]),
        # winsorize: percentile partial-agg + broadcast clamp — linear
        "dq_winsorize": lambda t: _winsorize(t["events"]),
        # l2 normalize: row-local fold + explode, zero shuffles — must be flat
        "emb_l2_normalize": lambda t: _l2norm(t["documents"]),
        # pHash near-dup: mapInPandas hash + band equi-join; pair expansion
        # is within-bucket only, so 10× input must stay ~linear
        "mm_phash_pairs": lambda t: _phash(t["documents"]),
        # CCNet buckets: LM pass + one narrow (id, score) window shuffle
        "ccnet_ppl_buckets": lambda t: _ppl(t["documents"]),
        # heavy hitters: map-only MG candidates + bounded recount — linear;
        # the 10× union multiplies counts, never the summary size
        "freq_heavy_hitters": lambda t: _hh(t["documents"]),
        # global index: two scans + one bucket-keyed exchange — linear
        "corpus_global_index": lambda t: _gidx(t["documents"]),
        # URL report: row-local regex + one domain-keyed distinct agg
        "url_dedup_domains": lambda t: _urls(t["documents"]),
        # leakage: broadcast-bounded joins; train scan is the linear term
        "ngram_leakage": lambda t: _leakage(t["documents"]),
        # graph family (registered r05 — the r04 ad-hoc measurements in
        # docs/SCALING.md now reproduce from this harness): fixed-iteration
        # join+agg rounds, node-keyed state
        "graph_pagerank": lambda t: _pagerank(t["lineitem"]),
        "graph_hits": lambda t: _hits(t),
        "graph_triangles": lambda t: _tri(t["lineitem"]),
        "text_collocations": lambda t: _pmi(t["documents"]),
        "dedup_snm": lambda t: _snm(t["documents"]),
        "ts_level_shift": lambda t: _lshift(t["events"]),
        # round-5 family: lag-window codegen smooth, per-group MG sketch +
        # recount, row-local unit-hash dedup, bounded-state seasonal fit
        "ts_ewma_window": lambda t: _ewma_w(t["events"]),
        "freq_hh_grouped": lambda t: _hh_grouped(t["documents"]),
        "dedup_paragraphs": lambda t: _paragraphs(t["documents"]),
        "ts_holt_seasonal": lambda t: _holt_seasonal(t["events"]),
        # round-5 late: two stacked partial aggs (state merge); distinct
        # (source, unit) set + source-bounded self-join
        "rollup_weekly": lambda t: _rollup(t["events"]),
        "dedup_cross_source": lambda t: _xsource(t["documents"]),
        # single-agg profiling passes: O(k^2) moment expressions / one
        # joint-count groupBy + broadcast grid — must be ~linear
        "profile_correlations": lambda t: _corrmat(t["lineitem"]),
        "assoc_lang_source": lambda t: _assoc(t["documents"]),
        # round-6 family: stacked histogram-state aggs + state-row windows;
        # tagged-union bin counts (grid from a per-group map, no joins);
        # distinct-axis CDF windows; single-scan window-marginal MI;
        # per-day MG summaries + broadcast recount
        "rollup_percentiles": lambda t: _hist_rollup(t["events"]),
        "psi_value_drift": lambda t: _psi(t["events"]),
        "ks_value_drift": lambda t: _ks(t["events"]),
        "mi_lang_source": lambda t: _mi(t["documents"]),
        "freq_trending_daily": lambda t: _trending(t["events"]),
        # tagged-union posexplode into one (label, dim) partial agg — the
        # 10x union multiplies pre-sum rows, the state table stays
        # (labels x dims)
        "emb_centroid_drift": lambda t: _cdrift(t),
        # (group, value) count groupBy + distinct-axis windows — KS shape
        "equi_depth_edges": lambda t: _edges(t["events"]),
        # one corpus scan -> contingency table; iterations are windows
        # over observed cells only
        "mixture_ipf": lambda t: _ipf(t["documents"]),
        # one-sample KS: same distinct-axis window shape, row-local F0
        "ks_uniform_fit": lambda t: _ks_gof(t["events"]),
        # count groupBy + distinct-axis as-of + one map-back equi-join
        "quantile_normalize": lambda t: _qnorm(t["documents"]),
        # round-7: the streaming per-ingest monitor's scoring path with a
        # FIXED baseline (captured unscaled via default arg) and a scaled
        # batch — pins O(batch) cost: the baselines are consumed as
        # (groups x bins)/(groups x edges) count artifacts, never
        # re-inflated, so only the batch count-aggregation may grow
        "drift_monitor_score": lambda t, base=tables: _drift_monitor(
            base["events"], t["events"]
        ),
    }

    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        cases = {n: fn for n, fn in cases.items() if n in wanted}

    # SPARK_GRAFT_SCALE_MODE: "ops" (hand cases, default), "queries"
    # (generic >=1s registered-query cases), or "all".
    mode = os.environ.get("SPARK_GRAFT_SCALE_MODE", "ops")

    report = {}
    if mode in ("ops", "all"):
        for name, fn in cases.items():
            fn(tables).write.format("noop").mode("overwrite").save()  # warm
            t1 = run(fn(tables))
            big = {k: scaled(v, COPIES) for k, v in tables.items()}
            tn = run(fn(big))
            report[name] = {
                "t1x": t1, f"t{COPIES}x": tn, "ratio": round(tn / t1, 1)
            }
            print(json.dumps({"case": name, **report[name]}), flush=True)

    qreport = {}
    if mode in ("queries", "all"):
        qnames = QUERY_CASES
        if only:
            wanted = {n.strip() for n in only.split(",") if n.strip()}
            qnames = [n for n in qnames if n in wanted]
        qreport = run_query_cases(spark, qnames, COPIES)

    sreport = {}
    if mode in ("stream", "all") and (
        not only or "stream_session_stats" in only
    ):
        small = _stream_sessions_scale(spark, 200_000)
        big = _stream_sessions_scale(spark, 200_000 * COPIES)
        sreport["stream_session_stats"] = {
            "t1x": small["wall"], f"t{COPIES}x": big["wall"],
            "ratio": round(big["wall"] / small["wall"], 1),
            "state_peak_1x": small["state_peak"],
            f"state_peak_{COPIES}x": big["state_peak"],
            "n_users": small["n_users"],
        }
        print(json.dumps({"scase": "stream_session_stats",
                          **sreport["stream_session_stats"]}), flush=True)
    if mode in ("stream", "all") and (
        not only or "stream_ab_guardrail" in only
    ):
        small = _stream_guardrail_scale(spark, 200_000)
        big = _stream_guardrail_scale(spark, 200_000 * COPIES)
        sreport["stream_ab_guardrail"] = {
            "t1x": small["wall"], f"t{COPIES}x": big["wall"],
            "ratio": round(big["wall"] / small["wall"], 1),
            "ledger_rows_1x": small["ledger_rows"],
            f"ledger_rows_{COPIES}x": big["ledger_rows"],
        }
        print(json.dumps({"scase": "stream_ab_guardrail",
                          **sreport["stream_ab_guardrail"]}), flush=True)

    out = {"copies": COPIES, "sf_dir": SF_DIR, "cases": report}
    if qreport:
        out["query_cases"] = qreport
    if sreport:
        out["stream_cases"] = sreport
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
