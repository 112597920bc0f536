"""Physical-plan regression tests (SURVEY §4): the scale properties —
broadcast dimension joins, pushed-down time predicates, single-shuffle
partial aggregation, shuffle-free signature computation — are asserted on
``.explain`` output so a refactor that silently degrades the plan fails CI,
not the cluster.
"""

from __future__ import annotations

import re

import pytest

from riot_graphs_spark.plans.driver_queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def formatted_plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def shuffle_count(plan: str) -> int:
    # "(N) Exchange" = shuffle; BroadcastExchange is not a shuffle.
    # RoundRobinPartitioning exchanges ARE subtracted, but only those
    # whose partition count equals the session's defaultParallelism —
    # the signature of the gated under-partitioned-scan spread
    # (functions.spread), which moves no data by key and never fires at
    # real scale (input splits >= cores).  Any other round-robin
    # repartition (a hard-coded repartition(n)) still counts as a
    # shuffle, so the scale pins keep catching unconditional exchanges
    # (r14, ADVICE item 5).
    from pyspark.sql import SparkSession

    n = len(re.findall(r"\(\d+\) Exchange\b", plan))
    active = SparkSession.getActiveSession()
    rr = 0
    if active is not None:
        par = active.sparkContext.defaultParallelism
        rr = len(
            re.findall(
                rf"Arguments: RoundRobinPartitioning\({par}\)", plan
            )
        )
    return n - rr


def test_j2_broadcasts_every_dimension(spark):
    plan = formatted_plan(spark, "j2_orders_by_region")
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan


def test_p9_range_predicate_reaches_scan(spark):
    plan = formatted_plan(spark, "p9_time_range")
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(ts", plan)
    assert re.search(r"PushedFilters:.*LessThan\(ts", plan)


def test_a1_is_single_shuffle_partial_agg(spark):
    plan = formatted_plan(spark, "a1_last_of_day")
    assert "partial_max_by" in plan  # map-side combine, not rank-then-filter
    assert shuffle_count(plan) == 1


def test_q1_is_single_shuffle_partial_agg(spark):
    plan = formatted_plan(spark, "q1_pricing_summary")
    assert "partial_sum" in plan
    assert shuffle_count(plan) == 1


def test_minhash_signatures_are_shuffle_free(spark):
    plan = formatted_plan(spark, "dedup_minhash_signatures")
    assert shuffle_count(plan) == 0  # row-local transform + array_min


def test_simhash_is_shuffle_free(spark):
    plan = formatted_plan(spark, "dedup_simhash")
    assert shuffle_count(plan) == 0


def test_spread_gate_reads_node_classes_not_plan_text(spark, tmp_path):
    """The spread gate decides on plan node classes: a column aliased
    ``Sort`` or a literal reading ``Join`` must not switch off the spread
    of a one-split scan, and a ``rebalance`` hint (an exchange the old
    text match missed) must keep the input as it is."""
    from pyspark.sql import functions as F

    from riot_graphs_spark.functions.spread import spread_small_scan

    path = str(tmp_path / "one_split.parquet")
    spark.range(64).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    par = spark.sparkContext.defaultParallelism
    assert scan.rdd.getNumPartitions() < par  # the gate's target shape

    for narrow in (
        scan.select(F.col("id").alias("Sort")),
        scan.select("id", F.lit("Join").alias("tag")),
    ):
        spread = spread_small_scan(narrow)
        assert spread is not narrow
        assert spread.rdd.getNumPartitions() == par

    hinted = scan.hint("rebalance", 1)
    assert spread_small_scan(hinted) is hinted


def test_cosine_topk_broadcasts_queries(spark):
    plan = formatted_plan(spark, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # corpus side must never shuffle BY KEY before scoring: the only
    # hash exchange is the final per-query window cut over (queries × k)
    # -sized data.  A round-robin spread of an under-partitioned scan
    # (fires only when input splits < cores — never at real scale) is
    # allowed: it is the straggler fix, not a join shuffle (r13-opt).
    assert len(re.findall(r"hashpartitioning", plan)) <= 1
    assert shuffle_count(plan) <= 2


def test_scan_prunes_columns(spark):
    plan = formatted_plan(spark, "text_token_count")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = m.group(1)
    assert "doc_id" in cols and "text" in cols
    assert "lang" not in cols and "source" not in cols  # pruned


def test_j5_range_join_avoids_nested_loop(spark):
    """The banded range join must plan as a hash/sort-merge join on the
    band key — BroadcastNestedLoopJoin is the O(N*M) failure mode the
    operator exists to avoid."""
    plan = formatted_plan(spark, "j5_range_join_ship_week")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q6_predicates_reach_scan(spark):
    """Q6 is pure scan+agg: every predicate must be pushed to the parquet
    reader and the single-row aggregate must be partial-aggregable."""
    plan = formatted_plan(spark, "q6_forecast_revenue")
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan)
    assert re.search(r"PushedFilters:.*LessThan\(l_shipdate", plan)
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_discount", plan)
    assert re.search(r"PushedFilters:.*LessThan\(l_quantity", plan)
    assert "partial_sum" in plan


def test_q5_broadcasts_pruned_dims(spark):
    """Q5 must push the region filter through nation and broadcast the
    pruned dim into customer and supplier — no sort-merge join against a
    25-row table."""
    plan = formatted_plan(spark, "q5_regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "partial_sum" in plan


def test_q18_semi_join_prunes_facts(spark):
    """The HAVING survivor set must arrive as a broadcast semi-join filter
    on both fact scans, not as a post-join filter."""
    plan = formatted_plan(spark, "q18_large_orders")
    assert "LeftSemi" in plan
    assert "partial_sum" in plan


def test_q4_exists_is_semi_join_with_pushed_dates(spark):
    """The EXISTS must plan as a semi join (no lineitem row survives past
    its first match) and the order-date range must reach the orders scan."""
    plan = formatted_plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(o_orderdate", plan)
    assert "partial_count" in plan


def test_q19_derives_single_side_prefilters(spark):
    """Catalyst must extract the implied per-side filters from the OR-of-
    ANDs (brand IN (...) on the part scan, quantity range on lineitem), not
    evaluate the disjunction against the raw cross of both scans."""
    plan = formatted_plan(spark, "q19_disjunctive")
    assert re.search(r"PushedFilters:.*EqualTo\(p_brand,Brand#1\)", plan)
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_quantity", plan)
    assert "BroadcastHashJoin" in plan


def test_q7_broadcasts_all_dims(spark):
    """Q7's supplier and both nation lookups must broadcast; only the
    lineitem⋈orders fact join may shuffle."""
    plan = formatted_plan(spark, "q7_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "partial_sum" in plan


def test_boilerplate_filter_is_broadcast_anti_join(spark):
    """The frequent-line set must come back to the exploded side as a
    broadcast left-anti join — shuffling the full exploded corpus to filter
    against a tiny boilerplate set is the failure mode."""
    plan = formatted_plan(spark, "boilerplate_removal")
    assert re.search(r"BroadcastHashJoin.*LeftAnti|LeftAnti.*BuildRight", plan)


def test_neardup_default_blocking_is_equi_join_not_cartesian(spark):
    """Without any caller-supplied blocking column, the embedding near-dup
    self-join must block on the data-derived sign bucket — an equi-join —
    never degrade to a cartesian product (VERDICT r01 'What's wrong' #3)."""
    plan = formatted_plan(spark, "embed_neardup_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_neardup_all_pairs_requires_explicit_opt_in(spark):
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.similarity import embedding_neardup_pairs
    from riot_graphs_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    blocked = embedding_neardup_pairs(emb, threshold=-1.0)
    allp = embedding_neardup_pairs(emb, threshold=-1.0, allow_all_pairs=True)
    n = emb.count()
    assert allp.count() == n * (n - 1) // 2  # true all-pairs
    assert blocked.count() < allp.count()  # blocking really restricts


def test_q22_anti_join_builds_on_key_only(spark):
    """NOT EXISTS must be a left-anti join whose orders side is pruned to
    the key column before the exchange."""
    plan = formatted_plan(spark, "q22_idle_customers")
    assert "LeftAnti" in plan
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(cols == "o_custkey:bigint" for cols in m), m


def test_q2_correlated_min_is_one_window_not_self_join(spark):
    """The correlated MIN subquery must decorrelate into a per-part window
    over the deduped supply pairs — a shuffled self-join of supply against
    its own aggregate is the failure mode."""
    plan = formatted_plan(spark, "q2_min_cost_supplier")
    # 3 scans (lineitem, part, supplier), each named once in the tree and
    # once in the detail section
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3
    assert re.search(r"min\(s_acctbal#\d+\)", plan)  # window min
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q17_correlated_avg_joins_broadcast_both_ways(spark):
    """Q17's brand filter and the per-part half-average stats must both
    come back to lineitem as broadcast joins; the only shuffles are the
    bounded per-part aggregate and the final single-row reduce."""
    plan = formatted_plan(spark, "q17_small_qty_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert shuffle_count(plan) <= 2


def test_q21_double_exists_is_single_expand_aggregate(spark):
    """Q21's EXISTS + NOT EXISTS pair must decorrelate into one per-order
    multi-distinct aggregate (Expand), not two self-joins of lineitem; no
    nested-loop or cartesian fallback anywhere."""
    plan = formatted_plan(spark, "q21_waiting_suppliers")
    assert "Expand" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the Expand rewrite runs both distinct counts as partial aggregates
    assert "partial_count" in plan


def test_cdc_compaction_is_single_shuffle_partial_agg(spark):
    plan = formatted_plan(spark, "cdc_latest_state")
    # max_by(struct, seq) pre-reduces each key map-side; a rank-window plan
    # would show Window + a full sort instead of a partial aggregate.
    assert "partial_max_by" in plan
    assert "Window" not in plan
    assert shuffle_count(plan) == 1


def test_m4_downsample_is_single_shuffle_partial_agg(spark):
    plan = formatted_plan(spark, "ts_m4_downsample")
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert "Window" not in plan
    assert shuffle_count(plan) == 1


def test_chunk_documents_is_shuffle_free(spark):
    plan = formatted_plan(spark, "chunk_documents")
    assert shuffle_count(plan) == 0  # sequence+explode+substring projection


def test_expectation_report_is_one_pass(spark):
    plan = formatted_plan(spark, "dq_orders_expectations")
    # one scan of orders: the count_distinct rides the same read via a
    # two-phase aggregate, never a second scan of the table
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_quantize_embeddings_is_shuffle_free(spark):
    plan = formatted_plan(spark, "emb_quantize_int8")
    assert shuffle_count(plan) == 0  # row-local posexplode projection


def test_rsi_is_single_shuffle(spark):
    plan = formatted_plan(spark, "ts_rsi")
    assert shuffle_count(plan) == 1  # one hash partition on dims, per-series sort


def test_weighted_sample_is_single_shuffle(spark):
    plan = formatted_plan(spark, "sample_weighted")
    assert shuffle_count(plan) == 1


def test_repeated_spans_single_scan_single_shuffle(spark):
    plan = formatted_plan(spark, "repeated_spans")
    # The winnowing MIN itself is row-local array math (no per-gram SQL
    # window); the count-per-fingerprint runs as ONE window over ONE
    # exchange — the agg+join-back form would scan and fingerprint twice.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert shuffle_count(plan) == 1


def test_split_assignment_is_shuffle_free(spark):
    plan = formatted_plan(spark, "split_train_val_test")
    assert shuffle_count(plan) == 0  # pure row-local hash projection


def test_heatmap_is_single_shuffle_partial_agg(spark):
    plan = formatted_plan(spark, "ts_heatmap")
    assert "partial_count" in plan
    assert shuffle_count(plan) == 1


def test_referential_audit_scans_key_columns_only(spark):
    plan = formatted_plan(spark, "dq_referential_integrity")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    # every scan is pruned to exactly one key column
    assert schemas and all(s.count(":") == 1 for s in schemas), schemas


def test_ohlc_is_single_shuffle_partial_agg(spark):
    plan = formatted_plan(spark, "ts_ohlc_daily")
    assert "partial_min_by" in plan and "partial_max_by" in plan
    assert shuffle_count(plan) == 1


def test_text_normalize_is_shuffle_free(spark):
    plan = formatted_plan(spark, "text_normalize")
    assert shuffle_count(plan) == 0  # pure row-local regexp/translate chain


def test_bm25_broadcasts_stats_and_filters_terms_at_scan(spark):
    plan = formatted_plan(spark, "rank_bm25")
    # the term-df table and 1-row corpus stats ride in as broadcasts (the
    # doc-keyed tf⋈dl join may legitimately shuffle at scale)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the query-term restriction is applied at/near the scan: the exploded
    # token stream is filtered by the literal IN list before any join
    assert re.search(r"token.*IN \(|token#\d+ IN", plan) or "isin" in plan.lower() or "In(" in plan


def test_kmeans_assignment_is_shuffle_free(spark):
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.similarity import kmeans_assign
    from riot_graphs_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = kmeans_assign(emb, [[0.0] * 8, [1.0] * 8])
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert shuffle_count(plan) == 0  # broadcast-literal centroids, row-local argmin


def test_corpus_shards_has_no_global_sort(spark):
    plan = formatted_plan(spark, "corpus_shards")
    # The window must partition on shard (hash exchange) — a global ORDER BY
    # rank would show a range-partitioned exchange into one total order.
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(shard#", plan)


def test_incremental_novel_is_semi_join_no_pair_expansion(spark):
    plan = formatted_plan(spark, "dedup_incremental_novel")
    # collision probe must be LeftSemi (one hit per batch doc, never the
    # in-bucket pair blowup) and the survivors a LeftAnti back to the batch
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_influxql_time_filter_reaches_scan(spark):
    # Dashboard time ranges MUST prune the scan — the shim's WHERE time
    # bounds push to parquet like the hand-written time_range operator (P9).
    plan = formatted_plan(spark, "influxql_hourly_mean")
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(ts", plan)
    assert re.search(r"PushedFilters:.*LessThan\(ts", plan)
    assert shuffle_count(plan) == 1  # one bucketed partial agg


def test_ngram_jaccard_has_no_per_doc_broadcast(spark):
    """The per-doc shingle count must ride the exploded rows through the
    shingle join — never come back as a join against a doc-keyed side
    table, and NEVER as a broadcast of one (corpus-cardinality broadcast
    OOMs the driver at scale; VERDICT r02 'What's wrong' #2)."""
    plan = formatted_plan(spark, "dedup_ngram_jaccard")
    # exactly one join in the whole plan: the shingle self-join (it MAY be
    # size-based-broadcast at test scale — Catalyst's stats call, which
    # flips to SMJ at real scale; a hint would not)
    assert (
        len(
            re.findall(
                r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
                plan,
            )
        )
        == 1
    )
    from riot_graphs_spark.plans.driver_queries import QUERIES

    logical = str(
        QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)._jdf.queryExecution().analyzed()
    )
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


def test_repeated_span_ranges_gate_is_aggregate_not_window(spark):
    """The ≥min_docs fingerprint gate must be a partial-aggregable
    count(distinct doc) + semi-join, not dense_rank over
    partitionBy(fingerprint): a ubiquitous boilerplate k-gram would land
    every occurrence in ONE window sort task, and AQE can split a skewed
    join but never a window (VERDICT r02 'What's wrong' #3)."""
    plan = formatted_plan(spark, "repeated_span_ranges")
    assert "LeftSemi" in plan
    assert "partial_count(distinct" in plan
    # the only Window stages left are the doc-keyed island merge
    for m in re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^,]*),", plan):
        assert "fingerprint" not in m.group(1)


def test_pq_encode_is_shuffle_free(spark):
    """PQ encoding must stay a row-local argmin over broadcast-literal
    codebooks — one corpus scan, zero exchanges (the index-build write
    path at 100 TB)."""
    plan = formatted_plan(spark, "pq_assign_fixed")
    assert shuffle_count(plan) == 0


def test_pq_topk_broadcasts_queries_no_corpus_shuffle_before_cut(spark):
    """The ADC scan streams the corpus once against broadcast query LUTs;
    the only corpus-sized exchange is the per-query top-N window cut
    (same posture as cosine_topk)."""
    plan = formatted_plan(spark, "ann_pq_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_avoids_nested_loop(spark):
    """The interval×interval overlap join must be a banded hash join with
    the first-shared-band residual — BroadcastNestedLoopJoin is the O(N·M)
    failure mode the operator exists to avoid."""
    plan = formatted_plan(spark, "j6_interval_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_topk_rank_cuts_run_partial_window_group_limit(spark):
    """Every per-query top-k (row_number <= k over partition by query) must
    plan a PARTIAL WindowGroupLimit BELOW the exchange — Spark's map-side
    partial top-k, which bounds what any single post-shuffle sort task sees
    to tasks×k rows instead of the full per-query candidate set. This is
    the property that makes the brute-force/ADC scans corpus-scale-safe; a
    salted two-phase cut was measured 5× SLOWER than relying on it."""
    for name in ("ann_cosine_topk", "ann_pq_topk", "bm25_search_topk"):
        plan = formatted_plan(spark, name)
        assert re.search(r"row_number\(\), \d+, Partial", plan), name


def test_skew_profile_no_global_window_on_key_table(spark):
    """The skew diagnostic must never run a single-partition window over
    the full key-count table: the top-N rank is a partial WindowGroupLimit
    and the Gini comes from the count-of-counts table (one row per distinct
    frequency). Only windows over small derived tables may remain."""
    plan = formatted_plan(spark, "skew_profile_custkey")
    # the salted pre-cut window runs before the global re-rank (Spark's
    # WindowGroupLimit doesn't fire for empty-partition windows, so the
    # operator salts by hand — measured necessary, unlike query-keyed cuts)
    assert re.search(r"windowspecdefinition\(_salt", plan)


def test_winsorize_bounds_broadcast_one_shuffle(spark):
    # The bounds table must come back as a broadcast (never a sort-merge on
    # the fact) and the whole plan carries exactly one real Exchange: the
    # percentile partial-agg. A second shuffle would mean the clamp re-keyed
    # the fact.
    plan = formatted_plan(spark, "dq_winsorize_events")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert shuffle_count(plan) == 1


def test_l2_normalize_is_zero_shuffle(spark):
    plan = formatted_plan(spark, "emb_l2_normalize")
    assert shuffle_count(plan) == 0
    assert "Generate" in plan  # posexplode, row-local


def test_containment_is_hash_join_not_nested_loop(spark):
    # the inverted-index self-join must be an equi-join on the shingle key;
    # a nested-loop here would be all-pairs over the corpus
    plan = formatted_plan(spark, "dedup_containment_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_ccnet_buckets_window_is_narrow(spark):
    # r13: buckets cut equal-mass on the per-lang DISTINCT 6-dp score
    # axis (no per-row ntile); the cumulative window runs over the
    # grouped (lang, score) table — the document text column must not
    # survive into any window's exchange
    plan = formatted_plan(spark, "ccnet_perplexity_buckets")
    assert "ntile" not in plan
    m = re.search(r"Window.*?Input \[\d+\]: \[([^\]]*)\]", plan, re.S)
    window_into = m.group(1) if m else ""
    assert "text#" not in window_into


def test_heavy_hitters_recount_is_broadcast_not_shuffle_join(spark):
    plan = formatted_plan(spark, "freq_heavy_hitters")
    # Candidate set and corpus total both arrive via broadcast; the only
    # Exchanges are the candidate-distinct and the bounded recount agg —
    # never a full-cardinality distinct-key shuffle of the raw stream.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total crossJoin


def test_global_index_no_global_sort_on_fact(spark):
    plan = formatted_plan(spark, "corpus_global_index")
    # The fact-side window partitions on the bucket key; the only
    # single-partition Exchange allowed is the buckets-row offset ledger.
    assert re.search(r"hashpartitioning\(_b", plan)
    assert len(re.findall(r"Arguments: SinglePartition", plan)) <= 1
    # Offsets reach the fact by broadcast, not shuffle.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_url_report_single_domain_shuffle_and_broadcast_total(spark):
    plan = formatted_plan(spark, "url_dedup_domains")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row corpus total
    assert "SortMergeJoin" not in plan
    # count_distinct(url) under domain key: partial aggregation present.
    assert "partial_count" in plan


def test_leakage_train_side_never_shuffles_corpus(spark):
    plan = formatted_plan(spark, "ngram_leakage_report")
    # Eval gram set and the surviving train-gram set both broadcast.
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_level_shift_single_series_exchange_with_group_limit(spark):
    plan = formatted_plan(spark, "ts_level_shift")
    # Frame sums + rank share the event_type partitioning: exactly one
    # fact-side Exchange, and the top-k cut runs the partial
    # WindowGroupLimit before the final sort.
    assert shuffle_count(plan) == 1
    assert "WindowGroupLimit" in plan


def test_collocations_totals_broadcast_no_cartesian_blowup(spark):
    plan = formatted_plan(spark, "text_collocations_pmi")
    # probability totals arrive as a broadcast 1-row table; scoring joins
    # are vocab-keyed hash joins
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals cross
    assert "CartesianProduct" not in plan


def test_triangle_wedge_join_is_equi_not_cartesian(spark):
    plan = formatted_plan(spark, "graph_triangle_profile")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sorted_neighborhood_rank_is_range_exchange_plus_broadcast(spark):
    # checkpoint=False exposes the rank lineage (the registered query's
    # lazy checkpoint hides it from explain)
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.dedup import sorted_neighborhood_pairs
    from riot_graphs_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    key = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 24
    )
    df = sorted_neighborhood_pairs(docs, key, w=3, checkpoint=False)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the global rank must come from a RANGE exchange (+ in-partition
    # counters + broadcast offsets), never a single-partition window over
    # the fact. Every SinglePartition here is the PARTITION-COUNT ledger
    # (bounded by #partitions), duplicated into the four unchecked-pointed
    # subtrees (2 union branches x 2 join sides); each must sit above the
    # count aggregate, not the raw fact.
    assert "rangepartitioning" in plan
    singles = len(re.findall(r"Arguments: SinglePartition", plan))
    aggs = len(re.findall(r"partial_count", plan))
    assert singles <= 4 and aggs >= singles
    assert "BroadcastHashJoin" in plan  # offsets ledger


# --------------------------------------------------------------------------
# round-5 additions
# --------------------------------------------------------------------------
def test_ewma_window_is_codegen_single_shuffle(spark):
    # The truncated EWMA is pure lag-window arithmetic: exactly one
    # Exchange (the series-key window partitioning), no Python workers,
    # no join of any kind.
    plan = formatted_plan(spark, "ts_ewma_window")
    assert shuffle_count(plan) == 1
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # Scan -> Exchange -> Sort -> Window -> Project and nothing else
    assert re.search(r"\(4\) Window", plan) and re.search(r"\(5\) Project", plan)


def test_heavy_hitters_grouped_recount_is_broadcast(spark):
    # Same guarantee as the global form, per group: candidates and
    # per-group totals arrive via broadcast; the raw token stream is never
    # shuffled on its full distinct (group, key) cardinality — the only
    # Exchanges sit above the bounded candidate/total/recount aggregates.
    plan = formatted_plan(spark, "freq_heavy_hitters_grouped")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_paragraph_dedup_units_are_row_local(spark):
    # Unit (block) construction must be row-local array code: the only
    # Exchanges are the two keyed aggregations (unit-hash cross-doc count,
    # per-doc rollup) plus the hash join back — never a window or sort
    # over the corpus, and no Python workers.
    plan = formatted_plan(spark, "dedup_paragraph_hashes")
    assert "Generate" in plan  # explode of row-local block array
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" not in plan
    assert shuffle_count(plan) <= 3


def test_rollup_merge_never_rejoins_fact(spark):
    # day->week state merge: two stacked partial-aggregable HashAggregates
    # over ONE fact scan — no join back to events, no windows.
    plan = formatted_plan(spark, "rollup_incremental_weekly")
    assert "Join" not in plan and "Window" not in plan
    assert shuffle_count(plan) <= 2
    # one scan operator (formatted mode prints each op twice: tree + detail)
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1


def test_cube_is_one_pass_expand_aggregate(spark):
    # CUBE = Expand (4 grouping sets) + one partial/final aggregate pair:
    # single scan, single shuffle, no union of per-level queries.
    plan = formatted_plan(spark, "cube_order_status_priority")
    assert "Expand" in plan
    assert "Union" not in plan and "Join" not in plan
    assert shuffle_count(plan) == 1
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1


def test_correlation_matrix_is_one_agg_no_join(spark):
    # All O(k^2) moments ride a single partial-aggregable agg over one
    # scan; the per-pair r computation is a row-local explode — no joins,
    # no windows, exactly one (single-partition final-agg) plan.
    plan = formatted_plan(spark, "profile_correlations")
    assert "Join" not in plan and "Window" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert "partial" in plan.lower()  # map-side combine of the moments


def test_assoc_grid_joins_are_broadcast(spark):
    # The level-grid construction and the joint-count attach must all be
    # broadcast joins over the (|A|x|B|)-bounded tables — the only
    # corpus-sized exchange is the joint-count groupBy.
    plan = formatted_plan(spark, "assoc_lang_source")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_histogram_rollup_percentiles_single_scan_no_join(spark):
    # day->week histogram-state merge + read-time percentile derivation:
    # stacked partial-aggregable HashAggregates over ONE fact scan, then
    # windows over STATE rows only — never a join back to events.
    plan = formatted_plan(spark, "rollup_incremental_percentiles")
    assert "Join" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert shuffle_count(plan) <= 3
    assert "EvalPython" not in plan


def test_psi_is_two_scans_no_join(spark):
    # PSI = one tagged-union count groupBy (one scan per snapshot side);
    # eps-clamped shares make both-empty bins free, so there is NO bin
    # spine and NO join anywhere — totals are windows over the observed
    # (group, bin) count rows only, never a re-scan of the fact.
    plan = formatted_plan(spark, "psi_value_drift")
    assert "Join" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 2
    assert shuffle_count(plan) <= 2
    assert "EvalPython" not in plan


def test_ks_is_two_scans_windows_over_distinct_axis(spark):
    # KS = tagged-union count groupBy + windows over the DISTINCT-value
    # axis; no joins anywhere.
    plan = formatted_plan(spark, "ks_value_drift")
    assert "Join" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 2
    assert shuffle_count(plan) <= 2
    assert "EvalPython" not in plan


def test_mi_single_scan_windows_over_contingency(spark):
    # MI/NMI: ONE corpus scan into the joint groupBy; marginals, total,
    # and entropy gates are windows over the contingency table — separate
    # marginal aggregates would each rescan the corpus (the pre-fix plan
    # had 8 scans).
    plan = formatted_plan(spark, "mi_lang_source")
    assert "Join" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert shuffle_count(plan) <= 2
    assert "EvalPython" not in plan


def test_trending_daily_hh_broadcasts_candidates(spark):
    # Windowed heavy hitters: phase-1 MG candidates and per-day totals
    # come back BROADCAST onto the recount join — the fact never shuffles
    # on (day, user), only candidate rows reach the exact recount.
    plan = formatted_plan(spark, "freq_trending_daily_users")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert shuffle_count(plan) <= 3


def test_centroid_drift_two_scans_no_join(spark):
    # tagged-union posexplode into one (cell, dim) partial-aggregable
    # groupBy + the per-cell reduce: two filtered scans of embeddings,
    # two exchanges, no joins/windows/Python anywhere.
    plan = formatted_plan(spark, "emb_centroid_drift")
    assert "Join" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 2
    assert shuffle_count(plan) <= 2
    assert ") Window" not in plan and "EvalPython" not in plan


def test_equi_depth_edges_single_scan_no_join(spark):
    # (group, value) count groupBy + distinct-axis windows + one k-ary
    # conditional-min aggregate; the edge unpivot is a row-local explode.
    plan = formatted_plan(spark, "equi_depth_value_edges")
    assert "Join" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert shuffle_count(plan) <= 2
    assert "EvalPython" not in plan


def test_ipf_single_scan_windows_over_cells(spark):
    # IPF raking: ONE corpus scan into the joint-count groupBy; every
    # iteration is windows over the observed-cells table — no joins, no
    # fact re-scans however many iterations.
    plan = formatted_plan(spark, "mixture_ipf_weights")
    assert "Join" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert "EvalPython" not in plan


def test_ks_gof_single_scan_no_join(spark):
    # one-sample KS: one (group, value) count groupBy + distinct-axis
    # windows; the reference CDF is a row-local expression — no second
    # input, no join.
    plan = formatted_plan(spark, "ks_uniform_fit")
    assert "Join" not in plan
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1
    assert shuffle_count(plan) <= 2
    assert "EvalPython" not in plan


def test_quantile_normalize_no_cartesian_single_fact_reread(spark):
    # the pooled lookup must be the union+window as-of form over the
    # distinct-value axis — never a (group,value) x pooled cross join;
    # rows map back through one equi-join.
    plan = formatted_plan(spark, "quality_quantile_normalized")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_roc_auc_is_counts_based_no_row_ranking(spark):
    # AUC must rank the DISTINCT-SCORE axis (windows over aggregated
    # counts), never per-row: the aggregate runs BEFORE the window, and
    # nothing is a row_number/ntile over the corpus.
    plan = formatted_plan(spark, "quality_auc_report")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "row_number" not in plan and "ntile" not in plan
    # the window input is the (score) count aggregate, not raw rows
    assert re.search(r"partial_(sum|count)", plan)


def test_lift_table_has_no_global_row_rank(spark):
    plan = formatted_plan(spark, "lift_quality_deciles")
    assert "ntile" not in plan and "row_number" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ndcg_qrels_join_is_broadcast(spark):
    plan = formatted_plan(spark, "ndcg_search_eval")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_wilson_ci_single_shuffle_partial_agg(spark):
    plan = formatted_plan(spark, "keep_rate_wilson_ci")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan


def test_bootstrap_ci_is_partial_aggregable_no_python(spark):
    # the xB replicate explode must reduce through partial aggregation
    # (map-side combine on the replicate key), everything Catalyst-side
    plan = formatted_plan(spark, "quality_mean_bootstrap_ci")
    assert "Generate explode" in plan or "Generate" in plan
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cohen_kappa_marginal_join_is_broadcast(spark):
    plan = formatted_plan(spark, "kappa_lang_agreement")
    assert "BroadcastHashJoin" in plan  # levels-sized marginal join
    assert "CartesianProduct" not in plan


def test_spearman_no_global_row_rank(spark):
    # rank maps come from counts + distinct-axis windows; rows join their
    # rank back — never a per-row rank() over the corpus
    plan = formatted_plan(spark, "spearman_quality_length")
    assert "row_number" not in plan and "ntile" not in plan
    assert "rank(" not in plan
    assert "CartesianProduct" not in plan


def test_autocorrelation_single_series_sort(spark):
    # all lags ride one per-series window sort; products stay Catalyst
    plan = formatted_plan(spark, "ts_autocorrelation")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    # one scan feeds both the mean window and the lag windows
    assert len(set(re.findall(r"\(\d+\) Scan parquet", plan))) == 1


def test_benford_is_single_shuffle_partial_agg(spark):
    plan = formatted_plan(spark, "benford_totalprice")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "EvalPython" not in plan


def test_lexical_diversity_is_shuffle_free(spark):
    # row-local higher-order array functions: zero Exchanges
    plan = formatted_plan(spark, "text_lexical_diversity")
    assert shuffle_count(plan) == 0
    assert "EvalPython" not in plan


def test_seasonal_decompose_seasonal_map_is_broadcast(spark):
    plan = formatted_plan(spark, "ts_seasonal_decompose")
    assert "BroadcastHashJoin" in plan  # (series x period) map join
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_cross_correlation_aggregates_before_windows(spark):
    # the corpus reduces to the bucket axis BEFORE any window runs
    plan = formatted_plan(spark, "ts_cross_correlation")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_auc_bootstrap_partial_agg_and_partitioned_windows(spark):
    # the xB explode must reduce through a partial aggregate before any
    # window, and the replicate windows are PARTITIONED (never global)
    plan = formatted_plan(spark, "quality_auc_bootstrap_ci")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_delta_auc_paired_partial_agg_partitioned_windows(spark):
    # one corpus scan fans onto the 2-ary scorer axis, reduces through a
    # partial aggregate, and every rank-sum window is PARTITIONED by
    # (replicate, scorer) — nothing global, no per-row Python
    plan = formatted_plan(spark, "quality_delta_auc_paired")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_mean_ci_by_source_broadcasts_boot_side(spark):
    # per-group bootstrap: the |groups|xB boot relation broadcasts into
    # the final join (never a shuffle of the obs side against it)
    plan = formatted_plan(spark, "quality_mean_ci_by_source")
    assert re.search(r"partial_(sum|count)", plan)
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_corpus_build_manifest_stages_reuse_checkpoints(spark):
    # the six stage aggregates must read the materialized (checkpointed)
    # narrow projections — the FINAL plan re-scans NO parquet: the two
    # corpus scans + eval read happened once, upstream of the checkpoints
    plan = formatted_plan(spark, "corpus_build_manifest")
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_mcnemar_single_partial_agg_no_python(spark):
    # four conditional counts ride ONE partial-aggregable scan
    plan = formatted_plan(spark, "mcnemar_langid_vs_majority")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "Window" not in plan  # nothing ranks; pure aggregation


def test_js_divergence_grid_is_broadcast(spark):
    # the groups x keys cell grid crosses two BROADCAST marginal tables —
    # never a fact-sized join side, never a cartesian of facts
    plan = formatted_plan(spark, "js_source_lang_divergence")
    assert re.search(r"partial_(sum|count)", plan)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_median_bootstrap_partitioned_windows(spark):
    # xB explode reduces through a partial aggregate; median windows are
    # PARTITIONED by replicate — nothing global, no Python
    plan = formatted_plan(spark, "doclen_median_bootstrap_ci")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_coverage_windows_after_partial_agg(spark):
    # the corpus explode reduces through a partial count BEFORE any
    # window — ranks/cumsums run on the vocab axis only
    plan = formatted_plan(spark, "vocab_coverage_curve")
    assert re.search(r"partial_count", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_perm_test_partial_agg_no_python(spark):
    # the xB relabel explode reduces straight into a (replicate, arm)
    # partial aggregate; no Python, no cartesian of facts
    plan = formatted_plan(spark, "perm_test_user_value")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_rate_broadcasts_eval_grams(spark):
    # the eval n-gram side must broadcast into the train-side explode
    plan = formatted_plan(spark, "contamination_rate_by_source")
    assert "BroadcastHashJoin" in plan
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan


def test_readability_rowlocal_no_shuffle(spark):
    # pure row-local regex/array math: zero exchanges, zero Python
    plan = formatted_plan(spark, "text_readability")
    assert shuffle_count(plan) == 0
    assert "EvalPython" not in plan


def test_lang_mix_entropy_rowlocal_no_shuffle(spark):
    # per-doc profile-hit entropy: pure row-local, zero exchanges
    plan = formatted_plan(spark, "lang_mix_entropy")
    assert shuffle_count(plan) == 0
    assert "EvalPython" not in plan


def test_vocab_entropy_partial_agg_then_vocab_axis(spark):
    # explode reduces through a partial count; entropy sums run on the
    # (group, token) axis, never re-scanning the corpus
    plan = formatted_plan(spark, "vocab_entropy_by_source")
    assert re.search(r"partial_count", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_split_dup_leakage_groups_axis(spark):
    # one fingerprint groupBy; pair arithmetic runs on the groups axis
    plan = formatted_plan(spark, "split_dup_leakage")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_emb_similarity_hist_broadcasts_sample(spark):
    # the sampled pair join broadcasts one side (sample-sized, never the
    # full corpus); the histogram reduces through a partial count
    plan = formatted_plan(spark, "emb_similarity_hist")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert re.search(r"partial_count", plan)
    assert "EvalPython" not in plan


def test_hist_calibration_broadcasts_bin_map(spark):
    # the <=nbins rate map broadcasts back onto the projection
    plan = formatted_plan(spark, "quality_hist_calibration")
    assert "BroadcastHashJoin" in plan
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan


def test_integrity_checksum_single_partial_agg(spark):
    # one partial-aggregable groupBy; hashing is row-local codegen
    plan = formatted_plan(spark, "integrity_checksum_orders")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert shuffle_count(plan) == 1


def test_cdc_chunking_rowlocal_single_shuffle(spark):
    # chunking is row-local array math; the chunk-hash groupBy (+ the
    # broadcast n_docs aggregate) is the only corpus-sized exchange
    plan = formatted_plan(spark, "cdc_chunk_dedup_report")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"partial_(sum|count)", plan)


def test_emb_dim_stats_partial_agg(spark):
    # the dims x values explode reduces through a partial aggregate
    # before the dim shuffle; no Python anywhere
    plan = formatted_plan(spark, "emb_dim_stats")
    assert re.search(r"partial_(sum|count|min|max)", plan)
    assert "EvalPython" not in plan
    assert shuffle_count(plan) == 1


def test_blocklist_screen_zero_shuffle(spark):
    # unrolled conditional aggregates: one scan, no exchange beyond the
    # single-row aggregate
    plan = formatted_plan(spark, "blocklist_screen_report")
    assert "EvalPython" not in plan
    assert shuffle_count(plan) <= 1


def test_k_anonymity_single_combo_groupby(spark):
    # combo groupBy + the single-row summary's gather = exactly two
    # exchanges, the second over the combos axis only
    plan = formatted_plan(spark, "privacy_k_anonymity")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert shuffle_count(plan) <= 2


def test_cdc_neardup_pairs_no_cartesian(spark):
    # pairing is a chunk-hash equi-join inside capped buckets
    plan = formatted_plan(spark, "cdc_chunk_neardup_pairs")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert re.search(r"partial_(sum|count)", plan)


def test_rbo_literal_weights_no_python(spark):
    # the weight map is literals; everything joins on (query, doc)
    plan = formatted_plan(spark, "search_rbo_lexical_vs_dense")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_simpsons_check_users_axis_windows(spark):
    # the quintile/ntile windows run on the USERS axis after the event
    # pre-aggregation — never over raw events; no Python
    plan = formatted_plan(spark, "ab_simpsons_check")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_mann_kendall_pairs_on_bucket_axis(spark):
    # the facts reduce to per-bucket means BEFORE the O(n^2) pair join —
    # the self-join input is days-per-series, never fact-sized
    plan = formatted_plan(spark, "ts_mann_kendall")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_seasonal_strength_bucket_axis_only(spark):
    # facts reduce to hourly buckets BEFORE the decomposition windows
    # and moment aggregate; no Python, no cartesian
    plan = formatted_plan(spark, "ts_seasonal_strength")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_theil_sen_pairs_on_bucket_axis(spark):
    # facts reduce to per-day means BEFORE the O(n^2) pair self-join,
    # and the weighted-median windows run on the distinct-slope axis —
    # the join input is days-per-series, never fact-sized; no Python
    plan = formatted_plan(spark, "ts_theil_sen")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cusum_changepoint_bucket_axis_only(spark):
    # facts reduce to per-day integer-scaled means BEFORE the CUSUM
    # windows and the x60 permutation explode — everything after the
    # first groupBy is days-per-series sized; no Python, no cartesian
    # product (the only broadcast-nested loops are tiny dim joins)
    plan = formatted_plan(spark, "ts_cusum_changepoint")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_mann_whitney_counts_based(spark):
    # facts reduce in one (value, group) partial aggregate; the rank
    # arithmetic runs on the distinct-value axis; the only nested-loop
    # joins are broadcast one-row combines; no Python
    plan = formatted_plan(spark, "mw_doclen_sources")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_welch_t_single_reduction(spark):
    # one partial-aggregable (group) reduction carries n / sum / sumsq;
    # everything downstream is a broadcast one-row combine; no Python
    plan = formatted_plan(spark, "welch_value_click_purchase")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_anova_single_reduction(spark):
    # one partial-aggregable (group) reduction carries n/sum/sumsq;
    # SSB/SSW derive on the groups axis; no Python, no cartesian
    plan = formatted_plan(spark, "anova_value_event_types")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_kruskal_wallis_counts_based(spark):
    # facts reduce in one (value, group) partial aggregate; midrank
    # arithmetic runs on the distinct-value axis; no Python
    plan = formatted_plan(spark, "kw_doclen_by_lang")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_zipf_fit_topk_head(spark):
    # token counts reduce in one partial aggregate; the head is a TopK
    # (TakeOrdered), never a full vocabulary sort-shuffle; no Python
    plan = formatted_plan(spark, "vocab_zipf_fit")
    assert re.search(r"partial_(sum|count)", plan)
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_forecast_backtest_bucket_axis(spark):
    # facts reduce to daily means BEFORE the lag windows and the two
    # per-method metric aggregates; everything downstream is
    # buckets-per-series sized; no Python, no cartesian
    plan = formatted_plan(spark, "ts_forecast_backtest")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_pairwise_welch_groups_axis(spark):
    # one (group) partial aggregate; the C(k,2) pair grid is a
    # broadcast self-join on the groups axis; no Python, no cartesian
    plan = formatted_plan(spark, "pairwise_welch_event_types")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_silhouette_zero_shuffle_scoring(spark):
    # centroids are broadcast literals, scoring is row-local; the ONLY
    # exchange is the final per-cell partial aggregate; no Python
    plan = formatted_plan(spark, "emb_silhouette_fixed_cells")
    assert re.search(r"partial_(sum|count)", plan)
    assert plan.count("Exchange") <= 2  # agg exchange (+AQE read)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ab_power_mde_user_axis(spark):
    # events pre-aggregate per user (partial max), arms reduce on the
    # users axis, the pair combine is broadcast; no Python
    plan = formatted_plan(spark, "ab_power_mde")
    assert re.search(r"partial_(sum|count|max)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_bh_fdr_hypotheses_axis(spark):
    # the BH sort/suffix-min windows run on the 10-pair hypotheses
    # axis after the (group) partial aggregate; no Python
    plan = formatted_plan(spark, "pairwise_welch_bh_fdr")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_davies_bouldin_cells_axis(spark):
    # one zero-shuffle assignment scan + one per-cell partial
    # aggregate; ratio joins run on the k-row cells axis (broadcast);
    # no Python, no cartesian
    plan = formatted_plan(spark, "emb_davies_bouldin_fixed")
    assert re.search(r"partial_(sum|count)", plan)
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_levene_two_scans_broadcast_medians(spark):
    # one (value, group) count reduction for the medians (broadcast
    # back, k rows) + one ANOVA reduction over z; median windows on
    # the distinct-value axis; no Python, no cartesian
    plan = formatted_plan(spark, "levene_doclen_by_lang")
    assert re.search(r"partial_(sum|count)", plan)
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dominant_period_bucket_axis(spark):
    # facts reduce to hourly means BEFORE the buckets x 47-candidate
    # projection grid and the rank window; no Python, no cartesian
    plan = formatted_plan(spark, "ts_dominant_period")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_join_audit_key_axis(spark):
    # each side reduces to per-key counts (partial-aggregable) BEFORE
    # the full-outer combine on the key axis; one row out; no Python
    plan = formatted_plan(spark, "join_audit_lineitem_orders")
    assert re.search(r"partial_(sum|count)", plan)
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_rolling_corr_bucket_axis(spark):
    # facts reduce in one pivoted bucket groupBy; the rolling-sum
    # window runs on the merged day axis only; no Python, no cartesian
    plan = formatted_plan(spark, "ts_rolling_corr_click_view")
    assert re.search(r"partial_(sum|count|max)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cochran_armitage_user_axis(spark):
    # events pre-aggregate per user; the quintile window and the
    # 5-level moment sums run on the users/levels axes; no Python
    plan = formatted_plan(spark, "trend_conversion_by_activity")
    assert re.search(r"partial_(sum|count|max)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_logrank_time_axis(spark):
    # events reduce per user, then per (duration, arm); at-risk suffix
    # sums run on the (time x arm) grid — distinct durations, never
    # unit-sized; no Python, no cartesian over data (the grid cross
    # join is a broadcast of the 2-row arms table)
    plan = formatted_plan(spark, "logrank_churn_by_parity")
    assert re.search(r"partial_(sum|count|min|max)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_heaps_fit_doc_axis_walk(spark):
    # the token explode reduces in (token -> first doc) and per-doc
    # count partial aggregates; the cumulative walk and regression run
    # on the doc axis; no Python, no cartesian
    plan = formatted_plan(spark, "vocab_heaps_fit")
    assert re.search(r"partial_(sum|count|min)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_calinski_harabasz_dims_axis(spark):
    # zero-shuffle assignment scan; (cell, dim) partial aggregate;
    # the three moment totals combine as broadcast one-row joins;
    # no Python, no cartesian
    plan = formatted_plan(spark, "emb_calinski_harabasz_fixed")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_kappa_grid(spark):
    # one confusion groupBy is the only fact-sized shuffle; the
    # expected term is a broadcast levels-squared grid; no Python
    plan = formatted_plan(spark, "kappa_weighted_length_deciles")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_eb_shrunk_rates_groups_axis(spark):
    # one unit-level (group) reduction; the prior fit is one aggregate
    # over the groups axis broadcast back as a single row; no Python
    plan = formatted_plan(spark, "keep_rate_eb_shrunk_by_source")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_jaccard_token_axis(spark):
    # one distinct (group, token) reduction; the intersection self-join
    # runs on the token axis with C(G,2)-bounded fanout; the pair grid
    # is broadcast; no Python, no cartesian
    plan = formatted_plan(spark, "vocab_jaccard_sources")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_nelson_aalen_time_axis(spark):
    # one per-duration reduction; hazard increments and cumulative
    # sums run on the time axis only; no Python, no cartesian
    plan = formatted_plan(spark, "retention_na_hazard")
    assert re.search(r"partial_(sum|count|min|max)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_interarrival_expfit_axes(spark):
    # per-series lag window (the elapsed plan class) -> distinct-gap
    # counts-based KS; no Python, no cartesian
    plan = formatted_plan(spark, "ts_interarrival_expfit")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_survival_summary_time_axis(spark):
    # one per-user + per-duration reduction; segment areas and the
    # final one-row summary run on the KM time axis; no Python
    plan = formatted_plan(spark, "retention_survival_summary")
    assert re.search(r"partial_(sum|count|min|max)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ari_contingency_axis(spark):
    # zero-shuffle assignment scan -> one (cell, label) contingency
    # groupBy; marginals and C(n,2) sums on the cells axis; no Python
    plan = formatted_plan(spark, "emb_cells_vs_labels_ari")
    assert re.search(r"partial_(sum|count)", plan)
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# Round-9 window fillers
# --------------------------------------------------------------------------
def test_hellinger_broadcast_cell_grid(spark):
    # cell grid = crossed BROADCAST marginals; one corpus-sized count
    # groupBy; no fact-sized cartesian, no Python
    plan = formatted_plan(spark, "hellinger_doclen_sources")
    assert re.search(r"partial_(count|sum)", plan)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_hill_top_k_heap_no_global_sort(spark):
    # the top-(k+1) order statistics must arrive via per-partition heap
    # + driver merge, never a global sort of the column
    plan = formatted_plan(spark, "hill_tail_price")
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_mahalanobis_two_scan_broadcast_moments(spark):
    # scan 1 reduces exact integer moments to ONE broadcast row; scan 2
    # scores + top-k heap — no global sort, no Python
    plan = formatted_plan(spark, "mahalanobis_outlier_docs")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_huber_broadcast_scalar_state(spark):
    # each IRLS step joins the 1-row state by broadcast; order
    # statistics run on the distinct-value axis; no Python
    plan = formatted_plan(spark, "huber_location_price")
    assert re.search(r"partial_(count|sum)", plan)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_pettitt_bucket_axis_pairs(spark):
    # the O(n^2) sign pairs run on the BUCKET axis (days x days via
    # broadcast NLJ) after one partial-aggregable fact reduce
    plan = formatted_plan(spark, "pettitt_daily_value")
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_grubbs_single_bucket_reduce(spark):
    plan = formatted_plan(spark, "grubbs_daily_value")
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_gumbel_partial_aggregable_chain(spark):
    # sub-bucket counts -> block maxima -> moments: three groupBys, all
    # partial-aggregable; no windows over facts, no Python
    plan = formatted_plan(spark, "gumbel_hourly_burst")
    assert re.search(r"partial_(count|max|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_granger_day_axis_lag(spark):
    # one conditional-count groupBy to the day axis, lag window over n
    # days, one moments reduce
    plan = formatted_plan(spark, "granger_clicks_purchases")
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_friedman_block_axis_ranks(spark):
    # ranks are windows over k rows per block; the k scalar arrives by
    # broadcast; integer reduces after
    plan = formatted_plan(spark, "friedman_event_types")
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_cochran_q_single_scan(spark):
    # every term reduces in ONE scan: no joins in the plan at all
    plan = formatted_plan(spark, "cochran_q_quality_flags")
    assert re.search(r"partial_(count|sum)", plan)
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_mcc_single_scan(spark):
    plan = formatted_plan(spark, "mcc_langid_en")
    assert re.search(r"partial_(count|sum)", plan)
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_isotonic_bin_axis_minimax(spark):
    # the B^3 minimax runs on broadcast bin tables, never facts
    plan = formatted_plan(spark, "isotonic_purchase_by_activity")
    assert re.search(r"partial_(count|sum)", plan)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_no_ntile_anywhere_in_source():
    # r13: the ntile anti-pattern family is RETIRED — every bucket cut
    # in the package uses the equal-mass distinct-axis rule.  A per-row
    # ntile needs a global (or whole-stratum) sort through one window
    # partition; this source-level guard keeps it from coming back.
    import pathlib

    import riot_graphs_spark

    pkg = pathlib.Path(riot_graphs_spark.__file__).parent
    offenders = [
        str(p)
        for p in pkg.rglob("*.py")
        # bare ntile( call — not percentile(/quantile( which merely
        # contain the substring
        if re.search(r"(?<![a-zA-Z])ntile\s*\(", p.read_text())
    ]
    assert offenders == []


@pytest.mark.parametrize(
    "name",
    [
        "user_decay_engagement",
        "customer_rfm",
        "isotonic_purchase_by_activity",
        "ab_simpsons_check",
        "trend_conversion_by_activity",
        "kappa_weighted_length_deciles",
        "cmh_purchase_by_activity",
        "jonckheere_value_by_activity",
        "text_digit_deciles",
        "token_yield_by_quality",
        "revenue_lorenz_deciles",
        "quality_deciles",
        "ccnet_perplexity_buckets",
    ],
)
def test_no_global_row_ntile(spark, name):
    # r12 verdict item: equal-mass buckets cut on the DISTINCT-value
    # axis (ceil(k*cum/n) tie-group rule) — never a global per-row
    # ntile, which funnels the whole fact/user axis through ONE window
    # partition.  The only unpartitioned windows left run over the
    # bounded distinct-value table (post-aggregation), which is the
    # documented lift_table scalability bound.
    plan = formatted_plan(spark, name)
    assert "ntile" not in plan
    # the window input must be an aggregated axis, so a partial agg
    # precedes any WindowExec
    assert re.search(r"partial_(count|sum)", plan)


def test_cvm_distinct_value_axis(spark):
    # tagged union + count groupBy; cumulative windows over distinct
    # values only
    plan = formatted_plan(spark, "cvm_doclen_en_rest")
    assert re.search(r"partial_(count|sum)", plan)
    assert "Union" in plan
    assert "EvalPython" not in plan


def test_vif_one_moment_scan_three_rows(spark):
    # one integer-moment scan serves all three VIFs (union of three
    # 1-row projections over the same broadcast moment row)
    plan = formatted_plan(spark, "vif_doc_features")
    assert re.search(r"partial_(count|sum)", plan)
    assert "Union" in plan
    assert "EvalPython" not in plan


def test_neyman_stratum_axis_window(spark):
    # per-stratum moments partial-aggregate; the normalizer window runs
    # on the stratum axis only
    plan = formatted_plan(spark, "neyman_allocation_quality")
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_textrank_row_local_pairs_broadcast_scores(spark):
    # pairing is row-local (zip_with explode, no fact self-join);
    # per-iteration score joins broadcast the vocabulary-sized table
    plan = formatted_plan(spark, "textrank_keywords_top")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_wasserstein_distinct_value_axis(spark):
    plan = formatted_plan(spark, "wasserstein_doclen_en_rest")
    assert re.search(r"partial_(count|sum)", plan)
    assert "Union" in plan
    assert "EvalPython" not in plan


def test_krippendorff_code_pair_axis(spark):
    # one fact-sized pair-count groupBy; marginals/expected on the code
    # axis; no Python, no data cartesian (the 1-row combine is broadcast)
    plan = formatted_plan(spark, "krippendorff_lang_alpha")
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_entropy_rate_cell_axis(spark):
    plan = formatted_plan(spark, "markov_entropy_rate")
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_event_pmi_unit_axis(spark):
    # presence sets reduce fact-sized; singles join by broadcast
    plan = formatted_plan(spark, "event_pmi_userday")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_mixture_temperature_group_axis(spark):
    plan = formatted_plan(spark, "mixture_temperature_sources")
    assert re.search(r"partial_count", plan)
    assert "EvalPython" not in plan


def test_holm_hypotheses_axis(spark):
    plan = formatted_plan(spark, "pairwise_welch_holm")
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_power_iteration_broadcast_steps(spark):
    # the final plan is post-checkpoint (each power step localCheckpoints
    # its d-row state, so the per-step broadcast joins live in earlier
    # jobs); what must hold HERE: the lambda/trace scalars combine by
    # broadcast, and nothing is Python or cartesian-over-data
    plan = formatted_plan(spark, "emb_power_iteration_top")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_ad_distinct_value_axis(spark):
    plan = formatted_plan(spark, "ad_doclen_en_rest")
    assert re.search(r"partial_(count|sum)", plan)
    assert "Union" in plan
    assert "EvalPython" not in plan


def test_dtw_single_pandas_kernel_on_day_axis(spark):
    # exactly ONE Arrow-batched pandas group kernel, fed by a bucket
    # reduce — the DP never sees fact rows
    plan = formatted_plan(spark, "dtw_clicks_purchases")
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan


def test_srm_single_scan(spark):
    plan = formatted_plan(spark, "ab_srm_check")
    assert re.search(r"partial_(count|sum)", plan)
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_cuped_user_axis_broadcast_theta(spark):
    # per-user reduce, pooled theta broadcast back, per-arm reduce
    plan = formatted_plan(spark, "ab_cuped_value")
    assert "BroadcastNestedLoopJoin" in plan
    assert re.search(r"partial_(count|sum)", plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_lorenz_key_axis_ntile(spark):
    plan = formatted_plan(spark, "revenue_lorenz_deciles")
    assert re.search(r"partial_(count|sum)", plan)
    assert "EvalPython" not in plan


def test_info_gain_single_scan_union(spark):
    plan = formatted_plan(spark, "feature_info_gain")
    assert re.search(r"partial_(count|sum)", plan)
    assert "Union" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_covariance_pairs_row_local_fanout(spark):
    # The dimension-pair fan-out is generated row-locally (chained
    # posexplode over the array and its tail slice) — NO id-keyed
    # self-join exchange shipping the 2*n*d exploded corpus before the
    # d^2-state partial aggregate.  The only shuffles allowed are the
    # pair aggregate and the global top-k window.
    plan = formatted_plan(spark, "emb_covariance_pairs")
    assert "Join" not in plan
    assert plan.count("Generate") >= 2
    assert re.search(r"partial_(count|sum)", plan)
    assert shuffle_count(plan) <= 2  # pair agg + top-k window
    assert "EvalPython" not in plan


def test_cov_matrix_shared_stage_row_local(spark):
    # The pair fan-out feeding _scaled_cov_matrix (shared by power
    # iteration / spectral gap consumers) must keep the zero-join
    # row-local shape: generate -> generate -> single agg exchange.
    # (_scaled_cov_matrix itself localCheckpoints, which truncates the
    # visible lineage, so the pin sits on the pre-checkpoint helper.)
    import pyspark.sql.functions as F

    from riot_graphs_spark.operators.similarity import _row_local_dim_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pairs = _row_local_dim_pairs(emb, "embedding", 1000000,
                                 include_diagonal=True)
    agg = pairs.groupBy("_ia", "_ib").agg(F.count(F.lit(1)).alias("_n"))
    plan = agg._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Join" not in plan
    assert plan.count("Generate") >= 2
    assert shuffle_count(plan) <= 1  # the d^2-state aggregate only
    assert re.search(r"partial_count", plan)


def test_km_bands_single_corpus_reduce(spark):
    # one corpus-sized aggregate to the per-duration table; curve/SE/
    # band windows run on the bounded duration axis (single partition of
    # a tiny frame is fine — corpus never moves through it)
    plan = formatted_plan(spark, "retention_km_bands")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"partial_(count|sum|min|max)", plan)


def test_affinity_lift_broadcast_part_counts(spark):
    # pair fan-out is keyed on l_orderkey (bounded by the largest
    # order); the part-count and total frames broadcast back — no
    # sort-merge join against the pairs
    plan = formatted_plan(spark, "part_affinity_lift")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EvalPython" not in plan


def test_jonckheere_distinct_value_axis(spark):
    # one corpus reduce to the per-user frame, one pivot count to the
    # distinct-value axis; the cumulative/pair arithmetic runs there
    plan = formatted_plan(spark, "jonckheere_value_by_activity")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"partial_(count|sum)", plan)


def test_interarrival_cv_user_keyed_windows(spark):
    # the lead() gap window partitions by user (never a global
    # single-partition sort of the event stream)
    plan = formatted_plan(spark, "event_interarrival_cv")
    assert "EvalPython" not in plan
    assert re.search(r"Window.*_u", plan, re.S)


def test_int8_snr_row_local_until_reduce(spark):
    # quantize/dequantize/error are row-local; the only shuffle is the
    # final moment aggregate
    plan = formatted_plan(spark, "emb_int8_snr")
    assert "Join" not in plan
    assert shuffle_count(plan) <= 1
    assert "EvalPython" not in plan


def test_quantile_sketch_rollup_state_sized_plan(spark):
    # r11: one corpus-sized groupBy builds the day states (GK
    # percentile_approx — partial-aggregable, bounded memory); everything
    # downstream (explode, cum-weight windows, read groupBy) runs over
    # state rows only. No joins, no Python, and the window/read exchanges
    # all repartition the tiny state frame, never the fact.
    plan = formatted_plan(spark, "rollup_quantile_sketch")
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert shuffle_count(plan) <= 4
    assert "approx_percentile" in plan or "percentile_approx" in plan


def test_ann_ivf_multiprobe_centroid_route_stays_broadcast(spark):
    # r11 verdict task: probes>1 must not turn the cell join into a
    # shuffle join — the routing frame (queries × p cells) still
    # broadcasts onto the cell-pruned corpus slice.
    plan = formatted_plan(spark, "ann_ivf_multiprobe")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_novelty_bigram_axis_shuffles_only(spark):
    # r11: per-doc distinct bigrams are row-local explodes; the DF count
    # and the doc re-aggregation shuffle on the bigram/doc axes — never a
    # pair fan-out (no all-pairs join, no Python)
    plan = formatted_plan(spark, "ngram_novelty_bigram")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert re.search(r"partial_count", plan)


def test_nation_trade_balance_aggregates_before_dim_joins(spark):
    # r11: both fact scans reduce to the 25-row nation axis BEFORE any
    # join; the supplier/customer dims broadcast into the facts
    plan = formatted_plan(spark, "nation_trade_balance")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_attribution_position_windows_are_user_keyed(spark):
    # r11: position/count windows partition by user_id — never a global
    # single-partition sort of the touch stream
    plan = formatted_plan(spark, "attribution_position_based")
    assert re.search(r"Window.*user_id", plan, re.S)
    assert "EvalPython" not in plan


def test_emb_hubness_brute_side_stays_broadcast(spark):
    # r11: the 100 probe queries broadcast onto the corpus scan (the
    # linear-in-corpus brute pass); the k-occurrence count is one
    # neighbor-keyed partial agg
    plan = formatted_plan(spark, "emb_hubness_topk")
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    assert re.search(r"partial_count", plan)


def test_welch_anova_single_moment_scan(spark):
    # r11: one partial-aggregable decimal-moment scan to the 5-row group
    # axis; everything after runs on broadcast scalars
    plan = formatted_plan(spark, "welch_anova_value_event")
    assert "EvalPython" not in plan
    assert re.search(r"partial_(sum|count)", plan)
    assert "CartesianProduct" not in plan


def test_event_partition_skew_one_reduce(spark):
    # r11: one key-count groupBy; the summary and top-1 pick run on the
    # bounded key axis
    plan = formatted_plan(spark, "event_partition_skew")
    assert "Join" not in plan or "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan
    assert re.search(r"partial_count", plan)


def test_pq_encode_argmin_stays_single_projection(spark):
    # r12: the SQL-string argmin build (_sq_dist_sql) must still plan as
    # the original zero-shuffle row-local projection — the change was
    # plan-BUILD cost only, never plan shape
    plan = formatted_plan(spark, "pq_assign_fixed")
    assert shuffle_count(plan) == 0
    assert "EvalPython" not in plan


def test_bm25_judgments_are_row_local(spark):
    # r12: qrels come from array_intersect against the broadcast query
    # token arrays — no corpus token explode ⋈ qtok shuffle remains in
    # the judgment leg (the mrr/ndcg planning-cost fix); the only joins
    # are broadcast
    plan = formatted_plan(spark, "retrieval_recall_mrr")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bitvector_hamming_scan_is_broadcast_with_partial_topk(spark):
    # r12: the 1-bit scan streams the corpus once against broadcast
    # query words; the per-query top-k cut is a partial WindowGroupLimit
    # (map-side top-k) like the other ANN scans
    plan = formatted_plan(spark, "emb_bitvector_hamming_recall")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert re.search(r"row_number\(\), \d+, Partial", plan)


def test_cka_dim_pair_fanout_is_shuffle_free_before_aggregate(spark):
    # r12: the (i ≤ j) dim-pair fan-out is generate→generate on the
    # same row's array — the d²-row moment aggregate is the first
    # Exchange; no id-keyed self-join anywhere
    plan = formatted_plan(spark, "emb_cka_halves")
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan
    assert re.search(r"partial_(sum|count)", plan)


def test_rank_tests_run_on_distinct_value_axis(spark):
    # r12: Ansari-Bradley / Brunner-Munzel / BWS never sort rows
    # globally — ranks come from windows over the DISTINCT-value axis
    # (counts per value), so no corpus-row Sort feeds a single partition
    for name in ("ansari_bradley_value_weekend", "brunner_munzel_doclen",
                 "bws_doclen_en_rest"):
        plan = formatted_plan(spark, name)
        assert "EvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert re.search(r"partial_(sum|count)", plan), name


def test_weighted_quantiles_pick_is_integer_inequality(spark):
    # r12: the char-weighted quantile is an integer-inequality argmin on
    # per-source cumulative weights — no percentile/ntile machinery, no
    # Python
    plan = formatted_plan(spark, "weighted_quantiles_doclen")
    assert "EvalPython" not in plan
    assert "ntile" not in plan and "percentile" not in plan


def test_predict_lang_tokenizes_once_even_under_filter_pushdown(spark):
    # r13: predict_lang packs tokenize → scores → argmax into ONE bound
    # self-contained expression.  The staged-columns form regressed when
    # a consumer's null-filter on predicted_lang was pushed below the
    # projection: alias substitution re-inlined the argmax chain and the
    # regex tokenizer reappeared ~40× per row in the Filter (lambda
    # subtrees are excluded from runtime subexpr elimination, so each
    # copy really ran).  mcnemar is the pushdown shape (two branches →
    # at most 2 occurrences); plain consumers carry exactly 1.
    assert formatted_plan(spark, "mcnemar_langid_vs_majority").count(
        "regexp_extract_all") <= 2
    for name in ("text_lang_id", "lang_id_confusion"):
        assert formatted_plan(spark, name).count("regexp_extract_all") == 1, name
