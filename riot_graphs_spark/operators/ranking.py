"""Corpus ranking & language-model scoring over the ``documents`` table:
BM25 retrieval scoring, per-document TF-IDF keyword extraction, and
CCNet-style unigram-LM cross-entropy (the perplexity quality filter used to
select training data against a reference corpus).

Shapes that survive 100 TB:

- Query-term matching is a scan-side ``array_contains``-style filter on the
  (tiny, literal) term set — never a join against an exploded corpus.
- Corpus statistics (N, avgdl, per-term df, LM token counts) are
  partial-aggregable one-pass aggregates; the per-term/per-token model
  tables are vocabulary-sized, not corpus-sized.
- Per-document scores are sums over that document's tokens ONLY; the sums
  are DECIMAL-cast per-token doubles, so the total is independent of Spark
  task merge order (cross-row double accumulation is engine- and
  run-specific; decimal addition is exact — the invariant every
  oracle-paired query in this repo maintains).
- The scoring join is keyed on token. Stopword-class tokens make it skewed;
  AQE skew-join splitting (on in session.py) handles the residue, and the
  LM table can be broadcast outright while vocabularies fit (~millions of
  terms) — documented rather than hard-coded so the optimizer keeps the
  choice.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import tokens

#: Exact-sum carrier for per-token double scores (see module docstring).
_DEC = "decimal(28,12)"


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) — one row per token OCCURRENCE (duplicates kept)."""
    return docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 score of every matching document against a bag of query
    terms — the retrieval ranking behind "find the docs most about X" over
    a curated corpus. Returns ``(id_col, n_matched_terms, score)`` for
    documents matching ≥1 term, highest-score-first semantics left to the
    caller (no global sort here — top-k at 100 TB is a later
    ``orderBy(...).limit(k)`` that Spark executes as TakeOrdered, no full
    sort).

    IDF uses the Lucene/BM25+ form ``ln(1 + (N − df + 0.5)/(df + 0.5))``
    (always positive, robust for df > N/2). Exact integer tf/df/dl feed
    per-row double arithmetic; only the final per-doc sum crosses rows and
    it is decimal-carried.

    Stats are corpus-wide one-pass aggregates; the tf table holds only
    (doc, query-term) hits — bounded by |matches|, not corpus tokens.
    """
    terms = [t.lower() for t in query_terms]
    tok = _doc_tokens(docs, id_col, text_col)

    # document lengths (all tokens) and corpus avgdl — one agg each
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )

    # per-(doc, term) tf over the tiny literal term set — scan-side filter
    tf = (
        tok.filter(F.col("token").isin(*terms))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    nd = F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (nd - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    norm = tfd * (k1 + 1) / (
        tfd + k1 * (1 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    per_term = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (idf * norm).cast(_DEC).alias("_s"),
        )
    )
    return per_term.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_matched_terms"),
        F.sum("_s").cast("double").alias("score"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    top_k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_token_len: int = 3,
) -> DataFrame:
    """Per-document keyword extraction: the ``top_k`` most distinctive
    terms by TF-IDF (``tf · ln(N/df)``, df over distinct docs). The
    "what is this document about" labeler — feeds topic-balanced sampling
    and dedup triage. Ties break lexicographically so ranks are total.

    One token-keyed shuffle for df, one doc-keyed window for the top-k;
    both vocabulary/document-bounded. Returns
    ``(id_col, term, tf, df, tfidf, term_rank)``. ``tfidf`` is carried at
    12-dp decimal precision (``ln`` differs in the last ulp across libm
    implementations; ranking on the quantized value keeps the ordering —
    and the oracle row-hash — engine-portable).
    """
    tok = _doc_tokens(docs, id_col, text_col).filter(
        F.length("token") >= min_token_len
    )
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("token").alias("term"),
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            )
            .cast(_DEC)
            .cast("double")
            .alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("term_rank") <= top_k)
    )


def unigram_lm_cross_entropy(
    docs: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality signal: per-document cross-entropy (nats per
    token) under an add-α-smoothed unigram model fit on the corpus
    itself. Low = looks like the rest of the corpus;
    high = gibberish/boilerplate/another register — filter or re-weight on
    it exactly as CCNet buckets by perplexity. Cross-entropy rather than
    ``exp`` of it is returned so the score stays in well-behaved range and
    the oracle needs one fewer transcendental; ``perplexity = e^H``.

    Model: ``p(t) = (c_t + α) / (T + α·V)`` with V = |observed vocab|;
    unseen scoring tokens get the α-mass. The model is ONE aggregate over
    the training tokens (vocabulary-sized result); scoring is one
    token-keyed left join + one doc-keyed sum of decimal-carried
    per-token ``ln p``. Empty docs are kept with NULL score (no silent
    drops). Returns ``(id_col, n_tokens, cross_entropy)``.
    """
    train_tok = _doc_tokens(docs, id_col, text_col)
    model = train_tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    consts = model.agg(
        F.sum("c").alias("t_total"), F.count(F.lit(1)).alias("v_size")
    )

    tok = _doc_tokens(docs, id_col, text_col)
    denom = F.col("t_total").cast("double") + alpha * F.col("v_size")
    lp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(alpha))
        / denom
    )
    scored = (
        tok.join(model, "token", "left")
        .crossJoin(F.broadcast(consts))
        .select(F.col(id_col), lp.cast(_DEC).alias("_lp"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (-F.sum("_lp").cast("double") / F.count(F.lit(1))).alias(
            "cross_entropy"
        ),
    )
    # anti-join-free totality: left join from the doc list keeps empty docs
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "cross_entropy",
        )
    )


def bm25_search_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Multi-query BM25 retrieval: top-``k`` documents per query row — the
    batch search operator behind RAG-style curation ("for each benchmark
    prompt, which training docs score highest"). Same scoring math as
    :func:`bm25_scores`, vectorized over a QUERY TABLE instead of one
    literal term bag.

    Scale shape: the query token table is tiny and broadcast twice (term
    restriction + per-query scoring); the (doc, term) tf table is bounded
    by matches against the union of query vocabularies, not corpus tokens;
    df/dl/avgdl are computed once and shared by every query. The final
    top-k is a per-query row_number window over the (queries × matched
    docs) score table — never a global sort of the corpus.

    Output: ``(query_id, doc_id, n_matched_terms, score, rank)``; ties →
    lower doc id.
    """
    from pyspark.sql import Window

    tok = _doc_tokens(docs, id_col, text_col)
    qtok = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens(query_text_col)).alias("token"),
    ).distinct()
    vocab = qtok.select("token").distinct()

    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))

    nd = F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (nd - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    norm = tfd * (k1 + 1) / (
        tfd + k1 * (1 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    per_term = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qtok), "token")
        .select(
            "query_id",
            F.col(id_col),
            (idf * norm).cast(_DEC).alias("_s"),
        )
    )
    scored = per_term.groupBy("query_id", id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_matched_terms"),
        F.sum("_s").cast("double").alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet's head/middle/tail split made executable: bucket every document
    into per-stratum perplexity n-tiles under the unigram LM
    (:func:`unigram_lm_cross_entropy`) and flag the keep set (everything but
    the worst bucket — CCNet trains on head+middle). Bucketing is PER
    LANGUAGE, as in CCNet: absolute perplexity is not comparable across
    languages, ranks within one are.

    Determinism & scale: buckets cut equal-mass on the per-stratum
    DISTINCT 6-dp cross-entropy axis (the lift_table ceil(k·cum/n)
    tie-group rule, NULLS LAST so empty docs land in the tail on both
    engines — Spark defaults nulls FIRST ascending, DuckDB LAST).  A
    per-row ntile partitioned by lang would still sort a whole LANGUAGE
    (which can be most of the corpus) through one window partition; the
    distinct-axis cumulative window is bounded by the 6-dp score grid
    per stratum, and docs join back value→bucket on the broadcast map.
    """
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    scored = unigram_lm_cross_entropy(
        docs, alpha=alpha, id_col=id_col, text_col=text_col
    )
    joined = docs.select(F.col(id_col), F.col(strata_col)).join(
        scored, id_col
    )
    b = joined.withColumn("_qq", F.round("cross_entropy", 6))
    g = b.groupBy(strata_col, "_qq").agg(F.count(F.lit(1)).alias("_nt"))
    w_cum = (
        Window.partitionBy(strata_col)
        .orderBy(F.col("_qq").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    em = (
        g.withColumn("_c", F.sum("_nt").over(w_cum))
        .withColumn(
            "_n", F.sum("_nt").over(Window.partitionBy(strata_col))
        )
        .select(
            F.col(strata_col).alias("_ems"),
            F.col("_qq").alias("_emq"),
            F.ceil(
                (F.lit(n_buckets) * F.col("_c"))
                / F.col("_n").cast("double")
            ).cast("int").alias("_emb"),
        )
    )
    bucket = F.col("_emb")
    name = (
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return b.join(
        F.broadcast(em),
        b[strata_col].eqNullSafe(em["_ems"])
        & b["_qq"].eqNullSafe(em["_emq"]),
    ).select(
        id_col,
        strata_col,
        "n_tokens",
        "cross_entropy",
        bucket.cast("int").alias("ppl_bucket"),
        name.alias("bucket_name"),
        (bucket < n_buckets).alias("keep"),
    )


def _doc_bigrams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, a, b) — one row per consecutive token PAIR (order preserved,
    duplicates kept). Row-local array math; documents with <2 tokens emit
    nothing."""
    def make(w):
        n = F.size(w)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(w, i).alias("a"),
                F.element_at(w, i + 1).alias("b"),
            ),
        )

    from .dedup import bind_array

    return docs.select(
        F.col(id_col), F.explode(bind_array(tokens(text_col), make)).alias("_g")
    ).select(id_col, F.col("_g.a").alias("a"), F.col("_g.b").alias("b"))


def bigram_lm_cross_entropy(
    docs: DataFrame,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram-LM quality signal — one order up from
    :func:`unigram_lm_cross_entropy`, the direction CCNet actually goes
    (its reference model is a 5-gram KenLM): per-document cross-entropy
    (nats per transition) of ``p(b|a) = (c(a,b)+α) / (c(a·)+α·V)`` with
    add-α smoothing, fit on the corpus itself.
    A bigram model separates fluent text from shuffled-word soup that a
    unigram model scores identically — exactly the gibberish class the
    unigram signal is blind to.

    Plan: the model is one groupBy over training bigram pairs (output
    bounded by distinct OBSERVED pairs, not V²) + a context-count groupBy;
    scoring is one pair-keyed left join + a context join + one doc-keyed
    decimal sum. Documents with fewer than two tokens score NULL (no
    transitions — kept, not dropped). Returns
    ``(id_col, n_bigrams, cross_entropy)``.
    """
    tg = _doc_bigrams(docs, id_col, text_col)
    model = tg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2"))
    contexts = tg.groupBy("a").agg(F.count(F.lit(1)).alias("c1"))
    vocab = _doc_tokens(docs, id_col, text_col).agg(
        F.count_distinct("token").alias("v_size")
    )

    sg = _doc_bigrams(docs, id_col, text_col)
    lp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + F.lit(alpha))
        / (
            F.coalesce(F.col("c1"), F.lit(0)).cast("double")
            + F.lit(alpha) * F.col("v_size")
        )
    )
    scored = (
        sg.join(model, ["a", "b"], "left")
        .join(contexts, ["a"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), lp.cast(_DEC).alias("_lp"))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("_lp").cast("double") / F.count(F.lit(1))).alias(
            "cross_entropy"
        ),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "cross_entropy",
        )
    )


def collocations_pmi(
    docs: DataFrame,
    min_count: int = 10,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information —
    ``PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) )`` over adjacent word pairs —
    the classic "multi-word expression" extractor a tokenizer/vocab
    builder runs beside BPE (pairs that co-occur far above chance are
    merge/phrase candidates; pairs below chance are segmentation noise).

    Plan: the pair and unigram tables are groupBys bounded by observed
    pairs/vocab (never corpus-sized downstream of the partial agg); the
    two probability totals arrive as a broadcast one-row aggregate;
    scoring joins are vocab-keyed. The final global top-k window runs
    over the ``min_count``-filtered pair table — vocab²-bounded, in
    practice tiny; if a web-scale vocab makes it large, cut per-``a``
    first. PMI is quantized through ``decimal(28,12)`` before ranking so
    cross-engine libm ``ln`` 1-ulp drift can neither reorder nor
    hash-split results (the LM-scoring trick).

    Output: ``(a, b, pair_count bigint, pmi double, rank int)``.
    """
    if min_count < 1 or k < 1:
        raise ValueError("need min_count >= 1 and k >= 1")
    bg = _doc_bigrams(docs, id_col, text_col)
    pair = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        _doc_tokens(docs, id_col, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    totals = pair.agg(
        F.sum("c2").cast("double").alias("_nb")
    ).crossJoin(uni.agg(F.sum("c1").cast("double").alias("_nu")))
    ua = uni.select(F.col("token").alias("a"), F.col("c1").alias("_c1a"))
    ub = uni.select(F.col("token").alias("b"), F.col("c1").alias("_c1b"))
    pmi = F.log(
        (F.col("c2").cast("double") / F.col("_nb"))
        / (
            (F.col("_c1a").cast("double") / F.col("_nu"))
            * (F.col("_c1b").cast("double") / F.col("_nu"))
        )
    ).cast(_DEC).cast("double")
    scored = (
        pair.where(F.col("c2") >= min_count)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(totals))
        .select("a", "b", F.col("c2").alias("pair_count"), pmi.alias("pmi"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        F.col("pmi").desc(), F.col("a").asc(), F.col("b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k_const: int = 60,
    top_k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval lists —
    ``score(q,d) = Σᵢ 1/(k + rankᵢ(q,d))`` — the standard hybrid-search
    combiner (BM25 ⊕ dense ANN): rank-based, so the lists' incomparable
    raw scores never need calibration, and a document missing from a
    list simply contributes nothing.

    Each input must carry ``(query_col, doc_col, rank)``.  Fusion is a
    chain of full-outer joins keyed on (query, doc) — every side is
    already a top-k list, so the join inputs are (queries × k)-sized
    regardless of corpus scale; the final per-query cut is the usual
    WindowGroupLimit window.  Rank reciprocals are exact double
    constants, so fusion is bit-deterministic.

    Output: ``(query_col, doc_col, rrf_score double, n_lists int,
    rank int)``.
    """
    if len(rankings) < 2:
        raise ValueError("need at least two rankings to fuse")
    if k_const < 1 or top_k < 1:
        raise ValueError("need k_const >= 1 and top_k >= 1")
    tagged = [
        df.select(
            F.col(query_col),
            F.col(doc_col),
            (F.lit(1.0) / (F.lit(k_const) + F.col("rank"))).alias(f"_s{i}"),
        )
        for i, df in enumerate(rankings)
    ]
    fused = tagged[0]
    for t in tagged[1:]:
        fused = fused.join(t, [query_col, doc_col], "full_outer")
    score_cols = [f"_s{i}" for i in range(len(tagged))]
    score = sum(
        (F.coalesce(F.col(c), F.lit(0.0)) for c in score_cols), F.lit(0.0)
    )
    n_lists = sum(
        (F.col(c).isNotNull().cast("int") for c in score_cols), F.lit(0)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_score").desc(), F.col(doc_col).asc()
    )
    return (
        fused.select(
            query_col,
            doc_col,
            score.alias("rrf_score"),
            n_lists.alias("n_lists"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )


def rank_biased_overlap(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int = 10,
    p: float = 0.9,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap (truncated RBO@k) between two top-k runs per
    query — "how differently do two retrievers rank", the
    complementarity reading behind a hybrid-fusion decision: plain
    overlap@k treats rank 1 and rank k alike, while RBO's geometric
    top-weighting (persistence ``p``) scores agreement where users
    actually look.

        RBO@k = (1−p) · Σ_{d=1..k} p^{d−1} · |A_d ∩ B_d| / d

    A doc in both runs enters every depth ``d ≥ max(rank_A, rank_B)``,
    so its total contribution is the CLOSED-FORM constant
    ``w(m) = Σ_{d=m..k} p^{d−1}/d`` — precomputed in Python per possible
    ``m`` and applied as a literal map: the whole statistic is one
    (query, doc) equi-join + one per-query sum of literals.  Weights are
    quantized to ``decimal(28,12)`` before the sum (order-free); both
    engines read the identical literal table.

    Output: one row per query present in BOTH runs — ``(query_col,
    n_common bigint, overlap_at_k double, rbo double)``; a query whose
    lists share nothing scores an explicit 0 row (disagreement is the
    finding, not a missing row).  Identical runs score
    ``(1−p)·Σ p^{d−1} < 1`` only due to truncation, so the same-run RBO
    is the per-k ceiling.
    """
    if k < 1:
        raise ValueError("need k >= 1")
    if not 0 < p < 1:
        raise ValueError("need 0 < p < 1")
    weights = {
        m: sum(p ** (d - 1) / d for d in range(m, k + 1))
        for m in range(1, k + 1)
    }
    a = run_a.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).alias("_ra"),
    )
    b = run_b.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).alias("_rb"),
    )
    m = F.greatest(F.col("_ra"), F.col("_rb"))
    w = F.lit(None).cast("double")
    for mm in range(k, 0, -1):
        w = F.when(m == mm, F.lit(weights[mm])).otherwise(w)
    matched = a.join(b, ["_q", "_d"]).select(
        "_q", w.cast("decimal(28,12)").alias("_w")
    )
    scored = matched.groupBy("_q").agg(
        F.count(F.lit(1)).cast("long").alias("_nc"),
        F.sum("_w").alias("_sw"),
    )
    spine = a.select("_q").distinct().join(b.select("_q").distinct(), "_q")
    return (
        spine.join(scored, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            F.coalesce(F.col("_nc"), F.lit(0)).cast("long").alias(
                "n_common"
            ),
            F.round(
                F.coalesce(F.col("_nc"), F.lit(0)).cast("double")
                / F.lit(float(k)),
                9,
            ).alias("overlap_at_k"),
            F.round(
                F.coalesce(F.col("_sw").cast("double"), F.lit(0.0))
                * F.lit(1.0 - p),
                9,
            ).alias("rbo"),
        )
    )


def textrank_keywords(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    iterations: int = 3,
    min_pair_count: int = 2,
    min_token_len: int = 2,
) -> DataFrame:
    """TextRank keywords: PageRank over the word co-occurrence graph
    (adjacent-token pairs across the corpus) — the graph-centrality
    keyword extractor beside :func:`rake_keywords`' degree/frequency
    heuristic: RAKE scores words by local phrase structure, TextRank by
    GLOBAL network position, so corpus-glue words that never sit in
    long phrases still surface.

    Pairing is ROW-LOCAL (``zip_with`` of the token array against its
    own 1-shift — no posexplode self-join, no fact-sized shuffle
    before the pair groupBy); pairs keep ``src < dst`` order, drop
    self-pairs, stopwords (:data:`~.textstats.STOPWORDS`) and tokens
    shorter than ``min_token_len``; edges below ``min_pair_count``
    corpus occurrences are denoised away exactly like the parts graph.
    Then :func:`~.graph.pagerank` (fixed ``iterations``, damping 0.85,
    decimal-carried — bit-deterministic and loop-unrollable in SQL),
    top-``top_k`` by 10-dp-rounded score with alphabetical tiebreak.

    Output: ``(token string, pr double)`` — ``top_k`` rows.
    """
    from .graph import pagerank
    from .textstats import STOPWORDS, tokens

    toks = tokens(text_col)
    # Slice lengths clamp at 0: a document whose text yields no tokens
    # (empty, punctuation-only, non-Latin script) must contribute an empty
    # pair array, not a negative-length slice (INVALID_PARAMETER_VALUE).
    n_pairs = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, n_pairs),
        F.slice(toks, 2, n_pairs),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    exploded = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.a").alias("_a"), F.col("_p.b").alias("_b"))
        .filter(
            (F.col("_a") != F.col("_b"))
            & (F.length("_a") >= min_token_len)
            & (F.length("_b") >= min_token_len)
            & ~F.col("_a").isin(*STOPWORDS)
            & ~F.col("_b").isin(*STOPWORDS)
        )
    )
    edges = (
        exploded.select(
            F.least("_a", "_b").alias("src"),
            F.greatest("_a", "_b").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_pair_count)
        .select("src", "dst")
    )
    pr = pagerank(
        edges,
        iterations=iterations,
        damping=0.85,
        dedup_edges=False,  # distinct (src < dst) by construction
    )
    return (
        pr.select(
            F.col("node").alias("token"), F.round("pr", 10).alias("pr")
        )
        .orderBy(F.col("pr").desc(), F.col("token").asc())
        .limit(top_k)
    )
