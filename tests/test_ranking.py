"""Unit tests for corpus ranking & LM scoring (operators/ranking.py):
hand-computed BM25/TF-IDF/cross-entropy on tiny corpora, totality for
empty/NULL docs, determinism of rank tie-breaks."""

from __future__ import annotations

import math

from riot_graphs_spark.operators.ranking import (
    bm25_scores,
    tfidf_top_terms,
    unigram_lm_cross_entropy,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_hand_computation(spark):
    docs = _docs(
        spark,
        [
            (1, "spark spark join"),   # dl=3: tf(spark)=2, tf(join)=1
            (2, "join filter scan"),   # dl=3: tf(join)=1
            (3, "filter scan merge"),  # dl=3: no match
        ],
    )
    out = {
        r.doc_id: r for r in bm25_scores(docs, ["spark", "join"]).collect()
    }
    assert set(out) == {1, 2}  # doc 3 matches nothing → absent
    assert out[1].n_matched_terms == 2 and out[2].n_matched_terms == 1

    # Hand BM25 (k1=1.2, b=0.75, N=3, avgdl=3 → dl/avgdl=1, so the length
    # norm collapses to tf*(k1+1)/(tf+k1)).
    def idf(df):
        return math.log(1.0 + (3 - df + 0.5) / (df + 0.5))

    def norm(tf):
        return tf * 2.2 / (tf + 1.2)

    exp1 = idf(1) * norm(2) + idf(2) * norm(1)
    exp2 = idf(2) * norm(1)
    assert abs(out[1].score - exp1) < 1e-9
    assert abs(out[2].score - exp2) < 1e-9
    assert out[1].score > out[2].score  # two matches beat one


def test_tfidf_top_terms_ranks_distinctive_terms_first(spark):
    docs = _docs(
        spark,
        [
            (1, "common common unique alpha"),
            (2, "common beta beta"),
            (3, "common gamma"),
        ],
    )
    out = tfidf_top_terms(docs, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.term_rank, r.term, r.tfidf))
    # 'common' appears in all 3 docs → idf = ln(1) = 0 → never outranks a
    # distinctive term; doc 1's top term is 'alpha' or 'unique' (tf=1 each,
    # df=1 each → tie on tfidf, lexicographic break: alpha first).
    assert sorted(by_doc[1])[0][1] == "alpha"
    assert sorted(by_doc[1])[1][1] == "unique"
    # doc 2: beta has tf=2, df=1 → clear top-1
    assert sorted(by_doc[2])[0][1] == "beta"
    # every common-only score is 0, distinctive ones positive
    assert all(
        t != "common" or s == 0.0 for d in by_doc.values() for _, t, s in d
    )


def test_unigram_lm_cross_entropy_hand_and_totality(spark):
    docs = _docs(
        spark,
        [
            (1, "a a b"),  # model (self-trained): c(a)=2, c(b)=1, T=3, V=2
            (2, None),     # NULL doc must survive with 0 tokens
        ],
    )
    out = {r.doc_id: r for r in unigram_lm_cross_entropy(docs).collect()}
    # alpha=0.5: p(a) = 2.5/4, p(b) = 1.5/4
    pa, pb = 2.5 / 4.0, 1.5 / 4.0
    exp = -(2 * math.log(pa) + math.log(pb)) / 3.0
    assert abs(out[1].cross_entropy - exp) < 1e-9
    assert out[1].n_tokens == 3
    assert out[2].n_tokens == 0 and out[2].cross_entropy is None


def test_perplexity_buckets_per_lang_and_keep(spark):
    """Common-word docs land in head, gibberish in tail, per language
    independently; keep = head+middle (CCNet's training set)."""
    from riot_graphs_spark.operators.ranking import perplexity_buckets

    common = "the data the table the row the data table row"
    mixed = "the data zzz qqq table row the the xx"
    gibber = "zxqv wvwx qzzk vkxq zzzz qqqq xkcd qwop"
    rows = []
    for lang in ("en", "de"):
        off = 0 if lang == "en" else 10
        rows += [
            (off + 1, lang, common),
            (off + 2, lang, mixed),
            (off + 3, lang, gibber),
        ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in perplexity_buckets(docs).collect()}
    for off in (0, 10):
        assert got[off + 1].bucket_name == "head" and got[off + 1].keep
        assert got[off + 2].bucket_name == "middle" and got[off + 2].keep
        assert got[off + 3].bucket_name == "tail" and not got[off + 3].keep
    # scores are per-corpus but BUCKETS are per-lang: both langs have a head
    assert got[1].cross_entropy < got[3].cross_entropy


def test_perplexity_buckets_empty_doc_goes_tail(spark):
    from riot_graphs_spark.operators.ranking import perplexity_buckets

    docs = spark.createDataFrame(
        [(1, "en", "the common the common words"),
         (2, "en", "other words entirely here"),
         (3, "en", "")],  # empty -> NULL score -> NULLS LAST -> tail
        "doc_id long, lang string, text string",
    )
    got = {r.doc_id: r for r in perplexity_buckets(docs).collect()}
    assert got[3].bucket_name == "tail" and got[3].cross_entropy is None

    import pytest as _pytest
    with _pytest.raises(ValueError):
        perplexity_buckets(docs, n_buckets=1)


def test_bigram_lm_separates_word_order_unigram_cannot(spark):
    """Fluent repetition vs the same tokens shuffled: identical unigram
    scores (same bag of words), lower bigram cross-entropy for the fluent
    doc (its transitions dominate the training counts)."""
    from riot_graphs_spark.operators.ranking import (
        bigram_lm_cross_entropy,
        unigram_lm_cross_entropy,
    )

    fluent = "the data flows the data flows the data flows"
    shuffled = "flows the data data the flows data flows the"
    docs = spark.createDataFrame(
        [(1, fluent), (2, shuffled), (3, "x")],
        "doc_id long, text string",
    )
    uni = {r.doc_id: r.cross_entropy
           for r in unigram_lm_cross_entropy(docs).collect()}
    assert abs(uni[1] - uni[2]) < 1e-9  # unigram blind to order
    bi = {r.doc_id: r for r in bigram_lm_cross_entropy(docs).collect()}
    assert bi[1].cross_entropy < bi[2].cross_entropy  # bigram is not
    assert bi[3].n_bigrams == 0 and bi[3].cross_entropy is None


# --------------------------------------------------------------------------
# collocations_pmi
# --------------------------------------------------------------------------
def test_collocations_pmi_finds_fixed_phrase(spark):
    import math

    from pyspark.sql import Row

    from riot_graphs_spark.operators.ranking import collocations_pmi

    # "new york" always adjacent; filler words pair randomly-ish.
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text="new york " + ("alpha beta gamma delta " * 3))
            for i in range(6)
        ]
    )
    got = collocations_pmi(docs, min_count=3, k=5).collect()
    assert got[0].a == "new" and got[0].b == "york" and got[0].rank == 1
    # hand-check PMI: c2(new,york)=6, nb=6*13=78, c1(new)=c1(york)=6, nu=6*14=84
    expect = math.log((6 / 78) / ((6 / 84) * (6 / 84)))
    assert abs(got[0].pmi - expect) < 1e-9
    assert got[0].pmi > 0  # far above chance
    # every returned pair respects min_count
    assert all(r.pair_count >= 3 for r in got)


def test_collocations_pmi_validates(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.ranking import collocations_pmi

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        collocations_pmi(df, min_count=0)


# --------------------------------------------------------------------------
# rrf_fuse
# --------------------------------------------------------------------------
def test_rrf_fuse_hand_computed(spark):
    from riot_graphs_spark.operators.ranking import rrf_fuse

    bm = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank int",
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id long, doc_id long, rank int",
    )
    got = {
        r.doc_id: (round(r.rrf_score, 12), r.n_lists, r.rank)
        for r in rrf_fuse([bm, dense], k_const=60, top_k=10).collect()
    }
    # doc 11 is in both lists: 1/62 + 1/61 — must outrank both solo docs
    assert got[11] == (round(1 / 62 + 1 / 61, 12), 2, 1)
    assert got[10] == (round(1 / 61, 12), 1, 2)
    assert got[13] == (round(1 / 62, 12), 1, 3)
    assert got[12] == (round(1 / 63, 12), 1, 4)


def test_rrf_fuse_validates(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.ranking import rrf_fuse

    df = spark.createDataFrame(
        [(1, 10, 1)], "query_id long, doc_id long, rank int"
    )
    with _pytest.raises(ValueError):
        rrf_fuse([df])
    with _pytest.raises(ValueError):
        rrf_fuse([df, df], k_const=0)


def test_rank_biased_overlap_hand_cases(spark):
    import pytest

    from riot_graphs_spark.operators.ranking import rank_biased_overlap

    run = spark.createDataFrame(
        [("q", f"d{r}", r) for r in range(1, 4)],
        "query_id string, doc_id string, rank int",
    )
    # identical runs: rbo = (1-p) * sum_{d=1..k} p^(d-1) (truncation
    # ceiling), overlap 1
    p, k = 0.5, 3
    r = rank_biased_overlap(run, run, k=k, p=p).collect()[0]
    ceiling = (1 - p) * sum(p ** (d - 1) for d in range(1, k + 1))
    assert r["overlap_at_k"] == pytest.approx(1.0)
    assert r["rbo"] == pytest.approx(ceiling, abs=1e-9)
    # disjoint runs: explicit zero row, not a missing query
    other = spark.createDataFrame(
        [("q", f"x{r}", r) for r in range(1, 4)],
        "query_id string, doc_id string, rank int",
    )
    r = rank_biased_overlap(run, other, k=k, p=p).collect()[0]
    assert (r["n_common"], r["overlap_at_k"], r["rbo"]) == (0, 0.0, 0.0)
    # top-heavy weighting: agreeing at rank 1 beats agreeing at rank 3
    top = spark.createDataFrame(
        [("q", "d1", 1), ("q", "z2", 2), ("q", "z3", 3)],
        "query_id string, doc_id string, rank int",
    )
    bottom = spark.createDataFrame(
        [("q", "y1", 1), ("q", "y2", 2), ("q", "d3", 3)],
        "query_id string, doc_id string, rank int",
    )
    r_top = rank_biased_overlap(run, top, k=k, p=p).collect()[0]
    r_bot = rank_biased_overlap(run, bottom, k=k, p=p).collect()[0]
    assert r_top["n_common"] == r_bot["n_common"] == 1
    assert r_top["rbo"] > r_bot["rbo"]
    with pytest.raises(ValueError):
        rank_biased_overlap(run, run, k=0)
    with pytest.raises(ValueError):
        rank_biased_overlap(run, run, p=1.0)
