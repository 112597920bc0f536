"""Curation operators: PII redaction, contamination, sampling, packing.
Edge cases the sf-scale oracle sweep can't isolate: overlap between PII
rules, boundary-straddling docs, empty strata."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from riot_graphs_spark.operators.curation import (
    contamination_check,
    pack_sequences,
    redact_pii,
    stratified_hash_sample,
)


def _redacted(df):
    clean, n = redact_pii("text")
    return df.select("doc_id", "text", clean.alias("clean_text"), n.alias("n_redacted"))


def test_redact_pii_all_types_counted_once(spark):
    df = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                text=(
                    "mail bob.smith+x@corp.example.org host 192.168.1.1 "
                    "ssn 123-45-6789 call 555-867-5309 ok"
                ),
            ),
            Row(doc_id=2, text="nothing sensitive here 42"),
        ]
    )
    out = {r.doc_id: r for r in _redacted(df).collect()}
    assert (
        out[1].clean_text
        == "mail <EMAIL> host <IP> ssn <SSN> call <PHONE> ok"
    )
    assert out[1].n_redacted == 4
    assert out[2].clean_text == out[2].text and out[2].n_redacted == 0


def test_redact_pii_email_digits_not_double_counted(spark):
    # the email's local part looks phone-ish; the email rule must consume
    # it first so later rules see only the <EMAIL> tag
    df = spark.createDataFrame([Row(doc_id=1, text="x 555-867-5309@example.com y")])
    row = _redacted(df).collect()[0]
    assert row.clean_text == "x <EMAIL> y"
    assert row.n_redacted == 1


def test_pack_sequences_straddles_boundary(spark):
    rows = [Row(lang="en", doc_id=i, n=300) for i in range(1, 5)]
    df = spark.createDataFrame(rows)
    got = {
        r.doc_id: (r.pack_id, r.pack_offset)
        for r in pack_sequences(df, budget=512, token_col="n").collect()
    }
    # cumulative-before: 0, 300, 600, 900 → packs 0,0,1,1
    assert got == {1: (0, 0), 2: (0, 300), 3: (1, 88), 4: (1, 388)}


def test_pack_sequences_partitions_independent(spark):
    df = spark.createDataFrame(
        [Row(lang="en", doc_id=1, n=600), Row(lang="de", doc_id=2, n=600)]
    )
    got = pack_sequences(df, budget=512, token_col="n").collect()
    assert all(r.pack_id == 0 and r.pack_offset == 0 for r in got)


def test_stratified_sample_deterministic_and_rate_zero(spark, sf_dir):
    from riot_graphs_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = {"en": 500, "de": 0}
    a = stratified_hash_sample(docs, rates).orderBy("doc_id").collect()
    b = stratified_hash_sample(docs, rates).orderBy("doc_id").collect()
    assert a == b and len(a) > 0
    assert all(r.lang == "en" for r in a)  # de rate 0, others default 0


def test_contamination_exact_and_clean(spark):
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta"),  # shares with eval
            Row(doc_id=2, text="zip zap zop quux nope"),  # disjoint
        ]
    )
    ev = spark.createDataFrame([Row(doc_id=9, text="alpha beta gamma epsilon")])
    got = {
        r.doc_id: (r.n_shared_ngrams, r.contaminated)
        for r in contamination_check(train, ev, threshold=1).collect()
    }
    assert got[1] == (1, True)  # 'alpha beta gamma' is the shared 3-gram
    assert got[2] == (0, False)


def test_snapshot_diff_null_shift_detected(spark):
    from riot_graphs_spark.operators.profile import snapshot_diff

    old = spark.createDataFrame(
        [Row(k=1, a="a", b=None), Row(k=2, a="x", b="y"), Row(k=3, a="q", b="r")]
    )
    new = spark.createDataFrame(
        [Row(k=1, a=None, b="a"), Row(k=2, a="x", b="y"), Row(k=4, a="n", b="m")]
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
    # k=1: same values in shifted positions with nulls — must read as changed,
    # not unchanged (concat_ws would silently drop the nulls and collide)
    assert got == {1: "changed", 3: "removed", 4: "added"}


def test_repetition_stats_crafted_docs(spark):
    from riot_graphs_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            # 4 non-empty lines, 'same line' repeated twice -> 1/4 dup
            Row(doc_id=1, text="same line\nother\nsame line\nunique\n"),
            # 'a b' appears 3x among 4 bigrams: a b, b a, a b | a b
            Row(doc_id=2, text="a b a b a b"),
            Row(doc_id=3, text=""),  # degenerate: no lines, no bigrams
            Row(doc_id=4, text="one"),  # single token: no bigrams
        ]
    )
    got = {
        r.doc_id: (round(r.dup_line_frac, 6), round(r.top_bigram_frac, 6))
        for r in repetition_stats(docs).collect()
    }
    assert got[1][0] == 0.25
    assert got[2] == (0.0, 0.6)  # 3 of 5 bigrams are 'a b'
    assert got[3] == (0.0, 0.0)
    assert got[4] == (0.0, 0.0)


def test_gopher_flags_reject_symbol_soup_and_bullets(spark):
    from riot_graphs_spark.operators.textstats import gopher_quality_flags

    prose = " ".join(["the quick brown fox jumps over lazy dogs again"] * 3)
    bullets = "\n".join(f"- item {i}" for i in range(10))
    soup = "# # # " + " ".join(f"w{i}" for i in range(20)) + " # # # # #"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=prose),
            Row(doc_id=2, text=bullets),
            Row(doc_id=3, text=soup),
        ]
    )
    got = {r.doc_id: r.gopher_keep for r in gopher_quality_flags(docs).collect()}
    assert got[1] is True  # plain prose passes every rule
    assert got[2] is False  # 100% bullet lines
    assert got[3] is False  # symbol:word ratio 8/23 > 0.1


def test_boilerplate_lines_removed_order_preserved(spark):
    from riot_graphs_spark.operators.curation import remove_boilerplate_lines

    footer = "subscribe to our newsletter"
    cookie = "this site uses cookies"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"real content one\n{footer}\n{cookie}"),
            Row(doc_id=2, text=f"{cookie}\nreal content two\n{footer}"),
            Row(doc_id=3, text=f"{footer}\nother real text\n{cookie}\nmore text"),
            Row(doc_id=4, text=f"{footer}\n{cookie}"),  # pure boilerplate
            Row(doc_id=5, text="unique only"),
        ]
    )
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in remove_boilerplate_lines(docs, min_docs=3).collect()
    }
    assert got[1] == ("real content one", 2)
    assert got[2] == ("real content two", 2)
    assert got[3] == ("other real text\nmore text", 2)  # order kept
    assert got[4] == ("", 2)  # survives as empty, not dropped
    assert got[5] == ("unique only", 0)


def test_chunk_documents_overlap_and_boundaries(spark):
    from riot_graphs_spark.operators.curation import chunk_documents

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, ""), (3, "abc"), (4, None)],
        "doc_id long, text string",
    )
    # chunk_chars=4, overlap=2 -> stride 2, starts 1,3,5,7,9 for len 10
    out = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_start"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_chars=4, overlap=2).collect()
    }
    assert out[(1, 0)] == (1, "abcd")
    assert out[(1, 1)] == (3, "cdef")
    assert out[(1, 4)] == (9, "ij")  # tail chunk is short, not padded
    assert (1, 5) not in out  # start 11 > len 10
    assert out[(2, 0)] == (1, "")  # empty doc still yields one empty chunk
    assert out[(3, 0)] == (1, "abc")
    assert out[(3, 1)] == (3, "c")
    # ADVICE fix: NULL text must not vanish (explode over a NULL sequence
    # used to drop the row) — it chunks like the empty document.
    assert out[(4, 0)] == (1, "")
    assert len(out) == 5 + 1 + 2 + 1


def test_chunk_documents_zero_overlap_covers_text_exactly_once(spark):
    from riot_graphs_spark.operators.curation import chunk_documents

    docs = spark.createDataFrame([(1, "0123456789AB")], "doc_id long, text string")
    rows = chunk_documents(docs, chunk_chars=5, overlap=0).collect()
    rebuilt = "".join(
        r["chunk_text"] for r in sorted(rows, key=lambda r: r["chunk_id"])
    )
    assert rebuilt == "0123456789AB"


def test_expectation_report_bounds_and_one_pass_shape(spark):
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.profile import expectation_report

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (None, -5.0)], "k int, v double"
    )
    rep = expectation_report(
        df,
        [
            ("k_complete", F.avg(F.col("k").isNotNull().cast("int")), 0.99, None),
            ("v_min_nonneg", F.min("v"), 0.0, None),
            ("rows_bounded", F.count(F.lit(1)), 1.0, 5.0),
        ],
    )
    got = {r.check_name: r for r in rep.collect()}
    assert got["k_complete"].passed is False  # 2/3 < 0.99
    assert abs(got["k_complete"].metric - 2 / 3) < 1e-12
    assert got["v_min_nonneg"].passed is False and got["v_min_nonneg"].metric == -5.0
    assert got["rows_bounded"].passed is True and got["rows_bounded"].metric == 3.0
    assert got["rows_bounded"].low == 1.0 and got["rows_bounded"].high == 5.0


def test_edit_distance_pairs_banding_threshold_and_bucket_straddle(spark):
    from riot_graphs_spark.operators.dedup import edit_distance_pairs

    docs = spark.createDataFrame(
        [
            # near-dup pair whose lengths straddle a bucket boundary
            # (len 9 -> bucket 0, len 11 -> bucket 1 at band=10)
            (1, "en", "aaaabbbbb", 9),
            (2, "en", "aaaabbbbbcc", 11),
            # identical text, different lang -> blocked apart
            (3, "de", "aaaabbbbb", 9),
            # same block but distance above threshold
            (4, "en", "zzzzzzzzz", 9),
            # same block, length outside the band
            (5, "en", "aaaabbbbb" + "x" * 20, 29),
        ],
        "doc_id long, lang string, text string, n_chars long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in edit_distance_pairs(
            docs, band=10, max_distance=5
        ).collect()
    }
    assert got == {(1, 2): 2}  # found once (no dup from multi-bucket keys)


def test_winnow_guarantee_and_short_doc_handling(spark):
    from riot_graphs_spark.operators.dedup import (
        repeated_spans,
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, "AAA " + shared + " BBB"),
            (2, "CCCCC " + shared + " DDDD"),
            (3, "completely different content with nothing in common here"),
            (4, "tiny"),  # shorter than k -> whole-text gram, still present
            (5, "tiny"),  # exact short dup -> shares that fingerprint
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=20, w=8)
    assert fps.filter("doc_id = 4").count() == 1  # no silent drop
    spans = repeated_spans(docs, k=20, w=8).collect()
    by_docs = {}
    for r in spans:
        by_docs.setdefault(r["fingerprint"], set()).add(r["doc_id"])
    # guarantee: docs 1,2 share a >=27-char substring -> >=1 shared fp
    assert any(v >= {1, 2} for v in by_docs.values())
    # exact short dups share their whole-text fingerprint
    assert any(v == {4, 5} for v in by_docs.values())
    # doc 3 shares nothing
    assert all(3 not in v for v in by_docs.values())


def test_token_drift_js_contributions(spark):
    import math

    from riot_graphs_spark.operators.textstats import token_drift

    a = spark.createDataFrame([(1, "x x y")], "doc_id long, text string")
    b = spark.createDataFrame([(2, "y z z")], "doc_id long, text string")
    got = {r["token"]: r for r in token_drift(a, b, top_k=10).collect()}
    # balanced token y: p == q -> contribution exactly 0
    assert got["y"].js_contribution == 0.0
    # one-sided token x: p=2/3, q=0 -> 0.5*p*ln(2)
    assert abs(got["x"].js_contribution - 0.5 * (2 / 3) * math.log(2)) < 1e-12
    assert got["x"].n_a == 2 and got["x"].n_b == 0
    # ranks: x and z tie by symmetry -> token order breaks the tie
    assert got["x"].drift_rank == 1 and got["z"].drift_rank == 2
    assert got["y"].drift_rank == 3


def test_mad_anomalies_robust_to_outlier_and_degenerate_series(spark):
    from riot_graphs_spark.operators.timeseries import mad_anomalies

    rows = (
        # series a: tight cluster + one wild point; the outlier cannot mask
        # itself (contrast a stddev z-score, where it inflates sigma)
        [("a", i, 10.0 + (i % 3)) for i in range(8)] + [("a", 8, 1000.0)]
        # series b: constant -> MAD 0 -> NULL score, no division error
        + [("b", i, 5.0) for i in range(3)]
    )
    df = spark.createDataFrame(rows, "event_type string, event_id long, value double")
    got = {
        (r["event_type"], r["event_id"]): r
        for r in mad_anomalies(df, dims=["event_type"], value="value").collect()
    }
    assert got[("a", 8)].is_anomaly is True
    assert all(not got[("a", i)].is_anomaly for i in range(8))
    assert got[("b", 0)].robust_z is None


def test_weighted_sample_determinism_weight_bias_and_exclusions(spark):
    from riot_graphs_spark.operators.curation import weighted_sample_per_group

    rows = [("g", i, 1.0) for i in range(20)] + [
        ("g", 100, 10000.0),  # overwhelming weight -> effectively certain
        ("g", 101, 0.0),      # zero weight -> excluded
        ("g", 102, None),     # null weight -> excluded
    ]
    df = spark.createDataFrame(rows, "grp string, id long, wt double")
    s1 = weighted_sample_per_group(
        df, group_cols=["grp"], n=5, weight_col="wt", key_cols=["id"]
    )
    ids1 = sorted(r["id"] for r in s1.collect())
    assert len(ids1) == 5
    assert 100 in ids1
    assert 101 not in ids1 and 102 not in ids1
    # partitioning-invariant determinism
    s2 = weighted_sample_per_group(
        df.repartition(9), group_cols=["grp"], n=5, weight_col="wt",
        key_cols=["id"],
    )
    assert sorted(r["id"] for r in s2.collect()) == ids1


def test_quantize_embeddings_range_error_bound_and_constant_vec(spark):
    from riot_graphs_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.0, 1.0, 0.5, 0.25]), (2, [3.0, 3.0, 3.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    out = quantize_embeddings(df).collect()
    by_key = {(r["vec_id"], r["i"]): r for r in out}
    # endpoints hit the code range exactly
    assert by_key[(1, 1)]["code"] == -127 and by_key[(1, 2)]["code"] == 127
    # every code is in [-127, 127] and dequantizes within half a step
    for r in out:
        assert -127 <= r["code"] <= 127
        if r["vmax"] > r["vmin"]:
            step = (r["vmax"] - r["vmin"]) / 254.0
            orig = df.collect()[r["vec_id"] - 1]["embedding"][r["i"] - 1]
            deq = r["vmin"] + (r["code"] + 127) * step
            assert abs(deq - orig) <= step / 2 + 1e-12
    # constant vector -> all zero codes, no division blow-up
    assert all(by_key[(2, i)]["code"] == 0 for i in range(1, 5))


def test_train_val_test_split_stable_and_proportional(spark):
    from riot_graphs_spark.operators.curation import train_val_test_split

    df = spark.createDataFrame(
        [(i,) for i in range(2000)], "doc_id long"
    )
    s1 = train_val_test_split(df, key_cols=["doc_id"])
    got = {r["doc_id"]: r["split"] for r in s1.collect()}
    # proportions roughly 80/10/10
    from collections import Counter

    c = Counter(got.values())
    assert 0.75 < c["train"] / 2000 < 0.85
    assert 0.07 < c["val"] / 2000 < 0.13
    assert 0.07 < c["test"] / 2000 < 0.13
    # growing the corpus never moves existing keys
    bigger = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    got2 = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(bigger, key_cols=["doc_id"]).collect()
    }
    assert all(got2[k] == v for k, v in got.items())


def test_normalize_text_strips_html_and_folds_unicode(spark):
    from riot_graphs_spark.operators.textstats import normalize_text

    docs = spark.createDataFrame(
        [
            (1, '<p>Hello <b>world</b></p><!-- hidden --> &amp; more'),
            (2, '<script type="x">alert("evil")</script>keep me'),
            (3, "“smart” ‘quotes’ – and — dashes \n\n  spaced"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in normalize_text(docs).collect()}
    assert out[1].text_clean == "Hello world & more"
    assert out[2].text_clean == "keep me"  # script CONTENTS removed too
    assert out[3].text_clean == '"smart" \'quotes\' - and - dashes spaced'
    assert out[4].text_clean is None and out[4].n_removed_chars == 0
    assert out[5].text_clean == "" and out[5].n_removed_chars == 0
    assert out[1].n_removed_chars == len(docs.collect()[0].text) - len(
        out[1].text_clean
    )


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from riot_graphs_spark.operators.textstats import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "aba aba cd"), (2, "aba x")], "doc_id long, text string"
    )
    got = {r.pair: r.n for r in bpe_pair_counts(docs).collect()}
    # 'aba' occurs 3x -> pairs ab, ba each weighted 3; 'cd' 1x; 'x' too short
    assert got == {"ab": 3, "ba": 3, "cd": 1}


def _py_bpe_train(word_freqs: dict[str, int], n_merges: int):
    """Reference BPE (Sennrich et al.) on a word-frequency dict."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, f in vocab.items():
            for i in range(len(sym) - 1):
                counts[(sym[i], sym[i + 1])] = counts.get((sym[i], sym[i + 1]), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_vocab = {}
        for sym, f in vocab.items():
            out, prev = [], None
            for x in sym:
                if prev is not None and (prev, x) == best:
                    out.append(prev + x)
                    prev = None
                elif prev is not None:
                    out.append(prev)
                    prev = x
                else:
                    prev = x
            if prev is not None:
                out.append(prev)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference_implementation(spark):
    from riot_graphs_spark.operators.textstats import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    freqs: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    want = _py_bpe_train(freqs, 6)
    got = bpe_train(docs, n_merges=6)
    assert got == want


def test_chunk_by_sentences_never_splits_a_sentence(spark):
    from riot_graphs_spark.operators.curation import chunk_by_sentences

    text = (
        "First sentence here. Second one is a bit longer than the first! "
        "Third? Fourth sentence ends the doc."
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = chunk_by_sentences(df, max_chars=60).orderBy("chunk_id").collect()
    # every sentence appears exactly once, in order, unbroken
    joined = " ".join(r.chunk_text for r in rows)
    assert joined == (
        "First sentence here. Second one is a bit longer than the first! "
        "Third? Fourth sentence ends the doc."
    )
    assert sum(r.n_sentences for r in rows) == 4
    # a chunk boundary fell inside the doc (multi-chunk, non-vacuous)
    assert len(rows) >= 2
    # chunk assignment follows the running budget: first sentence (20 chars)
    # and second (43) straddle 60 -> second starts chunk 0 (starts at 20),
    # third starts at 63 -> chunk 1
    assert rows[0].chunk_id == 0 and rows[0].n_sentences == 2


def test_chunk_by_sentences_empty_and_unpunctuated(spark):
    from riot_graphs_spark.operators.curation import chunk_by_sentences

    df = spark.createDataFrame(
        [(1, "no punctuation at all just words"), (2, "")],
        "doc_id long, text string",
    )
    rows = chunk_by_sentences(df, max_chars=10).collect()
    by_doc = {r.doc_id: r for r in rows}
    # unpunctuated text = ONE sentence = one chunk even over budget
    assert by_doc[1].n_sentences == 1 and by_doc[1].chunk_id == 0
    # empty text yields no sentences, no rows
    assert 2 not in by_doc


# --------------------------------------------------------------------------
# Round-4 additions: winsorize / temperature mixture / l2 normalize
# --------------------------------------------------------------------------
def test_winsorize_clamps_and_preserves_rows(spark):
    from riot_graphs_spark.operators.profile import winsorize

    rows = [(i, "a", float(v)) for i, v in enumerate(
        [0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0]
    )] + [(100, "b", -50.0), (101, "b", 1.0), (102, "b", 2.0)]
    df = spark.createDataFrame(rows, "id long, event_type string, value double")
    out = winsorize(df, lo=0.10, hi=0.90)
    got = {r.id: r for r in out.collect()}
    assert len(got) == len(rows)  # cap, don't drop
    # group a (exact interpolated): p10 = 0.9, p90 = 8 + 0.1*(100-8) = 17.2;
    # 100.0 clips down to the p90
    assert got[9].clipped and abs(got[9].winsorized - 17.2) < 1e-9
    assert got[0].clipped and abs(got[0].winsorized - 0.9) < 1e-9
    assert not got[5].clipped and got[5].winsorized == 5.0
    # group b gets its own bounds: -50 clips up
    assert got[100].clipped and got[100].winsorized > -50.0


def test_winsorize_null_group_rows_kept(spark):
    """Rows whose group_col is NULL form their own percentile group and
    must survive (null-safe bounds join) — 'row count is preserved'."""
    from riot_graphs_spark.operators.profile import winsorize

    rows = [(i, "a", float(i)) for i in range(5)] + [
        (10, None, 0.0), (11, None, 5.0), (12, None, 100.0)
    ]
    df = spark.createDataFrame(rows, "id long, event_type string, value double")
    got = {r.id: r for r in winsorize(df, lo=0.10, hi=0.90).collect()}
    assert len(got) == len(rows)
    # NULL group: p10 = 1.0 (interp 0..5), p90 = 81.0 (interp 5..100)
    assert got[12].clipped and abs(got[12].winsorized - 81.0) < 1e-9
    assert got[10].clipped and abs(got[10].winsorized - 1.0) < 1e-9
    assert not got[11].clipped and got[11].winsorized == 5.0


def test_winsorize_rejects_bad_bounds(spark):
    from riot_graphs_spark.operators.profile import winsorize

    df = spark.createDataFrame([(1, "a", 1.0)], "id long, event_type string, value double")
    with pytest.raises(ValueError):
        winsorize(df, lo=0.9, hi=0.1)


def test_temperature_mixture_hand_computed(spark):
    import math

    from riot_graphs_spark.operators.curation import temperature_mixture

    df = spark.createDataFrame(
        [(i, "en") for i in range(16)] + [(100 + i, "zh") for i in range(4)],
        "doc_id long, lang string",
    )
    got = {r.lang: r for r in temperature_mixture(df, temperature=2.0).collect()}
    # shares .8/.2 -> sqrt .8944/.4472 -> z=1.3416: sample 2/3 and 1/3
    s_en, s_zh = math.sqrt(0.8), math.sqrt(0.2)
    z = s_en + s_zh
    assert abs(got["en"].sample_share - round(s_en / z, 6)) < 1e-9
    assert abs(got["zh"].sample_share - round(s_zh / z, 6)) < 1e-9
    # T boosts the low-resource stratum, damps the head
    assert got["zh"].boost > 1.0 > got["en"].boost
    assert abs(got["en"].share - 0.8) < 1e-9

    with pytest.raises(ValueError):
        temperature_mixture(df, temperature=0.0)


def test_temperature_one_reproduces_corpus_mixture(spark):
    from riot_graphs_spark.operators.curation import temperature_mixture

    df = spark.createDataFrame(
        [(i, "en") for i in range(6)] + [(10 + i, "de") for i in range(2)],
        "doc_id long, lang string",
    )
    got = {r.lang: r for r in temperature_mixture(df, temperature=1.0).collect()}
    for r in got.values():
        assert abs(r.sample_share - r.share) < 2e-6
        assert abs(r.boost - 1.0) < 1e-5


def test_l2_normalize_components_and_zero_vector(spark):
    from riot_graphs_spark.operators.similarity import l2_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {(r.vec_id, r.i): r for r in l2_normalize(df).collect()}
    assert got[(1, 1)].u == 0.6 and got[(1, 2)].u == 0.8
    assert got[(1, 1)].nrm == 5.0
    assert got[(2, 1)].u == 0.0 and got[(2, 1)].nrm == 0.0  # no NaN poison
    assert len(got) == 4


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment 1.0,
    Jaccard far below any dedup threshold — the asymmetric lens's reason to
    exist. `contained` names the smaller-set doc (the removal candidate)."""
    from riot_graphs_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote} {filler}"), (3, "unrelated text entirely")],
        "doc_id long, text string",
    )
    con = {
        (r.doc_a, r.doc_b): (r.containment, r.contained)
        for r in ngram_containment_pairs(docs, threshold=0.9).collect()
    }
    assert con[(1, 2)][0] == 1.0 and con[(1, 2)][1] == 1
    assert len(con) == 1
    jac = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert not any(
        {r.doc_a, r.doc_b} == {1, 2} for r in jac
    )  # jaccard blind to the subset


def test_containment_tie_prefers_doc_a(spark):
    from riot_graphs_spark.operators.dedup import ngram_containment_pairs

    same = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(7, same), (9, same)], "doc_id long, text string"
    )
    r = ngram_containment_pairs(docs, threshold=0.9).collect()[0]
    assert (r.doc_a, r.doc_b, r.containment, r.contained) == (7, 9, 1.0, 7)


# --------------------------------------------------------------------------
# heavy_hitters: two-phase Misra-Gries candidates + exact recount
# --------------------------------------------------------------------------
def test_heavy_hitters_equals_exact_group_by(spark):
    """With the counter cap (⌈1/min_share⌉ = 20) FAR below the distinct-key
    count (forcing real MG decrements in phase 1), the result must exactly
    equal
    GROUP BY HAVING cnt > N*min_share."""
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.profile import heavy_hitters

    # 3 heavy keys + 500 singleton keys, shuffled deterministically.
    rows = (
        [("hot",)] * 300 + [("warm",)] * 120 + [("mild",)] * 60
        + [(f"cold{i}",) for i in range(500)]
    )
    df = (
        spark.createDataFrame(rows, "k string")
        .withColumn("_o", F.md5(F.concat_ws("|", "k", F.lit("s"))))
        .orderBy("_o")
        .drop("_o")
        .repartition(7)
    )
    got = {
        r.k: (r.cnt, r.share)
        for r in heavy_hitters(df, "k", min_share=0.05).collect()
    }
    n = 300 + 120 + 60 + 500
    expect = {
        r.k: r.cnt
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > n * 0.05).collect()
    }
    # n = 980, threshold 0.05*n = 49 -> hot/warm/mild pass, singletons don't.
    assert set(got) == set(expect) == {"hot", "warm", "mild"}
    assert {k: v[0] for k, v in got.items()} == expect
    for k, (cnt, share) in got.items():
        assert abs(share - cnt / n) < 1e-12


def test_heavy_hitters_excludes_nulls_and_validates(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.profile import heavy_hitters

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), (None,), (None,), ("b",)], "k string"
    )
    got = {r.k: r.cnt for r in heavy_hitters(df, "k", min_share=0.5).collect()}
    # NULLs excluded: N = 3, only "a" (2 > 1.5) passes.
    assert got == {"a": 2}
    with _pytest.raises(ValueError):
        heavy_hitters(df, "k", min_share=0.0)


def test_heavy_hitters_grouped_equals_exact_per_group(spark):
    """Grouped MG + recount must exactly equal per-group GROUP BY HAVING,
    with the counter cap far below the distinct-key count and keys that are heavy
    in one group but cold in another."""
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.profile import heavy_hitters_grouped

    rows = (
        [("g1", "hot")] * 200 + [("g1", "warm")] * 80
        + [(f"g1", f"c{i}") for i in range(400)]
        # 'hot' is COLD in g2; 'spike' is heavy only in g2
        + [("g2", "hot")] * 2 + [("g2", "spike")] * 90
        + [(f"g2", f"d{i}") for i in range(300)]
    )
    df = (
        spark.createDataFrame(rows, "g string, k string")
        .withColumn("_o", F.md5(F.concat_ws("|", "g", "k", F.lit("s"))))
        .orderBy("_o")
        .drop("_o")
        .repartition(7)
    )
    got = {
        (r.g, r.k): (r.cnt, r.share)
        for r in heavy_hitters_grouped(
            df, key_col="k", group_col="g", min_share=0.05
        ).collect()
    }
    exact = {
        (r.g, r.k): r.cnt
        for r in df.groupBy("g", "k").agg(F.count(F.lit(1)).alias("cnt"))
        .join(df.groupBy("g").agg(F.count(F.lit(1)).alias("n")), "g")
        .where(F.col("cnt") > F.col("n") * 0.05)
        .collect()
    }
    assert set(got) == set(exact) == {
        ("g1", "hot"), ("g1", "warm"), ("g2", "spike")
    }
    assert {gk: v[0] for gk, v in got.items()} == exact
    n1, n2 = 200 + 80 + 400, 2 + 90 + 300
    assert abs(got[("g1", "hot")][1] - 200 / n1) < 1e-12
    assert abs(got[("g2", "spike")][1] - 90 / n2) < 1e-12


def test_heavy_hitters_grouped_excludes_null_keys_and_groups(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.profile import heavy_hitters_grouped

    df = spark.createDataFrame(
        [("g", "a"), ("g", "a"), ("g", None), (None, "a"), ("g", "b")],
        "g string, k string",
    )
    got = {
        (r.g, r.k): r.cnt
        for r in heavy_hitters_grouped(
            df, key_col="k", group_col="g", min_share=0.5
        ).collect()
    }
    # NULL key and NULL group excluded: N_g = 3, only (g, a) (2 > 1.5).
    assert got == {("g", "a"): 2}
    with _pytest.raises(ValueError):
        heavy_hitters_grouped(df, "k", "g", min_share=1.0)


# --------------------------------------------------------------------------
# paragraph_dedup_stats: unit-hash dedup report
# --------------------------------------------------------------------------
def test_paragraph_dedup_stats_block_mode(spark):
    from riot_graphs_spark.operators.dedup import paragraph_dedup_stats

    a = "one two three four five six"          # blocks: [one..three][four..six]
    b = "one two three seven eight nine"       # shares block 1 with a
    c = "ten eleven twelve"                    # unique block
    d = "tiny"                                  # < block_tokens -> no units
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_units, r.n_dup_units, r.dup_rate)
        for r in paragraph_dedup_stats(df, block_tokens=3).collect()
    }
    assert got == {
        1: (2, 1, 0.5),
        2: (2, 1, 0.5),
        3: (1, 0, 0.0),
    }
    assert 4 not in got  # no full block -> no row


def test_paragraph_dedup_stats_within_doc_repeat_is_not_a_dup(spark):
    """A unit repeated only WITHIN one doc is not a duplicate."""
    import pytest as _pytest

    from riot_graphs_spark.operators.dedup import paragraph_dedup_stats

    df = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta gamma delta"),  # alpha beta twice
            (2, "gamma delta omega psi"),  # gamma delta shared with doc 1
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_units, r.n_dup_units)
        for r in paragraph_dedup_stats(df, block_tokens=2).collect()
    }
    # doc1: units alpha beta, alpha beta, gamma delta; only gamma delta
    # crosses docs -> 1 dup unit
    assert got == {1: (3, 1), 2: (2, 1)}
    with _pytest.raises(ValueError):
        paragraph_dedup_stats(df, block_tokens=0)


# --------------------------------------------------------------------------
# global_index: two-phase contiguous numbering == global ORDER BY rank
# --------------------------------------------------------------------------
def test_global_index_matches_global_sort_any_buckets(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.curation import global_index

    df = spark.range(0, 1000).select(F.col("id").alias("doc_id")).repartition(9)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.lit("gidx"), F.col("doc_id").cast("string"))),
            1, 14,
        ), 16, 10,
    ).cast("long")
    expect = {
        r.doc_id: r.pos
        for r in df.withColumn("_h", h)
        .withColumn("pos", F.row_number().over(Window.orderBy("_h", "doc_id")) - 1)
        .collect()
    }
    for b in (1, 5, 64):
        got = {r.doc_id: r.global_pos for r in global_index(df, buckets=b).collect()}
        assert got == expect, f"buckets={b}"
    # Contiguity: exactly 0..n-1 once each.
    assert sorted(expect.values()) == list(range(1000))


def test_global_index_rejects_bad_buckets(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.curation import global_index

    with _pytest.raises(ValueError):
        global_index(spark.range(1).withColumnRenamed("id", "doc_id"), buckets=0)


# --------------------------------------------------------------------------
# URL normalization / registrable-domain extraction / domain report
# --------------------------------------------------------------------------
def test_normalize_url_edge_cases(spark):
    from riot_graphs_spark.functions.scalars import normalize_url

    cases = {
        # tracking-first param loses '?': first '&' must be promoted back
        "http://WWW.Ex.COM:443/a/?utm_source=x&page=2#frag":
            "https://ex.com/a/?page=2",
        # every param is tracking -> query string vanishes entirely
        "https://ex.com/p?utm_a=1&gclid=2": "https://ex.com/p",
        # default port with no path; scheme fold; trailing slash
        "HTTP://ex.com:443": "https://ex.com",
        "https://ex.com/a/": "https://ex.com/a",
        # non-default port preserved; mid-query tracking removed
        "https://ex.com:8443/a?page=1&fbclid=z&q=2":
            "https://ex.com:8443/a?page=1&q=2",
        # fragment-only difference collapses
        "https://ex.com/a#s1": "https://ex.com/a",
    }
    df = spark.createDataFrame([(k,) for k in cases], "url string")
    got = {
        r.url: r.norm
        for r in df.select("url", normalize_url("url").alias("norm")).collect()
    }
    assert got == cases


def test_normalize_url_idempotent(spark):
    from pyspark.sql import functions as F

    from riot_graphs_spark.functions.scalars import normalize_url

    urls = [
        "http://www.a.co.uk:443/x/?utm_c=1&p=2#f",
        "https://b.io/deep/path/?gclid=1",
        "HTTPS://C.NET/UPPER?ref=x&keep=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        normalize_url("url").alias("once"),
        normalize_url(normalize_url("url")).alias("twice"),
    ).collect()
    assert all(r.once == r.twice for r in out)


def test_registered_domain_suffixes(spark):
    from riot_graphs_spark.functions.scalars import registered_domain

    cases = {
        "https://a.b.co.uk/x": "b.co.uk",
        "https://deep.sub.ex.com/x": "ex.com",
        "https://ex.org": "ex.org",
        "https://localhost/x": "localhost",
        "https://ex.com:8443/x": "ex.com",
    }
    df = spark.createDataFrame([(k,) for k in cases], "u string")
    got = {
        r.u: r.d
        for r in df.select("u", registered_domain("u").alias("d")).collect()
    }
    assert got == cases


def test_url_domain_report_counts(spark):
    from riot_graphs_spark.operators.curation import url_domain_report

    rows = [
        ("http://www.ex.com/a?utm_s=1",),   # -> https://ex.com/a
        ("https://ex.com/a#frag",),         # -> https://ex.com/a (dup)
        ("https://ex.com/b",),
        ("https://other.org/x",),
    ]
    df = spark.createDataFrame(rows, "url string")
    got = {r.domain: r for r in url_domain_report(df, cap_share=0.5).collect()}
    ex = got["ex.com"]
    assert (ex.n_docs, ex.n_urls) == (3, 2)
    assert abs(ex.dup_ratio - (1 - 2 / 3)) < 1e-12
    assert ex.over_cap and not got["other.org"].over_cap


def test_eval_leakage_report_fractions(spark):
    from pyspark.sql import Row

    from riot_graphs_spark.operators.curation import eval_leakage_report

    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="zig zag zug"),
        ]
    )
    ev = spark.createDataFrame(
        [
            # 3 trigrams, 2 of which ('alpha beta gamma', 'beta gamma delta')
            # occur in train doc 1
            Row(doc_id=10, text="alpha beta gamma delta nope"),
            Row(doc_id=11, text="totally novel words here now"),
            Row(doc_id=12, text="xy"),  # < n tokens: 0 grams
        ]
    )
    got = {
        r.doc_id: (r.n_grams, r.n_leaked, round(r.leak_frac, 6), r.leaked)
        for r in eval_leakage_report(train, ev, threshold=0.5).collect()
    }
    assert got[10] == (3, 2, round(2 / 3, 6), True)
    assert got[11] == (3, 0, 0.0, False)
    assert got[12] == (0, 0, 0.0, False)


def test_eval_leakage_report_validates_threshold(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.curation import eval_leakage_report

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        eval_leakage_report(df, df, threshold=1.5)


# --------------------------------------------------------------------------
# sorted_neighborhood_pairs: SNM blocking == global-sort window pairs
# --------------------------------------------------------------------------
def test_sorted_neighborhood_equals_global_sort_pairs(spark):
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.dedup import sorted_neighborhood_pairs

    # keys with duplicates and skew; ids break ties
    rows = [(i, f"k{(i * 13) % 40:03d}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.gap
        for r in sorted_neighborhood_pairs(
            df, "text", w=4, partitions=7
        ).collect()
    }
    ordered = [
        r.doc_id
        for r in df.orderBy(F.col("text"), F.col("doc_id")).collect()
    ]
    expect = {}
    for i, a in enumerate(ordered):
        for g in (1, 2, 3):
            if i + g < len(ordered):
                expect[(a, ordered[i + g])] = g
    assert got == expect


def test_sorted_neighborhood_string_ids(spark):
    """Non-integral record keys (UUID-ish strings) must pass through the
    rank stage intact — the mapInPandas schema derives from id_col."""
    from riot_graphs_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(f"id-{i:04d}", f"k{i:03d}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in sorted_neighborhood_pairs(df, "text", w=2).collect()
    }
    expect = {(f"id-{i:04d}", f"id-{i + 1:04d}") for i in range(9)}
    assert got == expect


def test_sorted_neighborhood_validates_window(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.dedup import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "text", w=1)


def test_minhash_calibration_identical_docs_err_zero(spark):
    from pyspark.sql import Row

    from riot_graphs_spark.operators.dedup import minhash_estimate_calibration

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=text),
            Row(doc_id=2, text=text),  # exact dup: est = exact = 1
            Row(doc_id=3, text=text + " extra tail words here"),
        ]
    )
    got = {
        (r.doc_a, r.doc_b): r
        for r in minhash_estimate_calibration(docs).collect()
    }
    dup = got[(1, 2)]
    assert dup.est_jaccard == 1.0 and dup.exact_jaccard == 1.0
    assert dup.abs_err == 0.0
    for r in got.values():
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert abs(r.abs_err - abs(r.est_jaccard - r.exact_jaccard)) < 1e-12


def test_url_exact_dedup_groups_collapse(spark, tmp_path):
    # Build a tiny documents table whose derived URLs collide after
    # normalization for even ids sharing (source, residues).
    import pyarrow as pa
    import pyarrow.parquet as pq

    from riot_graphs_spark.plans.driver_queries import QUERIES

    # 0 and 3432 share every URL-shaping residue (%2,%3,%13,%4,%6,%8,%11)
    # -> identical normalized URL; 1 and 5 are odd singletons.
    ids = [0, 3432, 1, 5]
    t = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(["x"] * len(ids)),
        "lang": pa.array(["en"] * len(ids)),
        "source": pa.array(["srcA"] * len(ids)),
        "n_chars": pa.array([1] * len(ids), pa.int64()),
    })
    pq.write_table(t, str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.canonical_id, r.group_size)
        for r in QUERIES["url_exact_dedup_groups"](spark, str(tmp_path)).collect()
    }
    assert got == {0: (0, 2), 3432: (0, 2)}


def test_cross_source_overlap_hand_fixture(spark):
    """Two sources sharing one block, a third sharing none; within-source
    duplication must not count."""
    from riot_graphs_spark.operators.dedup import cross_source_overlap

    shared = "alpha beta gamma"
    rows = [
        (1, "s1", shared + " one two three"),
        (2, "s1", shared + " four five six"),   # shared block ALSO in s1 again
        (3, "s2", shared + " seven eight nine"),
        (4, "s3", "ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source_a, r.source_b): r.n_shared_units
        for r in cross_source_overlap(df, block_tokens=3).collect()
    }
    # only the s1-s2 pair shares a unit, counted once (distinct units)
    assert got == {("s1", "s2"): 1}


def test_ipf_weights_hit_both_margins(spark):
    """Raking must drive BOTH weighted margins to the uniform targets —
    the property no single-margin reweighting has — and more iterations
    must tighten the fit."""
    import pytest

    from riot_graphs_spark.operators.curation import ipf_mixture_weights

    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 5 + [("b", "y")] * 15
    )
    df = spark.createDataFrame(rows, "lang string, source string")

    def margins(iterations):
        out = ipf_mixture_weights(
            df, "lang", "source", iterations=iterations
        ).collect()
        total = sum(r["n"] * r["weight"] for r in out)
        by_r, by_c = {}, {}
        for r in out:
            by_r[r["lang"]] = by_r.get(r["lang"], 0) + r["n"] * r["weight"]
            by_c[r["source"]] = by_c.get(r["source"], 0) + r["n"] * r["weight"]
        return (
            {k: v / total for k, v in by_r.items()},
            {k: v / total for k, v in by_c.items()},
        )

    br, bc = margins(8)
    assert all(abs(v - 0.5) < 1e-3 for v in br.values()), br
    assert all(abs(v - 0.5) < 1e-3 for v in bc.values()), bc
    # fewer iterations -> looser fit on the margin fixed first
    br1, _ = margins(1)
    assert max(abs(v - 0.5) for v in br1.values()) >= max(
        abs(v - 0.5) for v in br.values()
    )
    with pytest.raises(ValueError):
        ipf_mixture_weights(df, "lang", "source", iterations=0)


def test_quantile_normalize_equal_ranks_get_equal_values(spark):
    """The defining property: two groups with identical within-group rank
    structure map onto the SAME pooled targets, whatever their scales —
    and every group's max maps to the pooled max (the mapping is total)."""
    from riot_graphs_spark.operators.curation import quantile_normalize

    rows = [("a", v) for v in (1.0, 2.0, 3.0, 4.0)] + [
        ("b", v) for v in (10.0, 20.0, 30.0, 40.0)
    ]
    df = spark.createDataFrame(rows, "source string, score double")
    out = quantile_normalize(df, "score", ["source"])
    got = {
        (r["source"], r["score"]): r["score_qn"] for r in out.collect()
    }
    # pooled sorted: 1,2,3,4,10,20,30,40 -> quantile grid k/8; group rank
    # k/4 targets pooled ranks 2,4,6,8 -> values 2,4,20,40 for BOTH groups
    assert [got[("a", v)] for v in (1.0, 2.0, 3.0, 4.0)] == [
        2.0, 4.0, 20.0, 40.0
    ]
    assert [got[("b", v)] for v in (10.0, 20.0, 30.0, 40.0)] == [
        2.0, 4.0, 20.0, 40.0
    ]

    # NULL value / NULL group pass through with NULL calibrated value
    with_nulls = spark.createDataFrame(
        rows + [("a", None), (None, 5.0)], "source string, score double"
    )
    out = quantile_normalize(with_nulls, "score", ["source"])
    assert out.count() == 10
    nulls = out.filter(F.col("score_qn").isNull()).collect()
    assert {(r["source"], r["score"]) for r in nulls} == {
        ("a", None), (None, 5.0)
    }

    # colliding output column fails loudly instead of producing a frame
    # with duplicate names (ambiguous downstream selects)
    with pytest.raises(ValueError, match="already exists"):
        quantile_normalize(df, "score", ["source"], out_col="score")
    with pytest.raises(ValueError, match="already exists"):
        quantile_normalize(
            df.withColumn("score_qn", F.lit(0.0)), "score", ["source"]
        )


def test_readability_scores_hand_case(spark):
    from riot_graphs_spark.operators.textstats import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. The cat ran!"),   # 6 words, 2 sentences
         (2, ""),                              # wordless
         (3, "rhythm")],                       # no vowel letter -> 1 syl
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in readability_scores(df).collect()}
    r1 = rows[1]
    assert (r1["n_words"], r1["n_sentences"]) == (6, 2)
    # the, cat, sat, the, cat, ran: one vowel group each
    assert r1["n_syllables"] == 6
    assert r1["flesch"] == pytest.approx(
        round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 6)
    )
    r2 = rows[2]
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllables"]) == (0, 1, 0)
    assert r2["flesch"] is None
    # vowel-less word still counts one spoken syllable
    assert rows[3]["n_syllables"] == 1


def test_contamination_rate_query_consistency(spark):
    # per-source rates must re-aggregate to the doc-level flags
    from riot_graphs_spark.operators.curation import contamination_check

    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 2),
          "alpha beta gamma delta" if i % 3 == 0 else "zeta eta theta iota")
         for i in range(30)],
        "doc_id bigint, source string, text string",
    )
    train = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    flags = contamination_check(train, ev, threshold=1)
    joined = train.join(flags, "doc_id").groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("contaminated"), 1).otherwise(0)).alias("c"),
    )
    rows = {r["source"]: r for r in joined.collect()}
    total_c = sum(r["c"] for r in rows.values())
    # every train doc shares all its 3-grams with some eval doc here
    # (both text variants appear in the eval split) -> all contaminated
    assert total_c == sum(r["n"] for r in rows.values())


def test_split_dup_leakage_counting(spark):
    # 3-member group split train/train/test: straddles, 2 of 3 pairs cross
    # (within-pairs: C(2,2 members in train)=1); 2-member group all-train:
    # doesn't straddle
    from riot_graphs_spark.operators.dedup import exact_dedup_groups

    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "aaa"), (4, "bbb"), (5, "bbb"),
         (6, "unique")],
        "doc_id bigint, text string",
    )
    split = spark.createDataFrame(
        [(1, "train"), (2, "train"), (3, "test"), (4, "train"),
         (5, "train"), (6, "val")],
        "doc_id bigint, split string",
    )
    fp = exact_dedup_groups(docs).select("doc_id", "fingerprint")
    per = fp.join(split, "doc_id").groupBy("fingerprint", "split").agg(
        F.count(F.lit(1)).alias("ns")
    )
    grp = per.groupBy("fingerprint").agg(
        F.sum("ns").alias("n"),
        F.count(F.lit(1)).alias("n_splits"),
        F.sum((F.col("ns") * (F.col("ns") - 1)) / 2).cast("long").alias(
            "within"
        ),
    ).filter(F.col("n") > 1)
    rows = {r["n"]: r for r in grp.collect()}
    g3 = rows[3]
    assert g3["n_splits"] == 2 and g3["within"] == 1  # straddling pairs 3-1=2
    g2 = rows[2]
    assert g2["n_splits"] == 1 and g2["within"] == 1  # 0 straddling


def test_content_defined_chunks_properties(spark):
    from riot_graphs_spark.operators.dedup import content_defined_chunks

    text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
            "omega one two three four five six seven eight nine ten "
            "eleven twelve thirteen fourteen fifteen sixteen seventeen")
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    ch1 = content_defined_chunks(df, w=4, divisor=4).collect()
    # chunks tile the doc exactly: contiguous, total = token count
    ch1 = sorted(ch1, key=lambda r: r["start_tok"])
    n_tok = len(text.split())
    assert sum(r["n_toks"] for r in ch1) == n_tok
    pos = 1
    for r in ch1:
        assert r["start_tok"] == pos
        pos += r["n_toks"]
    # content-defined: inserting tokens at the FRONT shifts offsets but
    # preserves the chunk identities downstream of the insertion point
    shifted = spark.createDataFrame(
        [(2, "zzz yyy xxx www vvv " + text)], "doc_id bigint, text string"
    )
    ch2 = content_defined_chunks(shifted, w=4, divisor=4).collect()
    h1 = {r["chunk_hash"] for r in ch1}
    h2 = {r["chunk_hash"] for r in ch2}
    assert len(h1 & h2) >= max(0, len(ch1) - 2)  # all but the head chunk
    # doc shorter than w: one unsplit chunk (no descending-sequence walk)
    tiny = spark.createDataFrame(
        [(3, "only three words")], "doc_id bigint, text string"
    )
    t = content_defined_chunks(tiny, w=8).collect()
    assert len(t) == 1 and t[0]["n_toks"] == 3 and t[0]["start_tok"] == 1
    # empty doc: no rows
    empty = spark.createDataFrame([(4, "")], "doc_id bigint, text string")
    assert content_defined_chunks(empty).count() == 0
    with pytest.raises(ValueError):
        content_defined_chunks(df, w=0)


def test_chunk_overlap_pairs_hand_case(spark):
    from riot_graphs_spark.operators.dedup import chunk_overlap_pairs

    shared = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lam mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [
            (1, shared + " unique tail one two three"),
            (2, "different head words here then " + shared),
            (3, "nothing in common with the others at all whatsoever"),
        ],
        "doc_id bigint, text string",
    )
    pairs = chunk_overlap_pairs(
        docs, w=4, divisor=4, min_shared=1
    ).collect()
    # docs 1 and 2 share the syndicated span's interior chunks; doc 3
    # pairs with nobody
    assert all((r["doc_a"], r["doc_b"]) == (1, 2) for r in pairs)
    assert len(pairs) == 1 and pairs[0]["n_shared_chunks"] >= 1
    assert pairs[0]["shared_tokens"] >= 4
    # a boilerplate chunk above the bucket cap never forms pairs
    many = spark.createDataFrame(
        [(i, shared) for i in range(10)], "doc_id bigint, text string"
    )
    capped = chunk_overlap_pairs(
        many, w=4, divisor=4, min_shared=1, max_bucket_size=5
    )
    assert capped.count() == 0
    with pytest.raises(ValueError):
        chunk_overlap_pairs(docs, min_shared=0)


def test_jaccard_verify_pairs_hand_case(spark):
    """The candidate-semi-join rewrite (r13-opt): shingles build only
    for pair endpoints, and the exact Jaccard over the given pairs is
    unchanged."""
    import pytest as _pytest

    from riot_graphs_spark.operators.dedup import (
        jaccard_verify_pairs,
        word_shingles,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "the quick brown fox jumps over the lazy cat today",
        3: "completely different content with no overlap at all here",
        4: "the quick brown fox jumps over the lazy dog today",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a bigint, doc_b bigint"
    )
    sh = {
        r["doc_id"]: set(r["s"])
        for r in docs.select(
            "doc_id", word_shingles("text", 3).alias("s")
        ).collect()
    }

    def jac(a, b):
        inter = len(sh[a] & sh[b])
        return inter / (len(sh[a]) + len(sh[b]) - inter)

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_verify_pairs(docs, pairs, threshold=0.5).collect()
    }
    # (1,3) is below threshold; (1,2) and the exact dup (1,4) survive
    assert set(got) == {(1, 2), (1, 4)}
    for k, v in got.items():
        assert v == _pytest.approx(jac(*k), abs=1e-12)
    # threshold=0 keeps every candidate pair, including the no-overlap one
    assert jaccard_verify_pairs(docs, pairs, threshold=0.0).count() == 3
