

def test_zipf_fit_hand_cases(spark):
    import math

    import pytest as _pytest

    from riot_graphs_spark.operators.textstats import zipf_fit

    # construct exact Zipf: token t1 x8, t2 x4, t3 x2, t4 x1 with
    # freq = 8/rank^1.5... use powers of 2 so ln-freq is linear in
    # ln(1/2): freqs 8,4,2,1 over ranks 1..4 is NOT log-log linear
    # (ranks aren't geometric) — instead fit y = ln f on x = ln r and
    # check against numpy-free closed-form computed here in python
    docs = spark.createDataFrame(
        [(" ".join(["aa"] * 8 + ["bb"] * 4 + ["cc"] * 2 + ["dd"]),)],
        "text string",
    )
    got = zipf_fit(docs, "text", top_n=10).collect()[0]
    assert got["n_terms"] == 4
    assert got["top_term"] == "aa" and got["top_freq"] == 8
    xs = [math.log(r) for r in (1, 2, 3, 4)]
    ys = [math.log(f) for f in (8, 4, 2, 1)]
    m = 4
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    r2 = (m * sxy - sx * sy) ** 2 / (
        (m * sxx - sx * sx) * (m * syy - sy * sy)
    )
    assert got["slope"] == _pytest.approx(slope, abs=1e-8)
    assert got["r_squared"] == _pytest.approx(r2, abs=1e-8)

    # flat head (all tokens equally frequent): dy = 0 -> r2 NULL,
    # slope 0
    flat = zipf_fit(
        spark.createDataFrame([("xx yy zz xx yy zz",)], "text string"),
        "text",
        top_n=10,
    ).collect()[0]
    assert flat["slope"] == _pytest.approx(0.0)
    assert flat["r_squared"] is None

    # single-term corpus: fit undefined
    one = zipf_fit(
        spark.createDataFrame([("solo solo",)], "text string"),
        "text",
        top_n=10,
    ).collect()[0]
    assert one["n_terms"] == 1 and one["slope"] is None

    # top_n caps the head: 3 distinct tokens, top_n=2 keeps ranks 1-2
    cap = zipf_fit(
        spark.createDataFrame(
            [("aa aa aa bb bb cc",)], "text string"
        ),
        "text",
        top_n=2,
    ).collect()[0]
    assert cap["n_terms"] == 2 and cap["top_term"] == "aa"


def test_heaps_fit_hand_cases(spark):
    import math

    import pytest as _pytest

    from riot_graphs_spark.operators.textstats import heaps_fit

    # three docs in doc_id order: doc1 "aa bb" (n=2, V=2),
    # doc2 "aa cc" (n=4, V=3), doc3 "dd dd" (n=6, V=4)
    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa cc"), (3, "dd dd")],
        "doc_id bigint, text string",
    )
    got = heaps_fit(docs).collect()[0]
    assert (got["n_docs"], got["total_tokens"], got["vocab_size"]) == (
        3, 6, 4,
    )
    xs = [math.log(n) for n in (2, 4, 6)]
    ys = [math.log(v) for v in (2, 3, 4)]
    m = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    beta = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    assert got["beta"] == _pytest.approx(beta, abs=1e-8)
    # sub-linear growth: 0 < beta < 1
    assert 0 < got["beta"] < 1

    # fully duplicated corpus: V flat after doc 1 -> beta near 0
    dup = spark.createDataFrame(
        [(i, "same tokens here") for i in range(1, 6)],
        "doc_id bigint, text string",
    )
    flat = heaps_fit(dup).collect()[0]
    assert flat["vocab_size"] == 3
    assert abs(flat["beta"]) < 0.05

    # single doc: one point, no slope
    one = heaps_fit(
        spark.createDataFrame([(1, "x y")], "doc_id bigint, text string")
    ).collect()[0]
    assert one["beta"] is None


def test_vocab_jaccard_matrix_hand_case(spark):
    import pytest as _pytest

    from riot_graphs_spark.operators.textstats import (
        vocab_jaccard_matrix,
    )

    docs = spark.createDataFrame(
        [
            ("A", "x y z"),
            ("A", "x y"),       # repeats don't inflate the vocab set
            ("B", "y z w"),
            ("C", "q"),
        ],
        "source string, text string",
    )
    got = {
        (r["group_a"], r["group_b"]): r
        for r in vocab_jaccard_matrix(docs).collect()
    }
    assert len(got) == 3
    ab = got[("A", "B")]
    assert (ab["vocab_a"], ab["vocab_b"], ab["intersection"]) == (3, 3, 2)
    assert ab["jaccard"] == _pytest.approx(0.5)
    # disjoint pairs still appear, at 0
    assert got[("A", "C")]["jaccard"] == 0.0
    assert got[("B", "C")]["intersection"] == 0


# --------------------------------------------------------------------------
# unigram-LM tokenizer (r11): reference-Python parity + round-trip
# --------------------------------------------------------------------------
def _ref_unigram_train(corpus, vocab_size, n_iter, max_piece_len, seed_cands):
    """Independent sequential reference of the unigram trainer spec:
    substring-seeded candidates, hard-EM Viterbi with the
    longer-piece-then-lexicographic tie-break, deterministic count prune,
    one refresh pass."""
    import math
    import re

    token_re = re.compile(r"[a-z0-9]+")
    wf = {}
    for text in corpus:
        for w in token_re.findall(text.lower()):
            wf[w] = wf.get(w, 0) + 1

    def viterbi(word, logp):
        n = len(word)
        NEG = float("-inf")
        dp = [(0.0, 0)] + [(NEG, -1)] * n
        for i in range(1, n + 1):
            bs, bj, bp = NEG, -1, ""
            for j in range(max(0, i - max_piece_len), i):
                if dp[j][0] == NEG:
                    continue
                piece = word[j:i]
                lp = logp.get(piece)
                if lp is None:
                    if len(piece) > 1:
                        continue
                    lp = -100.0
                s = dp[j][0] + lp
                if bj < 0 or s > bs + 1e-12 or (
                    abs(s - bs) <= 1e-12 and (j < bj or (j == bj and piece < bp))
                ):
                    bs, bj, bp = s, j, piece
            dp[i] = (bs, bj)
        out, i = [], n
        while i > 0:
            j = dp[i][1]
            out.append(word[j:i])
            i = j
        return out[::-1]

    cand = {}
    for w, f in wf.items():
        for ln in range(1, min(len(w), max_piece_len) + 1):
            for i in range(len(w) - ln + 1):
                p = w[i : i + ln]
                cand[p] = cand.get(p, 0) + f
    top = sorted(cand.items(), key=lambda pc: (-pc[1], pc[0]))[:seed_cands]
    counts = {p: float(c) for p, c in top}
    chars = {}
    for w in wf:  # char seed counts the DISTINCT-word occurrences,
        for c in w:  # matching the operator's split-over-vocab seed
            chars[c] = chars.get(c, 0) + 1
    for c, n in chars.items():
        counts.setdefault(c, float(n))

    def probs(cnt):
        tot = sum(cnt.values())
        return {p: math.log(c / tot) for p, c in cnt.items() if c > 0}

    def estep(logp):
        fresh = {}
        for w, f in wf.items():
            for piece in viterbi(w, logp):
                fresh[piece] = fresh.get(piece, 0.0) + float(f)
        for p in counts:
            if len(p) == 1:
                fresh.setdefault(p, 1e-6)
        return fresh

    for _ in range(n_iter):
        new = estep(probs(counts))
        counts.clear()
        counts.update(new)
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )
    keep = dict(singles)
    for p, c in multis:
        if len(keep) >= max(vocab_size, len(singles)):
            break
        keep[p] = c
    final = estep(probs(keep))
    final = {p: c for p, c in final.items() if p in keep}
    tot = sum(final.values())
    return sorted(
        ((p, c / tot) for p, c in final.items()), key=lambda pc: (-pc[1], pc[0])
    )


def test_unigram_train_matches_reference_python(spark):
    from riot_graphs_spark.operators.textstats import unigram_train

    corpus = [
        "the cat sat on the mat and the rat sat too",
        "a cat and a rat ate the mat",
        "that hat is the best hat that the cat has",
        "rats and cats and bats and mats",
    ]
    docs = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id long, text string"
    )
    got = unigram_train(
        docs, vocab_size=20, n_iter=2, max_piece_len=3, seed_candidates=60
    )
    want = _ref_unigram_train(
        corpus, vocab_size=20, n_iter=2, max_piece_len=3, seed_cands=60
    )
    assert [p for p, _ in got] == [p for p, _ in want]
    for (gp, gpr), (wp, wpr) in zip(got, want):
        assert abs(gpr - wpr) < 1e-9, (gp, gpr, wpr)
    # the model learned at least one real multi-char piece
    assert any(len(p) > 1 for p, _ in got)


def test_unigram_train_rejects_bad_params(spark):
    import pytest

    from riot_graphs_spark.operators.textstats import unigram_train

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        unigram_train(docs, vocab_size=0)
    with pytest.raises(ValueError):
        unigram_train(docs, n_iter=0)


def test_unigram_train_independent_of_partition_layout(spark):
    """The hard-EM E-step runs as mapInPandas over the word table — the
    learned vocabulary must not depend on how that table is partitioned
    (counts are summed exactly; Viterbi is per-word)."""
    from riot_graphs_spark.operators.textstats import unigram_train

    corpus = [
        "spark shuffles partitions and spark plans scans",
        "plans and partitions shape shuffles",
        "scans scan the shuffled partitions",
    ]
    docs = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id long, text string"
    )
    a = unigram_train(
        docs.repartition(1), vocab_size=18, n_iter=2, max_piece_len=3
    )
    b = unigram_train(
        docs.repartition(7), vocab_size=18, n_iter=2, max_piece_len=3
    )
    assert a == b


def test_rake_keywords_matches_reference(spark):
    """The distinct-phrase-axis rewrite (r13-opt) must reproduce the
    token-axis RAKE math exactly: freq/deg from split(phrase) weighted
    by occurrence counts equals the per-token-occurrence sums."""
    import re
    from collections import Counter

    import pytest as _pytest

    from riot_graphs_spark.operators.textstats import (
        RAKE_STOPWORDS,
        rake_keywords,
    )

    corpus = [
        "deep learning of deep models and deep learning pipelines",
        "learning pipelines for the deep models",
        "deep learning is a craft and deep models are heavy",
        "shallow trees with deep learning on the side",
    ]
    docs = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id long, text string"
    )
    stop = set(RAKE_STOPWORDS)
    occurrences = []  # every phrase occurrence, as a word tuple
    for text in corpus:
        cur = []
        for t in re.findall(r"[a-z0-9]+", text.lower()):
            if t in stop:
                if cur:
                    occurrences.append(tuple(cur))
                cur = []
            else:
                cur.append(t)
        if cur:
            occurrences.append(tuple(cur))
    freq, deg = Counter(), Counter()
    for p in occurrences:
        for w in p:
            freq[w] += 1
            deg[w] += len(p)
    wscore = {w: deg[w] / freq[w] for w in freq}
    n_phrase = Counter(" ".join(p) for p in occurrences)
    expected = sorted(
        (
            (-sum(round(wscore[w], 9) for w in p.split(" ")), p)
            for p in n_phrase
        ),
    )[:5]
    got = rake_keywords(docs, top_k=5).collect()
    assert [r["phrase"] for r in got] == [p for _, p in expected]
    for r in got:
        assert r["n_phrase"] == n_phrase[r["phrase"]]
        assert r["score"] == _pytest.approx(
            sum(round(wscore[w], 9) for w in r["phrase"].split(" ")),
            abs=1e-9,
        )
