"""Text-analysis operators over the ``documents`` table (SURVEY §7 step 7):
token counting, quality scoring, language ID, document fingerprinting.

All pure Catalyst expressions — regex + array functions, no UDFs — so they
run inside whole-stage codegen and scale linearly. Patterns are kept in the
common subset of Java regex (Spark) and RE2 (DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.spread import spread_small_scan

#: Tiny per-language stopword profiles for the n-gram/stopword language-ID
#: heuristic. Deterministic and oracle-portable; a real deployment would load
#: a proper profile table and broadcast-join it.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "en": ("the", "a", "and", "of", "to", "is"),
    "es": ("el", "la", "los", "y", "de", "que"),
    "fr": ("le", "la", "les", "et", "de", "est"),
    "zh": ("de", "shi", "le", "bu", "wo", "zai"),
}

STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def tokens(text: Column | str) -> Column:
    """Word tokens: maximal ``[a-z0-9]+`` runs of the lower-cased text
    (BPE-ish regex tokenizer's word-boundary pass)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit("[a-z0-9]+"), 0)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def add_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring columns: token count, average token length,
    punctuation ratio, stopword ratio, and a composite quality score.
    Per-row double arithmetic only — bit-deterministic.

    The token array appears in three output columns of ONE projection —
    runtime subexpression elimination evaluates it once there, so no
    bind_array is needed (and wrapping in a higher-order function would
    *defeat* CSE: HOFs are CodegenFallback — measured 3× slower).
    bind_array is for repeated references *inside* a lambda, where CSE
    cannot reach."""
    docs = spread_small_scan(docs)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.,!?;:]"), 0))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    avg_tok_len = F.when(
        n_tok > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / n_tok,
    )
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(0.0)
    return docs.select(
        "*",
        n_tok.alias("n_tokens"),
        avg_tok_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Composite [0,1] quality score from the stats columns — the standard
    pretraining-corpus filter shape (length band + stopword presence −
    punctuation noise)."""
    with_stats = add_text_stats(docs)
    length_ok = (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100000)
    score = (
        F.when(length_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.least(F.col("stopword_ratio") * 2, F.lit(0.3))
        - F.least(F.col("punct_ratio") * 5, F.lit(0.2))
    )
    return with_stats.withColumn("quality_score", F.greatest(score, F.lit(0.0)))


def predict_lang(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID: count profile-word hits per language,
    pick the argmax (ties broken by language code order — deterministic).

    The WHOLE computation (tokenize → per-language scores → argmax
    when-chain) is one SELF-CONTAINED bound expression producing a
    struct, unpacked into columns afterwards.  Staging the scores as
    plain select columns (the first r13 form) is not enough: a
    downstream null-filter on ``predicted_lang`` gets pushed below the
    projection and Catalyst's alias substitution re-inlines the argmax
    chain over the score *expressions* — the regex tokenizer reappeared
    ~40× per row in mcnemar_langid_vs_majority's Filter (and lambda-
    bearing subtrees are excluded from runtime subexpression
    elimination, so each copy really ran).  With the bound form the
    pushed predicate carries exactly one tokenizer occurrence, and the
    token array / score array are lambda variables evaluated once."""
    from .dedup import bind_array

    langs = sorted(LANG_PROFILES)

    def packed(s: Column) -> Column:
        best = F.element_at(s, 1)
        best_lang = F.lit(langs[0])
        for i, lang in enumerate(langs[1:], start=2):
            score = F.element_at(s, i)
            gt = score > best
            best_lang = F.when(gt, F.lit(lang)).otherwise(best_lang)
            best = F.when(gt, score).otherwise(best)
        return F.struct(
            *[
                F.element_at(s, i + 1).alias(f"score_{lang}")
                for i, lang in enumerate(langs)
            ],
            best_lang.alias("predicted_lang"),
        )

    bound = bind_array(
        tokens(text_col),
        lambda toks: bind_array(
            F.array(
                *[
                    F.size(
                        # single-arg lambda: higher-order filter
                        # dispatches on lambda arity
                        F.filter(toks, lambda t: t.isin(*LANG_PROFILES[lang]))
                    )
                    for lang in langs
                ]
            ),
            packed,
        ),
    )
    staged = spread_small_scan(docs).withColumn("_pl", bound)
    return staged.select(
        "*",
        *[F.col(f"_pl.score_{lang}").alias(f"score_{lang}") for lang in langs],
        F.col("_pl.predicted_lang").alias("predicted_lang"),
    ).drop("_pl")


def rolling_fingerprint(text: Column | str, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over the token-hash sequence:
    ``h = fold(tokens, 0, (h, t) -> (h·base + md5_32(t)) mod P)``.

    Order-sensitive (unlike the md5 :func:`fingerprint`, which normalizes
    whitespace): token insertions/reorders change it. A pure left-fold
    ``aggregate`` — row-local, codegen'd, and identical to the oracle's
    ``list_reduce``. Accumulator stays < 2^35 (base·P + 2^32), no overflow.
    """
    from .dedup import hash32

    hashes = F.transform(tokens(text), lambda t: hash32(t))
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % mod,
    )


def top_terms_per_group(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k most frequent tokens per group (corpus vocabulary profile).

    Token counts aggregate first (partial-aggregable groupBy), the window
    ranks only the (group × distinct-token) counts — the fact-table-sized
    explode never reaches the window sort. Ties break lexicographically.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(F.col(group_col), F.explode(tokens(text_col)).alias("tok"))
        .groupBy(group_col, "tok")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ngram_list(text: Column | str, n: int = 2) -> Column:
    """Word n-grams of a document, duplicates preserved (counting form —
    contrast :func:`..operators.dedup.word_shingles`, which dedupes for set
    semantics). Token array bound once via bind_array so projection collapse
    cannot re-tokenize per gram."""
    from .dedup import bind_array

    def make(w: Column) -> Column:
        count = F.size(w) - (n - 1)
        idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idx, lambda i: F.array_join(F.slice(w, i, n), " "))

    return bind_array(tokens(text), make)


def clean_lines(text: Column | str) -> Column:
    """Non-empty trimmed lines of a document (row-local)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.transform(F.split(c, "\n"), lambda line: F.trim(line)),
        lambda line: line != "",
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals: the share of repeated lines and the
    token coverage of the single most frequent 2-gram — the two cheapest
    predictors of boilerplate/spam in a pretraining corpus.

    ``dup_line_frac`` is fully row-local (array_distinct on the line array).
    The top-2-gram count needs per-(doc, gram) frequencies, which no
    row-local expression provides without quadratic per-doc work — so the
    grams explode into two partial-aggregable groupBys: (doc, gram) counts,
    then per-doc max/total. Both shuffles carry counts, never text. Docs
    with fewer than two tokens get 0.0 via the left join + coalesce.
    """
    lines = clean_lines(text_col)
    n_lines = F.size(lines)
    dup_frac = (
        F.when(
            n_lines > 0,
            (n_lines - F.size(F.array_distinct(lines))).cast("double")
            / n_lines,
        )
        .otherwise(0.0)
        .alias("dup_line_frac")
    )
    base = docs.select(F.col(id_col), dup_frac)
    gram_counts = (
        docs.select(
            F.col(id_col), F.explode(ngram_list(text_col, 2)).alias("gram")
        )
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy(id_col)
        .agg(
            (
                F.max("cnt").cast("double")
                / F.sum("cnt").cast("double")
            ).alias("_top_frac")
        )
    )
    return base.join(gram_counts, id_col, "left").select(
        id_col,
        "dup_line_frac",
        F.coalesce("_top_frac", F.lit(0.0)).alias("top_bigram_frac"),
    )


def gopher_quality_flags(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Gopher-rule document quality signals (Rae et al. 2021 §A1.1), all
    row-local Catalyst expressions: mean word length, symbol-to-word ratio
    (# and ellipsis), bullet-/ellipsis-line fractions, alphabetic-word
    fraction, and the composite keep/drop flag. One projection — the token
    and line arrays are each evaluated once under runtime CSE."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    lines = clean_lines(text_col)
    n_lines = F.size(lines)
    mean_wl = F.when(
        n_tok > 0,
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        / n_tok,
    ).otherwise(0.0)
    n_sym = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"#|\.\.\."), 0)
    )
    sym_ratio = F.when(n_tok > 0, n_sym.cast("double") / n_tok).otherwise(0.0)
    bullet = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda l: l.rlike("^[-*•]"))).cast(
            "double"
        )
        / n_lines,
    ).otherwise(0.0)
    ellips = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.$"))).cast("double")
        / n_lines,
    ).otherwise(0.0)
    alpha = F.when(
        n_tok > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double")
        / n_tok,
    ).otherwise(0.0)
    out = docs.select(
        "*",
        n_tok.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet.alias("bullet_line_frac"),
        ellips.alias("ellipsis_line_frac"),
        alpha.alias("alpha_word_frac"),
    )
    keep = (
        (F.col("n_words") >= 10)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") < 0.1)
        & (F.col("bullet_line_frac") < 0.9)
        & (F.col("ellipsis_line_frac") < 0.3)
        & (F.col("alpha_word_frac") > 0.8)
    )
    return out.withColumn("gopher_keep", keep)


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized, lowercased
    text. Collision-safe enough for exact dedup at corpus scale; stable
    across engines (oracle uses the same md5)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def token_drift(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Distribution drift between two corpora at token level: per-token
    Jensen-Shannon divergence contributions, top-``top_k`` drifted tokens.
    The mixture-monitoring primitive — "which vocabulary moved between last
    month's crawl and this month's" — run before retraining on a refreshed
    corpus.

    Per token: ``p``/``q`` are its relative frequencies in A/B (absent → 0;
    JS is finite everywhere, unlike KL), ``m = (p+q)/2``, contribution
    ``½·p·ln(p/m) + ½·q·ln(q/m)``; Σ contributions = JS(A‖B).

    Determinism: counts are exact ints; each row's doubles are a fixed
    expression on two exact counts and two exact totals — no cross-row FP
    accumulation, so results are engine-stable (the total JS, a double sum,
    is intentionally NOT emitted; sum the column if a tolerance-checked
    scalar is wanted). Ties in the top-k break on token.

    Shuffles: one token-count groupBy per corpus + the full-outer token
    join; the two 1-row totals ride in as broadcasts.
    """
    def counted(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(out))
        )

    ca, cb = counted(corpus_a, "n_a"), counted(corpus_b, "n_b")
    tot_a = ca.agg(F.sum("n_a").alias("tot_a"))
    tot_b = cb.agg(F.sum("n_b").alias("tot_b"))
    j = (
        ca.join(cb, "token", "full_outer")
        .fillna(0, ["n_a", "n_b"])
        .crossJoin(F.broadcast(tot_a))
        .crossJoin(F.broadcast(tot_b))
    )
    p = F.col("n_a").cast("double") / F.col("tot_a").cast("double")
    q = F.col("n_b").cast("double") / F.col("tot_b").cast("double")
    m = (p + q) / F.lit(2.0)
    term = lambda r: F.when(r > 0, r * F.log(r / m)).otherwise(F.lit(0.0))  # noqa: E731
    scored = j.select(
        "token",
        F.col("n_a"),
        F.col("n_b"),
        (F.lit(0.5) * term(p) + F.lit(0.5) * term(q)).alias("js_contribution"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("js_contribution"), F.col("token"))
    return (
        scored.withColumn("drift_rank", F.row_number().over(w))
        .filter(F.col("drift_rank") <= top_k)
    )


def normalize_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "text_clean",
) -> DataFrame:
    """C4-style text normalization pre-pass: strip HTML tags and comments,
    decode the common entities, normalize unicode punctuation lookalikes to
    ASCII, collapse runs of whitespace, and trim — the cleanup every
    crawl-derived corpus runs before tokenization/dedup (tags and NBSPs
    otherwise poison shingles and quality stats).

    Entirely row-local ``regexp_replace``/``translate`` chains inside
    whole-stage codegen — ZERO shuffles, linear scan, and every pattern is
    in the Java-regex ∩ RE2 portable subset so the pass is oracle-checkable.
    NULL text normalizes to NULL (callers decide drop-vs-keep; the chunker
    coalesces separately). Adds ``out_col`` and ``n_removed_chars``.
    """
    c = F.col(text_col)
    # 1. drop HTML comments (non-greedy across the comment body)
    s = F.regexp_replace(c, "<!--.*?-->", " ")
    # 2. drop tags: script/style WITH their contents, the rest tag-only
    s = F.regexp_replace(s, "(?i)<(script|style)[^>]*>.*?</(script|style)>", " ")
    s = F.regexp_replace(s, "<[^>]{0,256}>", " ")
    # 3. common entities → characters (the head of the distribution; a
    #    production table would broadcast-join a full entity map)
    for ent, rep in (
        ("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
    ):
        s = F.regexp_replace(s, ent, rep)
    # 4. unicode punctuation lookalikes → ASCII (translate: single pass)
    s = F.translate(
        s,
        "‘’“”–— …",
        "''\"\"--  ",
    )
    # 5. whitespace collapse + trim
    s = F.trim(F.regexp_replace(s, "[ \\t\\r\\n\\f]+", " "))
    return docs.withColumn(out_col, s).withColumn(
        "n_removed_chars",
        (F.coalesce(F.length(c), F.lit(0)) - F.coalesce(F.length(s), F.lit(0)))
        .cast("int"),
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """The corpus-scale step of BPE tokenizer TRAINING: frequency of every
    adjacent character pair, weighted by word frequency — the argmax of this
    table is the next merge rule. Returns the ``top_n`` pairs as
    ``(pair, n)`` with a total (count desc, pair asc) order so the cut is
    deterministic.

    Plan shape: the classic BPE-training reduction — aggregate the corpus to
    its WORD-FREQUENCY table first (one shuffle, vocab-sized output), then
    explode character pairs over the vocabulary and re-aggregate weighted by
    frequency (second shuffle over ≤ |vocab|·max_len rows). Pair counting
    never touches raw-corpus cardinality again, which is why training on
    100 TB is tractable: the heavy shuffle is the word count every engine
    already does, and iterating merge rules re-uses the small table.
    """
    word = F.explode(tokens(text_col)).alias("w")
    # Spread the NARROW projection: the round-robin exchange (and its
    # SPARK-23207 pre-sort) must carry only the text column, not the
    # full document row (guide §2.3 "project before the exchange").
    wf = (
        spread_small_scan(docs.select(F.col(text_col)))
        .select(word)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "f",
        )
        .groupBy("pair")
        .agg(F.sum("f").alias("n"))
    )
    return pairs.orderBy(F.desc("n"), F.asc("pair")).limit(top_n)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Distributed BPE tokenizer training: learn ``n_merges`` merge rules
    over the corpus. Returns the rules in learned order (greedy argmax of
    the weighted pair-count table each round; ties → lexicographic pair, so
    training is deterministic and engine-independent).

    Scale shape — the reason BPE training is tractable at 100 TB: the corpus
    is reduced ONCE to its word-frequency table (the only corpus-sized
    shuffle); every merge round then runs on the vocab-sized symbol table —
    one pair-count aggregation (vocab-sized) + one tiny argmax collect + a
    row-local merge rewrite, with ``localCheckpoint`` cutting lineage per
    round exactly like the CC/k-means loops.  Each round accepts exactly
    one merge, so the result is exact sequential BPE.

    Loop-state representation (r14): the symbol sequence is carried as ONE
    space-separated string ``' s1 s2 … sk '`` instead of an array.  The
    per-round merge rewrite is then a single ``regexp_replace(sym,
    '(?<= )a b(?= )', 'ab')`` — Java's ``replaceAll`` scans left-to-right,
    resumes after each replacement, and the zero-width boundary assertions
    never consume the separating spaces, so successive matches are exactly
    the greedy left-to-right non-overlapping adjacent merge
    ('a a a' → 'aa a'; tokens are ``[a-z0-9]+`` so neither pattern nor
    replacement needs escaping).  The array form re-analyzed and
    re-compiled a ~60-node aggregate-HOF tree per round (~0.2 s/round of
    pure driver plan work at any data size); the string form is one tiny
    expression.  Pair counting splits the string back to an array — same
    counts, same argmax, bit-identical merge sequence (parity-pinned by
    the reference-Python trainer tests)."""
    word = F.explode(tokens(text_col)).alias("w")
    # Narrow projection first: the spread exchange carries only the text
    # column (guide §2.3; the full-row form also paid the SPARK-23207
    # all-columns pre-sort on the whole document row).
    vocab = (
        spread_small_scan(docs.select(F.col(text_col)))
        .select(word)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .select(
            "f",
            F.concat(
                F.lit(" "), F.concat_ws(" ", F.split("w", "")), F.lit(" ")
            ).alias("sym"),
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        arr = F.split(F.trim(F.col("sym")), " ")
        pair_idx = F.expr("sequence(1, size(_arr) - 1)")
        # tail() (not collect()) fetches the one-row ordered result — the
        # executeTail path halves the per-round driver round-trip cost.
        top = (
            vocab.select("f", arr.alias("_arr"))
            .filter(F.size("_arr") >= 2)
            .select(
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at("_arr", i).alias("a"),
                            F.element_at("_arr", i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
                "f",
            )
            .groupBy("p")
            .agg(F.sum("f").alias("n"))
            .orderBy(F.desc("n"), F.asc("p"))
            .limit(1)
            .tail(1)
        )
        if not top:
            break
        a, b = top[0].p.a, top[0].p.b
        merges.append((a, b))
        col = F.regexp_replace(F.col("sym"), f"(?<= ){a} {b}(?= )", a + b)
        # Lazy: the rewrite materializes inside the NEXT round's pair
        # aggregation instead of as its own driver round-trip — same
        # lineage cut, half the per-round jobs (r13-opt).
        vocab = vocab.withColumn("sym", col).localCheckpoint(eager=False)
    return merges


_UNIGRAM_LOGP_FLOOR = -100.0  # unseen-symbol fallback, far below any real piece


def _viterbi_segment(
    word: str, logp: dict[str, float], max_piece_len: int
) -> list[str]:
    """Deterministic Viterbi segmentation of ``word`` under a unigram piece
    model: maximize Σ log p(piece).  Ties break to the LONGER last piece
    (fewer pieces), then to the lexicographically smaller piece — a total
    order, so training and application are engine- and hash-independent.
    Characters absent from the model segment as themselves at a fixed floor
    log-prob (coverage fallback — segmentation never fails)."""
    n = len(word)
    neg_inf = float("-inf")
    # dp[i] = (score, j) — best segmentation of word[:i], last piece word[j:i]
    dp: list[tuple[float, int]] = [(0.0, 0)] + [(neg_inf, -1)] * n
    for i in range(1, n + 1):
        best_score, best_j, best_piece = neg_inf, -1, ""
        for j in range(max(0, i - max_piece_len), i):
            if dp[j][0] == neg_inf:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if len(piece) > 1:
                    continue
                lp = _UNIGRAM_LOGP_FLOOR
            score = dp[j][0] + lp
            # tie-break: higher score; then longer piece (smaller j); then
            # lexicographically smaller piece
            if (
                best_j < 0
                or score > best_score + 1e-12
                or (
                    abs(score - best_score) <= 1e-12
                    and (j < best_j or (j == best_j and piece < best_piece))
                )
            ):
                best_score, best_j, best_piece = score, j, piece
        dp[i] = (best_score, best_j)
    out: list[str] = []
    i = n
    while i > 0:
        j = dp[i][1]
        out.append(word[j:i])
        i = j
    out.reverse()
    return out


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 24,
    text_col: str = "text",
    n_iter: int = 3,
    max_piece_len: int = 4,
    seed_candidates: int = 120,
) -> list[tuple[str, float]]:
    """Distributed unigram-LM (SentencePiece-style) tokenizer training —
    the second trainer of the tokenizer family beside :func:`bpe_train`,
    same scale shape: the corpus reduces ONCE to its word-frequency table
    (the only corpus-sized shuffle); everything after runs on vocab-sized
    data.

    Algorithm (fixed-iteration hard EM, fully deterministic):

    1. SEED: count every substring of length 1..``max_piece_len`` over the
       word-frequency table (weighted by word freq) and keep the top
       ``seed_candidates`` by (count desc, piece asc), plus every single
       character (coverage).
    2. EM ×``n_iter``: E-step Viterbi-segments each vocabulary word under
       the current piece log-probs (an Arrow-batched ``mapInPandas`` over
       the word table — the model rides in the closure; per-word DP is
       row-local) and
       accumulates freq-weighted piece counts; M-step renormalizes counts
       into probabilities on the driver (vocab-sized collect, the same
       bounded-state class as ``bpe_train``'s top-pairs collect).
       Multi-char pieces whose expected count hits 0 drop; single chars
       persist at a count floor (coverage).
    3. PRUNE (deterministic order): keep all single characters plus the
       highest-expected-count multi-char pieces by (count desc, piece asc)
       until ``vocab_size``; then one final EM pass refreshes the
       probabilities of the surviving pieces.

    Viterbi ties break longer-piece-then-lexicographic (see
    :func:`_viterbi_segment`), so given the same corpus the learned vocab
    is bit-identical run to run — the property the reference-Python parity
    test pins.  Returns ``[(piece, prob)]`` sorted (prob desc, piece asc).
    """
    if vocab_size < 1 or n_iter < 1 or max_piece_len < 1:
        raise ValueError("need vocab_size, n_iter, max_piece_len >= 1")
    from collections.abc import Iterator as _Iterator

    import pandas as pd

    word = F.explode(tokens(text_col)).alias("w")
    # Narrow projection first (guide §2.3): spread only the text column.
    wf = (
        spread_small_scan(docs.select(F.col(text_col))).select(word)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint(eager=True)
    )
    # 1. seed candidates: substring counts over the vocab table
    sub_idx = F.expr(
        f"""
        flatten(transform(sequence(1, least(length(w), {max_piece_len})),
          l -> transform(sequence(1, length(w) - l + 1),
                         i -> substring(w, i, l))))
        """
    )
    cand = (
        wf.select(F.explode(sub_idx).alias("piece"), "f")
        .groupBy("piece")
        .agg(F.sum("f").alias("n"))
        .orderBy(F.desc("n"), F.asc("piece"))
        .limit(seed_candidates)
        .collect()
    )
    counts: dict[str, float] = {r.piece: float(r.n) for r in cand}
    chars = (
        wf.select(F.explode(F.split("w", "")).alias("c"))
        .filter(F.length("c") == 1)
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    for r in chars:
        counts.setdefault(r.c, float(r.n))

    import math as _m

    def _probs(cnt: dict[str, float]) -> dict[str, float]:
        tot = sum(cnt.values())
        return {p: _m.log(c / tot) for p, c in cnt.items() if c > 0}

    def _estep(logp: dict[str, float]) -> dict[str, float]:
        out_schema = "piece string, cnt double"

        def run(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
            for pdf in batches:
                acc: dict[str, float] = {}
                for w, f in zip(pdf["w"], pdf["f"]):
                    for piece in _viterbi_segment(w, logp, max_piece_len):
                        acc[piece] = acc.get(piece, 0.0) + float(f)
                yield pd.DataFrame(
                    {"piece": list(acc), "cnt": list(acc.values())}
                )

        rows = (
            wf.mapInPandas(run, schema=out_schema)
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        fresh = {r.piece: float(r.cnt) for r in rows}
        # single chars persist at a floor for coverage; dead multi-char
        # pieces drop
        for p in list(counts):
            if len(p) == 1:
                fresh.setdefault(p, 1e-6)
        return fresh

    for _ in range(n_iter):
        counts = _estep(_probs(counts))

    # 3. deterministic prune + one refresh pass
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
    counts = _estep(_probs(keep))
    counts = {p: c for p, c in counts.items() if p in keep}
    tot = sum(counts.values())
    return sorted(
        ((p, c / tot) for p, c in counts.items()),
        key=lambda pc: (-pc[1], pc[0]),
    )


def lexical_diversity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document vocabulary-richness signals: type-token ratio and
    hapax ratio — the repetition-adjacent quality axis
    (:func:`repetition_stats` catches LINE-level boilerplate; a spun or
    template-generated text passes that yet shows an abnormally low TTR,
    while keyboard-mash noise shows TTR ≈ 1 with no reuse at all):

        ttr         = |distinct tokens| / |tokens|
        hapax_ratio = |tokens occurring exactly once| / |distinct tokens|

    Entirely row-local higher-order array functions (zero shuffles — the
    corpus-scan-only plan class of ``text_quality_scores``); the hapax
    count is O(types·tokens) per row, bounded by document length.  Empty
    docs yield NULL ratios via ``try_divide``.

    Output: ``docs``' doc_id plus ``(n_tokens bigint, n_types bigint,
    n_hapax bigint, ttr double, hapax_ratio double)``.
    """
    toks = tokens(F.col(text_col))
    types = F.array_distinct(toks)
    hapax = F.filter(
        types,
        lambda t: F.size(F.filter(toks, lambda w: w == t)) == F.lit(1),
    )
    out = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(types).cast("long").alias("n_types"),
        F.size(hapax).cast("long").alias("n_hapax"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.round(
            F.try_divide(
                F.col("n_types").cast("double"),
                F.col("n_tokens").cast("double"),
            ),
            9,
        ).alias("ttr"),
        F.round(
            F.try_divide(
                F.col("n_hapax").cast("double"),
                F.col("n_types").cast("double"),
            ),
            9,
        ).alias("hapax_ratio"),
    )


def vocabulary_coverage(
    docs: DataFrame,
    text_col: str = "text",
    percents: tuple[int, ...] = (50, 75, 90, 99),
) -> DataFrame:
    """Vocabulary coverage curve: how many distinct token TYPES (taken
    most-frequent-first) cover each target share of the corpus's token
    mass — the table a tokenizer-vocab-size or stopword-list decision is
    made on ("1.2k types cover 90% of tokens; the remaining 840k types
    are the last 10%").

    Exactness: integer token counts end-to-end; each threshold is the
    exact rational test ``100·cum ≥ p·total`` (never a float share
    compare).  Ties in frequency break by token text ascending, so the
    rank axis is deterministic in both engines.

    Plan: one corpus-sized explode→count groupBy onto the VOCAB axis,
    then rank/cumulative windows over the distinct-type axis only (the
    roc_auc caveat holds: the vocab axis, not the corpus, is the
    windowed population — bounded by distinct types, and a 100 TB corpus
    still has a dictionary-sized vocabulary) and ONE conditional
    aggregate emitting all thresholds from the same pass.

    Output: one row per requested percent — ``(coverage_pct int,
    k_types bigint, vocab_size bigint, total_tokens bigint)``.
    """
    if not percents or any(not 0 < p <= 100 for p in percents):
        raise ValueError("percents must be in (0, 100]")
    toks = docs.select(F.explode(tokens(text_col)).alias("_t"))
    counts = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_n"))
    w_rank = Window.orderBy(F.desc("_n"), F.asc("_t"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = (
        counts.withColumn("_k", F.row_number().over(w_rank))
        .withColumn("_cum", F.sum("_n").over(w_cum))
        .withColumn("_tot", F.sum("_n").over(Window.partitionBy()))
    )
    one = c.agg(
        F.count(F.lit(1)).alias("_vocab"),
        F.max("_tot").alias("_tot"),
        *[
            F.min(
                F.when(
                    F.lit(100) * F.col("_cum")
                    >= F.lit(int(p)) * F.col("_tot"),
                    F.col("_k"),
                )
            ).alias(f"_k{i}")
            for i, p in enumerate(percents)
        ],
    )
    rows = [
        F.struct(
            F.lit(int(p)).alias("coverage_pct"),
            F.col(f"_k{i}").cast("long").alias("k_types"),
            F.col("_vocab").cast("long").alias("vocab_size"),
            F.col("_tot").cast("long").alias("total_tokens"),
        )
        for i, p in enumerate(percents)
    ]
    return one.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def readability_scores(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease per document — the readability axis of corpus
    quality the length/stopword composite (:func:`quality_score`)
    doesn't see: two docs with identical token stats can sit at opposite
    ends of the sentence-complexity scale, and readability is a standard
    pretraining-filter feature (e.g. textbook-style selection).

        FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    with regex structure counts, not a linguistic parser (the corpus-
    scale convention): sentences = runs of ``[.!?]+`` (min 1 so a
    fragment still scores), syllables = vowel-group runs ``[aeiouy]+``
    per word (min 1 per word — "rhythm" has no vowel letter but one
    spoken syllable).  All counts are exact integers from row-local
    regex/array ops — zero shuffles, whole-stage codegen; the formula is
    one double expression at the end, rounded to 6.

    Output: ``(doc_id, n_words bigint, n_sentences bigint, n_syllables
    bigint, flesch double)`` — NULL flesch for a wordless doc (via
    ``try_divide``).
    """
    toks = tokens(text_col)
    n_words = F.size(toks).cast("long")
    n_sent = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)),
    ).cast("long")
    syl = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(t, F.lit("[aeiouy]+"), 0)),
        ),
    )
    wd, sd = n_words.cast("double"), n_sent.cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (wd / sd)
        - F.lit(84.6) * F.try_divide(syl.cast("double"), wd)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        F.when(n_words > 0, syl).otherwise(F.lit(0)).cast("long").alias(
            "n_syllables"
        ),
        F.round(
            F.when(n_words > 0, flesch), 6
        ).alias("flesch"),
    )


def lang_mix_entropy(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-document language-mix entropy — the code-switching detector:
    :func:`predict_lang` commits to ONE language, but a doc whose
    stopword-profile hits split evenly across languages is mixed (or
    template noise), and that is a data-quality signal of its own
    (mixed docs poison per-lang mixtures and lang-conditioned training).

    Entropy (bits) of the normalized per-language profile-hit counts:
    0 = all hits in one language, log2(|langs|) = perfectly mixed;
    ``top_share`` gives the same reading on a linear scale.  Docs with
    ZERO profile hits (numeric noise, unprofiled languages) get NULL
    entropy — explicitly distinguishable from confidently-single-lang 0.

    Row-local end-to-end: the per-lang counts come from the same
    higher-order-filter pass predict_lang runs, the entropy fold is a
    Python-side sum over the |langs| count columns — zero shuffles,
    whole-stage codegen, no Python UDF.

    Output: ``(doc_id, n_profile_hits bigint, predicted_lang string,
    top_share double, mix_entropy_bits double)``.
    """
    import math

    with_scores = predict_lang(docs.select("doc_id", text_col))
    langs = sorted(LANG_PROFILES)
    cols = [F.col(f"score_{lang}") for lang in langs]
    tot = cols[0].cast("long")
    for c in cols[1:]:
        tot = tot + c.cast("long")
    top = F.greatest(*cols).cast("long")
    ent = F.lit(0.0)
    for c in cols:
        p = c.cast("double") / tot.cast("double")
        ent = ent + F.when(c > 0, -(p * F.log(p))).otherwise(F.lit(0.0))
    return with_scores.select(
        "doc_id",
        tot.alias("n_profile_hits"),
        "predicted_lang",
        F.round(
            F.when(tot > 0, top.cast("double") / tot.cast("double")), 9
        ).alias("top_share"),
        F.round(
            F.when(tot > 0, ent / F.lit(math.log(2))), 9
        ).alias("mix_entropy_bits"),
    )


def vocab_entropy_by_group(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group unigram vocabulary entropy — the lexical-diversity
    reading at CORPUS level (the per-doc type/token ratios of
    :func:`lexical_diversity` don't aggregate: a thousand docs each
    diverse can still share one vocabulary): low entropy = a source is
    template-dominated even when individual docs look fine.

    ``H = −Σ_types p·ln(p) / ln 2`` over the group's token-frequency
    distribution, plus ``norm_entropy = H / log2(vocab_size)`` in [0,1]
    so differently-sized vocabularies compare.  Natural log + the ln-2
    literal division, per-type terms quantized to ``decimal(28,12)``
    before the sum (the engine-parity rules).

    Plan: one corpus-sized explode→(group, token) count groupBy, then
    per-group sums over the vocab axis — bounded by distinct types per
    group, never corpus-sized after the first aggregate.

    Output: one row per group — ``(group_col, n_tokens bigint,
    vocab_size bigint, entropy_bits double, norm_entropy double)``.
    """
    import math

    keep = F.col(group_col).isNotNull()
    counts = (
        docs.filter(keep)
        .select(
            F.col(group_col).alias("_g"),
            F.explode(tokens(text_col)).alias("_t"),
        )
        .groupBy("_g", "_t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_g = Window.partitionBy("_g")
    c = counts.withColumn("_tot", F.sum("_n").over(w_g))
    p = F.col("_n").cast("double") / F.col("_tot").cast("double")
    term = (-(p * F.log(p))).cast("decimal(28,12)")
    agg = c.groupBy("_g").agg(
        F.max("_tot").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(term).alias("_h"),
    )
    hbits = F.col("_h").cast("double") / F.lit(math.log(2))
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.round(hbits, 9).alias("entropy_bits"),
        F.round(
            F.try_divide(
                hbits,
                # log2(vocab) as ln/ln2 explicitly: F.log(base, x) and
                # DuckDB's log2() are different libm paths; the explicit
                # ratio is the same ops in both engines
                F.log(F.col("vocab_size").cast("double"))
                / F.lit(math.log(2)),
            ),
            9,
        ).alias("norm_entropy"),
    )


def blocklist_screen(
    docs: DataFrame,
    terms: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocklist screening report: per banned term, how many documents
    match and how many total hits — the compliance sweep (slurs, PII
    markers, licensed strings, eval-set canaries) every corpus release
    runs.  Matching is case-insensitive WORD-BOUNDED regex (substring
    matching flags "class" for "ass"; the boundary anchors are what make
    a blocklist usable).

    ONE corpus scan: every term's per-doc hit count rides the same
    projection as an unrolled ``regexp_count`` column (|terms| regex
    evaluations per row — terms are a reviewed list, tens not millions;
    a million-entry blocklist is the Aho-Corasick/broadcast-join regime,
    out of scope here and flagged by the length guard), then ONE
    single-row aggregate explodes into |terms| rows.  No shuffle at all.

    Output: one row per term — ``(term string, n_docs bigint,
    n_hits bigint)``, including zero-hit terms (the audit must show the
    term WAS screened).
    """
    if not terms:
        raise ValueError("need at least one term")
    if len(terms) > 200:
        raise ValueError(
            "blocklist_screen is the reviewed-shortlist form (<= 200 "
            "terms); use a broadcast token join for large lists"
        )
    import re as _re

    base = docs.filter(F.col(text_col).isNotNull())
    aggs = []
    for i, t in enumerate(sorted(terms)):
        pat = f"(?i)\\b{_re.escape(t)}\\b"
        hits = F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)
        )
        aggs.append(
            F.sum(F.when(hits > 0, 1).otherwise(0)).alias(f"_d{i}")
        )
        aggs.append(F.sum(hits).alias(f"_h{i}"))
    one = base.agg(*aggs)
    rows = [
        F.struct(
            F.lit(t).alias("term"),
            F.col(f"_d{i}").cast("long").alias("n_docs"),
            F.col(f"_h{i}").cast("long").alias("n_hits"),
        )
        for i, t in enumerate(sorted(terms))
    ]
    return one.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 1000,
) -> DataFrame:
    """Zipf rank–frequency fit over the corpus vocabulary head — the
    one-row "is this natural language" audit: log-log least squares of
    frequency on rank over the ``top_n`` most frequent tokens.  Natural
    text fits slope ≈ −1 with r² near 1; template/boilerplate floods
    flatten the head (slope → 0) and synthetic/spam token soups break
    the linearity (r² drops) — a cheap corpus-level tripwire beside the
    per-doc quality scores.

    Token counts reduce in one partial-aggregable groupBy; the head is a
    TopK (``ORDER BY n DESC, tok LIMIT top_n`` — Spark plans
    TakeOrdered, never a full vocabulary sort-shuffle), ranked 1..m on
    the head axis with lexicographic tie-break so the boundary is
    deterministic.  The regression sums quantize each ln-term to
    decimal(28,12) before summing (order-independence); slope/intercept/
    r² are closed forms over those exact sums.

    Output: one row — ``(n_terms bigint, top_term string, top_freq
    bigint, slope double, intercept double, r_squared double)``; NULL
    fit for fewer than 2 head terms or a degenerate (all-equal-x)
    head.
    """
    dec = "decimal(28,12)"
    counts = (
        docs.select(F.explode(tokens(text_col)).alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    head = counts.orderBy(
        F.col("_n").desc(), F.col("_tok").asc()
    ).limit(top_n)
    w = Window.orderBy(F.col("_n").desc(), F.col("_tok").asc())
    xy = head.select(
        "_tok",
        "_n",
        F.log(F.row_number().over(w).cast("double")).alias("_x"),
        F.log(F.col("_n").cast("double")).alias("_y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("_m"),
        F.min_by(
            "_tok",
            F.struct(
                (-F.col("_n")).alias("negn"), F.col("_tok").alias("t")
            ),
        ).alias("top_term"),
        F.max("_n").alias("top_freq"),
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast(dec)).alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast(dec)).alias("_sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast(dec)).alias("_syy"),
    )
    m = F.col("_m").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    dx = m * sxx - sx * sx
    dy = m * syy - sy * sy
    cov = m * sxy - sx * sy
    ok = (F.col("_m") >= 2) & (dx > 0)
    slope = F.when(ok, cov / dx)
    return agg.select(
        F.col("_m").cast("long").alias("n_terms"),
        "top_term",
        F.col("top_freq").cast("long").alias("top_freq"),
        F.round(slope, 9).alias("slope"),
        F.round(F.when(ok, (sy - (cov / dx) * sx) / m), 9).alias(
            "intercept"
        ),
        F.round(
            F.when(ok & (dy > 0), cov * cov / (dx * dy)), 9
        ).alias("r_squared"),
    )


def heaps_fit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heaps' law fit — vocabulary GROWTH against corpus size, the
    companion axis to :func:`zipf_fit`'s frequency head: V(n) ≈ K·n^β
    with β ≈ 0.4–0.6 for organic text.  β near 0 = the corpus stopped
    teaching new words (template floods, heavy duplication); β near 1 =
    unbounded novel tokens (OCR noise, ids in text) — both corpus-level
    tripwires a per-doc score can't see.

    Walking the corpus in doc_id order: n_d = cumulative tokens,
    V_d = cumulative first-seen types (each type attributed to its
    smallest doc_id); the fit is log-log least squares of V on n over
    every doc position.  One (token → min doc) reduction and one
    per-doc token count; the two cumulative windows run on the DOC
    axis in doc_id order (doc-stat rows, two columns — the
    corpus_global_index class of global walk, far below token scale
    but still a single-axis sort: at extreme doc counts, fit on
    sampled checkpoints upstream).  ln-terms quantize to
    decimal(28,12) before the regression sums.

    Output: one row — ``(n_docs bigint, total_tokens bigint,
    vocab_size bigint, beta double, log_k double, r_squared double)``;
    NULL fit for < 2 docs or a degenerate axis.
    """
    dec = "decimal(28,12)"
    toks = docs.select(
        F.col("doc_id"), F.explode(tokens(text_col)).alias("_tok")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_nt")
    )
    firsts = (
        toks.groupBy("_tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_nv"))
    )
    w = (
        Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walk = (
        per_doc.join(firsts, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("_nt").over(w).alias("_n"),
            F.sum(F.coalesce("_nv", F.lit(0))).over(w).alias("_v"),
        )
        .filter((F.col("_n") > 0) & (F.col("_v") > 0))
    )
    xy = walk.select(
        F.log(F.col("_n").cast("double")).alias("_x"),
        F.log(F.col("_v").cast("double")).alias("_y"),
        "_n",
        "_v",
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("_m"),
        F.max("_n").alias("total_tokens"),
        F.max("_v").alias("vocab_size"),
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum((F.col("_x") * F.col("_y")).cast(dec)).alias("_sxy"),
        F.sum((F.col("_x") * F.col("_x")).cast(dec)).alias("_sxx"),
        F.sum((F.col("_y") * F.col("_y")).cast(dec)).alias("_syy"),
    )
    m = F.col("_m").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    dx = m * sxx - sx * sx
    dy = m * syy - sy * sy
    cov = m * sxy - sx * sy
    ok = (F.col("_m") >= 2) & (dx > 0)
    return agg.select(
        F.col("_m").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.round(F.when(ok, cov / dx), 9).alias("beta"),
        F.round(F.when(ok, (sy - (cov / dx) * sx) / m), 9).alias(
            "log_k"
        ),
        F.round(
            F.when(ok & (dy > 0), cov * cov / (dx * dy)), 9
        ).alias("r_squared"),
    )


def vocab_jaccard_matrix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between groups — the redundancy map
    ACROSS sources that :func:`~..operators.dedup.exact_dedup_groups`
    (documents) and [[dedup_cross_source_matrix]] (near-dup docs) don't
    see: two crawls can share almost no duplicate documents yet speak
    the same vocabulary (same domain re-crawled, translated mirrors) —
    high vocab overlap marks the pair where near-dup thresholds should
    tighten and mixture weights double-count.

        J(a, b) = |V_a ∩ V_b| / (|V_a| + |V_b| − |V_a ∩ V_b|)

    One distinct (group, token) reduction; the intersection is a
    token-axis self-join whose per-token fanout is bounded by C(groups
    sharing it, 2) ≤ C(G, 2) — G is source-count sized, never
    corpus-sized.  All counts exact int64.

    Output: one row per group pair (a < b) — ``(group_a, group_b,
    vocab_a bigint, vocab_b bigint, intersection bigint, jaccard
    double)``; pairs sharing no token still appear via the sizes grid
    with jaccard 0.
    """
    vocab = (
        docs.filter(
            F.col(group_col).isNotNull() & F.col(text_col).isNotNull()
        )
        .select(
            F.col(group_col).cast("string").alias("_g"),
            F.explode(tokens(text_col)).alias("_tok"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("_g").agg(F.count(F.lit(1)).alias("_v"))
    a = vocab.select(F.col("_g").alias("group_a"), "_tok")
    b = vocab.select(F.col("_g").alias("group_b"), "_tok")
    inter = (
        a.join(b, "_tok")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    sa = sizes.select(
        F.col("_g").alias("group_a"), F.col("_v").alias("vocab_a")
    )
    sb = sizes.select(
        F.col("_g").alias("group_b"), F.col("_v").alias("vocab_b")
    )
    grid = sa.join(
        F.broadcast(sb), F.col("group_a") < F.col("group_b")
    ).join(F.broadcast(inter), ["group_a", "group_b"], "left")
    i = F.coalesce(F.col("_i"), F.lit(0))
    union = F.col("vocab_a") + F.col("vocab_b") - i
    return grid.select(
        "group_a",
        "group_b",
        F.col("vocab_a").cast("long").alias("vocab_a"),
        F.col("vocab_b").cast("long").alias("vocab_b"),
        i.cast("long").alias("intersection"),
        F.round(
            F.try_divide(i.cast("double"), union.cast("double")), 9
        ).alias("jaccard"),
    )


#: Conservative PII regexes shared by engine and oracle — simple
#: character-class patterns only (identical semantics in Java regex and
#: RE2; no lookaround, no lazy quantifiers).
PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+",
    "phone": r"\+[0-9]{7,15}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "ssn_like": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def pii_scan_report(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source PII exposure audit — the release-gate REPORT beside
    :func:`~..plans.driver_queries.pii_redact`'s rewriting pass: how many
    emails/phones/IPs/SSN-shaped strings each source carries and what
    fraction of its documents are affected, so the redaction pass (and
    the legal review) can be scoped before anything ships.

    Pure ``regexp_count`` per pattern (conservative character-class
    regexes — identical under Java regex and RE2, see
    :data:`PII_PATTERNS`), one corpus scan, one per-source aggregate.
    Counts are exact integers.

    Output: one row per group — ``(group, n_docs bigint, emails bigint,
    phones bigint, ipv4s bigint, ssn_like bigint, docs_with_pii bigint,
    pii_doc_share double)``.
    """
    t = F.col(text_col)
    cnts = {
        k: F.regexp_count(t, F.lit(p)) for k, p in PII_PATTERNS.items()
    }
    any_pii = None
    for c in cnts.values():
        any_pii = c if any_pii is None else any_pii + c
    base = df.filter(
        F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("group"),
        *[c.alias(f"_{k}") for k, c in cnts.items()],
        (any_pii > 0).cast("int").alias("_flag"),
    )
    agg = base.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_email").cast("long").alias("emails"),
        F.sum("_phone").cast("long").alias("phones"),
        F.sum("_ipv4").cast("long").alias("ipv4s"),
        F.sum("_ssn_like").cast("long").alias("ssn_like"),
        F.sum("_flag").cast("long").alias("docs_with_pii"),
    )
    return agg.select(
        "group",
        "n_docs",
        "emails",
        "phones",
        "ipv4s",
        "ssn_like",
        "docs_with_pii",
        F.round(
            F.col("docs_with_pii").cast("double")
            / F.col("n_docs").cast("double"),
            9,
        ).alias("pii_doc_share"),
    )


def feature_hashing_audit(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Hashing-trick collision audit — before committing a model to
    hashed bag-of-words features, the question is "how much vocabulary
    did B buckets destroy": hash every DISTINCT corpus token into
    *n_buckets* md5 buckets and report occupancy, collision mass, and a
    χ² uniformity statistic against the uniform-bucket null.

    Token→bucket is the engine-identical md5-32 (:func:`~.dedup.hash32`)
    mod B; the audit runs on the DISTINCT-token axis (vocab-sized, never
    the corpus), and the χ² sum quantizes per-bucket terms to decimal.

    Output: one row — ``(n_tokens bigint, n_buckets bigint, buckets_used
    bigint, max_bucket bigint, colliding_tokens bigint, collision_share
    double, chi2_uniform double)``.
    """
    from .dedup import hash32

    vocab = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(text_col)).alias("_t"))
        .distinct()
    )
    bucketed = vocab.select(
        (hash32(F.col("_t")) % F.lit(n_buckets)).alias("_b")
    ).groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))
    tot = bucketed.agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("_used"),
        F.max("_c").alias("_max"),
        F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(0)).alias(
            "_coll"
        ),
        F.sum(
            (
                (F.col("_c").cast("double"))
                * (F.col("_c").cast("double"))
            ).cast("decimal(28,12)")
        ).alias("_sq"),
    )
    n = F.col("_n").cast("double")
    b = F.lit(float(n_buckets))
    # chi2 against uniform with E = n/B over ALL B buckets (empty
    # buckets contribute E): chi2 = B/n * sum(c^2) - n
    chi2 = b / n * F.col("_sq").cast("double") - n
    return tot.select(
        F.col("_n").cast("long").alias("n_tokens"),
        F.lit(n_buckets).cast("long").alias("n_buckets"),
        F.col("_used").cast("long").alias("buckets_used"),
        F.col("_max").cast("long").alias("max_bucket"),
        F.col("_coll").cast("long").alias("colliding_tokens"),
        F.round(F.col("_coll").cast("double") / n, 9).alias(
            "collision_share"
        ),
        F.round(chi2, 9).alias("chi2_uniform"),
    )


#: Minimal stopword list shared with the oracle (lowercase, sorted) —
#: the RAKE phrase-delimiter set.  Deliberately tiny and fixed: RAKE
#: only needs SOME delimiter set, and a literal one is engine-identical.
RAKE_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "in", "is", "it", "of", "on", "or", "that", "the", "to", "with",
)


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 15,
) -> DataFrame:
    """RAKE keyword extraction over the corpus — split token streams
    into candidate phrases at stopwords, score words by degree/frequency
    over the CANDIDATE-PHRASE graph, score phrases by their word-score
    sum, keep the global top-k: the classic unsupervised "what is this
    corpus about" readout.

    Phrases form per document via gaps-and-islands (token position −
    run rank) on one per-doc window; word scores aggregate on the
    distinct-word axis; phrase scores re-join through their words (all
    vocab-sized).  deg(w) = Σ phrase length over phrases containing w
    (RAKE's degree), freq(w) = occurrences; score(w) = deg/freq, all
    exact-integer ratios.  Ranking: round(score,9) desc, phrase asc.

    Scale shape (r13-opt): the token pipeline (tokenize → posexplode →
    per-doc window) materializes EXACTLY ONCE, into the distinct-phrase
    occurrence table.  Every equal phrase string carries the same word
    multiset, so freq/deg reconstruct from ``split(phrase)`` weighted by
    the occurrence count (freq = Σ n_phrase·mult, deg = Σ n_phrase·mult
    ·plen — the same integer sums the token-axis join produced), and
    each phrase's decimal word-score sum is the same multiset of terms
    the per-occurrence sum added.  The previous form consumed the token
    stream three times and the phrase table twice per action.

    Output: *top_k* rows — ``(phrase string, n_phrase bigint, score
    double)`` where n_phrase counts the phrase's corpus occurrences.
    """
    toks = (
        # Filter + narrow projection BEFORE the spread: the round-robin
        # exchange carries (id, text) only, and null texts never cross
        # it (guide §2.3 "project before the exchange").
        spread_small_scan(
            df.filter(F.col(text_col).isNotNull()).select(
                F.col(id_col), F.col(text_col)
            )
        )
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(tokens(text_col)).alias("_pos", "_w"),
        )
        .withColumn(
            "_stop", F.col("_w").isin(*RAKE_STOPWORDS).cast("int")
        )
    )
    islands = (
        toks.withColumn(
            "_grp",
            F.col("_pos")
            - F.row_number().over(
                Window.partitionBy("_id", "_stop").orderBy("_pos")
            ),
        )
        .filter(F.col("_stop") == 0)
    )
    # collect_list order is not guaranteed — build the phrase with
    # sort_array over (pos, word) structs for a deterministic join.
    phrases = islands.groupBy("_id", "_grp").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("_pos", "_w"))
                ),
                lambda s: s["_w"],
            ),
            " ",
        ).alias("phrase"),
    )
    # ONE materialization of the token pipeline: the distinct-phrase
    # occurrence counts.  All scoring below re-derives words from the
    # phrase string itself (tokens are [a-z0-9]+, so the space join is
    # loss-free) on this vocabulary-sized table.
    pocc = (
        phrases.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("n_phrase"))
        .localCheckpoint(eager=False)
    )
    pw = pocc.select(
        "phrase",
        "n_phrase",
        F.size(F.split(F.col("phrase"), " ")).alias("_len"),
        F.explode(F.split(F.col("phrase"), " ")).alias("_w"),
    )
    word_stats = (
        pw.groupBy("_w")
        .agg(
            F.sum("n_phrase").alias("_freq"),
            F.sum(F.col("n_phrase") * F.col("_len")).alias("_deg"),
        )
        .select(
            "_w",
            (
                F.col("_deg").cast("double") / F.col("_freq").cast("double")
            ).alias("_wscore"),
        )
    )
    phrase_scores = (
        pw.join(F.broadcast(word_stats), "_w")
        .groupBy("phrase", "n_phrase")
        .agg(
            F.sum(F.round(F.col("_wscore"), 9).cast("decimal(28,9)"))
            .alias("_score")
        )
    )
    ranked = phrase_scores.withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(
                F.desc(F.col("_score")), F.asc("phrase")
            )
        ),
    )
    return ranked.filter(F.col("_rk") <= top_k).select(
        "phrase",
        F.col("n_phrase").cast("long").alias("n_phrase"),
        F.round(F.col("_score").cast("double"), 9).alias("score"),
    )


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Character-class composition per source — the cheap
    "is this source actually the language it claims" screen before any
    model-based language ID: share of latin letters, digits, whitespace,
    punctuation-ish ASCII, and everything else (CJK/Cyrillic/emoji land
    in `other` — a high `other` share on an 'en' source is a mislabeling
    or mojibake flag).

    Five ``regexp_replace``-and-length counts per row (byte-free, code
    -point exact, identical in Java regex and RE2), decimal-exact sums,
    one aggregate.  Output: one row per group — ``(group, n_docs
    bigint, chars bigint, latin_share double, digit_share double,
    space_share double, punct_share double, other_share double)``.
    """
    t = F.col(text_col)

    def cnt(pattern: str) -> Column:
        return F.length(t) - F.length(
            F.regexp_replace(t, F.lit(pattern), F.lit(""))
        )

    base = df.filter(
        F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("group"),
        F.length(t).alias("_n"),
        cnt(r"[a-zA-Z]").alias("_lat"),
        cnt(r"[0-9]").alias("_dig"),
        cnt(r"[ \t\n\r]").alias("_sp"),
        cnt(r"[.,;:!?'\"()\[\]{}<>/\\|@#$%^&*_+=~`-]").alias("_pun"),
    )
    agg = base.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").cast("long").alias("chars"),
        F.sum("_lat").alias("_l"),
        F.sum("_dig").alias("_d"),
        F.sum("_sp").alias("_s"),
        F.sum("_pun").alias("_p"),
    )
    tot = F.col("chars").cast("double")
    other = (
        F.col("chars")
        - F.col("_l")
        - F.col("_d")
        - F.col("_s")
        - F.col("_p")
    )
    return agg.select(
        "group",
        "n_docs",
        "chars",
        F.round(F.try_divide(F.col("_l").cast("double"), tot), 9).alias(
            "latin_share"
        ),
        F.round(F.try_divide(F.col("_d").cast("double"), tot), 9).alias(
            "digit_share"
        ),
        F.round(F.try_divide(F.col("_s").cast("double"), tot), 9).alias(
            "space_share"
        ),
        F.round(F.try_divide(F.col("_p").cast("double"), tot), 9).alias(
            "punct_share"
        ),
        F.round(F.try_divide(other.cast("double"), tot), 9).alias(
            "other_share"
        ),
    )


def simpson_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Simpson vocabulary diversity per source — the "probability two
    random tokens are the SAME word" complement to
    :func:`vocab_entropy_by_group`'s bits (entropy weights rare words;
    Simpson is dominance-weighted, so template spam shows here first):

        λ = Σ n_w(n_w−1) / (N(N−1)),  D = 1 − λ,
        inv = 1/λ,  berger_parker = max n_w / N

    Exact integer combinatorics over the (group, word) count table —
    the one corpus-scale reduce; everything after runs per group.

    Output: one row per group — ``(group, n_tokens bigint, n_types
    bigint, simpson_d double, inv_simpson double, berger_parker
    double)``; N < 2 NULLs λ-derived columns.
    """
    wc = (
        df.filter(
            F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("group"),
            F.explode(tokens(text_col)).alias("_w"),
        )
        .groupBy("group", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    dec = "decimal(38,0)"
    agg = wc.groupBy("group").agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("_c").cast(dec) * (F.col("_c") - 1).cast(dec)).alias(
            "_pairs"
        ),
        F.max("_c").alias("_maxc"),
    )
    n = F.col("_n").cast("double")
    lam = F.when(
        F.col("_n") >= 2,
        F.col("_pairs").cast("double") / (n * (n - 1)),
    )
    return agg.select(
        F.col("group"),
        F.col("_n").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        F.round(F.lit(1.0) - lam, 9).alias("simpson_d"),
        F.round(F.try_divide(F.lit(1.0), lam), 9).alias("inv_simpson"),
        F.round(F.col("_maxc").cast("double") / n, 9).alias(
            "berger_parker"
        ),
    )


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Burstiness (variance-to-mean Fano factor, zeros included) of the
    top-k corpus terms — content words CLUMP (one doc mentions "spark"
    twenty times, most never), function words spread evenly; Fano ≈ 1
    is Poisson/background, ≫ 1 is topical.  The per-term dispersion
    readout behind stopword-list and keyword decisions that raw
    frequency can't make.

    Per-(term, doc) counts reduce once; absent docs enter as exact
    zeros through the corpus doc count (Σc² and Σc over present docs +
    N_docs do the rest — no dense join):

        mean = Σc/N,  var = Σc²/N − mean²,  fano = var/mean

    Exact integer sums; final arithmetic in double.  Output: *top_k*
    rows — ``(term string, total bigint, docs_with bigint, mean double,
    variance double, fano double)`` ordered by total desc (term asc
    ties).
    """
    dec = "decimal(38,0)"
    docs = df.filter(F.col(text_col).isNotNull())
    n_docs = docs.agg(F.count(F.lit(1)).alias("_nd"))
    per = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.explode(tokens(text_col)).alias("_w"),
        )
        .groupBy("_w", "_id")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    stats = per.groupBy("_w").agg(
        F.sum("_c").alias("_tot"),
        F.count(F.lit(1)).alias("_docs"),
        F.sum((F.col("_c") * F.col("_c")).cast(dec)).alias("_sq"),
    )
    ranked = (
        stats.withColumn(
            "_rk",
            F.row_number().over(
                Window.orderBy(F.desc("_tot"), F.asc("_w"))
            ),
        )
        .filter(F.col("_rk") <= top_k)
        .crossJoin(F.broadcast(n_docs))
    )
    nd = F.col("_nd").cast("double")
    mean = F.col("_tot").cast("double") / nd
    var = F.col("_sq").cast("double") / nd - mean * mean
    return ranked.select(
        F.col("_w").alias("term"),
        F.col("_tot").cast("long").alias("total"),
        F.col("_docs").cast("long").alias("docs_with"),
        F.round(mean, 9).alias("mean"),
        F.round(var, 9).alias("variance"),
        F.round(F.try_divide(var, mean), 9).alias("fano"),
    )


def compressibility_proxy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Per-source compressibility proxy — machine-generated or template
    text compresses far better than organic prose, and a gzip pass over
    100 TB is exactly what nobody wants to schedule: approximate it
    row-locally with (a) the distinct-token ratio and (b) character
    unigram entropy, then aggregate.  Low entropy + low distinct ratio
    = the repetitive/templated tail a quality filter should see.

    Both signals are row-local (token arrays and a 26-letter count
    fold); per-doc values round to 6 dp before decimal-exact averaging,
    and the flag (entropy < 3.5 OR distinct_ratio < 0.4) is a pure
    threshold compare.  One scan, one per-source aggregate.

    Output: one row per group — ``(group, n_docs bigint, mean_distinct
    _ratio double, mean_char_entropy double, flagged bigint,
    flagged_share double)``.
    """
    t = F.lower(F.col(text_col))
    toks = tokens(text_col)
    distinct_ratio = F.round(
        F.try_divide(
            F.size(F.array_distinct(toks)).cast("double"),
            F.size(toks).cast("double"),
        ),
        6,
    )
    letters = "abcdefghijklmnopqrstuvwxyz"
    # translate (plain char removal), NOT regexp_replace: one cheap
    # string pass per letter in both engines — the regex form was ~10×
    # slower for identical output
    counts = F.array(
        *[
            (
                F.length(t) - F.length(F.translate(t, ch, ""))
            ).cast("double")
            for ch in letters
        ]
    )
    # STAGED projections (the dedup.py:1564 CDC-chunker lesson): the
    # counts array and its total MUST be materialized as columns before
    # the entropy fold references them — inlined, Catalyst re-evaluates
    # the 26-translate array inside every fold step (~26x26 text passes
    # per row; measured 74 s vs ~1 s at sf0.1)
    staged = (
        # Filter + narrow projection BEFORE the spread (guide §2.3): the
        # round-robin exchange carries (group, text) only.
        spread_small_scan(
            df.filter(
                F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
            ).select(F.col(group_col), F.col(text_col))
        )
        .select(
            F.col(group_col).alias("group"),
            distinct_ratio.alias("_dr"),
            counts.alias("_cnt"),
        )
        .select(
            "group",
            "_dr",
            "_cnt",
            F.aggregate("_cnt", F.lit(0.0), lambda a, x: a + x).alias(
                "_tot"
            ),
        )
    )
    tot = F.col("_tot")
    ent = F.aggregate(
        F.col("_cnt"),
        F.lit(0.0),
        lambda acc, c: acc
        + F.when(
            c > 0, -(c / tot) * F.log2(c / tot)
        ).otherwise(F.lit(0.0)),
    )
    entropy = F.round(ent, 6)
    base = staged.select(
        "group",
        "_dr",
        F.when(tot > 0, entropy).otherwise(F.lit(0.0)).alias("_en"),
    )
    flag = (
        (F.col("_en") < 3.5) | (F.col("_dr") < 0.4)
    ).cast("int")
    agg = base.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_dr").cast("decimal(28,6)")).alias("_sdr"),
        F.sum(F.col("_en").cast("decimal(28,6)")).alias("_sen"),
        F.sum(flag).alias("_fl"),
    )
    nd = F.col("n_docs").cast("double")
    return agg.select(
        "group",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("_sdr").cast("double") / nd, 9).alias(
            "mean_distinct_ratio"
        ),
        F.round(F.col("_sen").cast("double") / nd, 9).alias(
            "mean_char_entropy"
        ),
        F.col("_fl").cast("long").alias("flagged"),
        F.round(F.col("_fl").cast("double") / nd, 9).alias(
            "flagged_share"
        ),
    )


def hapax_share(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Hapax legomena share per source — the fraction of each source's
    vocabulary that appears exactly once: the fastest vocabulary-health
    contrast behind :func:`zipf_fit`'s full curve (organic text runs
    ~40-60% hapax; template/boilerplate sources collapse toward 0,
    OCR/mojibake sources explode toward 1 as garbage tokens never
    repeat).

    One (source, token) count groupBy (the only corpus-sized shuffle,
    partial-aggregable after the row-local explode) + one bounded
    per-source reduce; exact integer counts end-to-end.

    Output: one row per source — ``(source, vocab bigint, hapax bigint,
    hapax_share double)``.
    """
    toks = (
        df.filter(
            F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("source"),
            F.explode(tokens(text_col)).alias("_t"),
        )
        .groupBy("source", "_t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    agg = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("_n") == 1).cast("long")).alias("hapax"),
    )
    return agg.select(
        "source",
        F.col("vocab").cast("long").alias("vocab"),
        F.col("hapax").cast("long").alias("hapax"),
        F.round(
            F.try_divide(
                F.col("hapax").cast("double"),
                F.col("vocab").cast("double"),
            ),
            9,
        ).alias("hapax_share"),
    )


def case_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Casing composition of word tokens per language — the cheap
    provenance fingerprint :func:`script_profile` (character classes)
    can't see: lowercase-normalized scrapes score ~0 capitalized share,
    title-cased boilerplate scores high, ALL-CAPS shouting flags low-
    quality sources; and a 'de' corpus with English-level capitalization
    is mislabeled (German capitalizes every noun).

    Tokens are maximal ``[A-Za-z]+`` runs (case preserved — the
    :func:`tokens` lowercasing would destroy the signal); classes:
    capitalized ``[A-Z][a-z]+``, allcaps ``[A-Z]{2,}``, lower
    ``[a-z]+``, everything else mixed.  Row-local class counts, one
    partial-aggregable groupBy, exact integers.

    Output: one row per group — ``(lang, word_tokens bigint,
    cap_share double, allcaps_share double, lower_share double,
    mixed_share double)``.
    """
    words = F.regexp_extract_all(
        F.col(text_col), F.lit("[A-Za-z]+"), 0
    )

    def share_cnt(pattern: str) -> Column:
        return F.size(
            F.filter(words, lambda t: t.rlike(pattern))
        )

    base = df.filter(
        F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("lang"),
        F.size(words).alias("_n"),
        share_cnt("^[A-Z][a-z]+$").alias("_cap"),
        share_cnt("^[A-Z]{2,}$").alias("_all"),
        share_cnt("^[a-z]+$").alias("_low"),
    )
    agg = base.groupBy("lang").agg(
        F.sum("_n").alias("word_tokens"),
        F.sum("_cap").alias("_c"),
        F.sum("_all").alias("_a"),
        F.sum("_low").alias("_l"),
    )
    tot = F.col("word_tokens").cast("double")
    mixed = (
        F.col("word_tokens") - F.col("_c") - F.col("_a") - F.col("_l")
    )
    return agg.select(
        "lang",
        F.col("word_tokens").cast("long").alias("word_tokens"),
        F.round(F.try_divide(F.col("_c").cast("double"), tot), 9).alias(
            "cap_share"
        ),
        F.round(F.try_divide(F.col("_a").cast("double"), tot), 9).alias(
            "allcaps_share"
        ),
        F.round(F.try_divide(F.col("_l").cast("double"), tot), 9).alias(
            "lower_share"
        ),
        F.round(F.try_divide(mixed.cast("double"), tot), 9).alias(
            "mixed_share"
        ),
    )


def digit_density_deciles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Digit-character density profile in corpus deciles — the "how much
    of this corpus is tables/IDs/logs masquerading as prose" readout a
    mean alone hides (digit mass concentrates: decile 10's density is
    the number that predicts tokenizer blow-ups and boilerplate).

    Per-doc density = digit chars / total chars (exact integer counts →
    one IEEE division); deciles cut on the DISTINCT 6-dp-quantized
    density axis by the equal-mass ceil(10·cum/n) tie-group rule
    (:func:`~..operators.evaluation.lift_table` discipline — no global
    per-row ntile funneling the doc axis through one window partition;
    the 6-dp grid bounds the distinct axis at ≤ 1e6+1 values regardless
    of corpus size).  Per-decile means aggregate 9-dp-quantized decimal
    sums carried per distinct axis value.  One row-local projection +
    one distinct-axis reduce + the bounded cumulative window + one
    10-ary reduce.

    Output: ≤ 10 rows — ``(decile int, n_docs bigint, mean_density
    double, max_density double)``.
    """
    t = F.col(text_col)
    dig = F.length(t) - F.length(
        F.regexp_replace(t, F.lit("[0-9]"), F.lit(""))
    )
    base = df.filter(
        t.isNotNull() & (F.length(t) > 0) & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.try_divide(
            dig.cast("double"), F.length(t).cast("double")
        ).alias("_d"),
    )
    g = base.groupBy(F.round("_d", 6).alias("_q")).agg(
        F.count(F.lit(1)).alias("_nt"),
        F.sum(F.round(F.col("_d"), 9).cast("decimal(28,9)")).alias(
            "_mass"
        ),
        F.max(F.round(F.col("_d"), 9)).alias("_qmx"),
    )
    w_cum = Window.orderBy("_q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.withColumn("_c", F.sum("_nt").over(w_cum)).withColumn(
        "_n", F.sum("_nt").over(Window.partitionBy())
    )
    decile = F.ceil(
        (F.lit(10) * F.col("_c")) / F.col("_n").cast("double")
    ).cast("int")
    return (
        c.groupBy(decile.alias("decile"))
        .agg(
            F.sum("_nt").alias("n_docs"),
            F.sum("_mass").alias("_s"),
            F.max("_qmx").alias("_mx"),
        )
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(
                F.col("_s").cast("double")
                / F.col("n_docs").cast("double"),
                9,
            ).alias("mean_density"),
            F.round(F.col("_mx"), 9).alias("max_density"),
        )
    )


def lang_script_mismatch(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    latin_langs: tuple[str, ...] = ("en", "de", "fr", "es"),
) -> DataFrame:
    """Language-label vs script agreement — the one-join mislabel screen
    :func:`script_profile` (per-SOURCE composition) can't do per LABEL:
    a doc labeled 'zh' whose characters are latin-dominant is mislabeled
    or transliterated; an 'en' doc that is NOT latin-dominant is
    mojibake.  Dominance is the exact INTEGER comparison
    ``2·latin_chars ≥ non-space_chars`` — no double thresholds, no
    engine drift.

    Row-local regexp counts, one per-lang reduce.

    Output: one row per lang — ``(lang, n_docs bigint, latin_expected
    boolean, mismatch_docs bigint, mismatch_rate double)``.
    """
    t = F.col(text_col)

    def cnt(pattern: str) -> Column:
        return F.length(t) - F.length(
            F.regexp_replace(t, F.lit(pattern), F.lit(""))
        )

    latin_dom = (F.lit(2) * cnt(r"[a-zA-Z]")) >= (
        F.length(t) - cnt(r"[ \t\n\r]")
    )
    expected_latin = F.col(lang_col).isin(*latin_langs)
    mism = (latin_dom != expected_latin).cast("long")
    agg = (
        df.filter(t.isNotNull() & F.col(lang_col).isNotNull())
        .groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(expected_latin).alias("latin_expected"),
            F.sum(mism).alias("mismatch_docs"),
        )
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        "latin_expected",
        F.col("mismatch_docs").cast("long").alias("mismatch_docs"),
        F.round(
            F.col("mismatch_docs").cast("double")
            / F.col("n_docs").cast("double"),
            9,
        ).alias("mismatch_rate"),
    )


def doclen_lognormal_ks(
    df: DataFrame,
    len_col: str = "n_chars",
) -> DataFrame:
    """Moment-fit lognormal on document lengths + one-sample KS distance
    — "is this corpus' length distribution organic": natural text
    lengths are famously lognormal-ish; a KS blowup means truncation,
    chunking artifacts, or mixed populations (and invalidates any
    length-based quality fence calibrated on the lognormal assumption).

        μ, σ = mean/population-SD of ln(len),
        D = sup_v max(|F_n(v) − Φ(z_v)|, |F_n(v⁻) − Φ(z_v)|),
        Φ via the shared A-S erfc polynomial,
        fit_ok: D ≤ 1.36/√n  (asymptotic 5% band)

    Every ``ln`` quantizes through decimal(28,12); μ/σ form from exact
    decimal sums over the DISTINCT-LENGTH axis (ln computed once per
    distinct value, weighted by exact counts); each Φ is one IEEE
    polynomial on identical doubles.  One corpus-sized count groupBy,
    then distinct-value-axis windows — the :func:`ks_goodness_of_fit`
    shape.

    Output: one row — ``(n bigint, mu double, sigma double, ks_d
    double, lognormal_fit boolean)``.
    """
    dec12 = "decimal(28,12)"
    # NARROW decimal types for the weighted sums: decimal(28,12)*bigint
    # exceeds precision 38 and Spark silently REDUCES the scale of the
    # product (allowPrecisionLoss) — (18,12)*(10,0) = (29,12) stays
    # exact in both engines.
    dlv = "decimal(18,12)"
    dn = "decimal(10,0)"
    counts = (
        df.filter(F.col(len_col).isNotNull() & (F.col(len_col) > 0))
        .groupBy(F.col(len_col).cast("long").alias("_v"))
        .agg(F.count(F.lit(1)).cast(dn).alias("_n"))
    )
    lnv = (
        # round BEFORE the decimal cast (the .5-ULP boundary rule —
        # with ~hundreds of distinct lengths a bare cast WILL hit one)
        F.round(F.log(F.col("_v").cast("double")), 12)
        .cast(dlv)
        .alias("_lv")
    )
    staged = counts.select("_v", "_n", lnv)
    mom = staged.agg(
        F.sum("_n").alias("_tot"),
        F.sum(F.col("_lv") * F.col("_n")).alias("_s"),
        F.sum(
            F.round(
                F.col("_lv").cast("double")
                * F.col("_lv").cast("double"),
                12,
            ).cast(dlv)
            * F.col("_n")
        ).alias("_q"),
    )
    n = F.col("_tot").cast("double")
    mu = F.col("_s").cast("double") / n
    sigma = (
        F.sqrt(
            F.greatest(
                F.col("_q").cast("double") / n - mu * mu, F.lit(0.0)
            )
        )
        .cast(dec12)
        .cast("double")
    )
    w_cum = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = staged.crossJoin(
        F.broadcast(mom.select(mu.alias("_mu"), sigma.alias("_sg")))
    ).withColumn("_cum", F.sum("_n").over(w_cum)).withColumn(
        "_t2", F.sum("_n").over(Window.partitionBy())
    )
    z = F.try_divide(
        F.col("_lv").cast("double") - F.col("_mu"), F.col("_sg")
    )
    x = F.abs(z) / F.sqrt(F.lit(2.0))
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
    phi = F.when(z >= 0, F.lit(1.0) - e / 2).otherwise(e / 2)
    ecdf = F.col("_cum").cast("double") / F.col("_t2").cast("double")
    ecdf_b = (F.col("_cum") - F.col("_n")).cast("double") / F.col(
        "_t2"
    ).cast("double")
    gap = F.greatest(F.abs(ecdf - phi), F.abs(phi - ecdf_b))
    out = scored.agg(
        F.max("_t2").alias("n"),
        F.max("_mu").alias("mu"),
        F.max("_sg").alias("sigma"),
        F.max(F.round(gap, 9)).alias("ks_d"),
    )
    crit = F.lit(1.36) / F.sqrt(F.col("n").cast("double"))
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("mu"), 9).alias("mu"),
        F.round(F.col("sigma"), 9).alias("sigma"),
        F.col("ks_d"),
        F.coalesce(F.col("ks_d") <= crit, F.lit(False)).alias(
            "lognormal_fit"
        ),
    )


def token_yield_by_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cumulative token yield by quality decile — THE curation planning
    curve: "if we keep only the best k/10 of the corpus, how many
    training tokens survive?"  Quality cuts are argued about in share-
    of-corpus; training budgets are paid in tokens — this is the
    exchange rate, and its shape (tokens concentrating in low deciles
    means the quality score anti-correlates with length) decides
    whether a hard cut or a length-aware mixture is right.

    Deciles cut on the DISTINCT 6-dp-quantized score axis, descending
    (equal-mass ceil(10·cum/n) tie-group rule — decile 1 is the BEST;
    no global per-row ntile funneling the doc axis through one window
    partition, and the 6-dp grid bounds the distinct axis regardless of
    corpus size); per-decile token sums are exact integers; the
    cumulative share reads best-first.  One scoring projection
    (row-local), one distinct-axis reduce + bounded cumulative window,
    one 10-ary reduce + cumulative window.

    Output: ≤ 10 rows — ``(decile int, n_docs bigint, tokens bigint,
    cum_tokens bigint, cum_token_share double)``.
    """
    scored = quality_score(
        df.filter(
            F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
        ).select(id_col, text_col)
    ).select(
        F.col("n_tokens").alias("_tk"),
        F.col("quality_score").alias("_q"),
    )
    g = scored.groupBy(F.round("_q", 6).alias("_qq")).agg(
        F.count(F.lit(1)).alias("_nt"), F.sum("_tk").alias("_tks")
    )
    w_cum = Window.orderBy(F.desc("_qq")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.withColumn("_c", F.sum("_nt").over(w_cum)).withColumn(
        "_n", F.sum("_nt").over(Window.partitionBy())
    )
    dec = F.ceil(
        (F.lit(10) * F.col("_c")) / F.col("_n").cast("double")
    ).cast("int")
    per = c.groupBy(dec.alias("decile")).agg(
        F.sum("_nt").alias("n_docs"),
        F.sum("_tks").alias("tokens"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return per.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tokens").cast("long").alias("tokens"),
        F.sum("tokens").over(w_cum).cast("long").alias("cum_tokens"),
        F.round(
            F.sum("tokens").over(w_cum).cast("double")
            / F.sum("tokens").over(w_all).cast("double"),
            9,
        ).alias("cum_token_share"),
    )


def stopword_coverage(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Stopword coverage per language — the corpus-level view of the
    per-doc ``stopword_ratio`` quality feature: what share of each
    language's TOKENS are (English-profile) stopwords, and how many
    docs carry none at all.  For 'en' sources, near-zero coverage means
    lists/code/tables masquerading as prose; for non-English labels the
    coverage IS the contamination estimate (English stopwords in a 'de'
    corpus are either mislabeled docs or code-switching).

    Uses the same 10-word profile as :func:`quality_score` (identical
    thresholds keep the two readouts reconcilable).  Row-local token
    and hit counts, one partial-aggregable groupBy, exact integers.

    Output: one row per group — ``(lang, n_docs bigint, tokens bigint,
    stopword_tokens bigint, coverage double, zero_stopword_docs
    bigint)``.
    """
    stop = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
    toks = tokens(text_col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stop)))
    base = df.filter(
        F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("lang"),
        F.size(toks).alias("_n"),
        hits.alias("_h"),
    )
    agg = base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").alias("tokens"),
        F.sum("_h").alias("stopword_tokens"),
        F.sum((F.col("_h") == 0).cast("long")).alias(
            "zero_stopword_docs"
        ),
    )
    return agg.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tokens").cast("long").alias("tokens"),
        F.col("stopword_tokens").cast("long").alias("stopword_tokens"),
        F.round(
            F.try_divide(
                F.col("stopword_tokens").cast("double"),
                F.col("tokens").cast("double"),
            ),
            9,
        ).alias("coverage"),
        F.col("zero_stopword_docs").cast("long").alias(
            "zero_stopword_docs"
        ),
    )
