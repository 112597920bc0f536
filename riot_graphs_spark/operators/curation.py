"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup/similarity (SURVEY §7 step 7 extension surface): PII
redaction, benchmark-contamination checks, stratified deterministic
sampling, mixture reweighting, and token-budget sequence packing.

All pure Catalyst expressions (regex, windows, joins) — no UDFs — so every
operator runs inside whole-stage codegen and admits partial aggregation.
Patterns stay in the Java-regex ∩ RE2 common subset so the DuckDB oracles
can run the identical regexes.

Scale posture: redaction/packing are per-row or per-partition-window ops
(no shuffle beyond the window key); contamination broadcasts the small
eval side; sampling is a deterministic hash filter that pushes to the
scan. Nothing here collects to the driver.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import hash56, word_shingles

# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------
#: (pattern, replacement) in application order. Patterns are anchored with
#: \b (ASCII word boundary — same meaning in Java regex and RE2). SSN
#: (3-2-4) is disjoint from phone (3-3-4), and IPv4 needs three dots, so
#: order only matters for emails (redacted first so the local part's
#: digits can't be half-eaten by later rules).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def redact_pii(text: Column | str) -> tuple[Column, Column]:
    """Returns ``(clean_text, n_redacted)``: the text with every PII match
    replaced by its typed tag, and the total number of redactions.

    Counting happens against the *running* text (after the previous rules
    fired), matching what actually got replaced — so an email whose digits
    also look phone-ish is counted exactly once.
    """
    clean = F.col(text) if isinstance(text, str) else text
    counts: list[Column] = []
    for pat, tag in PII_PATTERNS:
        counts.append(F.size(F.regexp_extract_all(clean, F.lit(pat), 0)))
        clean = F.regexp_replace(clean, pat, tag)
    n = counts[0]
    for c in counts[1:]:
        n = n + c
    return clean, n.cast("long")


# --------------------------------------------------------------------------
# Benchmark-contamination check
# --------------------------------------------------------------------------
def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: int = 1,
) -> DataFrame:
    """Per training doc: how many distinct word ``n``-grams it shares with
    ANY doc of the (small) eval/benchmark set, plus a ``contaminated``
    flag at ``threshold`` shared n-grams.

    Plan shape for 100 TB: the eval side is exploded and distinct-ed
    (tiny), then **broadcast** into the train-side explode — one scan of
    the training corpus, no shuffle on the big side until the final
    per-doc count (keyed on ``id_col``, partial-aggregable). Joining on
    the shingle *string* keeps the check exact; at petabyte scale swap in
    :func:`~riot_graphs_spark.operators.dedup.hash56` of the shingle to
    shrink the broadcast.
    """
    eval_grams = (
        eval_df.select(
            F.explode(word_shingles(text_col, n=n)).alias("_gram")
        ).distinct()
    )
    train_grams = train.select(
        F.col(id_col), F.explode(word_shingles(text_col, n=n)).alias("_gram")
    )
    shared = (
        train_grams.join(F.broadcast(eval_grams), "_gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
    return (
        train.select(id_col)
        .join(shared, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_shared_ngrams", F.lit(0)).alias("n_shared_ngrams"),
            (F.coalesce("n_shared_ngrams", F.lit(0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


# --------------------------------------------------------------------------
# Deterministic stratified sampling
# --------------------------------------------------------------------------
def stratified_hash_sample(
    df: DataFrame,
    rates_per_mille: Mapping[str, int],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: int = 0,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction: row survives iff
    ``hash56(key) % 1000 < rate[stratum]``. Same key → same verdict on
    every run and every engine (md5-based hash, no RNG), which is what
    makes a 100 TB sampling job re-runnable and auditable. The filter is
    a pure row predicate — no shuffle, evaluated at the scan.
    """
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates_per_mille.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(r)).otherwise(rate)
    bucket = hash56(F.col(key_col).cast("string")) % 1000
    return df.withColumn("sample_bucket", bucket).filter(
        F.col("sample_bucket") < rate
    )


def cap_per_group(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen by hash order — the
    per-domain cap rule (no domain may contribute more than k docs),
    applied so the survivors are a deterministic uniform-ish sample rather
    than whatever order the scan produced.

    One window shuffle on ``group_col``; ties cannot happen (``key_col``
    breaks them), so the result is stable across runs and engines. Skewed
    giant domains are exactly the rows this drops, so the post-cap table
    is also the skew fix for downstream joins on ``group_col``.
    """
    w = Window.partitionBy(group_col).orderBy(
        hash56(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# Mixture reweighting
# --------------------------------------------------------------------------
def mixture_weights(df: DataFrame, strata_col: str = "lang") -> DataFrame:
    """Per-stratum resampling weights to morph the corpus mixture into the
    uniform distribution over observed strata:
    ``weight = target_share / actual_share``.

    One partial-aggregable groupBy; the total comes from a window over the
    (tiny, #strata-row) aggregate — no second scan of the corpus.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    target = F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy())
    actual = F.col("n") / total
    return counts.select(
        strata_col,
        "n",
        actual.alias("actual_share"),
        target.alias("target_share"),
        (target / actual).alias("weight"),
    )


def temperature_mixture(
    df: DataFrame,
    strata_col: str = "lang",
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-based mixture reweighting — the multilingual-LM sampling
    rule: sampling share ∝ (corpus share)^(1/T). T=1 reproduces the corpus
    mixture; T→∞ approaches uniform; the standard T∈[2,5] range boosts
    low-resource strata without flattening the head.

    Same shape as :func:`mixture_weights`: one partial-aggregable groupBy to
    #strata rows, then windows over that tiny aggregate — the corpus is
    scanned once regardless of T. The ^(1/T) leg runs in double; its
    cross-row normalization sum goes through DECIMAL (addition-order-stable
    across partitionings and engines) and the published shares round to 6dp.

    Output per stratum: ``n``, ``share`` (corpus), ``sample_share``
    (temperature-adjusted), ``boost`` = sample_share/share (the resampling
    factor a mixture-aware loader applies).
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    share = F.col("n").cast("double") / total
    raised = F.pow(share, F.lit(1.0 / temperature)).cast("decimal(27,12)")
    z = F.sum(raised).over(Window.partitionBy())
    sample_share = F.round(
        raised.cast("double") / z.cast("double"), 6
    )
    return counts.select(
        strata_col,
        "n",
        F.round(share, 6).alias("share"),
        sample_share.alias("sample_share"),
        F.round(sample_share / F.round(share, 6), 6).alias("boost"),
    )


# --------------------------------------------------------------------------
# Token-budget sequence packing
# --------------------------------------------------------------------------
def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str,
    part_col: str = "lang",
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign each doc to a fixed-token-budget pack: docs are laid out in
    ``order_col`` order within ``part_col``, and a doc belongs to the pack
    where its first token lands (``floor(tokens_before / budget)``), with
    ``pack_offset`` its start position inside that pack.

    This is the streaming-concat packing used to build fixed-length
    training sequences (docs may straddle a boundary; the tokenizer's
    chunker handles the split downstream). Integer window arithmetic —
    bit-exact on every engine, ONE shuffle on ``part_col``, state O(1)
    per partition. Greedy first-fit packing (no straddling) is
    deliberately not used: it needs sequential bin state that doesn't
    parallelize, and at 100 TB the ~1 doc-per-pack boundary waste of this
    form is noise.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long")
    budget = int(budget)
    # Integer `div`, never floor(double-division): a double quotient is
    # only bit-exact below 2^53 and engines disagree at the margin, while
    # `div` is exact on every engine at any corpus size.
    return df.select(
        part_col, order_col, F.col(token_col), before.alias("_before")
    ).select(
        part_col,
        order_col,
        F.col(token_col),
        F.expr(f"_before div {budget}").alias("pack_id"),
        (F.col("_before") % budget).alias("pack_offset"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_chars: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-width character chunks with
    ``overlap`` characters shared between consecutive chunks — the
    context-window chunker that turns curated documents into
    training-sequence candidates (pairs with ``pack_sequences``: chunk to
    width, then pack the chunks).

    Chunk ``k`` starts at 1-based position ``1 + k·(chunk_chars−overlap)``
    and runs for ``chunk_chars``; starts are emitted while they land inside
    the text, and an empty or NULL-text document still yields one empty
    chunk (so no doc silently disappears from the corpus — a NULL text
    would otherwise make ``sequence`` NULL and ``explode`` drop the row).
    Returns ``(id_col, chunk_id: long, chunk_start: long, chunk_text:
    string)``.

    Scale posture: a per-row ``sequence`` + ``explode`` + ``substring``
    projection — zero shuffles, runs inside whole-stage codegen, and the
    output row count is predictable (Σ ceil(len/stride)), which is what lets
    a 100 TB chunking pass be sized in advance.
    """
    if chunk_chars <= 0:
        raise ValueError("chunk_chars must be positive")
    if not 0 <= overlap < chunk_chars:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_chars")
    stride = chunk_chars - overlap
    text = F.coalesce(F.col(text_col), F.lit(""))
    starts = F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(text)), F.lit(stride))
    return (
        df.select(id_col, text.alias(text_col), F.explode(starts).alias("chunk_start"))
        .select(
            id_col,
            ((F.col("chunk_start") - 1) / stride).cast("long").alias("chunk_id"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.substring(F.col(text_col), F.col("chunk_start"), chunk_chars).alias(
                "chunk_text"
            ),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
) -> DataFrame:
    """C4-style corpus-wide boilerplate removal: any (trimmed, non-empty)
    line occurring in ≥ ``min_docs`` distinct documents is deleted from
    every document; surviving lines are rejoined in original order.

    Plan shape at scale: lines explode once; the per-line distinct-doc
    count is a partial-aggregable groupBy on the line text; the frequent
    set (tiny — boilerplate is by definition few distinct strings) comes
    back as a **broadcast left-anti join**, so the big exploded side never
    shuffles for the filter. The rebuild groups by doc and sorts each
    doc's surviving (pos, line) structs row-locally — one shuffle keyed on
    the doc id. Docs whose every line was boilerplate survive with empty
    text (dropping them is the caller's policy decision).
    """
    from .textstats import clean_lines

    base = docs.select(
        F.col(id_col), F.size(clean_lines(text_col)).alias("_n_lines")
    )
    lines = docs.select(
        F.col(id_col),
        F.posexplode(clean_lines(text_col)).alias("pos", "line"),
    )
    frequent = (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("line")
    )
    kept = lines.join(F.broadcast(frequent), "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("_n_kept"),
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    n: int,
    weight_col: str,
    key_cols: Sequence[str],
) -> DataFrame:
    """Weighted sampling without replacement, per group, DETERMINISTIC —
    Efraimidis–Spirakis A-ES: each row draws a uniform ``u`` from the md5
    hash of its key columns and gets rank key ``ln(u)/w`` (monotone
    equivalent of ``u^(1/w)``); the top-``n`` keys per group are a weighted
    sample where inclusion probability scales with ``weight_col``. The
    quality-weighted corpus picker: weight = quality score → better docs
    more likely, every doc still possible, and the same input always yields
    the same sample (resumable/reproducible at 100 TB, unlike ``rand()``).

    Rows with weight ≤ 0 or NULL are excluded (zero mass). One shuffle on
    ``group_cols``; the rank is a scalar hash + log, the sort per group.
    Returns the sampled rows with ``sample_score`` attached.
    """
    hash_u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f", *[F.col(c).cast("string") for c in key_cols]
                    )
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**56))  # u in (0, 1]: +1 keeps ln defined
    score = F.log(hash_u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.desc("sample_score"), *[F.col(c) for c in key_cols]
    )
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("sample_score", score)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def train_val_test_split(
    df: DataFrame,
    key_cols: Sequence[str],
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    out: str = "split",
) -> DataFrame:
    """Deterministic corpus split: each row's md5-hash of its key columns
    maps to a uniform u ∈ [0,1); u < 1−val−test → ``train``, then ``val``,
    then ``test``. Membership is a pure function of the key — re-running,
    repartitioning, or growing the corpus never moves an existing document
    across splits (the property that prevents silent train/test
    contamination as the corpus is re-curated; ``rand()`` splits leak on
    every rerun).

    Row-local projection (zero shuffles) — composes with
    ``stratified_hash_sample`` (same hash family, different byte ranges)
    without correlation because the split hashes a different salt.
    """
    if not 0 <= val_frac + test_frac < 1:
        raise ValueError("val_frac + test_frac must be in [0, 1)")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        F.lit("split"),
                        *[F.col(c).cast("string") for c in key_cols],
                    )
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**56))
    )
    train_hi = 1.0 - val_frac - test_frac
    return df.withColumn(
        out,
        F.when(u < train_hi, "train")
        .when(u < train_hi + val_frac, "val")
        .otherwise("test"),
    )


def shard_corpus(
    df: DataFrame,
    n_shards: int,
    key_cols: Sequence[str] = ("doc_id",),
    salt: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export: the
    step between a curated corpus and the data loader, which needs (a) each
    document assigned to exactly one of ``n_shards`` output files, (b) a
    pseudo-random document order DECOUPLED from ingest/curation order (docs
    that arrived together must not train together), and (c) bit-identical
    assignment across reruns and engines — md5-keyed like
    :func:`train_val_test_split`, no RNG.

    Adds ``shard`` = hash(salt, key) mod n_shards and ``shard_pos`` = the
    document's 0-based rank within its shard by a SECOND hash (different
    salt, so within-shard order is uncorrelated with shard assignment).
    Writing ``partitionBy(shard)`` with shard_pos order then yields the
    shuffled shards a sequential reader streams.

    Scale: one hash-shuffle into ``n_shards`` groups plus a per-shard sort
    (the ``row_number`` window partitions on ``shard`` — NEVER a global
    ORDER BY, whose single-reducer rank would bottleneck at corpus scale).
    Pick ``n_shards`` ≈ corpus_bytes / target_file_size so each sort fits an
    executor; a 100 TB corpus at 1 GB shards is 100k well-balanced groups.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")

    def _h(s: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        F.lit(s),
                        *[F.col(c).cast("string") for c in key_cols],
                    )
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("long")

    with_shard = df.withColumn(
        "shard", F.pmod(_h(salt), F.lit(n_shards)).cast("int")
    ).withColumn("_ord", _h(salt + ".pos"))
    w = Window.partitionBy("shard").orderBy(
        "_ord", *[F.col(c) for c in key_cols]
    )
    return with_shard.withColumn(
        "shard_pos", F.row_number().over(w).cast("long") - 1
    ).drop("_ord")


def chunk_by_sentences(
    df: DataFrame,
    max_chars: int = 200,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentence-aligned context chunks: split on sentence terminators
    (``[.!?]`` runs — an RE2-portable pattern, no lookbehind, so the oracle
    splits identically), then assign each sentence to the chunk where its
    first character lands under a running ``max_chars`` budget — the same
    streaming-pack semantics as :func:`pack_sequences`, at sentence
    granularity. Unlike :func:`chunk_documents` (fixed char windows), a
    chunk never cuts mid-sentence — the form RAG/context pipelines want.

    Output: ``(id, chunk_id, chunk_text, n_sentences, n_chars)``; chunk
    text joins sentences with one space in document order (deterministic:
    the collect is sorted by sentence index before joining). ONE shuffle
    (the per-doc window + group share the ``id`` partitioning); sentence
    splitting and length math are row-local.
    """
    max_chars = int(max_chars)
    sent = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.transform(
                    F.regexp_extract_all(
                        F.col(text_col), F.lit("[^.!?]+[.!?]*"), 0
                    ),
                    lambda s: F.trim(s),
                ),
                lambda s: s != "",
            )
        ).alias("idx", "sentence"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(F.length("sentence")).over(w), F.lit(0)).cast(
        "long"
    )
    assigned = sent.select(
        id_col,
        "idx",
        "sentence",
        before.alias("_before"),
    ).select(
        id_col,
        "idx",
        "sentence",
        F.expr(f"_before div {max_chars}").alias("chunk_id"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("idx"), F.col("sentence")))
    )
    return assigned.groupBy(id_col, "chunk_id").agg(
        F.array_join(
            F.transform(ordered, lambda s: s["sentence"]), " "
        ).alias("chunk_text"),
        F.count(F.lit(1)).cast("long").alias("n_sentences"),
        F.sum(F.length("sentence")).cast("long").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# Global contiguous indexing without a global sort window
# --------------------------------------------------------------------------
def global_index(
    df: DataFrame,
    key_cols: Sequence[str] = ("doc_id",),
    salt: str = "gidx",
    buckets: int = 64,
) -> DataFrame:
    """Assign every row a **globally contiguous 0-based position** in a
    deterministic pseudo-random order (md5-keyed, like
    :func:`shard_corpus`) — the "one global shuffled sequence" a training
    run's resumable data order needs — WITHOUT ``row_number() OVER (ORDER
    BY …)``, whose single-reducer global window is the canonical
    corpus-scale bottleneck.

    Two-phase (the DataFrame-native ``zipWithIndex``): range-bucket each
    row by the TOP bits of its 56-bit md5 order key (so bucket boundaries
    respect global key order), count per bucket (partial-aggregable,
    ``buckets`` rows), turn counts into cumulative start offsets on the
    driver-sized table, broadcast them back, and emit ``offset +
    row_number()`` within each bucket. The only fact-side shuffle is the
    per-bucket window's hash exchange into ``buckets`` groups; the
    unpartitioned cumulative window runs over the ``buckets``-row count
    table, never the fact. The fact is scanned twice (count pass + rank
    pass) — at 100 TB that beats one global sort; checkpoint upstream if
    the input lineage is expensive.

    md5-range bucketing is uniform by construction, so the ``buckets``
    sort groups are balanced regardless of data skew; size ``buckets`` so
    a group fits an executor's sort spill budget (a 100 TB corpus at 4096
    buckets sorts ~25 GB per group). Result is bit-identical across runs,
    engines, and ``buckets`` settings: ``global_pos`` equals the rank in
    ``ORDER BY h, *key_cols``. Keys must be non-null.

    Output: ``df``'s ``key_cols`` plus ``global_pos`` (bigint).
    """
    if buckets < 1:
        raise ValueError("buckets must be positive")
    b_bits = max(1, (buckets - 1).bit_length())

    def _h(s: str) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f",
                        F.lit(s),
                        *[F.col(c).cast("string") for c in key_cols],
                    )
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("long")

    keyed = df.select(*key_cols).withColumn("_h", _h(salt)).withColumn(
        "_b", F.shiftright(F.col("_h"), 56 - b_bits).cast("int")
    )
    counts = keyed.groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))
    w_cum = (
        Window.orderBy("_b")  # over the buckets-row count table only
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_c").over(w_cum), F.lit(0)).alias("_off")
    )
    w_b = Window.partitionBy("_b").orderBy(
        "_h", *[F.col(c) for c in key_cols]
    )
    return (
        keyed.join(F.broadcast(offsets), "_b")
        .withColumn(
            "global_pos",
            (F.row_number().over(w_b) - 1 + F.col("_off")).cast("long"),
        )
        .drop("_h", "_b", "_off")
    )


# --------------------------------------------------------------------------
# URL-level dedup / per-domain curation report
# --------------------------------------------------------------------------
def url_domain_report(
    df: DataFrame,
    url_col: str = "url",
    cap_share: float = 0.25,
) -> DataFrame:
    """Per-registrable-domain curation report over a URL-keyed corpus —
    the web-pipeline gate that pairs with text dedup: normalized-URL
    duplicate mass per domain and the over-representation flag a
    per-domain cap acts on (a handful of boilerplate-heavy domains
    otherwise dominate a crawl).

    Columns: ``domain``, ``n_docs``, ``n_urls`` (distinct normalized
    URLs), ``dup_ratio`` (1 − n_urls/n_docs — URL-exact duplicate mass),
    ``share`` (of corpus docs), ``over_cap`` (share > ``cap_share``).

    Scale: normalization (:func:`~riot_graphs_spark.functions.scalars
    .normalize_url`) and domain extraction are row-local regex; the
    count-distinct is a two-level partial aggregate on the domain key and
    the corpus total is a broadcast one-row agg — one scan, one shuffle
    keyed by domain (salt via :func:`~riot_graphs_spark.operators.profile
    .key_skew_profile` guidance if one domain IS the corpus).
    """
    from ..functions.scalars import normalize_url, registered_domain

    keyed = df.select(
        normalize_url(F.col(url_col)).alias("_u")
    ).withColumn("domain", registered_domain(F.col("_u")))
    agg = keyed.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("_u")).alias("n_urls"),
    )
    total = agg.agg(F.sum("n_docs").alias("_total"))
    return agg.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        "n_urls",
        (F.lit(1.0) - F.col("n_urls") / F.col("n_docs")).alias("dup_ratio"),
        (F.col("n_docs") / F.col("_total")).alias("share"),
        (F.col("n_docs") / F.col("_total") > F.lit(cap_share)).alias(
            "over_cap"
        ),
    )


# --------------------------------------------------------------------------
# Train->eval n-gram leakage rate (contamination, eval-side view)
# --------------------------------------------------------------------------
def eval_leakage_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per **eval** doc: what fraction of its distinct word ``n``-grams
    also occur anywhere in the training corpus — the benchmark-integrity
    number a model card reports (:func:`contamination_check` is the same
    join seen from the train side; this is the eval-side rate that decides
    whether a benchmark score is still meaningful).

    Plan for 100 TB of train: the eval gram set (tiny) is **broadcast**
    into one scan of the exploded train side; the surviving train grams
    are distinct-ed — a shuffle bounded by the EVAL gram count, not the
    train corpus — then broadcast back onto the per-doc eval grams. The
    training corpus is scanned once and never shuffled.

    Output: ``(id_col, n_grams bigint, n_leaked bigint, leak_frac double,
    leaked boolean)`` — one row per eval doc (0-gram docs report 0/0/0.0).
    """
    from .dedup import word_shingles

    if not 0.0 <= threshold <= 1.0:
        raise ValueError("need 0 <= threshold <= 1")
    eval_grams = eval_df.select(
        F.col(id_col), F.explode(word_shingles(text_col, n=n)).alias("_g")
    )
    eval_gram_set = eval_grams.select("_g").distinct()
    train_present = (
        train.select(F.explode(word_shingles(text_col, n=n)).alias("_g"))
        .join(F.broadcast(eval_gram_set), "_g")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        eval_grams.join(F.broadcast(train_present), "_g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_leaked"),
        )
    )
    return (
        eval_df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
            F.coalesce(
                F.col("n_leaked") / F.col("n_grams"), F.lit(0.0)
            ).alias("leak_frac"),
            F.coalesce(
                F.col("n_leaked") / F.col("n_grams") >= F.lit(threshold),
                F.lit(False),
            ).alias("leaked"),
        )
    )


def ipf_mixture_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    iterations: int = 2,
) -> DataFrame:
    """Iterative proportional fitting (raking) of per-cell sampling
    weights toward UNIFORM target shares on BOTH margins simultaneously —
    the 2-D form of :func:`mixture_weights`: that operator balances ONE
    key; a corpus skewed in ``lang`` AND ``source`` needs per-(lang,
    source) weights such that the weighted mass hits the lang target
    and the source target at once, which no per-margin reweighting can do
    (fixing one margin un-fixes the other — exactly what IPF alternates
    away).

    Classic raking loop: per iteration, scale every cell's weight so row
    sums match the row targets, then so column sums match the column
    targets; with every observed margin positive the loop converges
    geometrically.  ``iterations`` is FIXED (not run-to-convergence) so
    the computation is a deterministic expression tree and the registered
    query can pin it against an unrolled SQL oracle — the same contract
    as the fixed-iteration graph operators; production raises
    ``iterations`` (each costs two windows over the contingency table).

    Determinism: counts are exact ints; every marginal sum quantizes its
    ``n·w`` terms to ``decimal(28,12)`` (summation-order independence),
    and each weight update is per-row IEEE on those exact sums.

    Plan: ONE corpus scan into the joint-count groupBy; every iteration
    is two window passes over the OBSERVED-CELLS table (|rows|·|cols|
    upper bound), never the fact.  NULL levels count as their own level,
    matching the other contingency operators.

    Output: one row per observed cell — ``(row_col, col_col, n bigint,
    weight double)``; ``Σ n·w ≈ N`` with per-margin weighted shares
    approaching ``1/|rows|`` and ``1/|cols|``.
    """
    if iterations < 1:
        raise ValueError("need iterations >= 1")
    dec = "decimal(28,12)"
    r = F.coalesce(F.col(row_col).cast("string"), F.lit("\x00null"))
    c = F.coalesce(F.col(col_col).cast("string"), F.lit("\x00null"))
    joint = (
        df.select(r.alias("_r"), c.alias("_c"))
        .groupBy("_r", "_c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_all = Window.partitionBy()
    w_r, w_c = Window.partitionBy("_r"), Window.partitionBy("_c")
    cur = (
        joint.withColumn("_N", F.sum("n").over(w_all))
        .withColumn("_L", F.size(F.collect_set("_r").over(w_all)))
        .withColumn("_S", F.size(F.collect_set("_c").over(w_all)))
        .withColumn("w", F.lit(1.0))
    )
    t_row = F.col("_N").cast("double") / F.col("_L").cast("double")
    t_col = F.col("_N").cast("double") / F.col("_S").cast("double")
    for _ in range(iterations):
        cur = (
            cur.withColumn(
                "_m",
                F.sum((F.col("n") * F.col("w")).cast(dec))
                .over(w_r)
                .cast("double"),
            )
            .withColumn("w", F.col("w") * (t_row / F.col("_m")))
            .drop("_m")
        )
        cur = (
            cur.withColumn(
                "_m",
                F.sum((F.col("n") * F.col("w")).cast(dec))
                .over(w_c)
                .cast("double"),
            )
            .withColumn("w", F.col("w") * (t_col / F.col("_m")))
            .drop("_m")
        )
    return cur.select(
        F.col("_r").alias(row_col),
        F.col("_c").alias(col_col),
        "n",
        F.round("w", 9).alias("weight"),
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    out_col: str | None = None,
) -> DataFrame:
    """Cross-group quantile normalization: replace each row's value with
    the POOLED distribution's value at the row's within-group quantile —
    per-source score calibration, the step before applying one global
    threshold to scores produced by heterogeneous sources (a quality
    score of 0.7 from a lenient crawl and 0.7 from a strict one are not
    the same percentile; after this pass, equal within-source ranks get
    equal calibrated values by construction).

    Ranks use cumulative counts over distinct values (ties share the max
    rank — deterministic with no tiebreak column), quantiles are exact
    integer ratios, and the pooled lookup is a FORWARD as-of join on the
    quantile axis (smallest pooled value whose pooled quantile ≥ the
    row's): every group's max maps to the pooled max since both ends are
    exactly 1.0, so the mapping is total.

    Plan: one (group, value) count groupBy; the as-of runs over the
    DISTINCT-VALUE axis (one ordered pass — the ``ks_two_sample`` caveat
    applies: pre-quantize a continuous measure upstream); rows map back
    through one (group, value)-keyed equi-join (AQE broadcasts the
    mapping when small).  Rows with NULL value or NULL group keys pass
    through with a NULL calibrated value.

    Output: ``df``'s columns plus ``out_col`` (default
    ``{value_col}_qn``), same type as ``value_col``.
    """
    from .asof import asof_join_forward

    out_col = out_col or f"{value_col}_qn"
    if out_col in df.columns:
        raise ValueError(
            f"quantile_normalize: output column {out_col!r} already exists "
            "in the input — pass a distinct out_col or drop/rename first"
        )
    gcols = list(group_cols)
    keep = F.col(value_col).isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(*gcols, F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_cum = (
        Window.partitionBy(*gcols)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*gcols)
    left = counts.select(
        *gcols,
        "_v",
        (
            F.sum("_n").over(w_cum).cast("double")
            / F.sum("_n").over(w_tot).cast("double")
        ).alias("_q"),
        F.lit(1).alias("_k"),
    )
    pooled_counts = counts.groupBy("_v").agg(F.sum("_n").alias("_n"))
    wp_cum = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wp_tot = Window.partitionBy()
    pooled = pooled_counts.select(
        F.lit(1).alias("_k"),
        F.col("_v").alias("_vp"),
        (
            F.sum("_n").over(wp_cum).cast("double")
            / F.sum("_n").over(wp_tot).cast("double")
        ).alias("_qp"),
    )
    mapped = asof_join_forward(
        left, pooled, on="_k", left_ts="_q", right_ts="_qp",
        right_payload=["_vp"], suffix="",
    )
    mapping = mapped.select(
        *gcols,
        F.col("_v").alias(value_col),
        F.col("_vp").alias(out_col),
    )
    return df.join(mapping, [*gcols, value_col], "left")


def mixture_effective_sample_size(
    df: DataFrame, strata_col: str = "lang"
) -> DataFrame:
    """Effective sample size of a reweighted mixture — the cost readout
    for :func:`mixture_weights`: upweighting rare strata toward the uniform
    mix makes a few rows carry outsized weight, and

        ESS = (Σᵢ wᵢ)² / Σᵢ wᵢ²    (Kish)

    says how many EQUALLY-weighted rows the weighted corpus is worth.
    ``ess_ratio`` = ESS/n is the fraction of the corpus the mixture
    actually uses — a 0.3 means the uniform-target remix threw away 70%
    of the data's statistical power, the number to look at before
    deciding to upsample instead.

    Per-row weights are constant within a stratum, so both sums collapse
    onto the strata axis: ``Σw = Σ_s n_s·w_s``, ``Σw² = Σ_s n_s·w_s²``
    — one partial-aggregable count groupBy, everything after runs on the
    |strata|-row table (window total, per-stratum weight, two quantized
    decimal sums).  NULL strata are excluded.

    Output: one row — ``(n bigint, n_strata bigint, ess double,
    ess_ratio double)``.
    """
    keep = F.col(strata_col).isNotNull()
    counts = (
        df.filter(keep)
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_ns"))
    )
    w_all = Window.partitionBy()
    total = F.sum("_ns").over(w_all)
    target = F.lit(1.0) / F.count(F.lit(1)).over(w_all)
    ws = target / (F.col("_ns").cast("double") / total.cast("double"))
    dec = "decimal(28,12)"
    c = counts.select(
        F.col("_ns"),
        total.alias("_n"),
        (F.col("_ns").cast("double") * ws).cast(dec).alias("_sw"),
        (F.col("_ns").cast("double") * ws * ws).cast(dec).alias("_sww"),
    )
    agg = c.agg(
        F.max("_n").alias("n"),
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("_sw").alias("_tw"),
        F.sum("_sww").alias("_tww"),
    )
    ess = F.try_divide(
        F.col("_tw").cast("double") * F.col("_tw").cast("double"),
        F.col("_tww").cast("double"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_strata").cast("long").alias("n_strata"),
        F.round(ess, 9).alias("ess"),
        F.round(
            F.try_divide(ess, F.col("n").cast("double")), 9
        ).alias("ess_ratio"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Stratified-sample allocation audit: for a target sample of
    ``total_n`` rows estimating the mean of ``value_col``, compare
    PROPORTIONAL allocation (n_h ∝ N_h) against NEYMAN-optimal
    allocation (n_h ∝ N_h·S_h — oversample the noisy strata), with the
    per-stratum standard deviations that drive the difference.  The
    design readout behind every "annotate a sample per source" task:
    if Neyman and proportional agree, stratification is free; where
    they diverge, proportional sampling wastes label budget on quiet
    strata.

    Exactness: per-stratum moments are 9-dp-quantized decimal sums
    (order-free); S_h = sample sd via one sqrt on those exact sums; the
    cross-strata normalizer Σ_g N_g·S_g re-quantizes each stratum's
    N_h·S_h to 9 dp into a decimal window sum over the STRATUM axis
    (bounded — sources, languages), so every allocation is engine-
    identical.  One fact-sized groupBy + one stratum-axis window.

    Output: one row per stratum — ``(stratum_col, n_rows bigint, share
    double, sd double, n_prop double, n_neyman double)``; single-row
    strata carry NULL sd and NULL n_neyman (their Neyman share is
    undefined — fall back to proportional for those).
    """
    if total_n <= 0:
        raise ValueError("total_n must be positive")
    dec = "decimal(28,9)"
    base = df.filter(
        F.col(stratum_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(stratum_col).alias("_h"),
        F.col(value_col).cast("double").alias("_v"),
    )
    per = base.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_nh"),
        F.sum(F.round(F.col("_v"), 9).cast(dec)).alias("_s"),
        F.sum(
            F.round(F.col("_v") * F.col("_v"), 9).cast(dec)
        ).alias("_q"),
    )
    nh = F.col("_nh").cast("double")
    mean = F.col("_s").cast("double") / nh
    var = F.when(
        F.col("_nh") >= 2,
        (F.col("_q").cast("double") - nh * mean * mean)
        / (nh - F.lit(1.0)),
    )
    sd = F.sqrt(F.greatest(F.lit(0.0), var))
    scored = per.select(
        "_h", "_nh", sd.alias("_sd")
    )
    w_all = Window.partitionBy()
    scored = scored.select(
        "_h",
        "_nh",
        "_sd",
        F.sum("_nh").over(w_all).alias("_n"),
        F.sum(
            F.round(nh * F.col("_sd"), 9).cast(dec)
        ).over(w_all).alias("_ns"),
    )
    share = F.col("_nh").cast("double") / F.col("_n").cast("double")
    n_prop = F.lit(float(total_n)) * share
    n_ney = F.when(
        F.col("_ns").cast("double") > 0,
        F.lit(float(total_n))
        * F.try_divide(
            F.col("_nh").cast("double") * F.col("_sd"),
            F.col("_ns").cast("double"),
        ),
    )
    return scored.select(
        F.col("_h").alias(stratum_col),
        F.col("_nh").cast("long").alias("n_rows"),
        F.round(share, 9).alias("share"),
        F.round(F.col("_sd"), 9).alias("sd"),
        F.round(n_prop, 9).alias("n_prop"),
        F.round(n_ney, 9).alias("n_neyman"),
    )


def mixture_temperature_scaling(
    df: DataFrame,
    group_col: str,
    alphas: Sequence[float] = (1.0, 0.7, 0.5, 0.3),
) -> DataFrame:
    """Temperature-scaled mixture weights per group — the standard
    multilingual/multi-source rebalancing rule (sample source s with
    probability ∝ p_s^α): α = 1 keeps natural proportions, α → 0
    flattens toward uniform; the table shows, per source and per α,
    the sampled share and the implied up/down-sampling boost, so the
    "how hard does α = 0.3 hammer the head source" question is read
    off a table instead of rederived.

        w_s(α) = p_s^α / Σ_g p_g^α,    boost_s(α) = w_s(α) / p_s

    Exactness: p_s are exact count ratios; each p^α is one IEEE pow;
    normalizers are 9-dp-quantized decimal window sums over the GROUP
    axis (bounded).  One fact-sized count groupBy total.

    Output: one row per group — ``(group_col, n bigint, share double,
    w_<α>, boost_<α> double per α)``.
    """
    if not alphas:
        raise ValueError("need at least one alpha")
    counts = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w_all = Window.partitionBy()
    dec = "decimal(28,9)"
    c = counts.withColumn("_tot", F.sum("_n").over(w_all))
    share = F.col("_n").cast("double") / F.col("_tot").cast("double")
    c = c.withColumn("_p", share)
    out_cols = [
        F.col(group_col),
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_p"), 9).alias("share"),
    ]
    for a in alphas:
        tag = str(a).replace("0.", "").replace(".", "")
        pa = F.pow(F.col("_p"), F.lit(float(a)))
        norm = F.sum(F.round(pa, 9).cast(dec)).over(w_all)
        c = c.withColumn(f"_w_{tag}", pa / norm.cast("double"))
        out_cols.append(F.round(F.col(f"_w_{tag}"), 9).alias(f"w_{tag}"))
        out_cols.append(
            F.round(F.col(f"_w_{tag}") / F.col("_p"), 9).alias(
                f"boost_{tag}"
            )
        )
    return c.select(*out_cols)


def split_feature_parity(
    df: DataFrame,
    key_cols: Sequence[str] = ("doc_id",),
    feature_col: str = "n_chars",
    val_frac: float = 0.1,
    test_frac: float = 0.1,
) -> DataFrame:
    """Feature-distribution parity across the train/val/test split — the
    hygiene check AFTER :func:`train_val_test_split` that dup-leakage
    alone can't give: a split whose validation documents are
    systematically longer (or higher-quality) than training measures the
    wrong loss.  Each split's feature mean compares against the POOLED
    REST via a Welch-style z:

        z = (m_s − m_rest) / √(v_s/n_s + v_rest/n_rest)

    Split membership is the deterministic hash of
    :func:`train_val_test_split`; per-split moments ride exact
    decimal(38,0) sums of the integer feature; the rest-moments derive
    from the (3-row) split aggregate by subtraction — exact.  One scan.

    Output: one row per split — ``(split string, n_docs bigint, mean
    double, sd double, z_vs_rest double, balanced boolean)``.
    """
    d0 = "decimal(38,0)"
    split_df = train_val_test_split(
        df.filter(F.col(feature_col).isNotNull()),
        list(key_cols),
        val_frac=val_frac,
        test_frac=test_frac,
    )
    v = F.col(feature_col).cast("long").cast(d0)
    per = split_df.groupBy("split").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_q"),
    )
    tot = per.agg(
        F.sum("_n").alias("_tn"),
        F.sum("_s").alias("_ts"),
        F.sum("_q").alias("_tq"),
    )
    j = per.crossJoin(F.broadcast(tot))
    n = F.col("_n").cast("double")
    m = F.col("_s").cast("double") / n
    var = (F.col("_q").cast("double") - n * m * m) / (n - F.lit(1.0))
    nr = (F.col("_tn") - F.col("_n")).cast("double")
    mr = (F.col("_ts") - F.col("_s")).cast("double") / nr
    qr = (F.col("_tq") - F.col("_q")).cast("double")
    varr = (qr - nr * mr * mr) / (nr - F.lit(1.0))
    z = F.try_divide(m - mr, F.sqrt(var / n + varr / nr))
    return j.select(
        "split",
        F.col("_n").cast("long").alias("n_docs"),
        F.round(m, 9).alias("mean"),
        F.round(F.sqrt(var), 9).alias("sd"),
        F.round(z, 9).alias("z_vs_rest"),
        F.coalesce(
            F.abs(z) <= F.lit(1.959963984540054), F.lit(False)
        ).alias("balanced"),
    )
