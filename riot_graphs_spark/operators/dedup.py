"""Deduplication operators for large-scale corpus curation (SURVEY §7 step 7):
exact (fingerprint groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.

All four are pure DataFrame compositions — shingling and hashing are Catalyst
array/regex expressions (no UDFs), signatures are partial-aggregable ``min``
aggregates, and candidate generation is an equi-join on band buckets. That
shape is what survives 100 TB: the only shuffles are keyed on (doc, hash-idx)
and on band buckets, both salt-able, and no step is quadratic in the corpus —
pairwise work happens only inside LSH buckets.

Hash portability: shingle/token hashes are the first 14 (or 8) hex chars of
md5 interpreted as an integer — identical in Spark (``conv(.., 16, 10)``)
and DuckDB (``('0x' || ..)::BIGINT``), so every stage is oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.spread import spread_small_scan
from .graph import _sym
from .textstats import tokens

#: Modulus for the MinHash permutation family (prime > 2^30 × small a).
MINHASH_P = 1_000_000_007
#: Signature length and LSH banding (4 bands × 4 rows).
MINHASH_K = 16
MINHASH_BAND_ROWS = 4


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document (string form — used where
    the actual shingle text matters, e.g. Jaccard verification). The token
    array is bound once via :func:`bind_array`; referencing it per-position
    through projection collapse would re-tokenize per shingle (quadratic).
    """

    def make(w: Column) -> Column:
        count = F.size(w) - (n - 1)
        idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(w, i, n), " "))
        )

    return bind_array(tokens(text), make)


def hash56(s: Column) -> Column:
    """First 56 bits of md5 as a BIGINT — portable to the SQL oracle."""
    return F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("long")


#: Shingle-hash composition base (prime; B² < 2^31 keeps h·B² < 2^63).
SHINGLE_B = 40009


def bind_array(arr: Column, fn) -> Column:
    """Evaluate ``arr`` exactly once and hand it to ``fn`` as a higher-order
    lambda variable.

    Catalyst's projection collapse INLINES a referenced expression at every
    use site — an expression referenced per element of a ``transform``
    lambda is re-evaluated per element, turning linear array ops quadratic
    (measured 35 s vs 2 s on the MinHash path at sf0.1). Wrapping the array
    as the sole element of ``transform(array(arr), fn)`` makes every inner
    reference a lambda-variable lookup instead.
    """
    return F.element_at(F.transform(F.array(arr), fn), 1)


def sliding_min(arr: Column, w: int) -> Column:
    """All sliding-window minima of ``arr`` (windows of ``w``, stride 1) in
    O(n·log w) row-local array math — the sparse-table form of the classic
    RMQ trick. Level c holds ``L[i] = min(arr[i..i+c-1])``; doubling c via
    ``zip_with(L, shift_c(L), least)`` reaches m = 2^⌊log2 w⌋ in log steps,
    and each window is then ``least(L_m[j], L_m[j+w−m])`` (two overlapping
    m-blocks cover it). The naive ``array_min(slice(...))`` per window
    copies w elements per position — O(n·w); at w=8 this form measured
    ~2× faster on the winnowing path.

    Works for any orderable element type (longs, structs): ``least`` skips
    the nulls that zip_with's tail padding introduces, and struct ordering
    gives the same (value, position) tie rule as ``array_min``. Arrays
    shorter than ``w`` yield one window (the whole-array min), matching
    the slice form's behavior.
    """
    if w < 1:
        raise ValueError("w must be >= 1")
    m = 1 << (w.bit_length() - 1)  # largest power of two <= w

    def grow(cur: Column, c: int) -> Column:
        if c == m:
            n_windows = F.greatest(F.lit(1), F.size(arr) - w + 1)
            # F.get is 0-based and null-safe out of bounds (element_at
            # throws under ANSI); least() then ignores the null side
            return bind_array(
                cur,
                lambda lm: F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda j: F.least(
                        F.get(lm, j - 1), F.get(lm, j + F.lit(w - m) - 1)
                    ),
                ),
            )
        return bind_array(
            F.zip_with(
                cur,
                F.slice(cur, c + 1, F.size(cur)),
                lambda a, b: F.least(a, b),
            ),
            lambda nxt: grow(nxt, c * 2),
        )

    return grow(arr, 1)


def composed_shingle_hashes(word_hashes: Column, n: int = 3) -> Column:
    """Distinct hashes of the word n-gram shingles, WITHOUT materializing
    shingle strings: compose ``(h_i·B² + h_{i+1}·B + h_{i+2}) mod P`` per
    position over the per-word hash array.

    Building ~L shingle *strings* per doc (slice + join, ≈3× the text
    volume in allocations) dominates MinHash cost; hash composition is pure
    integer math. Each product stays < 2^63 (h < 2^32, B² < 2^31) and the
    identical arithmetic runs in the DuckDB oracle. The hash array is bound
    once via :func:`bind_array` — see its docstring for why that matters.
    """

    def make(hw: Column) -> Column:
        count = F.size(hw) - (n - 1)
        idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
            F.array().cast("array<int>")
        )

        def combine(i: Column) -> Column:
            acc = F.lit(0).cast("long")
            for k in range(n):
                weight = SHINGLE_B ** (n - 1 - k)
                acc = acc + (F.element_at(hw, i + k) * F.lit(weight)) % MINHASH_P
            return acc % MINHASH_P

        return F.array_distinct(F.transform(idx, combine))

    return bind_array(word_hashes, make)


def hash32(s: Column) -> Column:
    """First 32 bits of md5 as a BIGINT (fits any engine's int64)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact near-normalized dedup: md5 fingerprint of whitespace-normalized
    lowercase text → per-doc canonical id (min id in group) + group size.

    Window-over-fingerprint form: ONE scan (the md5 is computed once) and
    ONE hash shuffle — the groupBy+join-back form scans and re-hashes the
    corpus twice. At 100 TB this is the cheapest first pass and removes the
    bulk of crawl duplication before any fuzzy stage.
    """
    from pyspark.sql import Window

    from .textstats import fingerprint

    fp = docs.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return fp.select(
        id_col,
        "fingerprint",
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).alias("group_size"),
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
def _minhash_wide(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """Per-doc wide signature (id, mh_0 … mh_{k-1}) computed **row-locally**:
    a doc's shingles already live in one array, so each minhash is
    ``array_min(transform(hashes, perm_j))`` — a narrow projection with ZERO
    shuffles. At 100 TB this is the difference between a 16× row-exploded
    shuffle and none at all; signatures inherit the scan's partitioning.

    Permutation family ``h_j(x) = ((2j+3)·x + 7919j + 13) mod P`` — small
    coefficients so products stay < 2^63 (no overflow on any engine).
    Docs with no shingles (< n words) are dropped, matching the exploded
    relational form.
    """
    # tokenize + k array_min passes per row: the per-row-heavy stage the
    # under-partitioned-scan spread exists for (r13-opt: 2.3 -> 1.3 s
    # warm for minhash_lsh_pairs at sf0.1 on the one-split fixture).
    # Spread only the two columns the signature reads: the exchange
    # carries whatever it is given.
    docs = spread_small_scan(docs.select(F.col(id_col), F.col(text_col)))
    word_hashes = F.transform(tokens(text_col), lambda t: hash32(t))
    with_h = docs.select(
        F.col(id_col),
        composed_shingle_hashes(word_hashes, shingle_n).alias("_h2s"),
    ).filter(F.size("_h2s") > 0)
    def perm(j: int):
        # closure, NOT a default arg: pyspark dispatches higher-order lambdas
        # on arity, and a 2-param lambda would be called as (element, index)
        return lambda x: ((2 * j + 3) * x + 7919 * j + 13) % MINHASH_P

    mins = [
        F.array_min(F.transform(F.col("_h2s"), perm(j))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return with_h.select(id_col, *mins)


def _sig_from_wide(
    wide: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """Posexplode an already-built wide signature to (id, j, minhash)."""
    sig = F.array(*[F.col(f"mh_{j}") for j in range(num_hashes)])
    return wide.select(
        id_col, F.posexplode(sig).alias("j", "minhash")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = MINHASH_K,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature rows (doc, j, minhash) for j in [0, num_hashes) —
    the narrow wide-form signature posexploded to relational shape."""
    wide = _minhash_wide(docs, id_col, text_col, num_hashes, shingle_n)
    return _sig_from_wide(wide, id_col, num_hashes)


def minhash_band_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH banding: (doc, band, band_key), band_key = '-'-joined minhashes of
    the band in j-order. Pure projection over the wide signature (one
    concat_ws per band + a k/band_rows-row posexplode) — no groupBy, no
    collect_list, no shuffle."""
    wide = _minhash_wide(docs, id_col, text_col, num_hashes, shingle_n)
    return _bands_from_wide(wide, id_col, num_hashes, band_rows)


def _bands_from_wide(
    wide: DataFrame, id_col: str, num_hashes: int, band_rows: int
) -> DataFrame:
    """Banding projection over an already-built wide signature."""
    keys = F.array(
        *[
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh_{b * band_rows + r}").cast("string")
                    for r in range(band_rows)
                ],
            )
            for b in range(num_hashes // band_rows)
        ]
    )
    return wide.select(id_col, F.posexplode(keys).alias("band", "band_key"))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_n: int = 3,
) -> DataFrame:
    """End-to-end MinHash-LSH candidate pairs (doc_a < doc_b), deduplicated
    across bands. Signature + banding are shuffle-free (see _minhash_wide);
    pair generation groups ids per (band, band_key) and expands i<j pairs
    with an array expression — ONE corpus scan + one shuffle, where a
    bucket self-join would scan (and re-hash) the corpus twice. Work stays
    quadratic only within a bucket — the property that makes LSH the scale
    path. Caveat: a pathological bucket (mass-duplicated boilerplate)
    concentrates its C(n,2) pairs in one task; run exact dedup first, which
    collapses identical docs and bounds bucket sizes.
    """
    buckets = minhash_band_buckets(
        docs, id_col, text_col, num_hashes, band_rows, shingle_n
    )
    return _pairs_from_bands(buckets, id_col)


def _pairs_from_bands(buckets: DataFrame, id_col: str) -> DataFrame:
    """Candidate-pair expansion over an already-built banding table."""
    grouped = buckets.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("_ids")
    )
    # For 0-based element i, pair with 1-based positions i+2 … end: i<j pairs.
    pair_structs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.filter(F.size("_ids") >= 2)
        .select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.doc_a"), F.col("_p.doc_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (verification stage / small-corpus exact path)
# --------------------------------------------------------------------------
def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle.

    The shingle self-join bounds the pair set to co-occurring docs (inverted
    index semantics), so cost is Σ bucket², not corpus² — still the
    verification stage to run *after* LSH at real scale, here also exposed
    directly for oracle checking. Jaccard itself is per-pair scalar math.
    """
    # Per-doc shingle count is size(array) — row-local, so it rides the
    # exploded rows through the join instead of a per-doc side table (a
    # join-back keyed on doc_id has corpus cardinality; broadcasting it
    # would OOM the driver at scale, and even shuffled it is a needless
    # second join).
    sh = spread_small_scan(docs).select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("_arr")
    ).select(
        F.col(id_col),
        F.size("_arr").alias("n"),
        F.explode("_arr").alias("s"),
    # Both sides of the inverted-index self-join read the exploded
    # shingles; the barrier keeps the tokenize+explode at one run
    # (r13-opt).
    ).localCheckpoint(eager=False)
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"), "s")
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"), "s")
    jac = (
        a.join(b, on="s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact n-gram CONTAINMENT over pairs sharing ≥1 shingle:
    ``|A∩B| / min(|A|, |B|)`` — the asymmetric complement to
    :func:`ngram_jaccard_pairs`. A short document quoted wholesale inside a
    long one scores near 1.0 here while its Jaccard stays tiny (the union
    is dominated by the long side), so this is the dedup lens that catches
    subset/quotation duplication Jaccard structurally cannot.

    Same inverted-index join shape and cost bound as the Jaccard form
    (Σ bucket², never corpus²; per-doc shingle counts ride the exploded
    rows — no side table, no broadcast). ``contained`` names the doc whose
    shingle set is the (weakly) smaller side — the removal candidate.
    """
    sh = spread_small_scan(docs).select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("_arr")
    ).select(
        F.col(id_col),
        F.size("_arr").alias("n"),
        F.explode("_arr").alias("s"),
    # Both sides of the inverted-index self-join read the exploded
    # shingles; the barrier keeps the tokenize+explode at one run
    # (r13-opt).
    ).localCheckpoint(eager=False)
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"), "s")
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"), "s")
    con = (
        a.join(b, on="s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("inter"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .withColumn(
            "containment",
            F.col("inter").cast("double") / F.least("na", "nb"),
        )
        .withColumn(
            "contained",
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a")).otherwise(
                F.col("doc_b")
            ),
        )
    )
    return con.filter(F.col("containment") >= threshold).select(
        "doc_a", "doc_b", "containment", "contained"
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def _simhash_batches(batches, bits: int, id_name: str):
    """``mapInArrow`` kernel of :func:`simhash_signatures`: each batch is
    ``(id, token-hash list)``; bit b of a row's signature is set iff more
    than half of its token hashes have bit b set.  Rows with an empty or
    NULL token list are dropped."""
    import numpy as np
    import pyarrow as pa

    for b in batches:
        ids = b.column(0)
        lst = b.column(1)
        # A sliced ListArray keeps its parent's absolute offsets: rebase
        # them onto the slice's own flattened values.
        offs = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        offs -= offs[0]
        flat = lst.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
        n = np.diff(offs)
        sig = np.zeros(len(n), dtype=np.int64)
        for bit in range(bits):
            bitvals = (flat >> bit) & 1
            cs = np.concatenate(([0], np.cumsum(bitvals)))
            cnt = cs[offs[1:]] - cs[offs[:-1]]
            sig |= (2 * cnt - n > 0).astype(np.int64) << bit
        # Empty/NULL token list → no signature: the exploded relational
        # form drops the doc (unnest of empty) — keep parity by dropping
        # here too.
        keep = n > 0
        yield pa.RecordBatch.from_arrays(
            [ids.filter(pa.array(keep)), pa.array(sig[keep])],
            names=[id_name, "simhash"],
        )


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """Per-doc SimHash over the token multiset: bit b of the signature is set
    iff Σ_tokens (±1 by token-hash bit b) > 0.

    Computed **row-locally** and shuffle-free: tokenize + per-token hash
    stay in the JVM (engine-exact regex/lowercase/md5 semantics), and the
    per-bit sign-sums run as one vectorized numpy pass over Arrow batches
    (``mapInArrow`` — guide §4.2: hand whole batches to native code).
    The previous pure-Catalyst form evaluated 32 interpreted
    higher-order ``filter`` lambdas per row (HOFs are CodegenFallback)
    — measured 2.1 s vs 0.6 s at sf0.1 for identical output.  The
    exploded (doc × token × bit) relational form (the oracle's shape)
    would shuffle 32× the token count; this form shuffles nothing.

    Bit math is exact integer arithmetic (counts vs token totals), so the
    signature is bit-identical to the Catalyst and oracle forms.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    docs = spread_small_scan(docs.select(F.col(id_col), F.col(text_col)))
    hs = docs.select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda t: hash32(t)).alias("_hs"),
    )
    out_schema = StructType(
        [hs.schema[0], StructField("simhash", LongType())]
    )
    id_name = out_schema[0].name
    return hs.mapInArrow(
        lambda batches: _simhash_batches(batches, bits, id_name), out_schema
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming`` — the
    pigeonhole-banded VERIFY step that makes SimHash a complete dedup
    path (signatures alone only hash; this finds the close pairs).

    Pigeonhole: split the ``bits``-bit signature into ``max_hamming + 1``
    equal bands; any pair within ``max_hamming``
    differs in at most ``max_hamming`` bands, so at least one band matches
    exactly — candidates are a band-key EQUI-join (never all-pairs), then
    ``bit_count(xor)`` verifies row-locally. 100% recall at the stated
    radius, unlike MinHash banding's probabilistic S-curve.

    Plan: ONE corpus scan (signatures are row-local), one shuffle to
    group (band, key) buckets, i<j expansion inside the bucket array —
    the same shape as :func:`minhash_lsh_pairs`.
    """
    sig = simhash_signatures(docs, id_col, text_col, bits)
    return hamming_banded_pairs(
        sig,
        sig_col="simhash",
        id_col=id_col,
        max_hamming=max_hamming,
        bits=bits,
    )


def hamming_banded_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    bands: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Generic pigeonhole-banded Hamming join over ANY fixed-width integer
    signature column (SimHash, image pHash, audio fingerprints): split the
    ``bits``-bit signature into ``bands`` equal bands (default
    ``max_hamming + 1``), equi-join on any exactly-matching band, verify
    ``bit_count(xor)`` row-locally. 100% recall at the stated radius, never
    all-pairs; same shape as :func:`minhash_lsh_pairs`, plus an optional
    ``max_bucket_size`` skew guard. Output: ``(doc_a, doc_b, hamming)``.
    """
    if bands is None:
        bands = max_hamming + 1
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    width = bits // bands
    # two's-complement: a full-width band masks with -1 (all bits set); the
    # unsigned 2^64-1 literal would overflow Spark's signed LongType
    mask = (1 << width) - 1 if width < 64 else -1
    band_keys = F.array(
        *[
            F.shiftright(F.col(sig_col), b * width)
            .bitwiseAND(F.lit(mask))
            .cast("long")
            for b in range(bands)
        ]
    )
    buckets = sigs.select(
        F.col(id_col),
        F.col(sig_col).alias("_sig"),
        F.posexplode(band_keys).alias("band", "key"),
    )
    grouped = buckets.groupBy("band", "key").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("_sig")))
        ).alias("_m")
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("_m") <= max_bucket_size)
    pair_structs = F.flatten(
        F.transform(
            F.col("_m"),
            lambda x, i: F.transform(
                F.slice(F.col("_m"), i + 2, F.size(F.col("_m"))),
                lambda y: F.struct(
                    x["id"].alias("doc_a"),
                    x["_sig"].alias("sig_a"),
                    y["id"].alias("doc_b"),
                    y["_sig"].alias("sig_b"),
                ),
            ),
        )
    )
    hamming = F.bit_count(F.col("_p.sig_a").bitwiseXOR(F.col("_p.sig_b")))
    # Verify BEFORE the dedup exchange (r14, guide §2.3): hamming is
    # row-local, so filtering at the radius first means only true
    # near-dup pairs cross the distinct's shuffle instead of every
    # bucket-expanded candidate.  (doc_a, doc_b) determines the
    # signatures — one row per doc upstream — so distinct over the
    # filtered (doc_a, doc_b, hamming) keeps the exact same pair set.
    return (
        grouped.filter(F.size("_m") >= 2)
        .select(F.explode(pair_structs).alias("_p"))
        .select(
            "_p.doc_a",
            "_p.doc_b",
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    signature: Sequence[Column],
    max_iter: int,
    name: str,
) -> DataFrame:
    """Iterate ``state = step(state)`` until a round repeats the previous
    round's observed ``signature`` — the convergence loop shared by both
    connected-components operators.

    The signature rides the round's eager ``localCheckpoint`` via
    ``observe``, so each round is ONE action: no separate probe job
    re-scans the state, and the checkpoint cuts lineage so plan size
    stays constant across rounds.  Running out of ``max_iter`` raises:
    silently unconverged labels would under-merge duplicate clusters
    (transitive near-dups get different components and both survive
    dedup)."""
    prev = None
    for _ in range(max_iter):
        obs = Observation()
        state = (
            step(state).observe(obs, *signature).localCheckpoint(eager=True)
        )
        cur = obs.get
        if cur == prev:
            return state
        prev = cur
    raise RuntimeError(
        f"{name} did not converge in {max_iter} rounds; raise max_iter "
        "(connected_components_star needs only O(log² n) rounds on deep "
        "graphs)"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components of the near-dup
    pair graph by iterative min-label propagation.

    Output: (id, component_id) for every node that appears in ``pairs``,
    where component_id is the minimum node id reachable from it — i.e. the
    canonical representative LSH/Jaccard dedup keeps per cluster.

    Iterative (O(graph diameter) rounds — near-dup clusters are shallow, so
    this converges in a handful). Each round is one shuffle-join of labels
    onto edges plus a min-agg, run by :func:`_fixpoint` on the
    monotonically decreasing Σ(component_id) — label sets only ever move
    down, so an unchanged sum means a fixpoint; a graph deeper than
    ``max_iter`` raises.  At billion-edge scale use
    :func:`connected_components_star` (same loop, fewer rounds).

    ``localCheckpoint`` caveat (applies to every barrier in this module):
    the materialized partitions live in executor storage with TRUNCATED
    lineage — they are not recoverable on executor loss (the job fails
    and retries from the source instead of recomputing the piece), and a
    long-lived driver that calls these operators repeatedly accumulates
    executor storage until the RDDs are garbage-collected.  On clusters
    with dynamic allocation or flaky executors, swap the barriers for
    reliable ``checkpoint()`` into the checkpoint dir (docs/SCALING.md);
    in a long-lived session, unpersist the returned frame's lineage when
    done with it.
    """
    # Materialize the edge list once: every round joins against it, and
    # without the checkpoint each round would re-run the plan upstream
    # of ``pairs``.  Lazy (r14): the round-1 action materializes it —
    # an eager checkpoint here was a whole extra driver round-trip.
    edges = (
        _sym(pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=False)
    )

    def _round(labels: DataFrame) -> DataFrame:
        # Self-message formulation (r14): new_comp(u) = min(comp(u),
        # min over neighbors comp(v)) is ONE aggregation over the union
        # of neighbor messages and each node's own label — value-
        # identical per round to the old join-back form
        # least(comp, coalesce(nbr_min, comp)), but the plan drops the
        # labels⋈nbr_min join entirely: 3 exchanges per round instead
        # of 5, and with AQE each exchange is a scheduler round-trip.
        msgs = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(F.col("src").alias("id"), "comp")
            .unionByName(labels.select("id", "comp"))
        )
        return msgs.groupBy("id").agg(F.min("comp").alias("comp"))

    labels = _fixpoint(
        labels,
        _round,
        [F.sum("comp").alias("s")],
        max_iter,
        "connected_components",
    )
    return labels.select(F.col("id"), F.col("comp").alias("component_id"))


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star/small-star contraction
    — the billion-edge upgrade path :func:`connected_components`'s docstring
    commits to (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14). Same output contract: ``(id, component_id)`` for
    every node in ``pairs``, ``component_id`` = the component's minimum id.

    Why this exists alongside the iterative operator: min-label propagation
    runs O(graph diameter) rounds — fine for shallow near-dup clusters,
    O(n) on a path graph. Star contraction halves tree heights each
    round (O(log² n) worst case, ~log n observed), so a long-chain
    component converges in a handful of rounds instead of thousands.

    Per round, two edge-sized phases, each one groupBy + one self-join —
    no per-node adjacency lists are ever materialized (state per group is
    the running ``min``, partial-aggregable), so a skewed high-degree node
    costs a hot aggregation key, not an OOM:

    - **large-star**: every node links its LARGER neighbors to the minimum
      of its neighborhood (∪ itself) — long tails fold onto small labels.
    - **small-star**: with edges oriented big→small, every node links its
      smaller neighbors AND itself to that minimum — stars flatten.

    The edge multiset only shrinks in Σ(parent); a full round that leaves
    the (count, Σa, Σb) signature unchanged is a fixpoint (the edge set is
    then exactly the star forest).  The rounds run on :func:`_fixpoint`,
    the loop the iterative operator uses (reliable ``checkpoint`` on a
    real cluster — docs/SCALING.md); at O(log² n) rounds, exhausting
    ``max_iter`` means something is structurally wrong (e.g. ids not
    totally ordered) and raises.
    """
    # Orientation invariant: edges are always stored big→small (a > b) —
    # both star phases preserve it, so the per-round symmetrization is a
    # duplicate-free union with the reversal (no distinct needed there).
    # Narrow pair projection materialized FIRST: the oriented edge list
    # and the all-nodes union below reference ``pairs`` three times in
    # total, and Spark performs no common-subtree elimination — without
    # this barrier the (possibly expensive) pair-generation pipeline
    # upstream would run three times (r13-opt).
    raw = pairs.select(
        F.col(src).alias("_ps"), F.col(dst).alias("_pd")
    ).localCheckpoint(eager=False)
    edges = (
        raw.select(
            F.greatest(F.col("_ps"), F.col("_pd")).alias("a"),
            F.least(F.col("_ps"), F.col("_pd")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Nodes with only self-loop pairs still owe an output row.
    all_nodes = (
        raw.select(F.col("_ps").alias("id"))
        .union(raw.select(F.col("_pd").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # m(u) = min(Γ(u) ∪ {u}) attached per ROW via a min-over-partition
    # window instead of the groupBy + join-back pair (r14): the join
    # already co-located every row of a key on one task, so the window
    # form has the identical skew posture while dropping two exchanges
    # per phase — with AQE each exchange is a blocking scheduler
    # round-trip.  (No orderBy: an unordered frame min needs no sort
    # beyond the exchange's clustering.)
    from pyspark.sql import Window

    _w_a = Window.partitionBy("a")

    def _round(edges: DataFrame) -> DataFrame:
        # large-star over UNDIRECTED neighborhoods — with the a>b invariant
        # the reversal union is duplicate-free: (v, m(u)) for v ∈ Γ(u), v>u.
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        large = (
            sym.withColumn(
                "m", F.least(F.min("b").over(_w_a), F.col("a"))
            )
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            # large feeds both small-star union branches below — the
            # barrier keeps the phase computed once per round (r13-opt).
            .distinct()
            .localCheckpoint(eager=False)
        )
        # small-star on the (already big→small) large-star output:
        # (v, m(u)) for v ∈ Γ⁻(u) ∪ {u}.  The windowed table feeds both
        # union branches (the redirect rows and the per-u self rows —
        # duplicates of the latter are removed by the final distinct).
        lw = large.withColumn(
            "m", F.least(F.min("b").over(_w_a), F.col("a"))
        ).localCheckpoint(eager=False)
        return (
            lw.select(F.col("b").alias("a"), "m")
            .union(lw.select(F.col("a"), F.col("m")))
            .select(F.col("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    edges = _fixpoint(
        edges,
        _round,
        [
            F.count(F.lit(1)).alias("n"),
            F.sum("a").alias("sa"),
            F.sum("b").alias("sb"),
        ],
        max_iter,
        "connected_components_star",
    )

    # Fixpoint edge set is a star forest: (member, root). Roots and
    # isolated nodes label themselves.
    labels = edges.select(F.col("a").alias("id"), F.col("b").alias("comp"))
    return (
        all_nodes.join(labels, "id", "left")
        .select(
            "id", F.coalesce("comp", F.col("id")).alias("component_id")
        )
    )


def jaccard_verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard computed ONLY for the given candidate pairs — the
    verify stage that follows LSH at scale.

    Each side's distinct shingle ARRAY rides along the pair join, and the
    intersection is a row-local ``array_intersect`` — no shingle explode, no
    shingle-keyed shuffle, cost linear in |pairs|. Contrast
    ``ngram_jaccard_pairs``, whose shingle self-join is quadratic in bucket
    size and exists for direct/oracle use at small scale.

    Shingles are built ONLY for docs that appear in a candidate pair (a
    semi-join against the pair endpoints), and exactly once: the naive
    form tokenized+shingled the FULL corpus twice — once per join side —
    when only the (typically tiny) candidate set ever needs shingles.
    The pair list is checkpointed first so deriving the endpoint set
    does not re-run the upstream LSH pipeline (r13-opt).
    """
    pairs = pairs.localCheckpoint(eager=False)
    ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh = (
        docs.join(ids, id_col, "left_semi")
        .select(
            F.col(id_col), word_shingles(text_col, shingle_n).alias("_sh")
        )
        .localCheckpoint(eager=False)
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sha"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_shb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "_inter", F.size(F.array_intersect("_sha", "_shb")).cast("double")
        )
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.size("_sha") + F.size("_shb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length_col: str = "n_chars",
    block_cols: Sequence[str] = ("lang",),
    band: int = 10,
    max_distance: int = 10,
) -> DataFrame:
    """Fuzzy-duplicate pairs verified by exact Levenshtein edit distance —
    the character-level dedup measure (MinHash/SimHash are token/bit-level;
    edit distance catches small in-place mutations those can miss).

    Candidate blocking is (block_cols, length bucket): two texts with edit
    distance ≤ d differ in length by ≤ d, so with bucket width = ``band``
    every qualifying pair lands in the same or adjacent buckets. The right
    side explodes each row into (bucket−1, bucket, bucket+1), the left
    keeps its own bucket — every within-band pair shares exactly ONE join
    key (no pair-level dedup needed), and the join is a plain equi-join that
    hash-partitions on (block, bucket), never a length range predicate a
    join can't use.

    Per-pair cost is capped by Spark's thresholded ``levenshtein(l, r, t)``
    (returns −1 and stops early once the distance exceeds ``t`` — O(d·len),
    not O(len²)). Output: ``(id_a, id_b, edit_distance)`` with
    ``id_a < id_b``.

    Scale posture: pair count is bounded by block×bucket co-occupancy, not
    corpus size — the explode costs 3× on one side but makes the blocking
    key exact. Hot blocks (one dominant language) should pre-split on an
    extra blocking column (e.g. a source or shingle prefix) before widening
    ``band``.
    """
    blocks = list(block_cols)
    bucket = F.floor(F.col(length_col) / F.lit(band))
    left = docs.select(
        *blocks,
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("_ta"),
        F.col(length_col).alias("_la"),
        bucket.alias("_bk"),
    )
    right = docs.select(
        *blocks,
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("_tb"),
        F.col(length_col).alias("_lb"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("_bk"),
    )
    return (
        left.join(right, on=[*blocks, "_bk"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= band)
        )
        .withColumn(
            "edit_distance", F.levenshtein("_ta", "_tb", max_distance)
        )
        .where(F.col("edit_distance") >= 0)
        .select("id_a", "id_b", "edit_distance")
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 — the
    MOSS algorithm): hash every k-char gram, keep the minimum hash of each
    sliding window of ``w`` consecutive grams, emit the distinct minima.
    Guarantee: any shared substring of length ≥ ``w + k − 1`` between two
    documents produces at least one shared fingerprint — the scalable
    approximation of exact-substring training-data dedup (Lee et al. 2022).

    Entirely row-local (shingle → hash → windowed min → distinct, all
    higher-order array functions inside one projection): ZERO shuffles, and
    the gram-hash array is bound once via ``bind_array`` so the windowed min
    is O(grams·w) per row, not quadratic re-evaluation. Docs shorter than
    ``k`` hash their whole text (one gram, one fingerprint) so nothing
    silently drops out.

    Returns ``(id_col, fingerprint: long)``, one row per distinct
    fingerprint per doc.
    """
    docs = spread_small_scan(docs)
    text = F.col(text_col)
    positions = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.length(text) - k + 1)
    )
    gram_hashes = F.transform(
        positions, lambda i: hash56(text.substr(i, F.lit(k)))
    )
    return docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                bind_array(gram_hashes, lambda hs: sliding_min(hs, w))
            )
        ).alias("fingerprint"),
    )


def repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span detection: winnowing fingerprints that
    occur in ≥ ``min_docs`` distinct documents, with the documents that
    share them — the "this exact boilerplate paragraph appears in 40k pages"
    detector that drives substring-level corpus cleaning.

    Window-over-fingerprint form — ONE computation of the (expensive,
    string-hashing) fingerprint projection and ONE shuffle on fingerprint.
    The agg + join-back form runs the fingerprint plan on BOTH join sides
    (no exchange to reuse: the aggregated side broadcasts) — at corpus
    scale that doubles the dominant cost and broadcasts a corpus-sized
    table. A fingerprint shared by millions of docs is a hot sort key
    here, never a collected list. Returns ``(fingerprint, n_docs,
    id_col)`` — one row per sharing document.
    """
    from pyspark.sql import Window

    fps = winnow_fingerprints(docs, id_col, text_col, k=k, w=w)
    win = Window.partitionBy("fingerprint")
    return (
        fps.withColumn("n_docs", F.count(F.lit(1)).over(win))
        .filter(F.col("n_docs") >= min_docs)
        .select("fingerprint", "n_docs", id_col)
    )


def keep_best_per_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    cluster_col: str = "component_id",
) -> DataFrame:
    """Cluster canonicalization — the step that turns duplicate CLUSTERS
    into a deduplicated CORPUS: per near-dup component keep exactly one
    representative, the member with the highest ``score_col`` (quality
    score, length, recency — caller's choice; ties → lowest id so the
    choice is total). Docs in no cluster represent themselves.

    Output: ``(id_col, cluster_id, n_members, kept: boolean)`` for every
    input doc — callers filter ``kept`` for the surviving corpus, or audit
    removal rates per cluster from the full table.

    Shape: one left join of docs onto the (edge-sized, not corpus-sized)
    cluster assignment, then ONE partial-aggregable ``max_by`` per cluster
    — never a rank window over the corpus, so a pathological million-member
    boilerplate cluster costs a hot aggregation key, not a single-task
    sort.
    """
    labeled = (
        docs.select(F.col(id_col), F.col(score_col).alias("_score"))
        .join(
            clusters.select(
                F.col(id_col), F.col(cluster_col).alias("cluster_id")
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            "_score",
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
        # Read by both the per-cluster max_by and the label join-back —
        # the barrier keeps the docs⋈clusters join at one run (r13-opt).
        .localCheckpoint(eager=False)
    )
    best = labeled.groupBy("cluster_id").agg(
        F.max_by(
            F.col(id_col), F.struct(F.col("_score"), (-F.col(id_col)))
        ).alias("_best_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return labeled.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        "n_members",
        (F.col(id_col) == F.col("_best_id")).alias("kept"),
    )


def incremental_novel_docs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup filter: the rows of
    ``new_docs`` that do NOT collide with any existing corpus document in
    any MinHash LSH band — "which of today's crawl is actually new". The
    daily-ingest complement of :func:`minhash_lsh_pairs`' corpus-wide
    self-join: a steady-state pipeline runs the self-join once to bootstrap,
    then this per batch.

    Scale shape: band buckets for BOTH sides are shuffle-free projections
    (:func:`minhash_band_buckets`); the collision test is a LEFT SEMI join
    on ``(band, band_key)`` that never expands pairs (a batch doc colliding
    with a million-doc boilerplate bucket contributes ONE semi-join hit,
    not a million rows), followed by a LEFT ANTI join back to the batch.
    Cost is O(batch + corpus-scan).
    """
    new_b = minhash_band_buckets(
        new_docs, id_col, text_col, num_hashes, band_rows, shingle_n
    )
    old_b = minhash_band_buckets(
        corpus_docs, id_col, text_col, num_hashes, band_rows, shingle_n
    )
    dup_ids = (
        new_b.join(old_b, ["band", "band_key"], "left_semi")
        .select(id_col)
        .distinct()
    )
    return new_docs.join(dup_ids, id_col, "left_anti")


def dup_graph_degree_stats(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Near-dup graph health diagnostics: per-node degree over the pair
    edge list — the early-warning profile for dedup-graph pathology. A fat
    degree tail means boilerplate/templated content is chaining unrelated
    docs into one mega-component (CC then over-merges and
    ``keep_best_per_cluster`` deletes half the corpus); the fix knobs are
    ``max_bucket_size`` and a tighter verify threshold, and THIS table is
    how you see the problem before running them.

    One union (column projection, no shuffle) + one partial-aggregable
    count shuffle on node id — edge-list-sized, not corpus-sized.
    """
    # Both union branches read the pair list; without a barrier each
    # branch re-executes the whole upstream pair pipeline (for LSH input
    # that is the full tokenize+minhash corpus scan, twice).  The
    # checkpoint is edge-list-sized (r13-opt).
    pairs = pairs.localCheckpoint(eager=False)
    nodes = pairs.select(F.col(src).alias("id")).union(
        pairs.select(F.col(dst).alias("id"))
    )
    return nodes.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def winnow_fingerprint_positions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 8,
) -> DataFrame:
    """Winnowing fingerprints WITH their character positions: per sliding
    window of ``w`` grams, the minimum gram hash and the 1-based char
    position of that gram (first position on hash ties — the tie rule every
    engine reproduces). Same guarantee as :func:`winnow_fingerprints`; the
    position is what turns detection into span-level REMOVAL.

    Row-local array math (zero shuffles); the (hash, pos) structs run
    through the same O(n·log w) :func:`sliding_min` sparse table as
    :func:`winnow_fingerprints` — struct ordering IS the argmin with the
    first-position tie rule."""
    docs = spread_small_scan(docs)
    text = F.col(text_col)
    positions = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.length(text) - k + 1)
    )
    gram_hashes = F.transform(
        positions, lambda i: hash56(text.substr(i, F.lit(k)))
    )

    def windowed_argmin(hs: Column) -> Column:
        tagged = F.transform(
            hs,
            lambda x, i: F.struct(
                x.alias("fingerprint"), (i + 1).cast("long").alias("pos")
            ),
        )
        return bind_array(tagged, lambda t: sliding_min(t, w))

    return docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(bind_array(gram_hashes, windowed_argmin))
        ).alias("_fp"),
    ).select(id_col, F.col("_fp.fingerprint"), F.col("_fp.pos"))


def repeated_span_ranges(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level dedup ranges (the actionable form of
    :func:`repeated_spans`): for every document, the merged character
    intervals ``[span_start, span_end)`` covered by winnowing grams whose
    fingerprint appears in ≥ ``min_docs`` documents — the substring-cutting
    pass of exact-substring training-data dedup. A long duplicated
    paragraph tiles many shared window-minima, so its merged interval
    approaches the full span; isolated hash coincidences stay k-char sized
    and can be length-filtered by the caller.

    Plan: positions are row-local; the ≥``min_docs`` gate is a
    partial-aggregable ``count(distinct doc)`` per fingerprint plus a
    semi-join — NOT a window over ``partitionBy(fingerprint)``, which
    would funnel every occurrence of a ubiquitous boilerplate k-gram (the
    exact thing this operator hunts) into one sort task. The agg
    map-side-combines on (fingerprint, doc) and AQE can split a skewed
    semi-join partition; a window can't be split. Interval merging is the
    gaps-and-islands window form over (doc, start) — doc-keyed, skew-free."""
    from pyspark.sql import Window

    # Both the gate agg and the probe side consume the winnowed positions;
    # without a materialization barrier Spark would run the (CPU-heavy)
    # winnowing twice — measured 1.75× slower at sf0.1. Lazy localCheckpoint
    # computes it once and serves both branches from executor-local blocks
    # (memory+disk), the same pattern the CC star rounds use.
    fpp = winnow_fingerprint_positions(
        docs, id_col, text_col, k=k, w=w
    ).localCheckpoint(eager=False)
    hot = (
        fpp.groupBy("fingerprint")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fingerprint")
    )
    rep = (
        fpp.join(hot, "fingerprint", "left_semi")
        .select(
            id_col,
            F.col("pos").alias("start"),
            (F.col("pos") + k).alias("end"),
        )
        .distinct()
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_max_end = F.max("end").over(w_prev)
    is_new = F.when(
        prev_max_end.isNull() | (F.col("start") > prev_max_end), 1
    ).otherwise(0)
    return (
        rep.withColumn("_island", F.sum(is_new).over(w_run))
        .groupBy(id_col, "_island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("_island")
    )


# --------------------------------------------------------------------------
# Sorted-neighborhood blocking (record-linkage SNM)
# --------------------------------------------------------------------------
def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_key: Column | str,
    id_col: str = "doc_id",
    w: int = 3,
    partitions: int | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs: rank every record by a
    domain sort key and emit all pairs within ``w`` positions — the
    classic record-linkage blocking strategy that catches near-dups
    whose shared PREFIX (name, normalized title, address) survives while
    token-set methods (MinHash/SimHash) miss them, and vice versa; run
    beside them, union the candidates.

    Rank assignment is the scale-correct two-phase form — never a global
    ``row_number() OVER (ORDER BY …)``: ``repartitionByRange`` on the key
    (sampled, balanced range exchange) + ``sortWithinPartitions``, local
    positions assigned by a zero-shuffle ``mapInPandas`` counter, then
    per-partition counts become broadcast start offsets.  Ranks equal
    the global ``ORDER BY sort_key, id`` row number whatever the sampled
    range boundaries were (rank is boundary-invariant), so the operator
    stays oracle-exact.  Pairing is an equi-join on ``pos // w`` blocks
    (plus the successor block) filtered to ``0 < gap < w`` — banded, no
    windowed self-join, no skew beyond 2w rows per block.

    Output: ``(doc_a, doc_b, gap bigint)`` with ``doc_a``'s position the
    smaller.
    """
    import pandas as pd

    if w < 2:
        raise ValueError("w must be >= 2 (a window of 1 pairs nothing)")
    key = F.col(sort_key) if isinstance(sort_key, str) else sort_key
    n_parts = partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    keyed = (
        df.select(F.col(id_col).alias("_id"), key.alias("_k"))
        .repartitionByRange(int(n_parts), "_k", "_id")
        .sortWithinPartitions("_k", "_id")
    )

    def _local_pos(batches):
        i = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "_pid": pdf["_pid"],
                    "_lpos": range(i, i + len(pdf)),
                }
            )
            i += len(pdf)
            yield out

    # The _id passthrough type must mirror the caller's id column —
    # hardcoding long would fail (or corrupt) string/UUID record keys.
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    pos_schema = StructType(
        [
            StructField("_id", df.schema[id_col].dataType, True),
            StructField("_pid", IntegerType(), True),
            StructField("_lpos", LongType(), True),
        ]
    )
    local = keyed.withColumn(
        "_pid", F.spark_partition_id()
    ).mapInPandas(_local_pos, schema=pos_schema)
    sizes = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    from pyspark.sql import Window

    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    pos = local.join(F.broadcast(offsets), "_pid").select(
        "_id", (F.col("_lpos") + F.col("_off")).alias("_pos")
    )
    if checkpoint:
        # positions feed both sides of the pair join — materialize once
        pos = pos.localCheckpoint(eager=False)
    blocked = pos.withColumn("_blk", (F.col("_pos") / w).cast("long"))
    right = blocked.select(
        F.col("_id").alias("doc_b"),
        F.col("_pos").alias("_pb"),
        F.col("_blk").alias("_blkb"),
    )
    pairs = []
    for delta in (0, 1):
        left = blocked.select(
            F.col("_id").alias("doc_a"),
            F.col("_pos").alias("_pa"),
            (F.col("_blk") + delta).alias("_blkb"),
        )
        pairs.append(
            left.join(right, "_blkb").where(
                (F.col("_pb") > F.col("_pa"))
                & (F.col("_pb") - F.col("_pa") < w)
            )
        )
    out = pairs[0].unionByName(pairs[1])
    return out.select(
        "doc_a", "doc_b", (F.col("_pb") - F.col("_pa")).alias("gap")
    )


def minhash_estimate_calibration(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_n: int = 3,
) -> DataFrame:
    """Estimator-quality report for the MinHash pipeline: for every
    LSH candidate pair, the signature-estimated Jaccard (fraction of
    matching components) NEXT TO the exact Jaccard of the hashed-shingle
    sets, with the absolute error — the calibration number that tells
    you whether ``num_hashes`` is adequate BEFORE trusting
    signature-based thresholds (`lsh_recall_vs_exact` measures what the
    bands catch; this measures what the signatures claim).

    Exact side uses the SAME composed shingle hashes the signatures
    minimize over — the estimator's actual target set.  All scoring
    joins are keyed on the candidate pair's doc ids, so the cost tracks
    the LSH candidate count, not corpus²; like every exact verify stage,
    run it on candidate samples at corpus scale.

    Output: ``(doc_a, doc_b, est_jaccard, exact_jaccard, abs_err)`` —
    exact integer ratios, engine-identical doubles.
    """
    # One wide-signature build serves BOTH the banding/pair channel and
    # the per-component estimate channel (it is the text-hashing heavy
    # stage).  Both scoring channels ride per-doc ARRAYS along the pair
    # joins (r14): the estimate compares the 16 signature components
    # row-locally, and the exact Jaccard is an ``array_intersect`` over
    # the pair's distinct-shingle-hash arrays (the jaccard_verify_pairs
    # shape) — the previous 16×-exploded signature joins and the
    # shingle-exploded inverted-index join with their groupBys are gone;
    # every value (integer match counts / exact integer set sizes, one
    # double division) is unchanged.  Shingle arrays are built only for
    # candidate-pair endpoints (semi-join), exactly once.
    wide = _minhash_wide(
        docs, id_col, text_col, num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    pairs = _pairs_from_bands(
        _bands_from_wide(wide, id_col, num_hashes, band_rows), id_col
    ).localCheckpoint(eager=False)
    sig_arr = F.array(*[F.col(f"mh_{j}") for j in range(num_hashes)])
    ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .union(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    word_hashes = F.transform(tokens(text_col), lambda t: hash32(t))
    sh = (
        docs.join(ids, id_col, "left_semi")
        .select(
            F.col(id_col),
            composed_shingle_hashes(word_hashes, shingle_n).alias("_sh"),
        )
        .localCheckpoint(eager=False)
    )
    a = wide.select(F.col(id_col).alias("doc_a"), sig_arr.alias("_siga"))
    b = wide.select(F.col(id_col).alias("doc_b"), sig_arr.alias("_sigb"))
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sha"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_shb"))
    matches = sum(
        (
            F.element_at("_siga", j + 1) == F.element_at("_sigb", j + 1)
        ).cast("int")
        for j in range(num_hashes)
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    exact = inter.cast("double") / (
        F.size("_sha") + F.size("_shb") - inter
    )
    est = matches.cast("double") / F.lit(num_hashes)
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.abs(est - exact).alias("abs_err"),
        )
    )


def content_units(text_col: str, block_tokens: int = 10) -> Column:
    """Array of content-unit strings for a document — consecutive
    non-overlapping ``block_tokens``-token blocks (full blocks only).
    Entirely row-local Catalyst array code; shared by
    :func:`paragraph_dedup_stats` and :func:`cross_source_overlap`.
    """
    if block_tokens < 1:
        raise ValueError("block_tokens must be >= 1")
    w = tokens(text_col)
    n_blocks = F.floor(F.size(w) / block_tokens).cast("int")
    return F.when(
        n_blocks >= 1,
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda b: F.array_join(
                F.slice(w, b * block_tokens + 1, block_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def paragraph_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_tokens: int = 10,
) -> DataFrame:
    """ExactSubstr-style unit-level dedup report (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — the pipeline pairs this
    with MinHash): split every document into content units, md5 each unit,
    and rate each document by how many of its units also appear in OTHER
    documents. Winnowing (:func:`repeated_span_ranges`) finds overlapping
    repeated spans; this is the cheap non-overlapping form — one explode +
    two keyed aggregations, no sliding windows.

    Units are consecutive non-overlapping ``block_tokens``-token blocks
    (full blocks only), which also serve single-line corpora.

    Unit construction is entirely row-local Catalyst array code (slice /
    transform over the token array — no shuffle, no UDF); the only
    shuffles are the unit-hash groupBy (``count(distinct doc)`` per hash)
    and the per-doc rollup, both partial-aggregable and salt-able. A unit
    duplicated only WITHIN one document does not count as a duplicate.

    Output: ``(id_col, n_units bigint, n_dup_units bigint,
    dup_rate double)`` for every document with ≥ 1 unit.
    """
    units = content_units(text_col, block_tokens=block_tokens)
    hashed = (
        docs.select(F.col(id_col), F.explode(units).alias("_u"))
        .select(id_col, F.md5("_u").alias("_uh"))
    )
    cross = hashed.groupBy("_uh").agg(
        F.count_distinct(id_col).alias("_nd")
    )
    return (
        hashed.join(cross, "_uh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.sum((F.col("_nd") > 1).cast("long")).alias("n_dup_units"),
        )
        .select(
            id_col,
            "n_units",
            "n_dup_units",
            (F.col("n_dup_units") / F.col("n_units")).alias("dup_rate"),
        )
    )


def cross_source_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    block_tokens: int = 10,
) -> DataFrame:
    """Cross-source duplication matrix: for every unordered pair of
    sources, how many distinct content units (token blocks —
    :func:`content_units`) appear in BOTH — the curation report that tells
    you which crawls/dumps are re-hosting each other's text, and therefore
    which per-source mixture weights double-count mass.

    Plan: one scan builds the distinct (source, unit-hash) set (row-local
    units + one dedup exchange keyed on the pair), then a self-equi-join on
    the unit hash restricted to ``source_a < source_b`` and a #source²-
    bounded count aggregate.  Fan-out per unit hash is bounded by the
    number of sources containing it (≤ |sources|), never by corpus size —
    the matrix is safe at any scale where |sources| is catalog-sized.

    Output: ``(source_a, source_b, n_shared_units bigint)``, pairs with
    at least one shared unit.
    """
    units = content_units(text_col, block_tokens=block_tokens)
    fp = (
        docs.select(F.col(group_col).alias("_g"), F.explode(units).alias("_u"))
        .select("_g", F.md5("_u").alias("_uh"))
        .distinct()
    )
    a = fp.select(F.col("_g").alias("source_a"), "_uh")
    b = fp.select(F.col("_g").alias("source_b"), "_uh")
    return (
        a.join(b, "_uh")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_units"))
    )


def content_defined_chunks(
    docs: DataFrame,
    text_col: str = "text",
    w: int = 8,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary rule on the
    token axis): cut after token *i* whenever the hash of the w-gram
    ENDING at *i* ≡ 0 (mod ``divisor``) — so boundaries follow CONTENT,
    not offsets, and an insertion early in a document moves only the
    chunk it lands in, never the chunk identities downstream.  That is
    the property fixed-size chunking lacks and the reason CDC is the
    partial-overlap dedup primitive (incremental corpus storage,
    shared-boilerplate detection ACROSS documents — whole-doc
    fingerprints and MinHash see near-identical docs; chunk identity
    sees a shared 30-token span inside otherwise-different docs).

    Expected chunk length is ``divisor`` tokens (geometric); ``w`` is
    the boundary context width.  The boundary hash is the polynomial
    composition ``Σⱼ hash32(tok[i+j])·31^(w-1-j) mod P`` with the powers
    UNROLLED as Python-side literals (the 3-gram shingle trick from
    :func:`composed_shingle_hashes`, generalized to fixed w) — a nested
    aggregate-inside-transform rolling hash measured ~40× slower and an
    md5-per-gram variant ~10× slower, both by leaving efficient eval;
    the unrolled form is one single-level ``transform`` of integer
    arithmetic.  Identical to ``list_reduce(hs[i-w+1:i], (a,x) ->
    (a·31+x) mod P)`` on the oracle side.

    Row-local end-to-end: per-doc w-gram hashes, boundary positions,
    and chunk slices are higher-order array ops inside one projection;
    the only non-local step is the caller's downstream groupBy on
    ``chunk_hash``.

    Output: one row per chunk — ``(doc_id, chunk_idx int, start_tok
    int, n_toks int, chunk_hash string)``; ``chunk_hash`` is the md5 of
    the space-joined token slice (content identity, not position).
    """
    if w < 1 or divisor < 1:
        raise ValueError("need w >= 1 and divisor >= 1")
    mod = 1_000_000_007
    pows = [pow(31, w - 1 - j, mod) for j in range(w)]
    # MATERIALIZE toks/hs as real columns in staged projections: an
    # inlined array expression referenced from inside a later lambda is
    # re-evaluated per element (no CSE across lambda boundaries) — the
    # inlined form re-tokenized the doc once per gram and measured
    # minutes instead of seconds at sf0.01
    staged = spread_small_scan(docs).select(
        "doc_id", tokens(text_col).alias("_toks")
    ).filter(F.size("_toks") > 0)
    staged = staged.withColumn(
        "_hs", F.transform(F.col("_toks"), lambda t: hash32(t))
    )
    n = F.size(F.col("_toks"))
    # w-gram hash at START position i (1-based); the gram ends at
    # i + w - 1, which is where the cut lands.  Guarded: Spark's
    # sequence(1, stop) runs DESCENDING when stop < 1, so a doc shorter
    # than w must yield an empty start list (one unsplit chunk), not a
    # phantom [1, 0, ...] walk
    starts = F.when(
        n >= F.lit(w), F.sequence(F.lit(1), n - F.lit(w) + 1)
    ).otherwise(F.array().cast("array<int>"))

    def _gram_hash(i):
        acc = F.lit(0).cast("long")
        for j, p in enumerate(pows):
            acc = acc + (
                F.element_at(F.col("_hs"), i + F.lit(j)) * F.lit(p)
            ) % mod
        return acc % mod

    staged = staged.withColumn(
        "_cuts",
        F.transform(
            F.filter(
                F.arrays_zip(
                    starts.alias("p"),
                    F.transform(starts, _gram_hash).alias("h"),
                ),
                lambda z: z["h"] % divisor == 0,
            ),
            lambda z: z["p"] + F.lit(w - 1),
        ),
    )
    bounds = F.concat(F.array(F.lit(0)), F.col("_cuts"), F.array(n))
    staged = staged.withColumn("_bounds", bounds)
    chunks = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_bounds")) - 1),
            lambda j: F.struct(
                j.alias("idx"),
                (F.element_at(F.col("_bounds"), j) + 1).alias("start"),
                (
                    F.element_at(F.col("_bounds"), j + 1)
                    - F.element_at(F.col("_bounds"), j)
                ).alias("n_toks"),
            ),
        ),
        lambda c: c["n_toks"] > 0,
    )
    base_df = staged.select(
        "doc_id", "_toks", F.explode(chunks).alias("_c")
    )
    return base_df.select(
        "doc_id",
        F.col("_c.idx").cast("int").alias("chunk_idx"),
        F.col("_c.start").cast("int").alias("start_tok"),
        F.col("_c.n_toks").cast("int").alias("n_toks"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(F.col("_toks"), F.col("_c.start"), F.col("_c.n_toks")),
            )
        ).alias("chunk_hash"),
    )


def chunk_overlap_pairs(
    docs: DataFrame,
    text_col: str = "text",
    w: int = 8,
    divisor: int = 16,
    min_shared: int = 2,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup candidate pairs by SHARED CONTENT-DEFINED CHUNKS — the
    pairing channel :func:`content_defined_chunks` enables: two docs
    sharing ``min_shared`` chunk identities share real spans even when
    their whole-doc similarity is low (the syndicated-paragraph /
    stitched-template case MinHash under-scores because the rest of the
    docs differ).  Complements MinHash (whole-doc resemblance) and
    winnowing (within-corpus repeated spans) as the cross-doc
    partial-overlap detector.

    Scale shape is the LSH discipline: pairs form INSIDE chunk-identity
    buckets only, and buckets larger than ``max_bucket_size`` are
    dropped before pairing (a corpus-wide boilerplate chunk would
    otherwise explode quadratically — it belongs to the heavy-hitter
    report, not the pair channel; the cap is the same honesty knob as
    ``minhash_lsh_pairs``).  One chunk groupBy + one bucket self-join +
    one pair groupBy.

    Output: one row per pair — ``(doc_a, doc_b, n_shared_chunks bigint,
    shared_tokens bigint)``, ``doc_a < doc_b``.
    """
    if min_shared < 1:
        raise ValueError("need min_shared >= 1")
    # The chunk table feeds the bucket-size aggregate AND both sides of
    # the bucket self-join; un-barriered, the (expensive, per-token
    # w-gram-hash) chunk pipeline re-executes per consumer — ~3x per
    # action.  The checkpoint is chunk-rows-sized: three narrow columns
    # (r13-opt).
    ch = (
        content_defined_chunks(
            docs, text_col=text_col, w=w, divisor=divisor
        )
        .select("doc_id", "chunk_hash", "n_toks")
        .localCheckpoint(eager=False)
    )
    sizes = ch.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("_bs"))
    capped = ch.join(
        sizes.filter(F.col("_bs") <= max_bucket_size).select("chunk_hash"),
        "chunk_hash",
    )
    a = capped.select(
        F.col("chunk_hash"),
        F.col("doc_id").alias("doc_a"),
        F.col("n_toks").alias("_ta"),
    )
    b = capped.select(
        F.col("chunk_hash"),
        F.col("doc_id").alias("doc_b"),
    )
    pairs = a.join(b, "chunk_hash").filter(F.col("doc_a") < F.col("doc_b"))
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_chunks"),
            F.sum("_ta").alias("shared_tokens"),
        )
        .filter(F.col("n_shared_chunks") >= min_shared)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared_chunks").cast("long").alias("n_shared_chunks"),
            F.col("shared_tokens").cast("long").alias("shared_tokens"),
        )
    )


def cluster_label_purity(
    clusters: DataFrame,
    labels: DataFrame,
    id_col: str = "id",
    cluster_col: str = "component_id",
    label_col: str = "lang",
) -> DataFrame:
    """Label purity of near-duplicate clusters — the dedup-QA question
    the cluster SIZE histogram can't answer: near-dup families that
    straddle LANGUAGE (or source) boundaries usually mean the shingle
    length is too short or boilerplate is driving similarity, and
    collapsing them would delete genuinely distinct documents.

        purity = Σ_c max_label_count(c) / Σ_c |c|

    over the clusters (size ≥ 2 by construction — singletons never
    enter the edge list).  One join of the (tiny) cluster assignment
    against the label column, one (cluster, label) count groupBy, one
    per-cluster max — all on the clustered-docs axis, never corpus².

    Output: one row — ``(n_clusters bigint, n_docs bigint, purity
    double, mixed_clusters bigint, mixed_share double)``.
    """
    joined = clusters.join(
        labels.select(
            F.col(id_col), F.col(label_col).alias("_lab")
        ),
        id_col,
    )
    per = joined.groupBy(
        F.col(cluster_col).alias("_c"), F.col("_lab")
    ).agg(F.count(F.lit(1)).alias("_n"))
    per_c = per.groupBy("_c").agg(
        F.sum("_n").alias("_size"),
        F.max("_n").alias("_maj"),
        F.count(F.lit(1)).alias("_nlab"),
    )
    agg = per_c.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("_size").alias("n_docs"),
        F.sum("_maj").alias("_majsum"),
        F.sum((F.col("_nlab") > 1).cast("long")).alias(
            "mixed_clusters"
        ),
    )
    return agg.select(
        F.col("n_clusters").cast("long").alias("n_clusters"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(
            F.try_divide(
                F.col("_majsum").cast("double"),
                F.col("n_docs").cast("double"),
            ),
            9,
        ).alias("purity"),
        F.col("mixed_clusters").cast("long").alias("mixed_clusters"),
        F.round(
            F.try_divide(
                F.col("mixed_clusters").cast("double"),
                F.col("n_clusters").cast("double"),
            ),
            9,
        ).alias("mixed_share"),
    )


def lsh_band_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-band bucket-health statistics of the MinHash-LSH index — the
    operational audit behind every `max_bucket_size` skew cap this
    module applies: candidate-pair cost is Σ C(|bucket|,2), so ONE
    mega-bucket (boilerplate shingles, empty docs) owns the join; this
    is the readout that catches it before the pair stage does.

    Reads the same banding projection as :func:`minhash_lsh_pairs`
    (:func:`minhash_band_buckets` — row-local, no shuffle), then one
    (band, band_key) count groupBy and one per-band reduce.  Pair
    counts are exact integers (Σ s(s−1)/2 over buckets).

    Output: one row per band — ``(band int, n_docs bigint, n_buckets
    bigint, max_bucket bigint, singleton_buckets bigint,
    candidate_pairs bigint)``.
    """
    buckets = minhash_band_buckets(
        docs, id_col, text_col, num_hashes, band_rows, shingle_n
    )
    sizes = buckets.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("_s")
    )
    agg = sizes.groupBy("band").agg(
        F.sum("_s").alias("n_docs"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("_s").alias("max_bucket"),
        F.sum((F.col("_s") == 1).cast("long")).alias(
            "singleton_buckets"
        ),
        F.sum(F.col("_s") * (F.col("_s") - 1)).alias("_p2"),
    )
    return agg.select(
        F.col("band").cast("int").alias("band"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("max_bucket").cast("long").alias("max_bucket"),
        F.col("singleton_buckets").cast("long").alias(
            "singleton_buckets"
        ),
        (F.col("_p2") / 2).cast("long").alias("candidate_pairs"),
    )
