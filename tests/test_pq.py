"""Product quantization (operators/similarity.pq_fit/pq_codes/pq_topk):
codes are deterministic row-local argmins per subspace, ADC top-k recall
against exact brute force is high on real embeddings, and the trainer
composes per-subspace k-means."""

from __future__ import annotations

from pyspark.sql import functions as F

from riot_graphs_spark.operators.similarity import (
    cosine_topk,
    pq_codes,
    pq_fit,
    pq_topk,
)
from riot_graphs_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _fixed_books(m=4, ks=8, dsub=16):
    return [
        [
            [((c * 7 + i * 3 + j * 5) % 13 - 6) / 12.0 for i in range(dsub)]
            for c in range(ks)
        ]
        for j in range(m)
    ]


def test_pq_codes_shape_and_determinism(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = _fixed_books()
    codes = pq_codes(emb, books)
    n = emb.count()
    assert codes.count() == n * 4  # one row per (vector, subspace)
    assert codes.filter((F.col("code") < 0) | (F.col("code") >= 8)).count() == 0
    # re-run is identical (pure row-local argmin, no randomness)
    again = pq_codes(emb, books)
    assert codes.exceptAll(again).count() == 0


def test_pq_codes_pick_nearest_centroid(spark):
    # a vector equal to a centroid (padded across subspaces) must code to it
    books = _fixed_books(m=2, ks=4, dsub=2)
    vec = books[0][2] + books[1][1]
    df = spark.createDataFrame(
        [(0, [float(x) for x in vec])], "vec_id long, embedding array<float>"
    )
    got = {
        (r.sub, r.code): r.dist2 for r in pq_codes(df, books).collect()
    }
    assert got == {(0, 2): 0.0, (1, 1): 0.0}


def test_pq_topk_recall_vs_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    books = pq_fit(emb, m=4, ks=16, max_iter=5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(emb, queries, books, k=5, rescore_factor=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    # the synthetic embeddings are near-random (distance concentration —
    # ANN's worst case); measured 0.62 at these settings. Real clustered
    # embeddings do far better; the point here is the kernel works and
    # rescore_factor is the recall knob.
    assert recall >= 0.55


def test_pq_fit_returns_m_books_of_ks_centroids(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_fit(emb, m=4, ks=4, max_iter=3)
    assert len(books) == 4
    assert all(len(b) == 4 for b in books)
    assert all(len(c) == 16 for b in books for c in b)


def test_simhash_hamming_pairs_recall_is_total_at_radius(spark):
    """Pigeonhole banding guarantees 100% recall at the stated radius —
    verify against the brute-force all-pairs popcount on a small corpus."""
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.dedup import (
        simhash_hamming_pairs,
        simhash_signatures,
    )
    from riot_graphs_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_hamming_pairs(docs, max_hamming=3).collect()
    }
    sig = simhash_signatures(docs)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .collect()
    }
    assert got == brute  # exact: no false negatives AND verified positives


def test_simhash_kernel_reads_sliced_batches():
    """A sliced batch keeps its ListArray offsets absolute into the
    parent's values: the kernel must sign exactly the rows the slice
    holds, with the signatures the unsliced batch gives them."""
    import pyarrow as pa

    from riot_graphs_spark.operators.dedup import _simhash_batches

    ids = pa.array([1, 2, 3, 4, 5, 6], pa.int64())
    hashes = pa.array(
        [[7, 8, 9], [0xFFFF, 1], [], [5, 5, 5, 6], None, [0x7FFFFFFF, 3, 3]],
        pa.list_(pa.int64()),
    )
    batch = pa.RecordBatch.from_arrays([ids, hashes], names=["doc_id", "h"])

    def sign(b):
        out = pa.Table.from_batches(list(_simhash_batches([b], 32, "doc_id")))
        return dict(zip(out["doc_id"].to_pylist(), out["simhash"].to_pylist()))

    full = sign(batch)
    assert set(full) == {1, 2, 4, 6}  # empty and NULL token lists drop
    for off, n in [(1, 3), (3, 3), (5, 1)]:
        want = {k: v for k, v in full.items() if off < k <= off + n}
        assert sign(batch.slice(off, n)) == want


def test_matryoshka_recall_crafted(spark):
    from riot_graphs_spark.operators.similarity import matryoshka_recall

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.1, 0.0, 0.0]),  # full winner for q0, prefix cos .995
            (2, [1.0, 0.0, 5.0, 0.0]),  # prefix cos 1.0 distractor for q0
            (3, [0.0, 1.0, 0.0, 0.0]),  # exact match for q10, prefix too
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.query_id: (r.n_hits, r.recall)
        for r in matryoshka_recall(corpus, queries, k=1, m_dims=2).collect()
    }
    # q0: truncation promotes the distractor -> miss; q10: prefix keeps
    # the true neighbor -> hit.
    assert got == {0: (0, 0.0), 10: (1, 1.0)}


def test_ivfpq_recall_vs_exact(spark):
    """The composed IVF-PQ retrieval must recover most of the exact
    cosine top-5 at 2 probes over the 4-cell fixture (both stages are
    lossy — routing AND codes — so the bar sits below pq_topk's but
    well above chance)."""
    from riot_graphs_spark.operators.similarity import cosine_topk, ivfpq_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    books = pq_fit(emb, m=4, ks=16, max_iter=5)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(
            emb, queries, books, k=5, probes=2, rescore_factor=10
        ).collect()
    }
    # two lossy stages compose multiplicatively: near-random vectors
    # spread each query's true top-5 uniformly over the 4 cells (2-probe
    # routing keeps ~half) times the pure-PQ recall (~0.6 measured above)
    # -> ~0.3 expected; measured 0.25 at these settings.  Real clustered
    # embeddings route far better; the monotonicity check below is the
    # structural assertion.
    assert len(got) == len(exact)
    assert len(got & exact) / len(exact) >= 0.2
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(
            emb, queries, books, k=5, probes=4, rescore_factor=10
        ).collect()
    }
    # probes = n_cells removes the routing loss entirely: recall must
    # climb to the pure-PQ level
    assert len(full & exact) > len(got & exact)


def test_ivf_topk_levels_matches_per_level_ivf_topk(spark, sf_dir):
    """r13-opt: the one-pass multi-level IVF recall shape must reproduce
    ivf_topk exactly at every probe level (fixed routing rank, disjoint
    cells => filtering the max-level scored join is the same candidate
    set)."""
    from pyspark.sql import functions as F

    from riot_graphs_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_levels,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    levels = ivf_topk_levels(emb, q, k=5, probe_levels=(1, 2, 4))
    for p in (1, 2, 4):
        got = (
            levels.filter(F.col("probes") == p)
            .select("query_id", "neighbor_id", "score", "rank")
            .orderBy("query_id", "rank")
            .collect()
        )
        want = (
            ivf_topk(emb, q, k=5, probes=p)
            .orderBy("query_id", "rank")
            .collect()
        )
        assert got == want, f"probes={p}"
