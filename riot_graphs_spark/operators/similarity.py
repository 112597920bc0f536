"""Similarity search over embedding columns (SURVEY §7 step 7).

Two paths:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small) query
  set against the corpus, score with pure Catalyst array expressions
  (:mod:`..functions.vectors`), cut with a per-query window. The correctness
  baseline, and the right plan whenever |queries| is broadcastable — at
  100 TB the corpus side streams through executors once, no shuffle of the
  corpus at all; only the (queries × k) result shuffles.
- :func:`lsh_bucketed_topk` — sign-random-projection LSH: bucket vectors by
  the sign pattern of a fixed dimension subset, search only within the
  query's bucket. Trades recall for a corpus-side equi-join — the scale path
  when the query set itself is huge.

Scores are rounded to 6 decimals *before* ranking so the top-k cut is
deterministic across engines and runs (ties broken by vec_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.spread import spread_small_scan
from ..functions.vectors import dot, l2_norm

#: Cosine from a precomputed-norm pair: one zip_with+fold per pair instead of
#: three (norms are per-*vector*, so they are computed once per side before
#: the join, not once per pair — at |corpus|×|queries| pairs that is the
#: dominant cost).
def _pair_score() -> F.Column:
    return F.round(
        dot(F.col("_cvec"), F.col("_qvec")) / (F.col("_cnorm") * F.col("_qnorm")), 6
    )


def _scored(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    # Brute-force scoring inherits the corpus scan's partitioning through
    # the broadcast join: a small/compacted corpus (one parquet file)
    # would run the whole |corpus|x|queries| interpreted-fold scoring on
    # ONE task while every other core idles (guide §2.6).  The shared
    # helper gates the spread on splits < slots, so at real scale it is a
    # no-op and no extra exchange appears (r13-opt: 1.9 -> 1.0 s cold /
    # 0.9 -> 0.5 s warm at sf0.1 on the 2000-vector fixture).
    corpus = spread_small_scan(corpus)
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col("query_id")
    )
    return pairs.withColumn("score", _pair_score())


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k per query vector.

    Output: (query_id, neighbor_id, score) — k rows per query.
    """
    scored = _scored(corpus, queries, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "score",
            "rank",
        )
    )


def sign_bucket(vec_col: str, dims: int = 8) -> F.Column:
    """Sign-projection bucket key: bit b set iff vec[b] >= 0, over the first
    ``dims`` dimensions. A fixed axis-aligned projection — deterministic and
    oracle-portable (a production variant would use random hyperplanes from a
    broadcast seed matrix; the plan shape is identical)."""
    c = F.col(vec_col)
    bucket = F.lit(0)
    for b in range(dims):
        bucket = bucket + F.when(
            F.element_at(c, b + 1) >= 0, F.lit(1 << b)
        ).otherwise(F.lit(0))
    return bucket.cast("long")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_dims: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    The corpus⋈queries join becomes an equi-join on the bucket key —
    shuffle-partitioned (or bucketed-table co-located) instead of an
    all-pairs product. Recall < 1 by construction; raise ``bucket_dims``
    ↓bucket size ↑precision, or probe neighboring buckets for recall.
    """
    cb = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
        sign_bucket(vec_col, bucket_dims).alias("_bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
        sign_bucket(vec_col, bucket_dims).alias("_bucket"),
    )
    pairs = cb.join(qb, on="_bucket").filter(F.col(id_col) != F.col("query_id"))
    scored = pairs.withColumn("score", _pair_score())
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "score", "rank")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_dims: int = 8,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, score ≥ threshold).

    The self-join is always BLOCKED: pairwise work is quadratic only within
    a block, never across the corpus. By default the block key is derived
    from the data itself — the :func:`sign_bucket` sign-projection of the
    vector (``bucket_dims`` bits) — so the operator needs no external
    grouping column and the join is an equi-join Spark shuffle-partitions
    (or bucket-co-locates) on the key. Recall < 1 by construction: a
    near-dup pair straddling a sign boundary is missed; lower
    ``bucket_dims`` for recall, raise it for smaller blocks.

    The unblocked cartesian path is a deliberate scale-killer and only runs with an explicit
    ``allow_all_pairs=True`` (small corpora / recall measurement).
    """
    block = None if allow_all_pairs else sign_bucket(vec_col, bucket_dims)
    a = embeddings.select(
        *([] if block is None else [block.alias("_block")]),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
    )
    b = embeddings.select(
        *([] if block is None else [block.alias("_block")]),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    pairs = (
        a.crossJoin(b) if block is None else a.join(b, on="_block")
    ).filter(F.col("vec_a") < F.col("vec_b"))
    scored = pairs.withColumn("score", _pair_score())
    return scored.filter(F.col("score") >= threshold).select(
        "vec_a", "vec_b", "score"
    )


def label_centroids(
    embeddings: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell centroid, relational form (cell, pos, centroid).

    ``posexplode`` + groupBy(cell, pos): fully partial-aggregable — each
    input split pre-sums to (cells × dims) rows before the shuffle, so the
    shuffle is tiny no matter the corpus size. Components are rounded to 6
    decimals and summed in DECIMAL so the mean is exact and order-independent
    (FP sums would hash differently run to run).
    """
    per_dim = embeddings.select(
        F.col(cell_col), F.posexplode(vec_col).alias("pos0", "x")
    ).select(
        cell_col,
        (F.col("pos0") + 1).alias("pos"),  # 1-based, matches SQL subscripts
        F.round(F.col("x").cast("double"), 6).cast("decimal(18,6)").alias("x"),
    )
    # The decimal SUM is exact/order-free; convert to double *before* the
    # divide so both engines do one IEEE division (decimal division rounds
    # at engine-specific scales and would hash-mismatch).
    return per_dim.groupBy(cell_col, "pos").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    probes: int = 1,
) -> DataFrame:
    """IVF-style ANN: route each query to its ``probes`` nearest cell
    centroids, then search only those cells' members — the classic
    inverted-file index as a DataFrame plan.

    Scale shape: centroids are (cells × dims) — always broadcastable; the
    probe is a broadcast join of queries onto a *cell-pruned* slice of the
    corpus (on a cell-partitioned/bucketed table the non-probed cells are
    never read). Recall < 1 with 1 probe and rises with ``probes`` at a
    proportional scan-cost increase — probes is the recall/cost knob a
    100 TB ANN deployment actually turns (``ann_recall_ivf`` reports the
    curve at p ∈ {1, 2, 4}); ``probes >= n_cells`` degenerates to exact
    brute force. Routing scores round to 6 decimals before the arg-top-p
    (tiebreak: cell asc) so the route — and therefore the result set — is
    deterministic. Cells are disjoint, so the probed union needs no dedup
    and the final top-k stays one window over (queries × probes × cell)
    candidates.
    """
    cents = label_centroids(corpus, cell_col, vec_col)
    cent_vecs = cents.groupBy(cell_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("_cent")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    scored_cells = q.crossJoin(F.broadcast(cent_vecs)).withColumn(
        "_route_score",
        F.round(
            dot(F.col("_qvec"), F.col("_cent"))
            / (F.col("_qnorm") * l2_norm(F.col("_cent"))),
            6,
        ),
    )
    if probes <= 1:
        routed = scored_cells.groupBy("query_id", "_qvec", "_qnorm").agg(
            F.min_by(
                F.col(cell_col),
                F.struct((-F.col("_route_score")).alias("s"), F.col(cell_col)),
            ).alias(cell_col)
        )
    else:
        # Multi-probe: rank cells per query and keep the top p. The window
        # runs over the (queries × cells) routing frame — driver-side tiny,
        # and still upstream of the broadcast into the corpus join, so the
        # corpus-side plan is identical to 1-probe (just p cells survive the
        # pruning filter instead of one).
        rw = Window.partitionBy("query_id").orderBy(
            F.col("_route_score").desc(), F.col(cell_col).asc()
        )
        routed = (
            scored_cells.withColumn("_probe_rank", F.row_number().over(rw))
            .filter(F.col("_probe_rank") <= probes)
            .select("query_id", "_qvec", "_qnorm", cell_col)
        )
    cb = corpus.select(
        F.col(cell_col),
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
    )
    pairs = cb.join(F.broadcast(routed), on=cell_col).filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = pairs.withColumn("score", _pair_score())
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "score", "rank")
    )


def ivf_topk_levels(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    probe_levels: tuple[int, ...] = (1, 2, 4),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """:func:`ivf_topk` at several ``probes`` settings in ONE pass — the
    recall-curve shape (``ann_recall_ivf``) without per-level rebuilds.

    Per level p, the candidate set is exactly the members of the query's
    p best-routed cells; cells are disjoint and the routing rank is fixed
    across levels, so the max-level scored join CONTAINS every lower
    level: tag each candidate with its cell's routing rank, score once,
    and derive level p by filtering ``_probe_rank <= p`` before the
    per-query top-k window.  One centroid build + one cell-pruned corpus
    join instead of one of each per level (r13-opt: the per-level form
    re-aggregated centroids and re-joined the corpus 3× per action).
    Scores, tie rules, and therefore results are identical to calling
    :func:`ivf_topk` per level.

    Output: ``(probes int, query_id, neighbor_id, score, rank)``.
    """
    levels = sorted(set(int(p) for p in probe_levels))
    if not levels or levels[0] < 1:
        raise ValueError("probe_levels must be positive")
    cents = label_centroids(corpus, cell_col, vec_col)
    cent_vecs = cents.groupBy(cell_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("_cent")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    scored_cells = q.crossJoin(F.broadcast(cent_vecs)).withColumn(
        "_route_score",
        F.round(
            dot(F.col("_qvec"), F.col("_cent"))
            / (F.col("_qnorm") * l2_norm(F.col("_cent"))),
            6,
        ),
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("_route_score").desc(), F.col(cell_col).asc()
    )
    routed = (
        scored_cells.withColumn("_probe_rank", F.row_number().over(rw))
        .filter(F.col("_probe_rank") <= levels[-1])
        .select("query_id", "_qvec", "_qnorm", cell_col, "_probe_rank")
    )
    cb = corpus.select(
        F.col(cell_col),
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
    )
    pairs = cb.join(F.broadcast(routed), on=cell_col).filter(
        F.col(id_col) != F.col("query_id")
    )
    # Candidate-sized (queries × probed-cell members), consumed once per
    # level — the barrier keeps the corpus join at one run.
    scored = (
        pairs.select(
            "query_id",
            "_probe_rank",
            F.col(id_col).alias("neighbor_id"),
            _pair_score().alias("score"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    out = None
    for p in levels:
        lvl = (
            scored.filter(F.col("_probe_rank") <= p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                F.lit(p).alias("probes"),
                "query_id",
                "neighbor_id",
                "score",
                "rank",
            )
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out


def _sq_dist(vec: F.Column, centroid: list[float]) -> F.Column:
    """Row-local squared L2 to a literal centroid, rounded to 6 dp (the
    determinism cut every argmin below relies on).  Column-API variant for
    callers holding an arbitrary array Column; the hot paths go through
    :func:`_sq_dist_sql` instead (identical Catalyst tree, one py4j call)."""
    return F.round(
        F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in centroid]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _dlit(x: float) -> str:
    """SQL DOUBLE literal (``repr`` round-trips binary64 exactly; the ``D``
    suffix forces Double.parseDouble instead of a decimal-literal parse)."""
    return repr(float(x)) + "D"


def _sq_dist_sql(
    vec_sql: str, centroid: list[float], offset: int | None = None
) -> str:
    """SQL text of :func:`_sq_dist` over ``vec_sql[offset:offset+len]``.

    Same ``aggregate(zip_with(...))`` Catalyst tree — and therefore the
    same left-fold FP addition order and bit-identical distances — as the
    Column version, but assembled as ONE string instead of ~70 py4j
    round-trips per centroid.  Plan-BUILD time, not execution, dominated
    the PQ kernels' bench readings (r11: 4.13× of record with exec at
    0.2 s), so the fix is fewer driver round-trips, not a different plan.
    ``offset`` (``None`` = the whole vector; an int, INCLUDING 0, = a
    ``len(centroid)``-wide subspace window starting there) applies
    ``slice`` exactly as the original encode path did — zip_with would
    NULL-extend a full vector against a shorter centroid otherwise."""
    arr = "array(" + ",".join(_dlit(x) for x in centroid) + ")"
    v = (
        vec_sql
        if offset is None
        else f"slice({vec_sql}, {offset + 1}, {len(centroid)})"
    )
    return (
        f"round(aggregate(zip_with({v}, {arr}, (a, b) -> "
        f"(cast(a as double) - b) * (cast(a as double) - b)), "
        f"0.0D, (acc, x) -> acc + x), 6)"
    )


def _scored_cells_sql(
    vec_sql: str, centroids: list[list[float]], offset: int | None = None
) -> str:
    """SQL text of the per-centroid ``(dist2, cell)`` struct array every
    argmin below scans (6-dp distances, ties → lower cell id)."""
    structs = ",".join(
        f"named_struct('dist2', {_sq_dist_sql(vec_sql, c, offset)}, "
        f"'cell', {i})"
        for i, c in enumerate(centroids)
    )
    return f"array({structs})"


def _nearest_cell(
    vec_col, centroids: list[list[float]], offset: int | None = None
) -> F.Column:
    """Row-local nearest-centroid struct ``(dist2, cell)`` — squared-L2
    argmin via ``array_min`` over per-centroid distance structs built from
    broadcast literals. Distances round to 6 dp before the argmin (ties →
    lower cell id) so the assignment is deterministic. ``vec_col`` may be a
    column name (fast SQL-text build path) or an arbitrary array Column;
    ``offset`` windows a subspace of the array (PQ)."""
    if isinstance(vec_col, str):
        return F.expr(
            f"array_min({_scored_cells_sql(f'`{vec_col}`', centroids, offset)})"
        )
    vec = (
        vec_col
        if offset is None
        else F.slice(vec_col, offset + 1, len(centroids[0]))
    )
    scored = F.array(
        *[
            F.struct(
                _sq_dist(vec, c).alias("dist2"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    return F.array_min(scored)


def kmeans_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared L2) —
    ``(id_col, cell: int, dist2: double)`` with a ZERO-shuffle plan: the
    centroids ride into the executors as broadcast literals and the argmin
    is row-local, so assignment costs one corpus scan regardless of corpus
    size."""
    best = _nearest_cell(vec_col, centroids)
    return embeddings.select(
        F.col(id_col),
        best["cell"].alias("cell"),
        best["dist2"].alias("dist2"),
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd's k-means over the embedding column — the IVF centroid
    TRAINER (``label_centroids`` needs ground-truth labels; real corpora
    have none). Returns the k centroids as plain lists; feed
    :func:`kmeans_assign`'s output (``cell``) into :func:`ivf_topk` as the
    cell column to build the index.

    Per iteration: assignment is the zero-shuffle broadcast-literal scan of
    :func:`kmeans_assign`; the update is ``posexplode`` → ``groupBy(cell,
    pos)`` ``avg`` — ONE partial-aggregable shuffle whose output is (k ×
    dims) rows, collected to the driver (tiny — same footprint as the
    convergence probes in ``connected_components``). Total: ``iters`` scans
    + ``iters`` k×dims-sized shuffles; nothing is ever quadratic and no
    per-node state exceeds the running sums.

    Determinism: initialization is farthest-point traversal (the
    deterministic core of k-means++) over a hash-ordered SAMPLE — one
    TakeOrdered job pulls the ``max(32·k, 512)`` vectors with the smallest
    ``md5(id)`` (a deterministic uniform sample — the hash-ordered pick
    used across this repo), then the greedy farthest-point walk runs
    driver-locally on that sample (seed 1 = smallest hash; each next seed
    the sample vector farthest from its nearest chosen seed, ties → hash
    order). One Spark job regardless of k, versus k sequential
    corpus scans for exact farthest-point — the standard scalable-k-means
    trade, and on separated clusters the sample contains members of every
    cluster with overwhelming probability, preserving the
    one-seed-per-cluster property. Every subsequent step is deterministic
    arithmetic — the fit reproduces run-to-run and cluster-to-cluster.
    Stops early when no centroid component moves more than ``tol``.
    """
    n_sample = max(32 * k, 512)
    sample = (
        embeddings.select(
            F.col(vec_col), F.md5(F.col(id_col).cast("string")).alias("_h")
        )
        .orderBy("_h", F.col(vec_col).cast("string"))
        .limit(n_sample)
        .collect()
    )
    if not sample:
        raise ValueError("need a non-empty embeddings input")
    pts = [[float(x) for x in r[0]] for r in sample]
    centroids = [pts[0]]
    # driver-local greedy farthest-point on the sample (tiny: n_sample×dims)
    d2 = [
        sum((a - b) * (a - b) for a, b in zip(p, centroids[0])) for p in pts
    ]
    while len(centroids) < k:
        far_i = max(range(len(pts)), key=lambda i: (d2[i], -i))
        if d2[far_i] == 0.0:
            raise ValueError(
                f"only {len(centroids)} distinct vectors in the init sample; "
                f"cannot seed k={k}"
            )
        nxt = pts[far_i]
        centroids.append(nxt)
        d2 = [
            min(
                d2[i],
                sum((a - b) * (a - b) for a, b in zip(pts[i], nxt)),
            )
            for i in range(len(pts))
        ]

    for _ in range(max_iter):
        # assignment + unpivot in ONE row-local projection (no self-join):
        # the only shuffle per iteration is the (k × dims)-ary update agg
        best = _nearest_cell(vec_col, centroids)
        new_rows = (
            # two selects: generator (posexplode) + struct-field access in
            # one projection trips analyzer field-name resolution; the
            # optimizer collapses them back into one row-local stage
            embeddings.select(
                best["cell"].alias("cell"), F.col(vec_col).alias("_v")
            )
            .select("cell", F.posexplode("_v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("c"))
            .collect()
        )
        new_cents = [list(c) for c in centroids]  # empty cells keep position
        comps: dict[int, dict[int, float]] = {}
        for r in new_rows:
            comps.setdefault(r["cell"], {})[r["pos"]] = r["c"]
        for cell, d in comps.items():
            new_cents[cell] = [d[p] for p in sorted(d)]
        moved = max(
            abs(a - b)
            for old, new in zip(centroids, new_cents)
            for a, b in zip(old, new)
        )
        centroids = new_cents
        if moved <= tol:
            break
    return centroids


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization — the memory side of ANN at
    scale: a float32 embedding store shrinks 4× (codes + 2 floats of
    per-vector range), which is what lets a 100 TB corpus' vectors stay
    resident for bucketed search; distance math then runs on dequantized
    codes with bounded error ≤ half a step.

    Per vector (row-local): ``code_i = floor((x_i − min)·254/(max − min)
    + 0.5) − 127`` ∈ [−127, 127]; constant vectors map to code 0. All
    arithmetic is double on exact inputs (no cross-row accumulation), so
    codes are engine-stable. Output is relational —
    ``(id, i: int, code: int, vmin: double, vmax: double)`` with 1-based
    ``i`` — one row per dimension via ``posexplode``; ZERO shuffles.
    """
    mn = F.array_min(vec_col).cast("double")
    mx = F.array_max(vec_col).cast("double")
    base = df.select(
        F.col(id_col),
        F.col(vec_col),
        mn.alias("vmin"),
        mx.alias("vmax"),
        F.posexplode(vec_col).alias("i0", "_x"),
    )
    x = F.col("_x").cast("double")
    code = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        (
            F.floor(
                (x - F.col("vmin"))
                * F.lit(254.0)
                / (F.col("vmax") - F.col("vmin"))
                + F.lit(0.5)
            )
            - F.lit(127)
        ).cast("int")
    )
    return base.select(
        id_col,
        (F.col("i0") + 1).cast("int").alias("i"),
        code.alias("code"),
        "vmin",
        "vmax",
    )


def dequantized_vec(vec_col: str) -> F.Column:
    """Quantize→dequantize a float vector through the int8 grid of
    :func:`quantize_embeddings` in one row-local expression: ``x̂ = vmin +
    (code + 127)·(vmax − vmin)/254``. This is what scoring against the
    int8 STORE computes; emulating it on the float column keeps the
    semantics oracle-checkable without a second table."""
    c = F.col(vec_col)
    mn = F.array_min(c).cast("double")
    mx = F.array_max(c).cast("double")
    step = (mx - mn) / F.lit(254.0)

    def deq(x: F.Column) -> F.Column:
        code = F.when(mx == mn, F.lit(0.0)).otherwise(
            F.floor((x.cast("double") - mn) * F.lit(254.0) / (mx - mn) + F.lit(0.5))
            - F.lit(127.0)
        )
        return mn + (code + F.lit(127.0)) * step

    return F.transform(c, deq)


def quantized_rescore_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore_factor: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: approximate cosine over the INT8-quantized corpus
    keeps the top ``rescore_factor·k`` candidates per query, then exact
    float cosine re-ranks just those — the memory-bandwidth pattern that
    makes brute-force scanning viable at corpus scale (the first pass
    streams a 4×-smaller store; the exact vectors are touched only for
    ~3k·|queries| rows).

    Output matches :func:`cosine_topk`: (query_id, neighbor_id, score,
    rank) with exact scores; ties → lower neighbor id at both stages.
    """
    approx_corpus = corpus.select(
        F.col(id_col), dequantized_vec(vec_col).alias(vec_col)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    cand = (
        _scored(approx_corpus, queries, id_col, vec_col)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rescore_factor * k)
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    # rescore ONLY the candidates: join their exact vectors back in (a
    # candidate-sized equi-join), never score the full pair space twice
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(cvecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("score", _pair_score())
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): the sub-vector codebook rung of the ANN ladder
# between int8 scalar quantization (quantized_rescore_topk) and IVF
# (ivf_topk). A d-dim vector compresses to m small integer codes (m·log2(ks)
# bits — 64-dim float32 at m=8, ks=256 is 32× smaller), and query-time
# scoring reads ONLY the codes via a per-query lookup table (ADC), never the
# float store, until the bounded exact-rescore stage.
# --------------------------------------------------------------------------
def pq_fit(
    embeddings: DataFrame,
    m: int = 4,
    ks: int = 16,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train PQ codebooks: independent k-means per contiguous subspace —
    ``m`` runs of :func:`kmeans_fit` over ``d/m``-dim slices. Returns
    ``codebooks[j][c] = centroid`` (m × ks × d/m floats — KBs, a driver
    object like IVF centroids). Each training run is the bounded-collect
    Lloyd's loop (512-sample init, ks×(d/m) centroid agg per round); the
    corpus is scanned, never collected."""
    dims = len(embeddings.select(vec_col).first()[0])
    if dims % m:
        raise ValueError(f"m={m} must divide the embedding dim {dims}")
    dsub = dims // m
    books = []
    for j in range(m):
        sub = embeddings.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(vec_col),
        )
        books.append(
            kmeans_fit(sub, k=ks, max_iter=max_iter, id_col=id_col, vec_col=vec_col)
        )
    return books


def pq_codes(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as its ``m`` per-subspace nearest-centroid codes
    — ``(id, sub: int, code: int, dist2: double)``, one row per subspace.
    ZERO shuffles: codebooks ride as broadcast literals, the argmin is
    row-local array math (6-dp rounding, ties → lower code — deterministic
    on every engine). This is the write path of a PQ index build: at
    100 TB it is one corpus scan emitting the compressed code table."""
    dsub = len(codebooks[0][0])
    rows = F.array(
        *[
            F.struct(
                F.lit(j).alias("sub"),
                _nearest_cell(vec_col, cb, offset=j * dsub).alias("best"),
            )
            for j, cb in enumerate(codebooks)
        ]
    )
    return df.select(F.col(id_col), F.explode(rows).alias("_r")).select(
        id_col,
        F.col("_r.sub").cast("int").alias("sub"),
        F.col("_r.best.cell").cast("int").alias("code"),
        F.col("_r.best.dist2").alias("dist2"),
    )


def _pq_code_array(vec_col: str, codebooks: list[list[list[float]]]) -> F.Column:
    """The ``m`` codes of a vector as one array<int> (row-local)."""
    dsub = len(codebooks[0][0])
    cells = ",".join(
        f"array_min({_scored_cells_sql(f'`{vec_col}`', cb, j * dsub)}).cell"
        for j, cb in enumerate(codebooks)
    )
    return F.expr(f"array({cells})")


def _pq_lut(vec_col: str, codebooks: list[list[list[float]]]) -> F.Column:
    """Per-query ADC lookup table: ``lut[j][c] = ‖q_j − codebook[j][c]‖²``
    (6-dp), an m×ks array<array<double>> computed row-locally on the query
    side — the table asymmetric distance computation reads instead of any
    float corpus vector."""
    dsub = len(codebooks[0][0])
    rows = ",".join(
        "array("
        + ",".join(_sq_dist_sql(f"`{vec_col}`", c, j * dsub) for c in cb)
        + ")"
        for j, cb in enumerate(codebooks)
    )
    return F.expr(f"array({rows})")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    rescore_factor: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ ANN: ADC scan over the code table keeps the
    ``rescore_factor·k`` nearest candidates per query (approximate squared
    L2 = Σ_j lut[j][code_j], reading m ints per corpus vector), then exact
    float cosine re-ranks only those. Output matches :func:`cosine_topk`:
    ``(query_id, neighbor_id, score, rank)``.

    Scale shape: the query side (vectors + LUTs) broadcasts; the corpus
    streams through the ADC scan once with no corpus shuffle before the
    per-query top-N cut (the same posture as ``cosine_topk``, but the scan
    touches codes, not floats — the memory-bandwidth win PQ exists for).
    The exact stage joins float vectors back for only ~rescore_factor·k
    rows per query."""
    coded = corpus.select(
        F.col(id_col), _pq_code_array(vec_col, codebooks).alias("_codes")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _pq_lut(vec_col, codebooks).alias("_lut"),
    )
    # ADC sum in integer micro-units: every lut entry is already 6-dp, so
    # scaling to int64 and summing is EXACT — a double fold would depend on
    # engine-specific addition order in the oracle's GROUP BY
    adist = (
        F.aggregate(
            F.zip_with(
                F.col("_codes"),
                F.col("_lut"),
                lambda code, row: F.round(
                    F.element_at(row, code + 1) * F.lit(1000000.0)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        / F.lit(1000000.0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    cand = (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("adist", adist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rescore_factor * k)
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(cvecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("score", _pair_score())
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    probes: int = 2,
    rescore_factor: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-PQ: the production ANN index shape (FAISS ``IVFx,PQy``) —
    :func:`ivf_topk`'s cell routing COMPOSED WITH :func:`pq_topk`'s
    asymmetric-distance code scan, so the query touches (a) only the
    ``probes`` nearest cells and (b) only the m-byte PQ codes inside
    them, until the bounded exact-rescore stage reads floats for
    ~``rescore_factor·k`` candidates per query.

    Scale shape — why this is THE 100 TB layout: cell routing prunes the
    scan to ``probes/n_cells`` of the corpus (on a cell-partitioned table
    the other cells are never read); within the probed cells the scan is
    codes-not-floats (the PQ memory-bandwidth win); both the routing
    frame (queries × probes, with each query's m×ks LUT riding along)
    and the rescore set broadcast.  One corpus-side cell hash join, one
    partial-top-k window, one candidate-sized exact join — no corpus
    shuffle anywhere.

    Determinism: 6-dp routing scores (ties → cell asc), integer
    micro-unit ADC sums, 6-dp cosine rescore (ties → neighbor asc) —
    the same cuts as the parent operators, so the result set is exact
    SQL.  Output matches :func:`cosine_topk`: ``(query_id, neighbor_id,
    score, rank)``.
    """
    cents = label_centroids(corpus, cell_col, vec_col)
    cent_vecs = cents.groupBy(cell_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s["centroid"],
        ).alias("_cent")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
        _pq_lut(vec_col, codebooks).alias("_lut"),
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("_route_score").desc(), F.col(cell_col).asc()
    )
    routed = (
        q.crossJoin(F.broadcast(cent_vecs))
        .withColumn(
            "_route_score",
            F.round(
                dot(F.col("_qvec"), F.col("_cent"))
                / (F.col("_qnorm") * l2_norm(F.col("_cent"))),
                6,
            ),
        )
        .withColumn("_probe_rank", F.row_number().over(rw))
        .filter(F.col("_probe_rank") <= probes)
        .select("query_id", "_lut", cell_col)
    )
    coded = corpus.select(
        F.col(cell_col),
        F.col(id_col),
        _pq_code_array(vec_col, codebooks).alias("_codes"),
    )
    # ADC sum in exact integer micro-units (the pq_topk discipline),
    # unrolled over the m subspaces so the cell-pruned scan stays inside
    # whole-stage codegen
    usum: F.Column = F.lit(0).cast("long")
    for j in range(len(codebooks)):
        usum = usum + F.round(
            F.element_at(
                F.element_at(F.col("_lut"), j + 1),
                F.element_at(F.col("_codes"), j + 1) + 1,
            )
            * F.lit(1000000.0)
        ).cast("long")
    adist = usum / F.lit(1000000.0)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col(id_col).asc()
    )
    cand = (
        coded.join(F.broadcast(routed), on=cell_col)
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("adist", adist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rescore_factor * k)
        .select("query_id", F.col(id_col).alias("neighbor_id"))
    )
    cvecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(vec_col).alias("_cnorm"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        l2_norm(vec_col).alias("_qnorm"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(cvecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("score", _pair_score())
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def random_projection(
    df: DataFrame,
    proj: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss-style dimension reduction: project each vector
    onto ``len(proj)`` fixed directions (the rows of ``proj``) — the
    cheap preprocessing that shrinks 64-dim embeddings to 8 before LSH /
    clustering at corpus scale. Output is relational ``(id, r, value)``
    (1-based component index, 6-dp rounded dot product) — ZERO shuffles:
    the projection matrix rides as broadcast literals and every dot is
    row-local array math."""
    comps = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.array(*[F.lit(float(x)) for x in row]),
                        lambda a, b: a.cast("double") * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            )
            for row in proj
        ]
    )
    return df.select(F.col(id_col), F.posexplode(comps).alias("r0", "value")).select(
        id_col, (F.col("r0") + 1).cast("int").alias("r"), "value"
    )


def embedding_outliers(
    embeddings: DataFrame,
    centroids: list[list[float]],
    z_threshold: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space outlier flags — the corpus-QA gate that catches
    corrupt/degenerate embeddings before they poison dedup or ANN: assign
    each vector to its nearest centroid (row-local argmin), then z-score
    its distance against that cell's distribution.

    Per-cell mean/std come from exact DECIMAL (Σd, Σd²) sums (engine- and
    partitioning-stable), joined back broadcast (one row per cell). Output:
    ``(id, cell, dist2, z, is_outlier)``; single-member cells have no std
    and are never flagged. One corpus scan + one cells-sized agg."""
    assigned = kmeans_assign(embeddings, centroids, id_col, vec_col)
    dd = F.col("dist2").cast("decimal(18,6)")
    stats = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dd).cast("double").alias("_sx"),
        F.sum(dd * dd).cast("double").alias("_sxx"),
    )
    mean = F.col("_sx") / F.col("_n")
    var = (F.col("_sxx") - F.col("_sx") * F.col("_sx") / F.col("_n")) / (
        F.col("_n") - F.lit(1)
    )
    z = F.round(
        (F.col("dist2") - mean) / F.sqrt(var), 6
    )
    return (
        assigned.join(F.broadcast(stats), "cell")
        .select(
            id_col,
            "cell",
            "dist2",
            F.when(F.col("_n") > 1, z).alias("z"),
            F.coalesce(
                F.when(F.col("_n") > 1, z > F.lit(float(z_threshold))),
                F.lit(False),
            ).alias("is_outlier"),
        )
    )


def l2_normalize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Unit-normalize the embedding store, relational output — the
    preprocessing that turns every downstream cosine into a plain dot
    product (one multiply-add per dim instead of three norms), which is the
    cheap form every ANN stage here consumes.

    Row-local, ZERO shuffles: norm = sqrt of the sequential double fold
    (``functions.vectors.l2_norm`` — same accumulation order on any engine),
    then one ``posexplode`` row per dimension with the component divided by
    it. Components and norm round to 6dp for engine-stable output; the
    all-zero vector maps to zeros (norm 0 published, no NaN poison).

    Output: ``(id, i: int 1-based, u: double, nrm: double)``.
    """
    base = df.select(
        F.col(id_col),
        F.round(l2_norm(vec_col), 6).alias("nrm"),
        F.posexplode(vec_col).alias("i0", "_x"),
    )
    u = F.when(F.col("nrm") == 0.0, F.lit(0.0)).otherwise(
        F.round(F.col("_x").cast("double") / F.col("nrm"), 6)
    )
    return base.select(
        id_col,
        (F.col("i0") + 1).cast("int").alias("i"),
        u.alias("u"),
        "nrm",
    )


def matryoshka_recall(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (prefix-dimension) retrieval quality: per query,
    recall@k of the top-k computed on only the FIRST ``m_dims``
    dimensions against the full-dimension exact top-k — the evaluation
    that decides how far an MRL-style embedding column can be truncated
    (4× less vector I/O at m=16/64) before retrieval quality pays.

    Same eval-join shape as ``ann_recall_ivf`` but oracle-paired: both
    sides are deterministic brute-force rankings (6-dp rounded scores,
    id-tiebroken), so the recall numbers are engine-exact. Truncation is
    a row-local ``slice``; the candidate×query scoring is a broadcast
    cross of the (small) query set against one corpus scan per side — at
    production scale the truncated side is the IVF/PQ input, not a second
    brute-force pass.

    Output: ``(query_id, n_hits bigint, recall double)``.
    """
    full = cosine_topk(emb, queries, k=k, id_col=id_col, vec_col=vec_col)
    t_emb = emb.withColumn(vec_col, F.slice(F.col(vec_col), 1, m_dims))
    t_q = queries.withColumn(vec_col, F.slice(F.col(vec_col), 1, m_dims))
    trunc = cosine_topk(
        t_emb, t_q, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "neighbor_id").withColumn("_hit", F.lit(1))
    return (
        full.select("query_id", "neighbor_id")
        .join(trunc, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits") / F.lit(k)).alias("recall"),
        )
    )


def centroid_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between two snapshots: per cell (label,
    cluster, source…), the cosine between the two snapshots' centroids and
    the L2 displacement — the embedding-modality member of the drift
    family (``profile.psi_report``/``ks_two_sample`` watch numeric
    features, ``textstats.token_drift`` watches vocabulary; this watches
    "did the encoder or the content move the vectors").  Centroid cosine
    ≈ 1 and small L2 shift = stable space; a cell whose centroid swings is
    where to look before re-using cached neighbors or thresholds.

    Determinism: per-dim components round to 6 decimals into exact
    ``decimal(18,6)`` sums (the ``label_centroids`` rule); the per-dim
    products feeding cosine/L2 are quantized to ``decimal(28,12)`` before
    their 64-term sums, so both statistics are engine- and
    partitioning-exact.

    Plan: one tagged-union posexplode into a single (cell, pos) partial-
    aggregable groupBy — each input split pre-sums to (cells × dims) rows
    before the one shuffle; the drift math runs on that state table.
    Assumes uniform dimensionality (per-pos counts are the per-cell row
    counts).  A cell present in only one snapshot reports NULL drift with
    its ``n_a``/``n_b`` showing which side is empty.

    Output: ``(cell_col, n_a bigint, n_b bigint, centroid_cosine double,
    centroid_l2_shift double)``.
    """
    dec = "decimal(28,12)"

    def side(df: DataFrame, tag: int) -> DataFrame:
        return df.select(
            F.col(cell_col).alias("_c"),
            F.posexplode(vec_col).alias("pos0", "x"),
        ).select(
            "_c",
            (F.col("pos0") + 1).alias("pos"),
            F.round(F.col("x").cast("double"), 6)
            .cast("decimal(18,6)")
            .alias("x"),
            F.lit(1 - tag).alias("_ia"),
            F.lit(tag).alias("_ib"),
        )

    per = (
        side(df_a, 0)
        .unionByName(side(df_b, 1))
        .groupBy("_c", "pos")
        .agg(
            F.sum(F.when(F.col("_ia") == 1, F.col("x"))).alias("_sa"),
            F.sum(F.when(F.col("_ib") == 1, F.col("x"))).alias("_sb"),
            F.sum("_ia").alias("_na"),
            F.sum("_ib").alias("_nb"),
        )
    )
    ca = F.try_divide(F.col("_sa").cast("double"), F.col("_na").cast("double"))
    cb = F.try_divide(F.col("_sb").cast("double"), F.col("_nb").cast("double"))
    terms = per.select(
        "_c",
        "_na",
        "_nb",
        (ca * cb).cast(dec).alias("_dot"),
        (ca * ca).cast(dec).alias("_a2"),
        (cb * cb).cast(dec).alias("_b2"),
        ((ca - cb) * (ca - cb)).cast(dec).alias("_d2"),
    )
    return (
        terms.groupBy("_c")
        .agg(
            F.max("_na").alias("n_a"),
            F.max("_nb").alias("n_b"),
            F.round(
                F.try_divide(
                    F.sum("_dot").cast("double"),
                    F.sqrt(
                        F.sum("_a2").cast("double")
                        * F.sum("_b2").cast("double")
                    ),
                ),
                9,
            ).alias("centroid_cosine"),
            F.round(F.sqrt(F.sum("_d2").cast("double")), 9).alias(
                "centroid_l2_shift"
            ),
        )
        .withColumnRenamed("_c", cell_col)
    )


def pairwise_similarity_hist(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_mod: int = 8,
    nbins: int = 20,
    salt: str = "simhist",
) -> DataFrame:
    """Histogram of pairwise cosine similarity on a deterministic sample
    — the embedding-space health profile read before choosing dedup /
    ANN thresholds: a healthy space shows most mass near 0 with a thin
    high-cosine tail (the near-dups); a collapsed encoder piles mass
    near 1, and the 0.8-vs-0.9 threshold debate is settled by looking at
    THIS table, not guessing.

    The sample is the md5 keep-1-in-``keep_mod`` of vector ids (the
    ``lsh_recall_vs_exact`` convention: deterministic, engine-identical,
    and the quadratic pair cost is bounded INSIDE the query — sample ∝
    corpus means pairs ∝ corpus²/keep_mod², which is the declared cost
    of an exact pairwise eval; the full-corpus path is the LSH/IVF
    operators, never this).  Cosines round to 6 before binning (the
    shared cosine convention) so bin assignment is engine-stable; fixed
    bins over [−1, 1], boundary clamped.

    Output: one row per non-empty bin — ``(bin int, lo double,
    n bigint, share double)``.
    """
    if nbins < 1:
        raise ValueError("need nbins >= 1")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f", F.lit(salt), F.col(id_col).cast("string")
                )
            ),
            1,
            14,
        ),
        16,
        10,
    ).cast("long")
    s = emb.filter(h % keep_mod == 0).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_n"),
    )
    b = s.select(
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pairs = s.join(F.broadcast(b), F.col("_id") < F.col("_idb"))
    cos = F.round(
        dot(F.col("_v"), F.col("_vb")) / (F.col("_n") * F.col("_nb")), 6
    )
    width = 2.0 / nbins
    bin_ = F.greatest(
        F.lit(0),
        F.least(
            F.lit(nbins - 1),
            F.floor((cos + F.lit(1.0)) / F.lit(width)),
        ),
    ).cast("int")
    counts = pairs.select(bin_.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_all = Window.partitionBy()
    return counts.select(
        "bin",
        F.round(F.lit(-1.0) + F.col("bin") * F.lit(width), 6).alias("lo"),
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_all).cast("double"),
            9,
        ).alias("share"),
    )


def embedding_dim_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension statistics of an embedding column — the
    collapsed-dimension / anisotropy detector next to
    :func:`pairwise_similarity_hist`'s pair view: a dimension whose
    variance is ~0 carries no information (wasted index width), a
    dimension whose |mean| dwarfs its std makes every cosine ride one
    axis (the anisotropy that flattens nearest-neighbor contrast), and
    both are invisible from pair samples alone.

    Exactness: per-element values and squares quantize to
    ``decimal(28,12)`` before their sums (order-free); the variance is
    the exact-moment form ``(n·Σx² − (Σx)²)/n²`` evaluated in double at
    the end.  One posexplode → (dim) groupBy — the shuffle carries
    (dims × partial) rows only after partial aggregation; output is
    |dims| rows.

    Output: one row per dimension — ``(dim int, n bigint, mean double,
    std double, min_x double, max_x double)``.
    """
    dec = "decimal(28,12)"
    x = F.col("_x").cast("double")
    exploded = emb.filter(F.col(vec_col).isNotNull()).select(
        F.posexplode(vec_col).alias("_d", "_x")
    )
    agg = exploded.groupBy("_d").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).alias("_sx"),
        F.sum((x * x).cast(dec)).alias("_sxx"),
        F.min(x).alias("min_x"),
        F.max(x).alias("max_x"),
    )
    nd = F.col("n").cast("double")
    var = (
        nd * F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    ) / (nd * nd)
    return agg.select(
        F.col("_d").cast("int").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("_sx").cast("double") / nd, 9).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 9).alias("std"),
        F.round(F.col("min_x"), 9).alias("min_x"),
        F.round(F.col("max_x"), 9).alias("max_x"),
    )


def silhouette_simplified(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cell — the clustering
    QUALITY number for a :func:`kmeans_fit` result that classic
    silhouette can't give at scale (all-pairs distances are O(n²);
    the simplified form substitutes distance-to-centroid and is the
    standard big-data variant):

        a = ‖x − c_own‖,  b = min_{j≠own} ‖x − c_j‖
        s = (b − a) / max(a, b)        (0 when both distances are 0)

    mean s near 1 = tight, well-separated cells; near 0 = overlapping;
    negative = vectors closer to a foreign centroid than their own (a
    k or initialization problem).  ZERO-shuffle scoring: centroids ride
    as broadcast literals, the per-centroid distance array is STAGED as
    a real column before the argmin/filter lambdas touch it (no
    re-evaluation per element — the HOF-CSE rule), and the only shuffle
    is the final per-cell partial aggregate.  Per-row s quantizes to
    decimal(28,12) before the mean so cell sums are order-independent.

    Output: one row per non-empty cell — ``(cell bigint, n bigint,
    mean_silhouette double)``.  Requires ≥ 2 centroids.
    """
    if len(centroids) < 2:
        raise ValueError("silhouette needs >= 2 centroids")
    scored = F.expr(_scored_cells_sql(f"`{vec_col}`", centroids))
    staged = (
        embeddings.select(F.col(id_col), scored.alias("_sc"))
        .withColumn("_best", F.array_min("_sc"))
        .select(
            F.col("_best")["cell"].alias("cell"),
            F.sqrt(F.col("_best")["dist2"]).alias("_a"),
            F.sqrt(
                F.array_min(
                    F.filter(
                        "_sc",
                        lambda s: s["cell"] != F.col("_best")["cell"],
                    )
                )["dist2"]
            ).alias("_b"),
        )
    )
    s = F.when(
        F.greatest("_a", "_b") > 0,
        (F.col("_b") - F.col("_a")) / F.greatest("_a", "_b"),
    ).otherwise(F.lit(0.0))
    return (
        staged.select("cell", s.cast("decimal(28,12)").alias("_s"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_s").alias("_ss"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("_n").cast("long").alias("n"),
            F.round(
                F.col("_ss").cast("double") / F.col("_n").cast("double"),
                9,
            ).alias("mean_silhouette"),
        )
    )


def davies_bouldin(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Davies–Bouldin per-cell similarity ratio — the second clustering
    quality lens beside :func:`silhouette_simplified` (silhouette asks
    per-VECTOR "am I in the right cell"; DB asks per-CELL "which cell
    is least separated from its worst neighbour", the k-chooser's
    number: lower is better, rising DB as k grows marks over-splitting):

        sᵢ = mean ‖x − cᵢ‖ over cell members     (scatter)
        Rᵢ = max_{j≠i} (sᵢ + sⱼ) / ‖cᵢ − cⱼ‖     (worst-neighbour ratio)
        DB = mean Rᵢ                              (the index)

    One zero-shuffle assignment scan (broadcast centroid literals, the
    :func:`kmeans_assign` kernel) + one per-cell partial aggregate;
    member distances quantize to decimal(28,12) before the scatter sum.
    Centroid pairwise distances are DATA-FREE — computed driver-side
    from the literals (squared distance rounded to 6 dp, the
    :func:`_sq_dist` convention) and broadcast as a k²-row literal
    table, so the Rᵢ max runs on the cells axis.

    Output: one row per non-empty cell — ``(cell bigint, n bigint,
    scatter double, r double)``; DB = avg(r).  An empty cell simply has
    no row (its ratios are undefined); identical duplicate centroids
    raise ValueError (zero separation makes R unbounded).
    """
    if len(centroids) < 2:
        raise ValueError("davies_bouldin needs >= 2 centroids")
    pair_rows = []
    for i, ci in enumerate(centroids):
        for j, cj in enumerate(centroids):
            if i == j:
                continue
            d2 = round(
                sum((a - b) * (a - b) for a, b in zip(ci, cj)), 6
            )
            if d2 == 0.0:
                raise ValueError(
                    f"duplicate centroids {i} and {j}: zero separation"
                )
            pair_rows.append((i, j, d2 ** 0.5))
    spark = embeddings.sparkSession
    dists = spark.createDataFrame(
        pair_rows, "cell int, other int, d double"
    )
    assigned = kmeans_assign(embeddings, centroids, id_col, vec_col)
    scatter = (
        assigned.select(
            "cell",
            F.sqrt("dist2").cast("decimal(28,12)").alias("_d"),
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_d").alias("_sd"))
        .select(
            "cell",
            "_n",
            (
                F.col("_sd").cast("double") / F.col("_n").cast("double")
            ).alias("_s"),
        )
    )
    other = scatter.select(
        F.col("cell").alias("other"), F.col("_s").alias("_so")
    )
    ratios = (
        scatter.join(F.broadcast(dists), "cell")
        .join(F.broadcast(other), "other")
        .groupBy("cell")
        .agg(
            F.first("_n").alias("_n"),
            F.first("_s").alias("_s"),
            F.max((F.col("_s") + F.col("_so")) / F.col("d")).alias(
                "_r"
            ),
        )
    )
    return ratios.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("_n").cast("long").alias("n"),
        F.round("_s", 9).alias("scatter"),
        F.round("_r", 9).alias("r"),
    )


def calinski_harabasz(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Calinski–Harabasz index over an assignment partition — the third
    clustering-quality lens (variance-ratio: ANOVA's F in embedding
    space), completing :func:`silhouette_simplified` (per-vector fit)
    and :func:`davies_bouldin` (per-cell worst neighbour) with the ONE
    number that peaks at the right k on elbow plots:

        SSW = Σ‖x‖² − Σᵢ nᵢ‖mᵢ‖²       (within, mᵢ = cell MEAN)
        SSB = Σᵢ nᵢ‖mᵢ‖² − N‖x̄‖²       (between)
        CH  = (SSB/(k−1)) / (SSW/(N−k))

    Cells come from the broadcast-literal argmin assignment; cluster
    centers are the DATA means of each cell (classic CH), derived from
    one (cell, dim) partial-aggregable sum — so the whole index costs
    one scan plus dims-axis arithmetic.  The three moment totals follow
    the small-difference-of-huge-sums discipline: exact decimal sums,
    ``round(·, 6)`` in decimal (half-up in both engines), exact decimal
    subtraction, one double cast.

    Output: one row — ``(n bigint, k_cells bigint, ss_between double,
    ss_within double, ch double)``; NULL CH for fewer than 2 non-empty
    cells or zero within-variance.
    """
    if len(centroids) < 2:
        raise ValueError("calinski_harabasz needs >= 2 centroids")
    dec12 = "decimal(28,12)"
    best = _nearest_cell(vec_col, centroids)
    vec = F.col(vec_col)
    norm2 = F.aggregate(
        vec,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    assigned = embeddings.select(
        best["cell"].alias("_cell"),
        vec.alias("_v"),
        norm2.cast(dec12).alias("_n2"),
    )
    sumsq = assigned.agg(
        F.count(F.lit(1)).alias("_nn"),
        F.sum("_n2").alias("_ssq"),
    )
    per_dim = (
        assigned.select(
            "_cell", F.posexplode("_v").alias("_p", "_x")
        )
        .groupBy("_cell", "_p")
        .agg(
            F.sum(F.col("_x").cast(dec12)).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        )
    )
    # sum_i n_i * ||m_i||^2 = sum over (cell, dim) of s^2/n
    per_cell_term = per_dim.select(
        "_cell",
        (
            F.col("_s").cast("double")
            * F.col("_s").cast("double")
            / F.col("_c").cast("double")
        ).cast(dec12).alias("_t"),
    )
    nm2 = per_cell_term.agg(
        F.sum("_t").alias("_nm2"),
        F.count_distinct("_cell").alias("_k"),
    )
    # N * ||xbar||^2 = sum over dims of (total_d)^2 / N
    glob = (
        per_dim.groupBy("_p")
        .agg(F.sum("_s").alias("_ts"), F.sum("_c").alias("_tc"))
        .agg(
            F.sum(
                (
                    F.col("_ts").cast("double")
                    * F.col("_ts").cast("double")
                    / F.col("_tc").cast("double")
                ).cast(dec12)
            ).alias("_gm2")
        )
    )
    out = sumsq.crossJoin(F.broadcast(nm2)).crossJoin(
        F.broadcast(glob)
    )
    ssq6 = F.round(F.col("_ssq"), 6)
    nm26 = F.round(F.col("_nm2"), 6)
    gm26 = F.round(F.col("_gm2"), 6)
    ssw = (ssq6 - nm26).cast("double")
    ssb = (nm26 - gm26).cast("double")
    nd = F.col("_nn").cast("double")
    kd = F.col("_k").cast("double")
    ok = (F.col("_k") >= 2) & (F.col("_nn") > F.col("_k"))
    ch = F.when(
        ok & (ssw > 0),
        (ssb / (kd - 1)) / (ssw / (nd - kd)),
    )
    return out.select(
        F.col("_nn").cast("long").alias("n"),
        F.col("_k").cast("long").alias("k_cells"),
        F.round(F.when(ok, ssb), 9).alias("ss_between"),
        F.round(F.when(ok, ssw), 9).alias("ss_within"),
        F.round(ch, 9).alias("ch"),
    )


def clustering_label_agreement(
    embeddings: DataFrame,
    centroids: list[list[float]],
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """External clustering validation against ground-truth labels —
    the judge the internal triad (:func:`silhouette_simplified` /
    :func:`davies_bouldin` / :func:`calinski_harabasz`) can't be: when
    labels EXIST (embeddings carry one), "are the cells the labels?"
    is answerable exactly.

        purity = Σ_cells max_label n_cl / N      (weighted majority share)
        ARI    = (Σ C(n_cl,2) − E) / (max − E)   (pair-counting Rand,
                 E = Σ C(a_c,2)·Σ C(b_l,2)/C(N,2), chance-corrected)

    ARI is EXACT integer combinatorics over the (cell, label)
    contingency table — every C(n,2) term is computed as an exact
    decimal(37,0) product (the even factor halved by an integer shift
    BEFORE the multiply, so nothing rides a long multiply or a double
    division), the three sums ride decimal(38,0), and only the final
    ratio divides (ARI = 1 perfect,
    ≈ 0 random, < 0 worse than chance — the number purity flatters with
    many small cells).  One zero-shuffle assignment scan + one
    contingency groupBy; marginals derive from the cells-axis table.

    Output: one row — ``(n bigint, k_cells bigint, k_labels bigint,
    purity double, ari double)``; NULL ARI when max − E = 0 (single
    cell or single label — agreement is all chance).
    """
    if len(centroids) < 2:
        raise ValueError("needs >= 2 centroids")
    best = _nearest_cell(vec_col, centroids)
    assigned = embeddings.filter(F.col(label_col).isNotNull()).select(
        best["cell"].alias("_cell"),
        F.col(label_col).cast("string").alias("_lab"),
    )
    joint = (
        assigned.groupBy("_cell", "_lab")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint()
    )

    def c2(col):
        # Integer-exact C(n,2).  The naive `col*(col-1)/2` multiplies in
        # long (overflows above ~3e9) and divides with `/` (double —
        # loses ulps above 2^53) before the decimal cast.  Instead halve
        # the even factor with an exact shift, then multiply in decimal:
        # decimal(18,0) × decimal(18,0) → decimal(37,0), exact for any
        # count below 1e18.
        n = col.cast("long")
        ev = n % 2 == F.lit(0)
        a = F.when(ev, F.shiftright(n, 1)).otherwise(n)
        b = F.when(ev, n - 1).otherwise(F.shiftright(n - 1, 1))
        return (
            a.cast("decimal(18,0)") * b.cast("decimal(18,0)")
        ).cast("decimal(38,0)")

    cells = joint.groupBy("_cell").agg(F.sum("_n").alias("_a"))
    labs = joint.groupBy("_lab").agg(F.sum("_n").alias("_b"))
    stats = (
        joint.agg(
            F.sum("_n").alias("n"),
            F.sum(c2(F.col("_n"))).alias("_sij"),
        )
        .crossJoin(
            F.broadcast(
                cells.agg(
                    F.count(F.lit(1)).alias("k_cells"),
                    F.sum(c2(F.col("_a"))).alias("_sa"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                labs.agg(
                    F.count(F.lit(1)).alias("k_labels"),
                    F.sum(c2(F.col("_b"))).alias("_sb"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                cells.join(
                    joint.groupBy("_cell").agg(
                        F.max("_n").alias("_maj")
                    ),
                    "_cell",
                ).agg(F.sum("_maj").alias("_pur"))
            )
        )
    )
    nn = F.col("n").cast("double")
    # tot2 feeds a double-valued formula; compute it in double from the
    # start (long n*(n-1) would overflow above ~3e9 rows).
    tot2 = nn * (nn - F.lit(1.0)) / F.lit(2.0)
    e = F.col("_sa").cast("double") * F.col("_sb").cast("double") / tot2
    mx = (
        F.col("_sa").cast("double") + F.col("_sb").cast("double")
    ) / F.lit(2.0)
    ari = F.try_divide(
        F.col("_sij").cast("double") - e, mx - e
    )
    return stats.select(
        F.col("n").cast("long").alias("n"),
        F.col("k_cells").cast("long").alias("k_cells"),
        F.col("k_labels").cast("long").alias("k_labels"),
        F.round(F.col("_pur").cast("double") / nn, 9).alias("purity"),
        F.round(ari, 9).alias("ari"),
    )


def isotropy_score(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space isotropy via the closed-form mean pairwise cosine
    — the one-number "is this space collapsing toward a cone" health
    check (anisotropic spaces make every cosine look high, poisoning
    near-dup thresholds and ANN recall alike).  The n² pairwise mean
    needs NO pair join:

        mean_cos = (‖Σᵢ ûᵢ‖² − Σᵢ‖ûᵢ‖²) / (n(n−1))

    — one scan builds the per-dimension component sums, one 64-row
    reduction squares them.  Components normalize row-locally and round
    to 6 dp (the :func:`l2_normalize` cut), so the per-dim sums are
    EXACT decimal(28,6) and both squared terms are engine-identical.
    Zero-norm vectors are excluded.  ZERO shuffles beyond two tiny
    aggregates; at 100 TB this is a map + 64-cell combine.

    Output: one row — ``(n bigint, n_dims bigint, mean_cosine double)``;
    n < 2 NULLs the mean.
    """
    from ..functions.vectors import l2_norm

    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.round(l2_norm(vec_col), 6).alias("_nrm"),
        F.col(vec_col).alias("_v"),
    ).filter(F.col("_nrm") > 0)
    comps = base.select(
        "_id",
        F.posexplode("_v").alias("_i", "_x"),
        "_nrm",
    ).select(
        "_id",
        "_i",
        F.round(F.col("_x").cast("double") / F.col("_nrm"), 6).alias("_u"),
    )
    per_dim = comps.groupBy("_i").agg(
        F.sum(F.col("_u").cast("decimal(28,6)")).alias("_s")
    )
    tot_s = per_dim.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum(
            (
                F.col("_s").cast("double") * F.col("_s").cast("double")
            ).cast("decimal(28,12)")
        ).alias("_ss"),
    )
    tot_t = comps.agg(
        F.count_distinct("_id").alias("n"),
        F.sum(
            (F.col("_u") * F.col("_u")).cast("decimal(28,12)")
        ).alias("_t"),
    )
    out = tot_t.crossJoin(F.broadcast(tot_s))
    nn = F.col("n").cast("double")
    mean_cos = F.when(
        F.col("n") >= 2,
        (F.col("_ss").cast("double") - F.col("_t").cast("double"))
        / (nn * (nn - 1)),
    )
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_dims").cast("long").alias("n_dims"),
        F.round(mean_cos, 9).alias("mean_cosine"),
    )


def _row_local_dim_pairs(
    df: DataFrame, vec_col: str, scale: int, include_diagonal: bool
) -> DataFrame:
    """Row-local (i, j) dimension-pair fan-out for covariance moments:
    scale the vector to exact ×``scale`` integers ONCE (staged as a
    materialized select column — the HOF re-evaluation rule), then
    chain two posexplodes — the element, and the slice of the array
    from that element's successor (or the element itself when
    ``include_diagonal``).  Both pair members come from the SAME row's
    array, so the fan-out is generate→generate with zero shuffle; the
    caller's groupBy is the first (and only) Exchange, fed map-side
    combined d² states.  Replaces the former id-keyed posexplode
    self-join, which shuffled the 2·n·d exploded corpus by id before
    the same filter.

    Output: ``(_ia int, _ib int, _sa long, _sb long)``.
    """
    # d²/2 fan-out rows per input row all materialize inside the scan
    # stage: on a one-split scan that is the whole corpus×d² explode +
    # partial aggregate on ONE task (r13-opt straggler fix, see
    # functions.spread).
    df = spread_small_scan(df)
    scaled = df.filter(F.col(vec_col).isNotNull()).select(
        F.transform(
            vec_col,
            lambda x: F.round(
                x.cast("double") * F.lit(float(scale)), 0
            ).cast("long"),
        ).alias("_sv")
    )
    left = scaled.select(
        F.col("_sv"), F.posexplode("_sv").alias("_ia", "_sa")
    )
    if include_diagonal:
        start, j_off = F.col("_ia") + F.lit(1), F.col("_off")
        length = F.size("_sv") - F.col("_ia")
    else:
        start, j_off = F.col("_ia") + F.lit(2), F.col("_off") + F.lit(1)
        length = F.greatest(
            F.size("_sv") - F.col("_ia") - F.lit(1), F.lit(0)
        )
    return left.select(
        "_ia",
        "_sa",
        F.posexplode(F.slice(F.col("_sv"), start, length)).alias(
            "_off", "_sb"
        ),
    ).select(
        "_ia",
        (F.col("_ia") + j_off).cast("int").alias("_ib"),
        "_sa",
        "_sb",
    )


def covariance_top_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 10,
    scale: int = 1000000,
) -> DataFrame:
    """Top-|correlation| dimension pairs of the embedding covariance —
    the redundancy audit behind every truncation decision
    (:func:`matryoshka_recall` asks "can I drop dims"; this says WHICH
    dims carry the same signal): Pearson correlation for all d(d−1)/2
    dimension pairs, keep the strongest.

    Components scale to exact integers (×10⁶, the float32 mantissa is
    ~7 digits — deterministic, engine-identical), so every moment sum
    rides decimal(38,0) and each correlation forms from EXACT integer
    differences (the :func:`~..operators.profile.partial_correlation`
    discipline).  The pair fan-out is per-ROW d²/2 and ROW-LOCAL: both
    pair members come from the same row's array, so a chained
    posexplode over the array and its tail slice generates every
    (i, j>i) pair with ZERO shuffle before the partial aggregate —
    never an id-keyed self-join (which would ship the 2·n·d exploded
    corpus through an exchange twice), never a corpus×corpus product.
    The only Exchange in the plan is the d²/2-row aggregate itself
    (map-side combine reduces to d²/2 states per task first).

    Output: *top_k* rows — ``(dim_i int, dim_j int, n bigint,
    corr double)`` ordered |corr| desc (ties: dim_i, dim_j asc).
    """
    dec = "decimal(38,0)"
    pairs = _row_local_dim_pairs(df, vec_col, scale, include_diagonal=False)
    # Long-buffer exact integer sums (functions.fastsum) — value- and
    # type-identical to the decimal(38,0) form, ~7× cheaper per sum
    # (r13-opt; see _scaled_cov_matrix).
    from ..functions import fastsum as fs

    moments = [
        ("sx", F.col("_sa")),
        ("sy", F.col("_sb")),
        ("sxx", F.col("_sa") * F.col("_sa")),
        ("syy", F.col("_sb") * F.col("_sb")),
        ("sxy", F.col("_sa") * F.col("_sb")),
    ]
    agg = pairs.groupBy("_ia", "_ib").agg(
        F.count(F.lit(1)).alias("_n"),
        *[c for tag, e in moments for c in fs.parts_int(e, tag)],
    ).select(
        "_ia",
        "_ib",
        "_n",
        *[fs.value_int(tag).alias(f"_{tag}") for tag, _ in moments],
    )
    nn = F.col("_n").cast(dec)
    num = (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx = (nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy = (nn * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    corr = F.round(F.try_divide(num, F.sqrt(vx) * F.sqrt(vy)), 9)
    ranked = agg.select(
        F.col("_ia").cast("int").alias("dim_i"),
        F.col("_ib").cast("int").alias("dim_j"),
        F.col("_n").cast("long").alias("n"),
        corr.alias("corr"),
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(
                F.desc(F.abs(F.col("corr"))), F.asc("dim_i"), F.asc("dim_j")
            )
        ),
    )
    return ranked.filter(F.col("_rk") <= top_k).select(
        "dim_i", "dim_j", "n", "corr"
    )


def nearest_centroid_margin(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ambiguous_below: float = 0.05,
) -> DataFrame:
    """Assignment-confidence margins per cell — the "how decisive are
    these cluster assignments" number the internal triad summarizes
    away: margin = d₂ − d₁ between the nearest and second-nearest
    centroid distances per point (√ of the 6-dp-rounded squared
    distances — the :func:`_nearest_cell` determinism cut), with the
    share of points inside *ambiguous_below* flagged as boundary mass.

    Same ZERO-shuffle scoring shape as :func:`kmeans_assign` (broadcast
    centroid literals, row-local argmin over k structs); one per-cell
    partial aggregate with decimal-quantized margin sums.

    Output: one row per cell — ``(cell int, n bigint, mean_margin
    double, min_margin double, ambiguous_n bigint, ambiguous_share
    double)``.
    """
    if len(centroids) < 2:
        raise ValueError("needs >= 2 centroids")
    scored = F.expr(_scored_cells_sql(f"`{vec_col}`", centroids))
    best = F.array_min(scored)
    rest = F.filter(scored, lambda s: s["cell"] != best["cell"])
    second = F.array_min(rest)
    margin = F.round(
        F.sqrt(second["dist2"]) - F.sqrt(best["dist2"]), 6
    )
    assigned = embeddings.filter(F.col(vec_col).isNotNull()).select(
        best["cell"].alias("cell"),
        margin.alias("_m"),
    )
    amb = F.when(F.col("_m") < F.lit(float(ambiguous_below)), 1).otherwise(0)
    agg = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_m").cast("decimal(28,6)")).alias("_sm"),
        F.min("_m").alias("min_margin"),
        F.sum(amb).alias("_amb"),
    )
    nn = F.col("n").cast("double")
    return agg.select(
        F.col("cell").cast("int").alias("cell"),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("_sm").cast("double") / nn, 9).alias("mean_margin"),
        F.round(F.col("min_margin"), 9).alias("min_margin"),
        F.col("_amb").cast("long").alias("ambiguous_n"),
        F.round(F.col("_amb").cast("double") / nn, 9).alias(
            "ambiguous_share"
        ),
    )


def label_cosine_contrast(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-label vs cross-label mean cosine per label — "do same-label
    embeddings actually sit closer than cross-label ones", the direct
    separability readout behind :func:`clustering_label_agreement`'s
    agreement score, computed WITHOUT any pair join via sum-vector
    algebra over unit vectors:

        within_l = (‖S_l‖² − T_l) / (n_l(n_l−1))
        cross_l  = S_l·(S − S_l) / (n_l(n−n_l))

    (S_l = per-label per-dim sum of 6-dp-rounded unit components —
    exact decimal; T_l = per-label sum of squared rounded norms).  Two
    tiny aggregates after one scan; the label×dim sum table is
    k·d-sized.  Output: one row per label — ``(label string, n bigint,
    within_cos double, cross_cos double, contrast double)``; n_l < 2
    NULLs within, n_l = n NULLs cross.
    """
    from ..functions.vectors import l2_norm

    base = df.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).cast("string").alias("_l"),
        F.col(id_col).alias("_id"),
        F.round(l2_norm(vec_col), 6).alias("_nrm"),
        F.col(vec_col).alias("_v"),
    ).filter(F.col("_nrm") > 0)
    comps = base.select(
        "_l",
        "_id",
        F.posexplode("_v").alias("_i", "_x"),
        "_nrm",
    ).select(
        "_l",
        "_id",
        "_i",
        F.round(F.col("_x").cast("double") / F.col("_nrm"), 6).alias("_u"),
    )
    sums = comps.groupBy("_l", "_i").agg(
        F.sum(F.col("_u").cast("decimal(28,6)")).alias("_s")
    ).localCheckpoint()
    tots = sums.groupBy("_i").agg(F.sum("_s").alias("_st"))
    dots = (
        sums.join(F.broadcast(tots), "_i")
        .groupBy("_l")
        .agg(
            F.sum(
                (
                    F.col("_s").cast("double") * F.col("_s").cast("double")
                ).cast("decimal(28,12)")
            ).alias("_ss"),
            F.sum(
                (
                    F.col("_s").cast("double")
                    * (F.col("_st") - F.col("_s")).cast("double")
                ).cast("decimal(28,12)")
            ).alias("_sc"),
        )
    )
    per_l = comps.groupBy("_l").agg(
        F.count_distinct("_id").alias("n"),
        F.sum((F.col("_u") * F.col("_u")).cast("decimal(28,12)")).alias(
            "_t"
        ),
    )
    ntot = per_l.agg(F.sum("n").alias("_ntot"))
    out = per_l.join(dots, "_l").crossJoin(F.broadcast(ntot))
    nl = F.col("n").cast("double")
    nt = F.col("_ntot").cast("double")
    within = F.when(
        F.col("n") >= 2,
        (F.col("_ss").cast("double") - F.col("_t").cast("double"))
        / (nl * (nl - 1)),
    )
    cross = F.when(
        F.col("_ntot") > F.col("n"),
        F.col("_sc").cast("double") / (nl * (nt - nl)),
    )
    return out.select(
        F.col("_l").alias("label"),
        F.col("n").cast("long").alias("n"),
        F.round(within, 9).alias("within_cos"),
        F.round(cross, 9).alias("cross_cos"),
        F.round(within - cross, 9).alias("contrast"),
    )


def _scaled_cov_matrix(
    df: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """Full (i, j, c) covariance matrix of the embedding dims from
    ×``scale`` exact-integer moments (the :func:`covariance_top_pairs`
    discipline): ROW-LOCAL upper-triangle pair fan-out
    (:func:`_row_local_dim_pairs` — zero shuffle before the d²-state
    partial aggregate, no id-keyed self-join exchange), mirrored after
    the aggregate; lazily checkpointed — d² rows serve every consumer."""
    d0 = "decimal(38,0)"
    pairs = _row_local_dim_pairs(df, vec_col, scale, include_diagonal=True)
    # Exact integer moment sums over LONG buffers (functions.fastsum):
    # value- and type-identical to sum(cast(decimal(38,0))) — >18-precision
    # decimal agg buffers were ~7× the cost of the whole pair fan-out
    # (r13-opt).  |_sa·_sb| ≤ (scale·|x|max)² ≈ 10^11 ≪ the 10^12 bound.
    from ..functions import fastsum as fs

    agg = pairs.groupBy("_ia", "_ib").agg(
        F.count(F.lit(1)).alias("_n"),
        *fs.parts_int(F.col("_sa"), "sx"),
        *fs.parts_int(F.col("_sb"), "sy"),
        *fs.parts_int(F.col("_sa") * F.col("_sb"), "sxy"),
    ).select(
        "_ia",
        "_ib",
        "_n",
        fs.value_int("sx").alias("_sx"),
        fs.value_int("sy").alias("_sy"),
        fs.value_int("sxy").alias("_sxy"),
    )
    nn = F.col("_n").cast(d0)
    nd = F.col("_n").cast("double")
    cov = (
        (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
        / (nd * nd * F.lit(float(scale) * float(scale)))
    )
    upper = agg.select(
        F.col("_ia").alias("_i"), F.col("_ib").alias("_j"),
        cov.alias("_c"),
    )
    return upper.unionByName(
        upper.filter(F.col("_i") != F.col("_j")).select(
            F.col("_j").alias("_i"), F.col("_i").alias("_j"),
            F.col("_c"),
        )
    ).localCheckpoint(eager=False)


def _power_steps(mat: DataFrame, iterations: int):
    """``iterations`` decimal-carried power steps over a (_i,_j,_c)
    matrix from the unit all-ones start.  Returns ``(v, lam)``: the
    final unit iterate as (_d, _v) and the 1-row Rayleigh estimate
    (_lam = the last un-normalized norm).

    The iteration state is d values (d = embedding dims — fixed and
    corpus-scale-free), so the steps run as ARRAY expressions over ONE
    collapsed row instead of per-step d²-row broadcast joins with
    checkpointed d-row state (r13-opt: the join form paid 2-3 tiny
    Spark jobs of scheduling/broadcast overhead per step — 10+ jobs per
    query for the 5-step consumers; the one corpus-scale stage, the
    covariance build, is unchanged).  Arithmetic is bit-identical: per
    step u_i = Σ_j round(c_ij·v_j, 12) summed in exact decimal
    (order-free, exactly what the old groupBy ``F.sum`` produced), ‖u‖
    from the same 12-dp-quantized decimal sum, one double division per
    component — so the trajectory stays engine-identical and
    SQL-unrollable."""
    # Accumulator/terms at (26,12), NOT (38,12): adding two decimals
    # whose combined precision would need 39 digits trips Spark's
    # allowPrecisionLoss scale reduction ((38,12)+(38,12) → result
    # decimal(38,11) — the 12th decimal digit silently truncates, a
    # ~1e-9 drift vs the oracle after a few steps).  (26,12)+(26,12) →
    # (27,12) exact, cast back to (26,12) exact for the ≤1e14
    # magnitudes here — bit-identical to the old exact F.sum over
    # decimal(38,12) terms.
    from ..operators.dedup import bind_array as _bind

    dec12 = "decimal(26,12)"
    # Cells carry the 1-based POSITION of their column index in the
    # sorted dim array (array_position, computed once in this staged
    # projection — mat is symmetric, so every _j appears in _dims), and
    # the state vector is a plain dim-aligned ARRAY: every state lookup
    # in the fold is then an O(1) element_at instead of an O(d) map
    # scan — at d=64 the map form paid d³·iterations interpreted
    # comparisons and measured SLOWER than the join loop it replaced.
    # _icells is bound once (bind_array) or the per-dim filter below
    # would inline and re-evaluate the 4096 array_position calls d
    # times.
    one = (
        mat.agg(
            F.array_sort(F.collect_set("_i")).alias("_dims"),
            F.collect_list(F.struct("_i", "_j", "_c")).alias("_cells"),
        )
        .select(
            "_dims",
            _bind(
                F.transform(
                    "_cells",
                    lambda c: F.struct(
                        c["_i"].alias("i"),
                        c["_c"].alias("c"),
                        F.array_position(F.col("_dims"), c["_j"])
                        .cast("int")
                        .alias("ji"),
                    ),
                ),
                lambda ic: F.transform(
                    "_dims",
                    lambda d: F.transform(
                        F.filter(ic, lambda cc: cc["i"] == d),
                        lambda cc: F.struct(
                            cc["c"].alias("c"), cc["ji"].alias("ji")
                        ),
                    ),
                ),
            ).alias("_rows"),
        )
        .localCheckpoint(eager=False)
    )
    # The whole trajectory runs as ONE ArrayAggregate fold over
    # sequence(1, iterations): the accumulator is a materialized VALUE
    # between steps (never an inlined expression), so chained-projection
    # inlining cannot blow the tree up and nothing re-evaluates across
    # steps.  Within a step, u and nm are BOUND once via the bind_array
    # trick (transform over a singleton array) — referenced per output
    # component they would otherwise re-evaluate the whole O(d²) fold
    # per reference.
    v0 = F.transform(
        "_dims",
        lambda _d: F.lit(1.0) / F.sqrt(F.size("_dims").cast("double")),
    )
    zero = F.struct(v0.alias("va"), F.lit(0.0).alias("nm"))

    def _step(acc, _i):
        u_expr = F.transform(
            "_rows",
            lambda cs: F.aggregate(
                cs,
                F.lit(0).cast(dec12),
                lambda a, c: (
                    a
                    + F.round(
                        c["c"] * F.element_at(acc["va"], c["ji"]), 12
                    ).cast(dec12)
                ).cast(dec12),
            ).cast("double"),
        )

        def _after_u(u):
            nm_expr = F.sqrt(
                F.aggregate(
                    u,
                    F.lit(0).cast(dec12),
                    lambda a, x: (
                        a + F.round(x * x, 12).cast(dec12)
                    ).cast(dec12),
                ).cast("double")
            )
            return _bind(
                nm_expr,
                lambda nm: F.struct(
                    F.transform(u, lambda x: x / nm).alias("va"),
                    nm.alias("nm"),
                ),
            )

        return _bind(u_expr, _after_u)

    fold = F.aggregate(
        F.sequence(F.lit(1), F.lit(iterations)), zero, _step
    )
    # stage the fold result once; the exploded iterate and the 1-row
    # lambda reader below share it
    one = one.select("_dims", fold.alias("_st")).localCheckpoint(
        eager=False
    )
    v = one.select(
        "_dims", F.posexplode(F.col("_st")["va"]).alias("_k", "_v")
    ).select(
        F.element_at("_dims", F.col("_k") + 1).alias("_d"), "_v"
    )
    lam = one.select(F.col("_st")["nm"].alias("_lam"))
    return v, lam


def power_iteration_top(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 5,
    scale: int = 1000000,
) -> DataFrame:
    """Top principal component of the embedding covariance by FIXED-
    iteration power iteration — the "is there one dominant direction"
    audit behind :func:`covariance_top_pairs` (which sees pairwise
    redundancy but not a global axis) and :func:`isotropy_score` (which
    summarizes the spectrum but names no direction): λ₁, its explained-
    variance ratio λ₁/trace, and the 64 loadings.

    The covariance matrix builds EXACTLY like ``covariance_top_pairs``
    (×10⁶ scaled-integer moments, per-row d²/2 id-keyed pair fan-out —
    the one corpus-scale stage), materializing d² rows.  Each of the
    ``iterations`` steps is then a d²-row broadcast join + per-dim
    decimal-carried sum (u = C·v, 12-dp product cuts), one L2
    normalization off the d-row axis — the :func:`~.graph.pagerank`
    loop-unrolling discipline, so the whole trajectory is engine-
    identical and the SQL twin is chained CTEs.  λ₁ = ‖C·v_last‖ (v_last
    unit), the Rayleigh estimate for a converged vector; the all-ones
    start fixes the eigenvector SIGN deterministically.

    Output: one row per dimension — ``(dim int, loading double,
    lambda1 double, evr double)``; loadings are the final normalized
    iterate.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    mat = _scaled_cov_matrix(df, id_col, vec_col, scale)
    dec12 = "decimal(38,12)"
    trace_df = mat.filter(F.col("_i") == F.col("_j")).agg(
        F.sum(F.round(F.col("_c"), 12).cast(dec12)).alias("_tr")
    )
    v, lam = _power_steps(mat, iterations)
    return (
        v
        .crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(trace_df))
        .select(
            F.col("_d").cast("int").alias("dim"),
            F.round(F.col("_v"), 9).alias("loading"),
            F.round(F.col("_lam"), 9).alias("lambda1"),
            F.round(
                F.try_divide(
                    F.col("_lam"), F.col("_tr").cast("double")
                ),
                9,
            ).alias("evr"),
        )
    )


def spectral_gap_top2(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 5,
    scale: int = 1000000,
) -> DataFrame:
    """Top-two covariance eigenvalues by power iteration WITH DEFLATION
    — the spectral-gap readout behind :func:`power_iteration_top`'s
    single axis: λ₁/λ₂ near 1 means no single dominant direction
    (healthy isotropic-ish embeddings), a large gap means one axis owns
    the geometry (rogue feature, un-centered artifact, collapsed
    training run).

    Phase 1 runs :func:`_power_steps` on the exact scaled-integer
    covariance; phase 2 runs the SAME steps on the deflated matrix
    C' = C − λ₁·v₁v₁ᵀ (a d²-row broadcast expression on exact phase-1
    outputs — v₁'s eigenvalue becomes 0, so the uniform start converges
    to the second axis).  Both trajectories are decimal-carried and
    loop-unrollable; the oracle chains phase 1, one deflation CTE, and
    phase 2.

    Output: one row — ``(lambda1 double, lambda2 double, spectral_gap
    double, evr1 double, evr2 double, trace double)``.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    dec12 = "decimal(38,12)"
    mat = _scaled_cov_matrix(df, id_col, vec_col, scale)
    trace_df = mat.filter(F.col("_i") == F.col("_j")).agg(
        F.sum(F.round(F.col("_c"), 12).cast(dec12)).alias("_tr")
    )
    v1, lam1 = _power_steps(mat, iterations)
    vi = v1.select(F.col("_d").alias("_di"), F.col("_v").alias("_vi"))
    vj = v1.select(F.col("_d").alias("_dj"), F.col("_v").alias("_vj"))
    deflated = (
        mat.join(F.broadcast(vi), mat["_i"] == F.col("_di"))
        .join(F.broadcast(vj), mat["_j"] == F.col("_dj"))
        .crossJoin(F.broadcast(lam1))
        .select(
            "_i",
            "_j",
            (
                F.col("_c")
                - F.col("_lam") * F.col("_vi") * F.col("_vj")
            ).alias("_c"),
        )
        .localCheckpoint(eager=False)
    )
    _, lam2 = _power_steps(deflated, iterations)
    out = (
        lam1.select(F.col("_lam").alias("_l1"))
        .crossJoin(F.broadcast(lam2.select(F.col("_lam").alias("_l2"))))
        .crossJoin(F.broadcast(trace_df))
    )
    tr = F.col("_tr").cast("double")
    return out.select(
        F.round(F.col("_l1"), 9).alias("lambda1"),
        F.round(F.col("_l2"), 9).alias("lambda2"),
        F.round(F.try_divide(F.col("_l1"), F.col("_l2")), 9).alias(
            "spectral_gap"
        ),
        F.round(F.try_divide(F.col("_l1"), tr), 9).alias("evr1"),
        F.round(F.try_divide(F.col("_l2"), tr), 9).alias("evr2"),
        F.round(tr, 9).alias("trace"),
    )


def participation_ratio(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000000,
) -> DataFrame:
    """Participation ratio (effective rank) of the embedding covariance —
    "how many dimensions actually carry variance", WITHOUT an
    eigendecomposition: PR = (Σλᵢ)²/Σλᵢ² = trace(C)²/‖C‖²_F, since the
    trace and Frobenius norm are eigenvalue-basis-free.  PR → 1 when one
    direction owns the space (collapsed embeddings), → d when variance
    is isotropic — the one-number summary beside :func:`isotropy_stats`'
    diagonal view and the spectral pair's top-eigenvalue view.

    Reads the shared :func:`_scaled_cov_matrix` (row-local fan-out,
    d²-row output); trace and Frobenius sums quantize each entry to
    12 dp before exact decimal accumulation.  Everything after the
    covariance build is d²-row axis work.

    Output: one row — ``(n_dims bigint, trace double, frob2 double,
    participation_ratio double, effective_dim_share double)``.
    """
    dec12 = "decimal(28,12)"
    mat = _scaled_cov_matrix(df, id_col, vec_col, scale)
    agg = mat.agg(
        F.count_distinct(F.col("_i")).alias("_d"),
        F.sum(
            F.when(
                F.col("_i") == F.col("_j"),
                F.round(F.col("_c"), 12),
            ).cast(dec12)
        ).alias("_tr"),
        F.sum(
            F.round(F.col("_c") * F.col("_c"), 12).cast(dec12)
        ).alias("_fr"),
    )
    tr = F.col("_tr").cast("double")
    fr = F.col("_fr").cast("double")
    pr = F.try_divide(tr * tr, fr)
    return agg.select(
        F.col("_d").cast("long").alias("n_dims"),
        F.round(tr, 9).alias("trace"),
        F.round(fr, 9).alias("frob2"),
        F.round(pr, 9).alias("participation_ratio"),
        F.round(
            F.try_divide(pr, F.col("_d").cast("double")), 9
        ).alias("effective_dim_share"),
    )


def dim_moments(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1000000,
    top_k: int = 5,
) -> DataFrame:
    """Per-dimension skewness and excess kurtosis of the embedding
    components, top-``top_k`` dims by |kurtosis| — the distribution-
    shape audit beside :func:`embedding_dim_stats`' mean/variance view:
    a heavy-tailed dimension (kurtosis ≫ 0) dominates cosine distances
    for a few outlier docs; a skewed one breaks the zero-centering
    assumption quantizers make.

        skew = µ₃/µ₂^1.5,  kurt = µ₄/µ₂² − 3   (population moments)

    Components scale to ×``scale`` exact integers; Σx..Σx⁴ ride
    decimal(38,0) (casts BEFORE the power products so no long overflow),
    so every central moment is formed from exact integer sums — engine-
    identical.  One posexplode + one d-ary groupBy; ranking on the
    d-row axis (|kurt| desc, dim asc).

    Output: *top_k* rows — ``(dim int, n bigint, mean double,
    skewness double, kurtosis double)``.
    """
    d0 = "decimal(38,0)"
    comps = df.filter(F.col(vec_col).isNotNull()).select(
        F.posexplode(vec_col).alias("_i", "_x")
    ).select(
        "_i",
        F.round(F.col("_x").cast("double") * F.lit(float(scale)), 0)
        .cast("long")
        .cast(d0)
        .alias("_s"),
    )
    agg = comps.groupBy("_i").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_s").alias("_m1"),
        F.sum(F.col("_s") * F.col("_s")).alias("_m2"),
        F.sum(F.col("_s") * F.col("_s") * F.col("_s")).alias("_m3"),
        F.sum(
            (F.col("_s") * F.col("_s")) * (F.col("_s") * F.col("_s"))
        ).alias("_m4"),
    )
    n = F.col("_n").cast("double")
    m = F.col("_m1").cast("double") / n
    r2 = F.col("_m2").cast("double") / n
    r3 = F.col("_m3").cast("double") / n
    r4 = F.col("_m4").cast("double") / n
    mu2 = r2 - m * m
    mu3 = r3 - F.lit(3.0) * m * r2 + F.lit(2.0) * m * m * m
    mu4 = (
        r4
        - F.lit(4.0) * m * r3
        + F.lit(6.0) * m * m * r2
        - F.lit(3.0) * m * m * m * m
    )
    skew = F.try_divide(mu3, F.sqrt(mu2) * mu2)
    kurt = F.try_divide(mu4, mu2 * mu2) - F.lit(3.0)
    ranked = agg.select(
        F.col("_i").cast("int").alias("dim"),
        F.col("_n").cast("long").alias("n"),
        F.round(m / F.lit(float(scale)), 9).alias("mean"),
        F.round(skew, 9).alias("skewness"),
        F.round(kurt, 9).alias("kurtosis"),
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(
                F.desc(F.abs(F.col("kurtosis"))), F.asc("dim")
            )
        ),
    )
    return ranked.filter(F.col("_rk") <= top_k).drop("_rk")


def label_centroid_similarity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1000000,
) -> DataFrame:
    """Pairwise cosine similarity between per-label centroids — the
    "which classes does this embedding space actually separate" matrix
    beside :func:`label_cosine_contrast`'s within/cross view: two labels
    whose centroids sit at cosine 0.95 will confuse every downstream
    nearest-centroid router no matter how tight each cluster is.

    Per-(label, dim) component sums are exact scaled integers; each
    centroid component quantizes to a 9-dp double, the pair dot/norm
    sums quantize each 12-dp term into exact decimal — all on the k·d
    axis (labels × dims, dashboard-sized; the pair join broadcasts).

    Output: one row per unordered label pair (a < b) —
    ``(label_a int, label_b int, cosine double)``.
    """
    dec12 = "decimal(28,12)"
    comps = df.filter(
        F.col(vec_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(label_col).cast("int").alias("_l"),
        F.posexplode(vec_col).alias("_i", "_x"),
    ).select(
        "_l",
        "_i",
        F.round(F.col("_x").cast("double") * F.lit(float(scale)), 0)
        .cast("long")
        .alias("_s"),
    )
    cent = comps.groupBy("_l", "_i").agg(
        F.round(
            F.sum(F.col("_s").cast("decimal(38,0)")).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(float(scale))),
            9,
        ).alias("_c")
    )
    a = cent.select(
        F.col("_l").alias("label_a"), F.col("_i"), F.col("_c").alias("_ca")
    )
    b = cent.select(
        F.col("_l").alias("label_b"), F.col("_i"), F.col("_c").alias("_cb")
    )
    pairs = a.join(F.broadcast(b), "_i").filter(
        F.col("label_a") < F.col("label_b")
    )
    agg = pairs.groupBy("label_a", "label_b").agg(
        F.sum(
            F.round(F.col("_ca") * F.col("_cb"), 12).cast(dec12)
        ).alias("_dot"),
        F.sum(
            F.round(F.col("_ca") * F.col("_ca"), 12).cast(dec12)
        ).alias("_na"),
        F.sum(
            F.round(F.col("_cb") * F.col("_cb"), 12).cast(dec12)
        ).alias("_nb"),
    )
    cos = F.try_divide(
        F.col("_dot").cast("double"),
        F.sqrt(F.col("_na").cast("double"))
        * F.sqrt(F.col("_nb").cast("double")),
    )
    return agg.select(
        "label_a", "label_b", F.round(cos, 9).alias("cosine")
    )


def norm_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000000,
    top_k: int = 10,
) -> DataFrame:
    """Top-``top_k`` vectors by |z-score| of the SQUARED L2 norm — the
    embedding-health screen that catches both failure modes a cosine
    pipeline hides: near-zero vectors (failed encodes — cosine silently
    normalizes them into noise) and blow-ups (fp issues upstream).
    z-scores are taken on the squared norm, which stays an EXACT integer
    per row (Σ of scaled-component squares — a row-local fold, no
    shuffle), so the corpus moments are exact decimal sums and every z
    is one IEEE expression.

    Plan: scan 1 computes per-row integer norm² row-locally and reduces
    the two moments to ONE broadcast row; scan 2 re-scores and
    TakeOrderedAndProject keeps the top-k (|z| desc, id asc).

    Output: *top_k* rows — ``(id, norm double, z double)``.
    """
    d0 = "decimal(38,0)"
    sv = F.transform(
        vec_col,
        lambda x: F.round(
            x.cast("double") * F.lit(float(scale)), 0
        ).cast("long"),
    )
    staged = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.aggregate(
            sv, F.lit(0).cast("long"), lambda acc, s: acc + s * s
        ).alias("_n2"),
    )
    mom = staged.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_n2").cast(d0)).alias("_s"),
        F.sum(
            (F.col("_n2").cast(d0) * F.col("_n2").cast(d0))
        ).alias("_q"),
    )
    scored = staged.crossJoin(F.broadcast(mom))
    n = F.col("_n").cast("double")
    mean = F.col("_s").cast("double") / n
    var = F.col("_q").cast("double") / n - mean * mean
    z = F.try_divide(
        F.col("_n2").cast("double") - mean, F.sqrt(var)
    )
    norm = F.sqrt(F.col("_n2").cast("double")) / F.lit(float(scale))
    ranked = scored.select(
        F.col(id_col),
        F.round(norm, 9).alias("norm"),
        F.round(z, 9).alias("z"),
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(F.desc(F.abs(F.col("z"))), F.asc(id_col))
        ),
    )
    return ranked.filter(F.col("_rk") <= top_k).drop("_rk")


def int8_quantization_snr(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Signal-to-noise ratio of the int8 scalar quantization
    (:func:`quantize_embeddings`' grid, emulated row-locally via
    :func:`dequantized_vec`) — the ONE number that says whether the 4×
    memory saving is free: SNR = Var(x)/MSE(x − x̂) over all components
    (≳ 10³ ⇒ recall-neutral; the companion recall check is
    :func:`quantized_rescore_topk` vs exact).

    Everything is row-local until two decimal-quantized sums: x and the
    quantize→dequantize x̂ are pure IEEE per component (identical in any
    engine), per-component terms round to 12 dp before decimal
    accumulation; Var is population over all components.  snr_db goes
    through the decimal(28,12) log10 cut.

    Output: one row — ``(n_components bigint, variance double,
    mse double, snr double, snr_db double)``.
    """
    dec12 = "decimal(28,12)"
    staged = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("_v"),
        dequantized_vec(vec_col).alias("_dq"),
    )
    comps = staged.select(
        F.explode(
            F.zip_with(
                "_v",
                "_dq",
                lambda x, q: F.struct(
                    x.cast("double").alias("x"),
                    (x.cast("double") - q).alias("e"),
                ),
            )
        ).alias("_p")
    ).select(F.col("_p.x").alias("_x"), F.col("_p.e").alias("_e"))
    agg = comps.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.round(F.col("_x"), 12).cast(dec12)).alias("_sx"),
        F.sum(
            F.round(F.col("_x") * F.col("_x"), 12).cast(dec12)
        ).alias("_sxx"),
        F.sum(
            F.round(F.col("_e") * F.col("_e"), 12).cast(dec12)
        ).alias("_see"),
    )
    n = F.col("_n").cast("double")
    mean = F.col("_sx").cast("double") / n
    var = F.col("_sxx").cast("double") / n - mean * mean
    mse = F.col("_see").cast("double") / n
    snr = F.try_divide(var, mse)
    snr_db = (
        F.lit(10.0)
        * F.log10(snr).cast(dec12).cast("double")
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_components"),
        F.round(var, 9).alias("variance"),
        F.round(mse, 9).alias("mse"),
        F.round(snr, 9).alias("snr"),
        F.round(snr_db, 9).alias("snr_db"),
    )


def linear_cka_halves(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1000000,
) -> DataFrame:
    """Linear CKA (centered kernel alignment) between the FIRST and SECOND
    halves of the embedding dimensions — "does the tail half of the
    vector encode anything the head half doesn't?", the representation-
    redundancy readout behind truncation/matryoshka decisions (CKA near
    1: the halves are linear transforms of each other; near 0:
    independent subspaces):

        CKA = ‖C_xy‖_F² / (‖C_xx‖_F · ‖C_yy‖_F)

    over the centered cross-/auto-covariance blocks of the dim×dim
    covariance matrix.  Components scale to exact ×``scale`` integers
    (:func:`covariance_top_pairs` discipline), every (i ≤ j) pair is a
    ROW-LOCAL chained posexplode (zero shuffle before the d²-row
    aggregate), covariances form from EXACT decimal moments and drop to
    real units before squaring (cov² ≤ 1e-4 — quantized at 12 dp where
    the ×10¹² product is still sub-2⁵³-exact on both engines); the
    upper-triangle fan-out double-counts symmetric off-diagonal entries
    via a weight column instead of generating the mirror pairs.

    Output: one row — ``(n bigint, d int, cka double, hsic_xy double,
    hsic_xx double, hsic_yy double)``.
    """
    first = (
        df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
    )
    if first is None:
        raise ValueError("linear_cka_halves: no non-null vectors")
    dims = len(first[0])
    half = dims // 2
    dec = "decimal(38,0)"
    pairs = _row_local_dim_pairs(df, vec_col, scale, include_diagonal=True)
    agg = pairs.groupBy("_ia", "_ib").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_sa").cast(dec)).alias("_sx"),
        F.sum(F.col("_sb").cast(dec)).alias("_sy"),
        F.sum((F.col("_sa") * F.col("_sb")).cast(dec)).alias("_sxy"),
    )
    nn = F.col("_n").cast(dec)
    cov = (
        (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
        / (
            F.col("_n").cast("double")
            * F.col("_n").cast("double")
            * F.lit(float(scale) * float(scale))
        )
    )
    in_x = (F.col("_ia") < half) & (F.col("_ib") < half)
    in_y = (F.col("_ia") >= half) & (F.col("_ib") >= half)
    w = F.when(F.col("_ia") == F.col("_ib"), F.lit(1.0)).otherwise(
        F.lit(2.0)
    )
    term = F.round(w * cov * cov, 12).cast("decimal(28,12)")
    cls = F.when(in_x, F.lit("xx")).when(in_y, F.lit("yy")).otherwise(
        F.lit("xy")
    )
    s = (
        agg.select(cls.alias("_c"), term.alias("_t"), F.col("_n"))
        .groupBy()
        .pivot("_c", ["xx", "yy", "xy"])
        .agg(
            F.sum("_t").cast("double").alias("s"),
            F.max("_n").alias("nr"),
        )
        .withColumnRenamed("xx_s", "xx")
        .withColumnRenamed("yy_s", "yy")
        .withColumnRenamed("xy_s", "xy")
    )
    # cross-block pairs appear once each (head dims all precede tail
    # dims), so the xy sum needs its symmetric double-count REMOVED:
    # the w=2 weight above is right for xx/yy mirrors, but ‖C_xy‖²
    # counts each (x, y) entry once — halve it back.  The row count
    # rides the same aggregate pass (every dim pair sees all non-null
    # vectors, so any class's max _n is n) — no second driver action.
    fxy = F.col("xy") / F.lit(2.0)
    return s.select(
        F.col("xx_nr").cast("long").alias("n"),
        F.lit(int(dims)).cast("int").alias("d"),
        F.round(
            F.try_divide(
                fxy, F.sqrt(F.col("xx")) * F.sqrt(F.col("yy"))
            ),
            9,
        ).alias("cka"),
        F.round(fxy, 9).alias("hsic_xy"),
        F.round(F.col("xx"), 9).alias("hsic_xx"),
        F.round(F.col("yy"), 9).alias("hsic_yy"),
    )
