"""Graph analytics over relational edge lists.

Connected components (the dedup clustering kernel) lives in
:mod:`~riot_graphs_spark.operators.dedup`; this module holds the
score-propagation family.  Everything is expressed as node/edge-keyed
joins and partial-aggregable groupBys — the vertex-centric "join with
messages, aggregate by destination" pattern Pregel popularized, which on
Spark is just DataFrame ops (no GraphX, no RDDs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import fastsum as _fs

#: Exact-decimal carrier for cross-row double sums (FP addition order
#: would otherwise make every iteration nondeterministic run-to-run).
#: Hot edge-mass aggregations use the value-identical long-buffer form
#: (functions.fastsum) instead; _DEC remains for small-row-count totals.
_DEC = "decimal(28,12)"


def _sym(edges: DataFrame) -> DataFrame:
    """Symmetric closure of an undirected ``(src, dst)`` edge list.

    The narrow projection is materialized before the mirroring union:
    both branches read the upstream edge plan and Spark performs no
    common-subtree elimination across union branches — without the
    barrier an expensive pair-generation aggregate upstream runs twice
    (r13-opt, the connected_components fix)."""
    fwd = edges.select("src", "dst").localCheckpoint(eager=False)
    return fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    dedup_edges: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list.

    Each iteration is one broadcast join (node scores onto out-edges)
    plus one destination-keyed partial-aggregable sum — one shuffle per
    iteration, keyed on node id; state is one double per node, and no
    step ever collects the graph to the driver (the one scalar pulled is
    the node COUNT, needed inside the teleport constant).  Neighbor sums are carried exactly (decimal-equivalent
    long buffers) so every iteration is bit-deterministic regardless of
    partitioning — which is what makes the fixed-iteration form
    oracle-pairable by loop unrolling (the SQL twin writes
    ``iterations`` chained CTEs).

    Every edge is mirrored (:func:`_sym`); nodes are the edge endpoints
    (isolated vertices don't participate — at corpus scale the node table
    IS the edge-endpoint set).  With mirrored edges every node has
    out-degree ≥ 1, so there is no dangling mass to redistribute.

    The per-node score table (one double per node) is broadcast to the
    edge side each iteration instead of shuffling the edges — the node
    table must be executor-memory-sized (a parts catalog, a vocab).  The
    iterations pipeline into one plan with no per-iteration barrier,
    which suits the short fixed runs this operator serves; plan size
    grows linearly with ``iterations``.  Construction has two barriers,
    the forward edge list and the degree table, and one job-running
    step, the node count.  ``dedup_edges=False`` skips the
    edge-distinct exchange when the caller guarantees unique
    ``(src, dst)`` pairs with ``src < dst`` (mirroring cannot then
    collide) — one full edge-set shuffle saved.

    Output: ``(node, pr double)`` — scores sum to ~1 over nodes.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    if not 0.0 < damping < 1.0:
        raise ValueError("need 0 < damping < 1")

    # _sym's one barrier holds the forward edge list; the mirrored union
    # over it is a narrow map, re-derived per consumer (see
    # label_propagation).
    e = _sym(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    if dedup_edges:
        e = e.distinct()
    # The degree table is the second and last barrier: with mirrored edges
    # every node is a src, so its keys ARE the node set, and the node
    # count (one bounded scalar, needed inside the teleport constant)
    # materializes it.
    deg = (
        e.groupBy("src").agg(F.count(F.lit(1)).alias("_od"))
        .localCheckpoint(eager=False)
    )
    n = deg.count()
    # Static across iterations: the broadcast join re-runs per iteration
    # but moves no edges.
    ew = e.join(F.broadcast(deg), "src")
    nodes = deg.select(F.col("src").alias("node"))

    pr = nodes.withColumn("pr", F.lit(1.0) / F.lit(float(n)))
    teleport = F.lit(1.0) - F.lit(damping)
    for _ in range(iterations):
        pr_side = F.broadcast(pr)
        # Long-buffer exact sum (functions.fastsum): value-identical to
        # sum(cast(decimal(28,12))) — terms are |pr/od| ≤ 1, far inside
        # the scale-12 recovery bound (r13-opt: the >18-precision decimal
        # buffer paid a BigDecimal round trip per edge per iteration).
        acc = (
            ew.join(pr_side, ew["src"] == pr_side["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") / F.col("_od")).alias("_m"),
            )
            .groupBy("node")
            .agg(*_fs.parts(F.col("_m"), "m", scale=12))
            .select("node", _fs.value("m", scale=12).alias("_acc"))
        )
        # Every node receives mass over its mirrored edges, so ``acc``
        # already covers the node set — no re-anchoring join.
        pr = acc.select(
            "node",
            (
                teleport / F.lit(float(n))
                + F.lit(damping) * F.col("_acc")
            ).alias("pr"),
        )
    return pr


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over an
    undirected edge list (``src < dst``, unique pairs) — the cohesion
    profile of a co-occurrence / near-dup graph (high clustering = dense
    communities; triangle-free hubs = star-shaped boilerplate).

    Scale shape — the classic degree orientation: each undirected edge is
    directed from its ``(degree, id)``-smaller endpoint to the larger, so
    every oriented out-neighborhood is O(√m) and the wedge join
    (out-edges ⋈ out-edges on the pivot) can never explode on a hub the
    way a naive id-ordered join does.  Wedges close against the oriented
    edge set with one more equi-join.  The triangle SET is
    orientation-invariant (each triangle appears exactly once as its
    π-sorted tuple), which is what lets the SQL oracle count the same
    triangles with plain id ordering.

    Output: ``(node, degree bigint, n_triangles bigint, clustering
    double)`` — one row per edge endpoint; ``clustering = 2T / (deg·
    (deg−1))``, 0.0 for degree-1 nodes.
    """
    # One lazy checkpoint: the (often aggregate-produced) edge list feeds
    # degrees, orientation AND the final profile join — see pagerank.
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # deg is read three times (both orientation joins + the final
    # profile join) — one barrier keeps the degree aggregate at one run
    # (r13-opt).
    deg = und.groupBy("u").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=False)
    # π(u) < π(v) iff (deg(u), u) < (deg(v), v): orient edges π-ascending.
    w_e = (
        e.join(deg.withColumnRenamed("u", "_ku").withColumnRenamed("deg", "_du"), e["u"] == F.col("_ku"))
        .join(deg.withColumnRenamed("u", "_kv").withColumnRenamed("deg", "_dv"), e["v"] == F.col("_kv"))
    )
    fwd = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("u") < F.col("v"))
    )
    oriented = w_e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("_du")).otherwise(F.col("_dv")).alias("_da"),
        F.when(fwd, F.col("_dv")).otherwise(F.col("_du")).alias("_db"),
    ).localCheckpoint(eager=False)
    # Wedges at pivot a: π-ordered out-neighbor pairs (b, c).
    o2 = oriented.select(
        F.col("a").alias("a2"),
        F.col("b").alias("c"),
        F.col("_db").alias("_dc"),
    )
    wedges = oriented.join(o2, oriented["a"] == o2["a2"]).where(
        (F.col("_db") < F.col("_dc"))
        | ((F.col("_db") == F.col("_dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.withColumnRenamed("u", "node")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("deg") > 1,
                F.lit(2.0)
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Fixed-iteration HITS (hubs & authorities) over a DIRECTED edge
    list — on a bipartite interaction graph (customer→part, query→doc)
    the authority side ranks items by endorsement from good hubs and
    vice versa, mutually reinforcing; structurally different from
    :func:`pagerank` (two coupled score vectors, L1-normalized each
    half-step instead of teleport-damped).

    Per iteration: authority = edge join + dst-keyed decimal sum,
    L1-normalize by a broadcast one-row decimal total; hub = the mirror.
    Same determinism contract as :func:`pagerank` — decimal-carried
    sums make the fixed-iteration run bit-stable, so the SQL twin is the
    unrolled CTE chain.  Nodes with no outgoing edges have no hub score
    (and mirror-wise for authorities): HITS scores are defined by edge
    incidence.

    As in :func:`pagerank`, the per-node score vector is broadcast to the
    edge side each half-step, so the node sets must be
    executor-memory-sized (catalogs).

    Output: ``(node, kind, score)`` — ``kind`` ∈ {'hub', 'auth'},
    each side L1-normalized (sums to 1.0).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e = e.localCheckpoint(eager=False)
    hub = e.select(F.col("s").alias("node")).distinct().withColumn(
        "h", F.lit(1.0)
    )

    def _l1(df: DataFrame, col: str) -> DataFrame:
        # Checkpoint the RAW scores: the total branch and the normalize
        # projection both read them — unchecpointed, the upstream
        # join+agg would run twice per half-step.
        df = df.localCheckpoint(eager=False)
        total = df.agg(
            F.sum(F.col(col).cast(_DEC)).cast("double").alias("_t")
        )
        return df.crossJoin(F.broadcast(total)).select(
            "node", (F.col(col) / F.col("_t")).alias(col)
        )

    auth = None
    for _ in range(iterations):
        # Long-buffer exact edge-mass sums (functions.fastsum): terms are
        # the opposite side's scores — 1.0 at init, ≤ 1 after every L1
        # normalize — inside the scale-12 bound.  The small per-side L1
        # total in _l1 (one row per node) stays on the decimal path.
        auth = _l1(
            e.join(F.broadcast(hub), e["s"] == hub["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(*_fs.parts(F.col("h"), "h", scale=12))
            .select("node", _fs.value("h", scale=12).alias("a")),
            "a",
        )
        hub = _l1(
            e.join(F.broadcast(auth), e["d"] == auth["node"])
            .groupBy(F.col("s").alias("node"))
            .agg(*_fs.parts(F.col("a"), "a", scale=12))
            .select("node", _fs.value("a", scale=12).alias("h")),
            "h",
        )
    return hub.select(
        "node", F.lit("hub").alias("kind"), F.col("h").alias("score")
    ).unionByName(
        auth.select(
            "node", F.lit("auth").alias("kind"), F.col("a").alias("score")
        )
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation over an undirected edge list:
    seed nodes keep their label (clamped); every other node adopts the
    MODE of its neighbors' current labels each iteration (deterministic
    tie-break: smallest label) — weak-supervision spreading over a
    similarity/near-dup graph (label the cluster from its few labeled
    members), the transductive half of a dedup-graph workflow.

    Per iteration: one edge⋈state join (messages), one (node, label)
    count groupBy, one per-node arg-max window, one state update join —
    all keyed on node id, partial-aggregable counts, state is one row
    per node. Integer counts + fixed tie-break make the fixed-iteration
    run engine-exact, so the SQL twin is the unrolled CTE chain (same
    contract as :func:`pagerank` / :func:`hits`).

    ``seeds``: ``(id_col, label_col)``, labels non-null.  Output:
    ``(node, label, is_seed)`` — ``label`` NULL only where no label has
    reached the node.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    # The mirrored union is NOT checkpointed (r14, VERDICT item 1): it is
    # a zero-cost narrow map over _sym's cached projection, so
    # re-deriving it per consumer (the node set + one message join per
    # iteration) is cheaper than materializing a second full copy of the
    # edge list — the stacked barrier pair was the one suspect in the
    # driver's 32-core regression report.
    und = _sym(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    nodes = und.select(F.col("src").alias("node")).distinct()
    state = (
        nodes.join(
            seeds.select(
                F.col(id_col).alias("node"),
                F.col(label_col).alias("label"),
            ),
            "node",
            "left",
        )
        .select(
            "node", "label", F.col("label").isNotNull().alias("is_seed")
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(iterations):
        msgs = (
            und.join(state, und["src"] == state["node"])
            .where(F.col("label").isNotNull())
            .select(F.col("dst").alias("node"), "label")
        )
        counted = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("_c")
        )
        w = Window.partitionBy("node").orderBy(
            F.col("_c").desc(), F.col("label").asc()
        )
        mode = (
            counted.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", F.col("label").alias("_new"))
        )
        state = (
            state.join(mode, "node", "left")
            .select(
                "node",
                F.when(F.col("is_seed"), F.col("label"))
                .otherwise(F.coalesce("_new", "label"))
                .alias("label"),
                "is_seed",
            )
            .localCheckpoint(eager=False)
        )
    return state


def k_core_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected edge list: each
    round drops every node whose degree IN THE SURVIVING SUBGRAPH is
    < ``k`` — the dense-cohesion filter (a node in the k-core has ≥ k
    neighbors that themselves survive; boilerplate stars and stragglers
    peel away).  ``rounds`` bounds the iteration EXACTLY — both engines
    run the same fixed count whether or not the peel has converged, so
    the operator stays oracle-pairable by CTE unrolling even though full
    k-core convergence is data-dependent (run more rounds for deeper
    peels; each is one semi-join + one degree count, node-keyed).

    Output: ``(node, degree bigint)`` — surviving nodes with their
    degree in the surviving subgraph after ``rounds`` peels.
    """
    if k < 1 or rounds < 0:
        raise ValueError("need k >= 1 and rounds >= 0")
    live = _sym(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint(eager=False)

    def _degrees(live_edges: DataFrame) -> DataFrame:
        return live_edges.groupBy("src").agg(
            F.count(F.lit(1)).alias("degree")
        )

    deg = _degrees(live)
    for _ in range(rounds):
        alive = deg.where(F.col("degree") >= k).select("src")
        live = (
            live.join(alive, "src")
            .join(alive.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        deg = _degrees(live)
    return deg.where(F.col("degree") >= k).select(
        F.col("src").alias("node"), "degree"
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient of an undirected graph — do
    hubs attach to hubs (r > 0, social-network-like) or to leaves
    (r < 0, hub-and-spoke / star topologies)?  The one-number mixing
    summary that says whether :func:`pagerank`'s mass concentrates by
    CHOICE of the hubs or by structure of the periphery.

    Standard Newman form: Pearson correlation of the endpoint degrees
    over all 2|E| ordered edge stubs.  Degrees are exact integers from
    one edge-list groupBy; all moment sums ride decimal(38,0) and the
    correlation forms from exact integer differences (the
    :func:`~..operators.profile.partial_correlation` discipline) — one
    double division at the end.  Two node-keyed joins, nothing global.

    Output: one row — ``(n_nodes bigint, n_edges bigint,
    assortativity double)``; a degree-regular graph (zero variance)
    NULLs r via ``try_divide``.
    """
    dec = "decimal(38,0)"
    # Two consumers of sym (deg, stubs join) — checkpoint so the edge
    # build runs once (r13-opt — see bfs_layers note).
    sym = _sym(edges).localCheckpoint(eager=False)
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).alias("_d")
    ).localCheckpoint(eager=False)
    stubs = (
        sym.join(deg, "src")
        .select(
            "dst",
            F.col("_d").alias("_du"),
        )
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("_d").alias("_dv")
            ),
            "dst",
        )
    )
    # Long-buffer exact integer moments (functions.fastsum): value- and
    # type-identical to the decimal(38,0) sums (r13-opt).  Plain degrees
    # ride the 2-way split; degree PRODUCTS use the 3-way split so a
    # ~10^9-degree hub still can't overflow a part sum.
    agg = stubs.agg(
        F.count(F.lit(1)).alias("_m2"),
        *_fs.parts_int(F.col("_du"), "sx"),
        *_fs.parts_int(F.col("_dv"), "sy"),
        *_fs.parts3_int(F.col("_du") * F.col("_du"), "sxx"),
        *_fs.parts3_int(F.col("_dv") * F.col("_dv"), "syy"),
        *_fs.parts3_int(F.col("_du") * F.col("_dv"), "sxy"),
    ).select(
        "_m2",
        _fs.value_int("sx").alias("_sx"),
        _fs.value_int("sy").alias("_sy"),
        _fs.value3_int("sxx").alias("_sxx"),
        _fs.value3_int("syy").alias("_syy"),
        _fs.value3_int("sxy").alias("_sxy"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    out = agg.crossJoin(F.broadcast(nodes))
    nn = F.col("_m2").cast(dec)
    num = (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    vx = (nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    vy = (nn * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    return out.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        (F.col("_m2") / 2).cast("long").alias("n_edges"),
        F.round(
            F.try_divide(num, F.sqrt(vx) * F.sqrt(vy)), 9
        ).alias("assortativity"),
    )


def link_prediction_scores(
    edges: DataFrame,
    top_k: int = 20,
    max_hub_degree: int = 50,
) -> DataFrame:
    """Common-neighbors / Jaccard / Adamic–Adar link prediction over an
    undirected graph — score the NON-edges most likely to be real
    ("parts these customers would buy together next"), the classic
    structural-hole readout on top of :func:`triangle_counts`' closure
    number.

    Candidate pairs form ONLY through shared neighbors (a v-keyed
    self-join — the in-bucket pair discipline), with hub intermediates
    above *max_hub_degree* excluded FIRST: a degree-D hub alone mints
    C(D,2) candidates, and capping it bounds the blow-up at any scale
    (the cap is the documented knob; raising it only adds
    already-well-connected pairs).  Existing edges drop via one
    left-anti join.  AA terms quantize to decimal before summing.

        jaccard = cn / (deg_u + deg_w − cn)
        aa      = Σ_v 1/ln(deg_v)           (over shared v, deg_v ≥ 2)

    Output: *top_k* rows — ``(node_u, node_w, common_neighbors bigint,
    jaccard double, adamic_adar double)`` ordered aa desc (u, w asc).
    """
    # sym feeds three consumers (deg, the v-keyed self-join fan-out, the
    # existing-edge anti-join) and deg three more (hub filter, du, dw):
    # without barriers the upstream edge build re-runs per consumer
    # (r13-opt — see bfs_layers note).
    sym = _sym(edges).localCheckpoint(eager=False)
    deg = sym.groupBy("src").agg(
        F.count(F.lit(1)).alias("_d")
    ).localCheckpoint(eager=False)
    mid = sym.join(
        deg.filter(F.col("_d") <= max_hub_degree), "src"
    ).select(
        F.col("src").alias("_v"),
        F.col("dst").alias("_u"),
        F.col("_d").alias("_dv"),
    )
    a = mid.select("_v", F.col("_u").alias("node_u"), "_dv")
    b = mid.select("_v", F.col("_u").alias("node_w"))
    pairs = (
        a.join(b, "_v")
        .filter(F.col("node_u") < F.col("node_w"))
        .groupBy("node_u", "node_w")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            # Long-buffer exact AA sum (functions.fastsum): terms ≤ 1/ln 2,
            # reconstructed as the same decimal(38,9) the sort key needs.
            *_fs.parts(
                F.when(
                    F.col("_dv") >= 2,
                    F.round(
                        F.lit(1.0) / F.log(F.col("_dv").cast("double")),
                        9,
                    ),
                ).otherwise(F.lit(0.0)),
                "aa",
            ),
        )
        .select(
            "node_u",
            "node_w",
            "common_neighbors",
            _fs.value_dec("aa").alias("_aa"),
        )
    )
    existing = sym.select(
        F.col("src").alias("node_u"), F.col("dst").alias("node_w")
    )
    non_edges = pairs.join(existing, ["node_u", "node_w"], "left_anti")
    du = deg.select(F.col("src").alias("node_u"), F.col("_d").alias("_du"))
    dw = deg.select(F.col("src").alias("node_w"), F.col("_d").alias("_dw"))
    scored = non_edges.join(du, "node_u").join(dw, "node_w")
    jac = F.col("common_neighbors").cast("double") / (
        F.col("_du").cast("double")
        + F.col("_dw").cast("double")
        - F.col("common_neighbors").cast("double")
    )
    ranked = scored.select(
        "node_u",
        "node_w",
        F.col("common_neighbors").cast("long").alias("common_neighbors"),
        F.round(jac, 9).alias("jaccard"),
        F.col("_aa").alias("_aad"),
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.orderBy(
                F.desc("_aad"), F.asc("node_u"), F.asc("node_w")
            )
        ),
    )
    return ranked.filter(F.col("_rk") <= top_k).select(
        "node_u",
        "node_w",
        "common_neighbors",
        "jaccard",
        F.round(F.col("_aad").cast("double"), 9).alias("adamic_adar"),
    )


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """Breadth-first layer sizes from a seed set over an undirected
    graph — "how much of the network is within k hops of these nodes",
    the reachability/blast-radius readout behind recall-style seeding
    decisions (contaminated docs, recalled parts, compromised users).

    Fixed-depth unrolled expansion: *max_depth* frontier⋈edges joins,
    each followed by an anti-join against the visited set — the shape a
    1000-executor BFS actually runs (per-level joins, no driver-side
    frontier).  Every level is distinct-keyed; visited stays a node-id
    set.  Each level's frontier and visited set are lazily
    ``localCheckpoint``-ed (the :func:`spectral_gap_top2` /
    ``markov_entropy_rate`` iteration discipline) so level d's anti-join
    reads a materialized node set instead of re-expanding the full
    lineage of levels 1..d−1 inside one action.
    Output: one row per layer — ``(layer int, n_nodes bigint)``
    (layer 0 = seeds; unreached nodes absent).
    """
    # The symmetric edge list is joined at EVERY level (and the caller's
    # seed derivation typically reads the same edges): without a
    # materialization barrier each level re-runs the full edge-building
    # plan (for the co-purchase graph: distinct + self-join + groupBy) —
    # measured ~4 recomputations at depth 3.  One lazy localCheckpoint
    # serves every level from executor-local blocks (r13-opt; the same
    # discipline pagerank/hits/label_propagation already apply).
    sym = _sym(edges).localCheckpoint(eager=False)
    frontier = seeds.select(F.col("node")).distinct()
    visited = frontier
    out = [frontier.select(F.lit(0).alias("layer"), "node")]
    for d in range(1, max_depth + 1):
        nxt = (
            sym.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        ).localCheckpoint(eager=False)
        out.append(nxt.select(F.lit(d).alias("layer"), "node"))
        visited = visited.union(nxt).distinct().localCheckpoint(eager=False)
        frontier = nxt
    allrows = out[0]
    for o in out[1:]:
        allrows = allrows.union(o)
    return (
        allrows.groupBy("layer")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(
            F.col("layer").cast("int").alias("layer"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
        )
    )
