"""Link-graph quality scoring for web-corpus curation: PageRank.

Pretraining pipelines score crawled pages by link centrality (OPIC /
PageRank buckets in CommonCrawl derivatives) and keep or up-sample the
well-linked tail. This implements the power iteration as DataFrame
join+agg rounds — the same iterative shape as connected_components'
label propagation (per round: one join edges⋈ranks, one groupBy(dst) sum;
ranks persist per round and lineage is cut with localCheckpoint so the
plan doesn't deepen).

Cross-engine exactness: the textbook formulation accumulates doubles,
whose sum order differs between engines and between partitionings. Here
ranks live in SCALED LONG micro-units (1.0 == 10^6): contributions are
integer divisions (rank DIV out_degree), damping is (85 * sum) DIV 100,
and every sum is exact long addition — the fixpoint trajectory is
bit-identical in Spark and DuckDB (mirrored as chained CTEs), so the
oracle hash-checks raw values, no tolerance, no rounding games. The
truncation this introduces is <= out_degree micro-units per edge per
round — immaterial for ranking, decisive for verifiability.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

SCALE = 1_000_000  # rank 1.0 in micro-units

def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank_micro, rank): integer-arithmetic PageRank after
    n_iter rounds, initial rank 1.0, teleport (100-damping_pct)%.
    Nodes = union of edge endpoints; a node with no in-links keeps the
    teleport mass."""
    # one-time materialization of the static relations (the bfs_levels
    # lesson): edge list, node set, and out-degrees are loop-invariant,
    # but without the checkpoint every round's
    # contribs join re-derives the caller's edge plan and every ranks
    # rebuild re-runs the nodes distinct and the outdeg aggregation —
    # 3 redundant subplans per iteration.
    ed = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
    ).localCheckpoint()
    nodes = (
        ed.select(F.col("e_src").alias("node"))
        .union(ed.select(F.col("e_dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = ed.groupBy(F.col("e_src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint()
    ranks = nodes.withColumn("r", F.lit(SCALE).cast("long")).localCheckpoint()
    base = (SCALE * (100 - damping_pct)) // 100
    for _ in range(n_iter):
        contribs = (
            ed.join(ranks, ed["e_src"] == ranks["node"])
            .join(outdeg, outdeg["node"] == ranks["node"])
            .select(
                F.col("e_dst").alias("node"),
                F.expr("r DIV outdeg").alias("c"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) DIV 100")
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_micro"),
        (F.col("r") / F.lit(float(SCALE))).alias("rank"),
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple graph induced by `edges`: one (a, b) row
    per edge with a < b — direction, self-loops and duplicates dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _triangles(und: DataFrame) -> DataFrame:
    """Every triangle {x<y<z} of an `_undirected` edge list exactly once,
    as the compact-forward chain e1(x,y) ⋈ e2(y,z) ⋈ e3(x,z): each wedge
    is generated from its middle node only, both endpoints larger."""
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return e1.join(e2, "y").join(e3, ["x", "z"])


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over the undirected simple graph induced by
    `edges` (direction and duplicates dropped). One row:
    (n_nodes, n_edges, n_triangles).

    Shape: canonicalize each edge to (lo, hi) and distinct — every
    triangle {a<b<c} is then counted exactly once by the two-join chain
    e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c). Both joins are equi-joins on node ids
    (shuffle- or broadcast-hash under AQE); intermediate size is the
    wedge count Σ_b deg_lo(b)·deg_hi(b), which the canonical a<b<c
    orientation keeps far below the undirected Σ deg² (each wedge is
    generated from its middle node only, with both endpoints larger —
    the standard compact-forward bound). Integer counts, so the oracle
    is exact with no tolerance.
    """
    und = _undirected(edges, src, dst)
    tris = _triangles(und)
    nodes = und.select(F.col("a").alias("n")).union(
        und.select(F.col("b").alias("n"))
    ).distinct()
    return (
        tris.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )


def local_clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node local clustering coefficient over the undirected simple
    graph: cc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)), 0 for
    degree < 2.  Returns (node, degree, n_triangles, local_cc).

    Shape: the same compact-forward wedge chain as triangle_count
    (each triangle {x<y<z} materialized once), then one explode to credit
    its three corners and two bounded groupBys — intermediate size is
    the wedge bound, output is O(nodes).  Counts are exact integers and
    the coefficient is one double expression over them, so the whole
    statistic is hash-checkable cross-engine (most graph ops are
    rows-only; this one earns a full SQL oracle).
    """
    und = _undirected(edges, src, dst)
    tri_per_node = (
        _triangles(und)
        .select(F.explode(F.array("x", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    joined = deg.join(tri_per_node, "v", "left").select(
        F.col("v").alias("node"),
        F.col("d").cast("long").alias("degree"),
        F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
        F.round(
            F.when(
                F.col("d") >= 2,
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("local_cc"),
    )
    return joined


def k_core(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
    n_rounds: int = 6,
) -> DataFrame:
    """Bounded-round k-core peeling over the undirected simple graph:
    repeatedly drop every node of degree < k, `n_rounds` times (or until
    the fixed point arrives early — a no-op round changes nothing, so
    early-stop and exhaust-the-budget agree).  Returns (node,
    core_degree) of the surviving subgraph.

    The BOUNDED-round contract is what makes the statistic hash-checkable
    cross-engine: peeling is non-monotone (each round negates the
    previous round's survivor set), so no recursive-CTE oracle exists for
    the fixed point — but "peel exactly R rounds" unrolls into R plain
    CTE stages that DuckDB runs verbatim (the CC/BFS bounded-round
    precedent).  When R >= the graph's peeling depth the result IS the
    true k-core; tests assert the registered corpus converges within the
    pinned budget.

    Shape per round: one degree aggregation + two anti-joins over a
    shrinking edge set; localCheckpoint cuts the per-round lineage (the
    iterative-graph contract).  Peeling depth on real graphs is small —
    degeneracy ordering removes whole layers per round.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    cur = _undirected(edges, src, dst).localCheckpoint()

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    from pyspark.sql import Observation

    for _ in range(n_rounds):
        # one degree pass per round: the emptiness check rides the
        # checkpoint job as an Observation instead of a separate
        # isEmpty() job re-running the aggregation
        obs = Observation()
        bad = (
            degrees(cur).filter(F.col("d") < k).select("v")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        if _observed(obs, "n", lambda: bad.count()) == 0:
            break
        cur = (
            cur.join(bad.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(bad.withColumnRenamed("v", "b"), "b", "left_anti")
            .localCheckpoint()
        )
    return degrees(cur).select(
        F.col("v").alias("node"), F.col("d").cast("long").alias("core_degree")
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
) -> DataFrame:
    """(node, component): hash-min label propagation with pointer
    jumping — component id is the MIN node id reachable within the
    round horizon (the exact component min once converged).

    Each round is two equi-join + min-agg steps, both plain shuffles:

    1. neighbor min — L(v) <- min over u in N(v) ∪ {v} of L(u); the
       self term rides a (v, v) self-loop row appended to the
       symmetrized edge list once, so one join + one min-agg covers
       both the neighbor minimum and the node's own label.  The
       node's PRIOR label also rides through the same aggregation as
       a second min column (only the self-loop row contributes it).
    2. pointer jump — L(v) <- L(L(v)), which squares the propagation
       distance; with it, convergence needs O(log diameter) rounds
       instead of O(diameter) — the difference between 5 rounds and
       5000 on a chain-shaped 100 TB web graph. (GraphFrames' CC uses
       the same alternating contraction idea.)

    CONVERGENCE-CHECKED EXIT: `n_iter` is a CAP, not an
    assumed round count.  A round whose neighbor-min step changes no
    label is a proof of full convergence — stability under
    neighbor-min over the symmetric self-looped edge relation forces
    labels constant per component, and since labels only decrease and
    the component's min node always carries its own id, that constant
    is the component min; the pointer jump is then the identity.  The
    check is FREE: `sum(label < old)` rides the round's own
    checkpoint materialization as an Observation (no extra job, no
    extra pass — verified against Spark 4.1, with a counting fallback
    if a future Spark stops reporting metrics for checkpoint
    actions).  Callers therefore pass a generous cap instead of a
    proved round count — the declared semantics is "connected
    components", not "k rounds of propagation" — and a 100 TB graph
    with a deep component keeps iterating instead of silently
    returning unconverged labels.

    The observation round a convergence exit inherently adds is paid
    for elsewhere: round 1 runs NO join at all (the initial labels are
    the identity, so the neighbor-min is a plain aggregation over the
    self-looped edge list); the self-looped union is not separately
    checkpointed or pre-partitioned, at any input size (both of its
    inputs already are checkpointed — re-deriving a union per round is
    free); and one setup distinct covers both endpoint sources.

    The symmetrized edge list is materialized ONCE up front (the
    bfs_levels lesson): without it every round's joins
    re-derive the caller's edge plan — for entity resolution that
    plan is a blocking self-join plus a levenshtein filter.  The
    per-round checkpoint sits on the neighbor-min frame, so the jump
    join reads materialized data on both sides and the round's label
    frame stays a single lazy join deep (lineage cut every round).

    `nodes` (optional) seeds labels for isolated vertices that appear
    in no edge — without it, only edge endpoints get a component (the
    self-loop row keeps them carrying their own label through every
    round). Integer labels, exact min monoid: the result is
    deterministic and SQL-reproducible from the edge arithmetic, no
    tolerance.
    """
    from pyspark.sql import Observation

    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).localCheckpoint()
    endpoints = sym.select(F.col("u").alias("node"))
    if nodes is not None:
        endpoints = endpoints.union(
            nodes.select(F.col(nodes.columns[0]).alias("node"))
        )
    # one distinct covers both sources
    endpoints = endpoints.distinct().localCheckpoint()
    # lazy union: both inputs are checkpointed, so per-round re-derivation
    # is a free concat — a third checkpoint would buy nothing
    symx = sym.union(
        endpoints.select(F.col("node").alias("u"), F.col("node").alias("v"))
    )
    labels = None  # identity through round 1 — see below
    for it in range(n_iter):
        if labels is None:
            # round 1: L(v) = v, so the neighbor-min needs NO join —
            # min(v) over the self-looped adjacency IS min(L) over
            # N(u) ∪ {u}, and the self-loop row carries old = u
            grouped = symx.groupBy(F.col("u").alias("node")).agg(
                F.min("v").alias("label"),
                F.min(F.when(F.col("u") == F.col("v"), F.col("v"))).alias(
                    "old"
                ),
            )
        else:
            joined = symx.join(labels, symx["v"] == labels["node"])
            grouped = joined.groupBy(symx["u"].alias("node")).agg(
                F.min(labels["label"]).alias("label"),
                # exactly one self-loop row per node contributes here,
                # so min() recovers the node's own prior label
                F.min(
                    F.when(symx["u"] == symx["v"], labels["label"])
                ).alias("old"),
            )
        obs = Observation()
        stepped = grouped.observe(
            obs,
            F.sum(
                F.when(F.col("label") < F.col("old"), 1).otherwise(0)
            ).alias("changed"),
        ).localCheckpoint()
        changed = _observed(
            obs, "changed",
            lambda: stepped.filter(F.col("label") < F.col("old")).count(),
        )
        if changed == 0:
            labels = stepped.select("node", "label")
            break
        l2 = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        labels = (
            stepped.join(l2, stepped["label"] == l2["p_node"])
            .select("node", F.col("p_label").alias("label"))
        )
    if labels is None:  # n_iter == 0: identity labeling
        labels = endpoints.select("node", F.col("node").alias("label"))
    return labels.select("node", F.col("label").alias("component"))


def _observed(obs, key: str, fallback) -> int:
    """An integer metric from an Observation the round's checkpoint
    materialization already filled (zero extra jobs — Spark's
    checkpoint runs under withAction, so QueryExecutionListener metrics
    fire; verified on Spark 4.1).  If a future Spark stops reporting
    metrics for checkpoint actions the Observation would never fill, so
    the wait is bounded and `fallback()` runs an explicit (cheap — it
    reads checkpointed rows) job instead."""
    import threading

    out: dict = {}

    def _get():
        try:
            out["v"] = obs.get
        except Exception:
            pass

    t = threading.Thread(target=_get, daemon=True)
    t.start()
    t.join(timeout=30.0)
    if "v" in out and out["v"].get(key) is not None:
        return int(out["v"][key])
    return int(fallback())


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """(node, dist): multi-source unweighted shortest-path hop distance
    (BFS levels) over the undirected graph, bounded at `max_hops`.

    Pregel frontier discipline — the property that keeps this alive on
    a 100 TB graph: each round joins ONLY the previous round's frontier
    (nodes first reached last round) against the edge list, so round
    cost is O(frontier-adjacent edges), never O(all edges); the dist
    table grows monotonically by set-union and is never recomputed.
    A node's distance is final the round it is first reached (BFS
    invariant), so "new this round" is one anti-join against dist.
    Rounds are O(max_hops) — distance doesn't pointer-jump the way
    component labels do (doubling reach would need dist+dist joins,
    i.e. all-pairs work), so callers bound hops explicitly; small-world
    graphs saturate in a handful of rounds anyway. localCheckpoint cuts
    lineage per round (the pagerank/connected_components contract), and
    an empty frontier short-circuits (the checkpoint makes isEmpty a
    metadata peek, not a recompute). Exact integer output — the oracle
    is a bounded-depth recursive closure, hash-checked, no tolerance.
    """
    # materialize the symmetrized edge list ONCE: without this, every
    # round's join re-derives the caller's edge plan (e.g. the
    # orders⋈lineitem distinct) — measured 6.2 s -> 4.0 s at sf0.1; the residual is per-round job overhead, not data. dist accumulates as LAYERS (each hop's checkpointed frame, unioned lazily) so no round rewrites the whole O(V) table — local wall is indifferent at sf0.1, the 100 TB write amplification is not
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).localCheckpoint()
    dist = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    frontier = dist.select("node")
    pieces = [dist]  # each hop's checkpointed layer; never re-materialized
    from pyspark.sql import Observation

    for h in range(1, max_hops + 1):
        seen = reduce(lambda a, b: a.unionByName(b), pieces)
        # the empty-frontier check rides the layer's own checkpoint
        # materialization as an Observation (the CC pattern) instead of
        # one extra isEmpty() job per hop
        obs = Observation()
        nxt = (
            sym.join(frontier, sym["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .withColumn("dist", F.lit(h).cast("long"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        if _observed(obs, "n", lambda: nxt.count()) == 0:
            break
        pieces.append(nxt)
        frontier = nxt.select("node")
    return reduce(lambda a, b: a.unionByName(b), pieces)


def bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    n_rounds: int = 3,
) -> DataFrame:
    """(node, dist): cheapest WEIGHTED distance from any source over
    paths of at most `n_rounds` edges — Bellman-Ford with a bounded
    round count (bfs_levels' weighted sibling; hops generalize to
    nonnegative integer edge weights).

    Each round relaxes every edge once: dist' = min(dist, min over
    in-edges (dist(u) + w)) as one join + one min-groupBy — a full
    O(E) pass per round, NOT frontier-only, because a weighted
    distance can improve after first discovery (the property that
    separates this from BFS). The exact long min-monoid makes the
    fixpoint trajectory engine- and partitioning-independent, so the
    round-k table is mirrored exactly by k chained CTEs (the pagerank
    oracle pattern). Bounded rounds are the contract, not a cut
    corner: round k IS "best within k legs", the question supply-path
    analyses ask; a full fixpoint on a 100 TB graph would run
    delta-stepping instead (documented seam). localCheckpoint per
    round cuts lineage.
    """
    # one-time edge materialization (the bfs_levels lesson): rounds must
    # relax a stored table, not re-run the caller's edge derivation
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w"),
    ).union(
        edges.select(
            F.col(dst).alias("u"), F.col(src).alias("v"), F.col(weight).alias("w"),
        )
    ).localCheckpoint()
    dist = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    for _ in range(n_rounds):
        relaxed = (
            sym.join(dist, sym["u"] == dist["node"])
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 3,
) -> DataFrame:
    """(node, label): semi-supervised node classification — seed nodes
    carry known class labels, every round each UNSEEDED node takes the
    majority label among its labeled neighbors (ties -> smallest
    label; unlabeled neighbors don't vote). Seeds are clamped: they
    never change class, which is what separates classification from
    connected_components' label-minimum collapse.

    Per round: one join edges⋈labels + one (node, label) count + one
    deterministic argmax (row_number over cnt DESC, label ASC — the
    exact tie order the oracle mirrors, so the whole trajectory is
    engine- and partitioning-independent integers). Round cost is
    O(E) joins against a labels table bounded by |V|; rounds bound
    propagation distance from the seed set, the usual 2-3 for
    small-world graphs. localCheckpoint cuts lineage per round.
    """
    from pyspark.sql.window import Window

    # rounds join a stored table, not the edge plan
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).localCheckpoint()
    seed_df = (
        seeds.select(
            F.col(seeds.columns[0]).alias("node"),
            F.col(seeds.columns[1]).cast("long").alias("label"),
        )
        .localCheckpoint()
    )
    labels = seed_df
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(n_rounds):
        votes = (
            sym.join(labels, sym["v"] == labels["node"])
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        winner = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
        labels = (
            seed_df.unionByName(
                winner.join(seed_df, "node", "left_anti")
            ).localCheckpoint()
        )
    return labels
