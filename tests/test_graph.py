"""Integer PageRank: hand-computed 3-node trajectory, sink/teleport
behavior, and determinism under repartitioning."""

from hiero_spark.functions.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_hand_computed_trajectory(spark):
    # 1<->2, 3->1; node 3 has no in-links and keeps only teleport mass
    e = _edges(spark, [(1, 2), (2, 1), (3, 1)])
    got = {r["node"]: r["rank_micro"] for r in pagerank(e, n_iter=3).collect()}
    # round 1: r1(1)=150000+85%*2000000=1850000; r1(2)=1000000; r1(3)=150000
    # round 2: r2(1)=1127500; r2(2)=1722500
    # round 3 (asserted):
    assert got == {1: 1741625, 2: 1108375, 3: 150000}


def test_deterministic_under_repartition(spark):
    pairs = [(i, (i * 3 + 1) % 40) for i in range(40) if (i * 3 + 1) % 40 != i]
    a = {r["node"]: r["rank_micro"] for r in pagerank(_edges(spark, pairs)).collect()}
    b = {
        r["node"]: r["rank_micro"]
        for r in pagerank(_edges(spark, pairs).repartition(13)).collect()
    }
    assert a == b  # integer arithmetic: no summation-order drift


def test_rank_mass_reasonable(spark):
    # every node's rank >= teleport base; well-linked nodes exceed it
    pairs = [(i, 0) for i in range(1, 20)]  # star into node 0
    got = {r["node"]: r["rank_micro"] for r in pagerank(_edges(spark, pairs)).collect()}
    assert all(v >= 150000 for v in got.values())
    assert got[0] > 10 * 150000  # the hub collects the mass


# --- connected components ------------------------------------------------


def test_cc_ring_and_bridge(spark):
    """Two 6-rings bridged by one edge collapse to ONE component labeled
    by the global min."""
    from hiero_spark.functions.graph import connected_components

    ring1 = [(i, (i + 1) % 6) for i in range(6)]            # 0..5
    ring2 = [(10 + i, 10 + (i + 1) % 6) for i in range(6)]  # 10..15
    edges = spark.createDataFrame(ring1 + ring2 + [(3, 12)], "src long, dst long")
    cc = connected_components(edges, n_iter=4)
    comps = {r.node: r.component for r in cc.collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == 12


def test_cc_isolated_nodes_need_node_seed(spark):
    from hiero_spark.functions.graph import connected_components

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (99,)], "node long")
    cc = connected_components(edges, nodes=nodes, n_iter=2)
    comps = {r.node: r.component for r in cc.collect()}
    assert comps == {1: 1, 2: 1, 99: 99}
    # without the seed, 99 is invisible
    assert connected_components(edges, n_iter=2).count() == 2


def test_cc_pointer_jump_beats_linear_propagation(spark):
    """A 32-chain closes in 5 rounds with the jump; plain neighbor-min
    alone would need 31."""
    from hiero_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(31)], "src long, dst long"
    )
    cc = connected_components(edges, n_iter=5)
    assert {r.component for r in cc.collect()} == {0}


def test_cc_reach_recurrence_boundary_is_exactly_14_at_3_rounds(spark):
    """Pins the reach recurrence: neighbor-min adds 1 hop, the pointer
    jump doubles, so reach after r rounds is d_r = 2*(d_{r-1}+1) ->
    d_3 = 14 EXACTLY on a path.  Under the convergence cap the
    boundary still shows whenever the cap binds below convergence.

    Both sides of the boundary are asserted so the test fails if the
    implementation ever loses a doubling (e.g. the jump join silently
    becomes a no-op, making 3 rounds reach only 3 hops) OR gains one
    (which would hide an off-by-one if a call site is later tightened
    to the apparent new margin)."""
    from hiero_spark.functions.graph import connected_components

    # Path 0-1-...-15: node 14 is at distance 14 (reachable in 3
    # rounds), node 15 at distance 15 (not reachable until round 4).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "src long, dst long"
    )
    r3 = {r.node: r.component for r in
          connected_components(edges, n_iter=3).collect()}
    assert r3[14] == 0, "3 rounds must reach distance 14 (d_3 = 14)"
    assert r3[15] != 0, (
        "3 rounds must NOT reach distance 15 — if they do, the reach "
        "recurrence documented at the call sites is stale"
    )
    r4 = {r.node: r.component for r in
          connected_components(edges, n_iter=4).collect()}
    assert set(r4.values()) == {0}, "4 rounds (d_4 = 30) close the path"


def test_cc_niter_is_a_convergence_cap_not_a_round_count(spark):
    """n_iter is a convergence cap, not an assumed round count: every
    round's neighbor-min carries the prior label through the
    aggregation and the loop exits the round after nothing changes, so
    a generous cap costs nothing once converged and a deep graph keeps
    iterating instead of silently returning unconverged labels.  A
    diameter-15 path (not closed by 3 rounds) must converge exactly
    under a high cap."""
    from hiero_spark.functions.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "src long, dst long"
    )
    got = {r.node: r.component for r in
           connected_components(edges, n_iter=30).collect()}
    assert got == {i: 0 for i in range(16)}, (
        "diameter-15 path must converge to the component min under a "
        "convergence-checked cap"
    )
    # the cap still BINDS when genuinely insufficient (bounded-round
    # behavior is unchanged below convergence):
    r1 = {r.node: r.component for r in
          connected_components(edges, n_iter=1).collect()}
    assert r1[15] != 0, "1 round (reach d_1 = 2) must not close a 15-path"


def test_cc_shipped_workload_shapes_converge_at_3_rounds(spark):
    """The two shipped workload shapes converge within 3 rounds (block
    diameter 7 for the planted chains of 8; observed diameter 2 for the
    entity-resolution stars).  Reproduce both shapes at operator level
    and assert n_iter=3 is already the fixed point: identical labels to
    n_iter=4, and exactly the expected components."""
    from hiero_spark.functions.graph import connected_components

    # n7 shape: consecutive chains of 8 (diameter 7), 16 blocks.
    chain_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(127) if i % 8 != 7],
        "src long, dst long",
    )
    got3 = {r.node: r.component for r in
            connected_components(chain_edges, n_iter=3).collect()}
    assert got3 == {i: i - i % 8 for i in range(128)}
    got4 = {r.node: r.component for r in
            connected_components(chain_edges, n_iter=4).collect()}
    assert got4 == got3

    # ER shape: star clusters (variant -> original), diameter 2 via the
    # shared hub plus one accidental same-block bridge between stars.
    star_edges = spark.createDataFrame(
        [(h, h + 1_000_000) for h in range(0, 50, 5)] + [(0, 5)],
        "src long, dst long",
    )
    er3 = {r.node: r.component for r in
           connected_components(star_edges, n_iter=3).collect()}
    er4 = {r.node: r.component for r in
           connected_components(star_edges, n_iter=4).collect()}
    assert er3 == er4
    assert er3[5] == 0 and er3[1_000_005] == 0 and er3[1_000_010] == 10


def test_graph_ops_on_in_memory_edges_leave_no_tracked_cache(spark):
    """An in-memory edge list reports Spark's default plan size
    (Long.MaxValue); the iterative operators still materialize their
    edge relation by localCheckpoint, so no tracked persist outlives
    the call."""
    from hiero_spark.functions import graph as G
    from hiero_spark.functions._cachetrack import live_count, release_caches

    release_caches()
    e = _edges(spark, [(0, 1), (1, 2), (5, 6)])
    src = spark.createDataFrame([(0,)], ["node"])
    dist = {r.node: r.dist for r in G.bfs_levels(e, src, max_hops=3).collect()}
    assert dist == {0: 0, 1: 1, 2: 2}
    comp = {r.node: r.component
            for r in G.connected_components(e, n_iter=5).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}
    assert live_count() == 0


# --- BFS levels ----------------------------------------------------------


def test_bfs_hand_built_chain_and_branch(spark):
    from hiero_spark.functions.graph import bfs_levels

    # 0-1-2-3-4 chain plus branch 2-10; source {0}
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (2, 10)])
    src = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_levels(e, src, max_hops=4).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 10: 3}


def test_bfs_multi_source_min_and_undirected(spark):
    from hiero_spark.functions.graph import bfs_levels

    # directed edge 5->6 must still be walkable 6->5 (symmetrized);
    # node 6 is closer to source 7 than to source 0
    e = _edges(spark, [(0, 1), (1, 5), (5, 6), (7, 6)])
    src = spark.createDataFrame([(0,), (7,)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_levels(e, src, max_hops=4).collect()}
    assert got == {0: 0, 7: 0, 1: 1, 6: 1, 5: 2}


def test_bfs_hop_bound_and_unreached_excluded(spark):
    from hiero_spark.functions.graph import bfs_levels

    # chain 0..5 with max_hops=2: nodes past distance 2 absent;
    # disconnected island {100,101} never appears
    e = _edges(
        spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (100, 101)]
    )
    src = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_levels(e, src, max_hops=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_bfs_early_exit_on_empty_frontier(spark):
    from hiero_spark.functions.graph import bfs_levels

    # component exhausts at hop 1; max_hops=50 must not loop 50 rounds
    # (isEmpty short-circuit) and the result is still exact
    e = _edges(spark, [(0, 1), (5, 6)])
    src = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_levels(e, src, max_hops=50).collect()}
    assert got == {0: 0, 1: 1}


# --- Bellman-Ford --------------------------------------------------------


def _wedges(spark, triples):
    return spark.createDataFrame(triples, ["src", "dst", "w"])


def test_bf_weighted_beats_hop_count(spark):
    from hiero_spark.functions.graph import bellman_ford

    # 0->3 direct costs 10; 0->1->2->3 costs 3 — the cheaper LONGER path
    # must win once enough rounds have run (the BFS-vs-BF difference)
    e = _wedges(spark, [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)])
    src = spark.createDataFrame([(0,)], ["node"])
    one = {r["node"]: r["dist"] for r in bellman_ford(e, src, n_rounds=1).collect()}
    assert one[3] == 10  # after 1 round only the direct edge reached it
    full = {r["node"]: r["dist"] for r in bellman_ford(e, src, n_rounds=3).collect()}
    assert full == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bf_undirected_and_multi_source(spark):
    from hiero_spark.functions.graph import bellman_ford

    e = _wedges(spark, [(5, 0, 2), (1, 5, 7)])  # edges point INTO 0/at 5
    src = spark.createDataFrame([(0,), (1,)], ["node"])
    got = {r["node"]: r["dist"] for r in bellman_ford(e, src, n_rounds=2).collect()}
    assert got == {0: 0, 1: 0, 5: 2}  # 5 via 0 (2) beats via 1 (7)


def test_bf_round_bound_is_leg_bound(spark):
    from hiero_spark.functions.graph import bellman_ford

    # chain of weight-1 edges: round k reaches exactly k legs
    e = _wedges(spark, [(i, i + 1, 1) for i in range(5)])
    src = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"] for r in bellman_ford(e, src, n_rounds=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


# --- label propagation ---------------------------------------------------


def test_lp_seeds_clamped_and_majority_wins(spark):
    from hiero_spark.functions.graph import label_propagation

    # node 10 has seeded neighbors 0,1 (label 7) and 2 (label 3):
    # majority 7 wins; seed 2 must keep label 3 even though its own
    # neighbors would vote otherwise
    e = _edges(spark, [(0, 10), (1, 10), (2, 10), (0, 2), (1, 2)])
    seeds = spark.createDataFrame(
        [(0, 7), (1, 7), (2, 3)], ["node", "label"]
    )
    got = {r["node"]: r["label"]
           for r in label_propagation(e, seeds, n_rounds=2).collect()}
    assert got[10] == 7
    assert got[0] == 7 and got[1] == 7 and got[2] == 3  # clamped


def test_lp_tie_breaks_to_smallest_label(spark):
    from hiero_spark.functions.graph import label_propagation

    e = _edges(spark, [(0, 10), (1, 10)])
    seeds = spark.createDataFrame([(0, 9), (1, 4)], ["node", "label"])
    got = {r["node"]: r["label"]
           for r in label_propagation(e, seeds, n_rounds=1).collect()}
    assert got[10] == 4  # 1-1 tie -> smallest label


def test_lp_propagates_by_rounds_and_skips_unreached(spark):
    from hiero_spark.functions.graph import label_propagation

    # chain seed-0 - 1 - 2 - 3; island 99
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (99, 98)])
    seeds = spark.createDataFrame([(0, 5)], ["node", "label"])
    one = {r["node"]: r["label"]
           for r in label_propagation(e, seeds, n_rounds=1).collect()}
    assert one == {0: 5, 1: 5}  # one hop per round
    three = {r["node"]: r["label"]
             for r in label_propagation(e, seeds, n_rounds=3).collect()}
    assert three == {0: 5, 1: 5, 2: 5, 3: 5}  # island never labeled


# --- differential fuzz: random graphs vs a pure-Python reference — the
# window/set-op fuzzer discipline applied to the iterative graph operators


def _py_bfs(edges, sources, max_hops):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = h
                    nxt.add(v)
        if not nxt:
            break
        frontier = nxt
    return dist


def _py_bf(edges, sources, n_rounds):
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    dist = {s: 0 for s in sources}
    for _ in range(n_rounds):
        new = dict(dist)
        for u, d in dist.items():
            for v, w in adj.get(u, ()):
                if v not in new or d + w < new[v]:
                    new[v] = d + w
        dist = new
    return dist


def test_bfs_fuzz_vs_python_reference(spark):
    import random

    from hiero_spark.functions.graph import bfs_levels

    rng = random.Random(1234)
    for trial in range(5):
        n = rng.randint(8, 24)
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randint(n, 3 * n))
            }
        )
        edges = [(u, v) for u, v in edges if u != v]
        sources = rng.sample(range(n), rng.randint(1, 3))
        hops = rng.randint(1, 4)
        got = {
            r["node"]: r["dist"]
            for r in bfs_levels(
                spark.createDataFrame(edges, ["src", "dst"]),
                spark.createDataFrame([(s,) for s in sources], ["node"]),
                max_hops=hops,
            ).collect()
        }
        assert got == _py_bfs(edges, sources, hops), (trial, edges, sources)


def test_bellman_ford_fuzz_vs_python_reference(spark):
    import random

    from hiero_spark.functions.graph import bellman_ford

    rng = random.Random(99)
    for trial in range(5):
        n = rng.randint(8, 20)
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randint(n, 3 * n))
            }
        )
        edges = [
            (u, v, rng.randint(0, 9)) for u, v in edges if u != v
        ]
        sources = rng.sample(range(n), rng.randint(1, 2))
        rounds = rng.randint(1, 4)
        got = {
            r["node"]: r["dist"]
            for r in bellman_ford(
                spark.createDataFrame(edges, ["src", "dst", "w"]),
                spark.createDataFrame([(s,) for s in sources], ["node"]),
                n_rounds=rounds,
            ).collect()
        }
        assert got == _py_bf(edges, sources, rounds), (trial, edges, sources)


def test_local_clustering_coefficient_hand_graph(spark):
    """K3 plus one pendant: triangle nodes have cc = 1 (a,b) or 1/3 (the
    hub with the pendant), the pendant has degree 1 -> cc 0."""
    from hiero_spark.functions.graph import local_clustering_coefficient

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    got = {r["node"]: (r["degree"], r["n_triangles"], r["local_cc"])
           for r in local_clustering_coefficient(edges).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3, 6))
    assert got[4] == (1, 0, 0.0)


def _py_kcore(edges, k, rounds):
    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    for _ in range(rounds):
        deg = {}
        for a, b in und:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        bad = {v for v, d in deg.items() if d < k}
        if not bad:
            break
        und = {(a, b) for a, b in und if a not in bad and b not in bad}
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return deg


def test_kcore_fuzz_vs_python_reference(spark):
    import random

    from hiero_spark.functions.graph import k_core

    rng = random.Random(77)
    for trial in range(5):
        n = rng.randint(8, 24)
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randint(n, 4 * n))
            }
        )
        edges = [(u, v) for u, v in edges if u != v]
        k = rng.randint(1, 4)
        rounds = rng.randint(1, 6)
        got = {
            r["node"]: r["core_degree"]
            for r in k_core(
                spark.createDataFrame(edges, ["src", "dst"]), k, n_rounds=rounds
            ).collect()
        }
        assert got == _py_kcore(edges, k, rounds), (trial, edges, k, rounds)


def test_kcore_known_graph_and_convergence_budget(spark, sf_dir):
    """K4 with a tail: the 3-core is exactly the K4. Plus the registered
    corpus budget claim: the doc link graph's 3-core peeling converges
    within the pinned 6 rounds at the driver's scales, so n7_kcore's
    bounded-round result IS the true 3-core."""
    from hiero_spark.functions.graph import k_core
    from hiero_spark.registry import all_queries

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    got = {
        r["node"]: r["core_degree"]
        for r in k_core(spark.createDataFrame(edges, ["src", "dst"]), 3).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # convergence-within-budget on the registered corpus: one extra round
    # changes nothing
    spec = all_queries()["n7_kcore"]
    six = sorted(map(tuple, spec.fn(spark, sf_dir).collect()))
    from pyspark.sql import functions as F
    from hiero_spark.queries._util import t as _t

    docs = _t(spark, sf_dir, "documents")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    e = (
        docs.select("doc_id", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"))
        .select(F.col("doc_id").alias("src"),
                ((F.col("doc_id") * 7 + F.col("j") * 13) % n).alias("dst"))
        .filter(F.col("dst") != F.col("src"))
    )
    seven = sorted(map(tuple, k_core(e, k=3, n_rounds=7).collect()))
    assert six == seven, "peeling not converged within the pinned budget"


def _py_components(edges):
    """Union-find reference: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_cc_fuzz_vs_python_reference(spark):
    """connected_components (hash-min + pointer jumping) vs union-find
    on random graphs — the CC fuzz the BFS/BF/k-core trio already had.
    n_iter=5 pointer-jumping rounds cover label distance 2^5, far past
    any 24-node diameter."""
    import random

    from hiero_spark.functions.graph import connected_components

    rng = random.Random(4242)
    for trial in range(5):
        n = rng.randint(8, 24)
        edges = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randint(n // 2, 3 * n))
            }
        )
        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            continue
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                spark.createDataFrame(edges, ["src", "dst"])
            ).collect()
        }
        assert got == _py_components(edges), (trial, edges)


def _py_triangles(edges):
    """node set, canonical edge set, per-node triangle counts."""
    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    nodes = {x for e in und for x in e}
    adj = {x: set() for x in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    tri = {x: 0 for x in nodes}
    n_tri = 0
    for a, b in und:
        for c in adj[a] & adj[b]:
            if a < b < c:
                n_tri += 1
                tri[a] += 1
                tri[b] += 1
                tri[c] += 1
    return nodes, und, tri, n_tri


def test_triangle_count_fuzz_vs_python_reference(spark):
    import random

    from hiero_spark.functions.graph import triangle_count

    rng = random.Random(777)
    for trial in range(5):
        n = rng.randint(6, 18)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(n, 4 * n))
        ]  # duplicates and both orientations on purpose: must canonicalize
        nodes, und, _tri, n_tri = _py_triangles(edges)
        if not und:
            continue
        row = triangle_count(
            spark.createDataFrame(edges, ["src", "dst"])
        ).collect()[0]
        assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (
            len(nodes), len(und), n_tri,
        ), (trial, edges)


def test_clustering_coefficient_fuzz_vs_python_reference(spark):
    import random

    from hiero_spark.functions.graph import local_clustering_coefficient

    rng = random.Random(909)
    for trial in range(5):
        n = rng.randint(6, 18)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(n, 4 * n))
        ]
        nodes, und, tri, _n_tri = _py_triangles(edges)
        if not und:
            continue
        adj = {x: set() for x in nodes}
        for a, b in und:
            adj[a].add(b)
            adj[b].add(a)
        got = {
            r["node"]: (r["degree"], r["n_triangles"], r["local_cc"])
            for r in local_clustering_coefficient(
                spark.createDataFrame(edges, ["src", "dst"])
            ).collect()
        }
        assert set(got) == nodes, (trial, edges)
        for x in nodes:
            d, t = len(adj[x]), tri[x]
            cc = 2.0 * t / (d * (d - 1)) if d >= 2 else 0.0
            gd, gt, gcc = got[x]
            # the operator rounds local_cc to 6 decimals (oracle
            # hashability) — integers exact, coefficient to half-ulp
            assert (gd, gt) == (d, t), (trial, x, edges)
            assert abs(gcc - cc) <= 5e-7, (trial, x, gcc, cc)
