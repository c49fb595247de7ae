"""Unit invariants for the graph-walk operators (operators/graph.py)
beyond the oracle differential: analytic correctness on a hand-solved
graph, mass conservation, and the lazy/no-cartesian plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_warehouse_implementation_spark.operators import graph
from data_warehouse_implementation_spark.plans import graph_queries
from data_warehouse_implementation_spark.session import load_tables

SF = "/root/testdata/sf0.001"


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, weight long")


def test_pagerank_uniform_cycle_is_fixed_point(spark):
    """On a directed cycle every node has one out-edge and one in-edge,
    so the uniform distribution 1/N is PageRank's exact fixed point —
    after any number of iterations each rank must be exactly 1/N."""
    n = 5
    rows = [(f"v{i}", f"v{(i + 1) % n}", 1) for i in range(n)]
    got = {r.node: r["rank"] for r in graph.pagerank(_edges(spark, rows), iterations=4).collect()}
    assert len(got) == n
    for v in got.values():
        assert abs(v - 1 / n) < 1e-15


def test_pagerank_hand_solved_star(spark):
    """Two spokes pointing at a hub, hub pointing back at one spoke
    (every node keeps an out-edge): one synchronous iteration from the
    uniform start has a closed form — replay it by hand and compare
    exactly. Ranks must also conserve probability mass."""
    rows = [("a", "h", 1), ("b", "h", 1), ("h", "a", 1)]
    ranks = graph.pagerank(_edges(spark, rows), iterations=1, damping=0.85)
    got = {r.node: r["rank"] for r in ranks.collect()}
    base = 0.15 / 3
    # h receives all of a's and b's mass; a receives all of h's
    assert abs(got["h"] - (base + 0.85 * (1 / 3 + 1 / 3))) < 1e-15
    assert abs(got["a"] - (base + 0.85 * (1 / 3))) < 1e-15
    assert abs(got["b"] - base) < 1e-15
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_pagerank_weight_sensitivity(spark):
    """Weights must matter: with c sending 9x more weight to a than to
    b, a must out-rank b (identical otherwise)."""
    rows = [("c", "a", 9), ("c", "b", 1), ("a", "c", 1), ("b", "c", 1)]
    got = {r.node: r["rank"] for r in graph.pagerank(_edges(spark, rows), iterations=5).collect()}
    assert got["a"] > got["b"]
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_pagerank_plan_is_lazy_and_join_based(spark):
    """Fixed-iteration pagerank must compile to ONE lazy plan — no
    driver-side actions while composing — and the plan must contain no
    cartesian product (the scalar N travels as a broadcast row)."""
    t = load_tables(spark, SF)
    edges = graph_queries._purchase_edges(t)
    ranks = graph.pagerank(edges, iterations=3)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # full pipeline executes and conserves mass on real data
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9


def test_purchase_pagerank_suppliers_outrank_customers(spark):
    """At TPC-H-ish fan-in (many customers per supplier, few suppliers)
    suppliers concentrate walk mass — every supplier node in the top-k
    must out-rank every customer node, and ranks must be positive and
    sorted (sf0.001 has 10 suppliers, so the top-20 holds all of them
    followed by the strongest customers)."""
    t = load_tables(spark, SF)
    rows = graph_queries.purchase_graph_pagerank(t).collect()
    assert 0 < len(rows) <= graph_queries.PR_TOPK
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r["rank"] > 0 for r in rows)
    min_supplier = min(r["rank"] for r in rows if r.node.startswith("s:"))
    max_customer = max(
        (r["rank"] for r in rows if r.node.startswith("c:")), default=0.0
    )
    assert min_supplier > max_customer


def test_label_propagation_two_cliques(spark):
    """Two weighted triangles joined by one weak bridge must resolve to
    two communities, each labeled by its minimum member (synchronous
    rounds, min tie-break)."""
    tri1 = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c"), ("c", "b")]
    tri2 = [("x", "y"), ("y", "x"), ("x", "z"), ("z", "x"), ("y", "z"), ("z", "y")]
    bridge = [("c", "x"), ("x", "c")]
    rows = [(s, d, 10) for s, d in tri1 + tri2] + [(s, d, 1) for s, d in bridge]
    edges = spark.createDataFrame(rows, "src string, dst string, weight long")
    got = {r.node: r.label for r in graph.label_propagation(edges, iterations=4).collect()}
    assert {got["a"], got["b"], got["c"]} == {"a"}
    assert {got["x"], got["y"], got["z"]} == {"x"}


def test_label_propagation_no_in_edges_keeps_label(spark):
    """A source-only node (no in-edges) must keep its own label through
    every round."""
    edges = spark.createDataFrame(
        [("lonely", "hub", 1), ("hub", "other", 1), ("other", "hub", 1)],
        "src string, dst string, weight long",
    )
    got = {r.node: r.label for r in graph.label_propagation(edges, iterations=3).collect()}
    assert got["lonely"] == "lonely"


def test_cooccurrence_edges_weights_and_cap(spark):
    rows = [("g1", 1), ("g1", 2), ("g1", 3), ("g2", 1), ("g2", 2), ("g2", 2)]
    df = spark.createDataFrame(rows, "g string, i long")
    got = {
        (r.s1, r.s2): r.weight
        for r in graph.cooccurrence_edges(df, "g", "i").collect()
    }
    # duplicate (g2, 2) collapses; (1,2) co-occur in both groups
    assert got == {(1, 2): 2, (1, 3): 1, (2, 3): 1}
    capped = {
        (r.s1, r.s2): r.weight
        for r in graph.cooccurrence_edges(df, "g", "i", max_items_per_group=2).collect()
    }
    # cap keeps the 2 smallest ids per group: g1 -> {1,2}, g2 -> {1,2}
    assert capped == {(1, 2): 2}


def test_top_decile_edges_exact_cut(spark):
    rows = [(i, i + 100, 1000 - i) for i in range(20)]  # unique weights
    df = spark.createDataFrame(rows, "s1 long, s2 long, weight long")
    got = sorted(
        (r.s1, r.s2) for r in graph.top_decile_edges(df).collect()
    )
    # 20 edges -> rank*10 <= 20 keeps exactly the top 2 by weight
    assert got == [(0, 100), (1, 101)]


def _brute_triangles(edges):
    from collections import defaultdict

    nbr = defaultdict(set)
    for u, v in edges:
        nbr[u].add(v)
        nbr[v].add(u)
    per = defaultdict(int)
    nodes = sorted(nbr)
    tri = 0
    for i, x in enumerate(nodes):
        for y in [n for n in nbr[x] if n > x]:
            for z in [n for n in nbr[x] if n > y]:
                if z in nbr[y]:
                    tri += 1
                    per[x] += 1
                    per[y] += 1
                    per[z] += 1
    return tri, dict(per)


def test_count_triangles_matches_brute_force(spark):
    """Degree orientation must count each triangle exactly once on a
    graph with hubs, bridges, and disjoint components — compared
    against a brute-force reference; node-iterator K4 sanity too."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    got = {
        r.node: r.n_triangles
        for r in graph.count_triangles(
            spark.createDataFrame(k4, "s1 long, s2 long")
        ).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}  # K4: 4 triangles, 3 per node

    # hub (0) fanning to 1..8, ring among 1..4, pendant component
    messy = (
        [(0, i) for i in range(1, 9)]
        + [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)]
        + [(20, 21)]
    )
    want_total, want_per = _brute_triangles(messy)
    got = {
        r.node: r.n_triangles
        for r in graph.count_triangles(
            spark.createDataFrame(messy, "s1 long, s2 long")
        ).collect()
    }
    assert got == want_per
    assert sum(got.values()) == 3 * want_total


def _brute_core_numbers(edges):
    """Reference k-core by literal peeling."""
    from collections import defaultdict

    nbr = defaultdict(set)
    for u, v in edges:
        nbr[u].add(v)
        nbr[v].add(u)
    core = {}
    alive = dict(nbr)
    k = 0
    while alive:
        k += 1
        while True:
            peel = [n for n, ns in alive.items() if len(ns) < k]
            if not peel:
                break
            for n in peel:
                core[n] = k - 1
                for m in alive[n]:
                    alive[m].discard(n)
                del alive[n]
    return core


def test_core_numbers_matches_peeling_reference(spark):
    """The h-index fixpoint must equal literal peeling on a graph with
    a K4 (core 3) hanging off a ring (core 2) with pendant chains
    (core 1) and a disjoint edge; one extra round is idempotent."""
    edges = (
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]  # K4
        + [(4, 5), (5, 6), (6, 7), (7, 5)]  # triangle ring off node 4
        + [(7, 8), (8, 9)]  # chain
        + [(30, 31)]  # disjoint edge
    )
    want = _brute_core_numbers(edges)
    df = spark.createDataFrame(edges, "s1 long, s2 long")
    got = {
        r.node: r.core for r in graph.core_numbers(df, rounds=10).collect()
    }
    assert got == want
    again = {
        r.node: r.core for r in graph.core_numbers(df, rounds=11).collect()
    }
    assert again == got  # fixpoint: extra rounds are idempotent


def test_round_loops_free_their_edge_caches(spark, tmp_path):
    """The walks whose rounds aggregate on the edge key cache the
    hash-partitioned edge list (label propagation, k-core); the round
    driver must unpersist it before returning, so repeated calls in one
    session — a streaming refresh recomputing k-core per trigger —
    leave no InMemoryRelation behind."""
    from data_warehouse_implementation_spark import streaming
    from data_warehouse_implementation_spark.sources.catalog import WarehouseCatalog

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()

    rows = [("a", "h", 3), ("b", "h", 1), ("h", "a", 2), ("h", "b", 1), ("a", "b", 1)]
    assert graph.label_propagation(_edges(spark, rows), iterations=2).collect()
    und = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "s1 long, s2 long"
    )
    cores = {r.node: r.core for r in graph.core_numbers(und, rounds=4).collect()}
    assert cores == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}

    cat = WarehouseCatalog(spark, str(tmp_path / "wh"))
    cat.write(
        "ec_edges",
        spark.createDataFrame(
            [(0, 1, 2, 1), (0, 1, 3, 1), (1, 2, 3, 1)],
            "batch_id long, s1 long, s2 long, w long",
        ),
    )
    for _ in range(2):
        got = {
            r.node: r.core
            for r in streaming.kcore_from_state(cat, "ec", strong=False).collect()
        }
        assert got == {1: 2, 2: 2, 3: 2}
    assert cache_manager.numCachedEntries() == before


def test_pagerank_null_weight_out_edges_not_dangling(spark):
    """ADVICE r15 (graph.py fused degree aggregate): a node whose
    out-edges all carry NULL weights must classify as NON-dangling —
    the pre-fusion existence anti-join semantics — so
    ``dangling='forbid'`` does not raise on such graphs."""
    rows = [("a", "b", 1), ("b", "a", None)]
    e = spark.createDataFrame(rows, "src string, dst string, weight long")
    got = {r.node: r["rank"] for r in graph.pagerank(e, iterations=1).collect()}
    assert set(got) == {"a", "b"}  # forbid-mode guard did NOT fire
