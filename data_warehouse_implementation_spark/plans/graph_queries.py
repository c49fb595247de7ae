"""Graph-walk queries over the purchase graph (brief extension; no
reference analog — see ``operators/graph.py``).

The testdata's natural graph is bipartite: customers and suppliers
connected by lineitems (lineitem ⋈ orders resolves both endpoints).
Edges run in BOTH directions weighted by the lineitem count, so the
random walk has no dangling nodes and PageRank measures centrality in
the purchasing network — the pattern a corpus engine reuses for
link-weighted document importance (citation graphs, crawl graphs).

Oracle: the power iteration is unrolled into one chained CTE per round
(the same generated-not-hand-written pattern as the BPE oracle) — a
recursive CTE cannot re-aggregate per step in standard SQL. Every
floating term follows the repo's determinism discipline: decimal-cast
contributions before SUM, double arithmetic in a fixed expression
order, so DuckDB replays the ranks bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import graph
from . import materialize

PR_ITERATIONS = 5
PR_DAMPING = 0.85
PR_TOPK = 20


def _purchase_edges(t: dict[str, DataFrame]) -> DataFrame:
    """Directed both-way edge list c:<custkey> <-> s:<suppkey>, weight =
    lineitem count. One fact-scale join chain + one aggregate; node ids
    are prefixed strings so the two key spaces cannot collide.
    Session-cached: both graph walks (pagerank, label propagation)
    consume the same edge table — the two-consumer rule from
    RUNBOOK §5 (edge rows grow with the fact, hence corpus_scale)."""
    li = t["lineitem"].select("l_orderkey", "l_suppkey")
    orders = t["orders"].select("o_orderkey", "o_custkey")

    def build() -> DataFrame:
        pair = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_custkey", "l_suppkey")
            .agg(F.count(F.lit(1)).alias("weight"))
            .select(
                F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("cnode"),
                F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("snode"),
                "weight",
            )
        )
        fwd = pair.select(
            F.col("cnode").alias("src"), F.col("snode").alias("dst"), "weight"
        )
        rev = pair.select(
            F.col("snode").alias("src"), F.col("cnode").alias("dst"), "weight"
        )
        return fwd.unionByName(rev)

    return materialize.get_or_build(
        "purchase_graph_edges", str(li.semanticHash()), build, corpus_scale=True
    )


def purchase_graph_pagerank(t: dict[str, DataFrame]) -> DataFrame:
    """Top-:data:`PR_TOPK` nodes of the purchase graph by weighted
    PageRank after :data:`PR_ITERATIONS` power-iteration rounds.

    The emitted rank is rounded to 12 decimals BEFORE the top-k sort:
    the decimal-cast contributions make every per-iteration SUM exact,
    but converting that decimal back to DOUBLE is where engines differ
    by 1-2 ulp (DuckDB divides a hugeint by the not-exactly-
    representable 1e30; Java BigDecimal rounds correctly) — measured
    max |Δ| 1.7e-18 at sf0.01 after 5 iterations, bounded because the
    damped iteration is a contraction. Rounding at 1e-12, nine orders
    of magnitude above the drift, collapses both engines to identical
    values and — because the ORDER BY uses the rounded rank with a node
    tie-break — identical top-k membership."""
    ranks = graph.pagerank(
        _purchase_edges(t), iterations=PR_ITERATIONS, damping=PR_DAMPING
    )
    return (
        ranks.select("node", F.round("rank", 12).alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(PR_TOPK)
    )


def _pagerank_oracle(iterations: int, damping: float, topk: int) -> str:
    """Generate the unrolled power-iteration oracle. The rank-update
    expression mirrors the Spark side token for token:
    ``(1.0 - d) / N + d * CAST(SUM(CAST(rank * frac AS DECIMAL)) AS
    DOUBLE)`` — including computing ``1.0 - d`` as a DOUBLE
    subtraction (NOT a pre-folded 0.15 literal: 1.0 - 0.85 and the
    parsed literal 0.15 differ by one ulp in binary64, and the driver
    hash-compares exact doubles)."""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT n.node,
         (CAST(1 AS DOUBLE) - CAST({damping} AS DOUBLE)) / CAST(nn.n AS DOUBLE)
         + CAST({damping} AS DOUBLE)
           * CAST(COALESCE(SUM(CAST(r{i - 1}.rank * e.frac AS DECIMAL(38,30))),
                           CAST(0 AS DECIMAL(38,30))) AS DOUBLE) AS rank
  FROM nodes n
  CROSS JOIN nn
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN r{i - 1} ON r{i - 1}.node = e.src
  GROUP BY n.node, nn.n
)"""
        )
    chained = ",\n".join(rounds)
    return f"""
WITH pair AS (
  SELECT 'c:' || o_custkey AS cnode, 's:' || l_suppkey AS snode,
         COUNT(*) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
),
edges AS (
  SELECT cnode AS src, snode AS dst, weight FROM pair
  UNION ALL
  SELECT snode AS src, cnode AS dst, weight FROM pair
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
out_tot AS (SELECT src, SUM(weight) AS ot FROM edges GROUP BY src),
e AS (
  SELECT edges.src, edges.dst,
         CAST(edges.weight AS DOUBLE) / CAST(out_tot.ot AS DOUBLE) AS frac
  FROM edges JOIN out_tot ON edges.src = out_tot.src
),
r0 AS (
  SELECT node, CAST(1 AS DOUBLE) / CAST(nn.n AS DOUBLE) AS rank
  FROM nodes CROSS JOIN nn
),
{chained}
SELECT node, round(rank, 12) AS rank FROM r{iterations}
ORDER BY rank DESC, node LIMIT {topk}
"""


PURCHASE_GRAPH_PAGERANK_ORACLE = _pagerank_oracle(PR_ITERATIONS, PR_DAMPING, PR_TOPK)


LPA_ITERATIONS = 3
LPA_TOPK = 20


def purchase_graph_communities(t: dict[str, DataFrame]) -> DataFrame:
    """Top-:data:`LPA_TOPK` communities of the purchase graph after
    :data:`LPA_ITERATIONS` rounds of synchronous weighted label
    propagation — community label and member count. Integer/string
    arithmetic only, so unlike pagerank there is no floating-point
    consideration at all: the oracle replays the rounds exactly."""
    labels = graph.label_propagation(_purchase_edges(t), iterations=LPA_ITERATIONS)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(LPA_TOPK)
    )


def _lpa_oracle(iterations: int, topk: int) -> str:
    """Generate the unrolled label-propagation oracle (chained CTEs,
    one adopt+merge pair per round — same pattern as the pagerank and
    BPE oracles)."""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(
            f"""a{i} AS (
  SELECT e.dst AS node, l.label, SUM(e.weight) AS mass
  FROM edges e JOIN l{i - 1} l ON l.node = e.src
  GROUP BY e.dst, l.label
),
p{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY mass DESC, label) AS rn
    FROM a{i}) s
  WHERE rn = 1
),
l{i} AS (
  SELECT n.node, COALESCE(p.label, l.label) AS label
  FROM nodes n
  JOIN l{i - 1} l ON l.node = n.node
  LEFT JOIN p{i} p ON p.node = n.node
)"""
        )
    chained = ",\n".join(rounds)
    return f"""
WITH pair AS (
  SELECT 'c:' || o_custkey AS cnode, 's:' || l_suppkey AS snode,
         COUNT(*) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
),
edges AS (
  SELECT cnode AS src, snode AS dst, weight FROM pair
  UNION ALL
  SELECT snode AS src, cnode AS dst, weight FROM pair
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
l0 AS (SELECT node, node AS label FROM nodes),
{chained}
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{iterations}
GROUP BY label ORDER BY n_members DESC, community LIMIT {topk}
"""


PURCHASE_GRAPH_COMMUNITIES_ORACLE = _lpa_oracle(LPA_ITERATIONS, LPA_TOPK)


# ---------------------------------------------------------------------------
# Supplier co-supply triangles (round 12): bipartite projection ->
# strong-tie sparsification -> degree-oriented exact triangle count


def supplier_cosupply_triangles(t: dict[str, DataFrame]) -> DataFrame:
    """Exact per-supplier triangle counts over the STRONG co-supply
    graph: project (part, supplier) to weighted supplier-supplier
    co-occurrence edges (``graph.cooccurrence_edges`` — the raw
    projection is near-complete on this data, as every raw
    co-occurrence graph is), keep the strongest decile
    (``graph.top_decile_edges`` — exact integer rank cut), and count
    triangles with the degree-oriented algorithm
    (``graph.count_triangles`` — wedge volume bounded by O(sqrt(m))
    out-degrees, each triangle counted once at its (deg, id)-minimum
    apex). Non-vacuous at every SF (577 triangles at sf0.01, ~242k at
    sf0.1). The oracle replays projection, rank cut, orientation,
    wedge join, and closure."""
    return (
        graph.count_triangles(_strong_cosupply_edges(t))
        .withColumnRenamed("node", "suppkey")
        .orderBy("suppkey")
    )


def _strong_cosupply_edges(t: dict[str, DataFrame]) -> DataFrame:
    """Session-cached strong co-supply edge list (S7 two-consumer rule
    — both graph analytics, triangles and k-core, consume the same
    sparsified projection; the projection self-join is the expensive
    half). Edge rows are a tenth of the supplier-pair space — node
    scale, not fact scale, so the default memory cache is right."""
    li = t["lineitem"]

    def build() -> DataFrame:
        ps = li.select(
            F.col("l_partkey").cast("long").alias("pk"),
            F.col("l_suppkey").cast("long").alias("sk"),
        )
        return graph.top_decile_edges(graph.cooccurrence_edges(ps, "pk", "sk"))

    return materialize.get_or_build(
        "strong_cosupply_edges", str(li.semanticHash()), build
    )


SUPPLIER_COSUPPLY_TRIANGLES_ORACLE = """
WITH ps AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS g, CAST(l_suppkey AS BIGINT) AS i FROM lineitem),
w AS (
  SELECT a.i AS s1, b.i AS s2, CAST(COUNT(*) AS BIGINT) AS weight
  FROM ps a JOIN ps b USING (g) WHERE a.i < b.i GROUP BY 1, 2
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY weight DESC, s1, s2) AS rk,
         COUNT(*) OVER () AS n
  FROM w
),
e AS (SELECT s1, s2 FROM r WHERE rk * 10 <= n),
d AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e) GROUP BY node
),
o AS (
  SELECT CASE WHEN (d1.deg, e.s1) < (d2.deg, e.s2) THEN e.s1 ELSE e.s2 END AS u,
         CASE WHEN (d1.deg, e.s1) < (d2.deg, e.s2) THEN e.s2 ELSE e.s1 END AS v,
         CASE WHEN (d1.deg, e.s1) < (d2.deg, e.s2) THEN d2.deg ELSE d1.deg END AS dv
  FROM e JOIN d d1 ON d1.node = e.s1 JOIN d d2 ON d2.node = e.s2
),
wd AS (
  SELECT a.u,
         CASE WHEN (a.dv, a.v) < (b.dv, b.v) THEN a.v ELSE b.v END AS wu,
         CASE WHEN (a.dv, a.v) < (b.dv, b.v) THEN b.v ELSE a.v END AS wv
  FROM o a JOIN o b ON a.u = b.u AND a.v < b.v
),
tri AS (SELECT wd.u, wd.wu, wd.wv FROM wd JOIN o ON o.u = wd.wu AND o.v = wd.wv)
SELECT node AS suppkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT u AS node FROM tri UNION ALL SELECT wu FROM tri UNION ALL SELECT wv FROM tri)
GROUP BY node ORDER BY suppkey
"""


# ---------------------------------------------------------------------------
# k-core decomposition over the same strong co-supply graph

KCORE_ROUNDS = 24


def supplier_cosupply_kcore(t: dict[str, DataFrame]) -> DataFrame:
    """Core numbers on the strong co-supply graph
    (``graph.core_numbers`` — the h-index fixpoint iteration, sharing
    the session-cached edge list with the triangle census). Witness:
    the per-coreness census ``(core, n_nodes)`` plus the minimum and
    maximum supplier id per core — value-level evidence that the SAME
    nodes landed in the same cores on both engines without shipping
    all per-node rows. ``KCORE_ROUNDS = 24`` is a measured fixpoint on
    BOTH driver corpora (sf0.1 converges between 20 and 24 rounds —
    24 == 32 == 40 == 48 verified; sf0.01 far earlier); the oracle
    unrolls exactly the same rounds, so the differential stays valid
    at ANY convergence state, and extra rounds past the fixpoint are
    idempotent by the h-operator's monotonicity."""
    cores = graph.core_numbers(_strong_cosupply_edges(t), rounds=KCORE_ROUNDS)
    return (
        cores.groupBy("core")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("node").cast("long").alias("min_supp"),
            F.max("node").cast("long").alias("max_supp"),
        )
        .orderBy("core")
    )


def _kcore_oracle(rounds: int) -> str:
    h = (
        "CAST(len(list_filter(list_transform(generate_series(1, len(ls)),"
        " i -> ls[CAST(i AS INT)] >= i), b -> b)) AS BIGINT)"
    )
    steps = []
    for i in range(1, rounds + 1):
        steps.append(
            f"""c{i} AS MATERIALIZED (
  SELECT u AS node, {h} AS val
  FROM (
    SELECT und.u, list_sort(list(l.val), 'DESC') AS ls
    FROM und JOIN c{i - 1} l ON l.node = und.v GROUP BY und.u
  )
)"""
        )
    chained = ",\n".join(steps)
    return f"""
WITH ps AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS g, CAST(l_suppkey AS BIGINT) AS i FROM lineitem),
w AS (
  SELECT a.i AS s1, b.i AS s2, CAST(COUNT(*) AS BIGINT) AS weight
  FROM ps a JOIN ps b USING (g) WHERE a.i < b.i GROUP BY 1, 2
),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY weight DESC, s1, s2) AS rk,
         COUNT(*) OVER () AS n
  FROM w
),
e AS MATERIALIZED (SELECT s1, s2 FROM r WHERE rk * 10 <= n),
und AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM e UNION ALL SELECT s2, s1 FROM e),
c0 AS MATERIALIZED (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS val FROM und GROUP BY u),
{chained}
SELECT val AS core, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_supp,
       CAST(MAX(node) AS BIGINT) AS max_supp
FROM c{rounds} GROUP BY val ORDER BY core
"""


SUPPLIER_COSUPPLY_KCORE_ORACLE = _kcore_oracle(KCORE_ROUNDS)
