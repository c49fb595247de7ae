"""Graph algorithms as pure DataFrame algebra (brief extension; no
reference analog — the reference has no graph operators, but a corpus
engine needs walk-based importance for link/citation-weighted data
curation, and the purchase bipartite graph is the natural testdata
host).

Companion to ``dedup.connected_components`` (the undirected clustering
side): this module holds the DIRECTED walk algorithms, starting with
weighted PageRank by power iteration.

Determinism discipline (same as the repo's aggregate queries): every
floating contribution is decimal-cast BEFORE the shuffle sum, so the
per-node totals are exact and independent of partitioning/order — the
whole iteration replays bit-for-bit on any engine that parses the same
double literals (the DuckDB oracle unrolls the same iterations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rounds import Rounds

#: decimal type for rank*frac terms in [0, 1]: scale 30 places the
#: cast's rounding digit ~13 orders of magnitude BELOW the double ulp
#: of any term, so Spark's HALF_UP vs DuckDB's HALF_EVEN can disagree
#: only by 1e-30 per term — the accumulated difference can never reach
#: the final double's last bit (scale 18 measurably did: last-ulp rank
#: mismatches at sf0.01). Shared verbatim with the oracle SQL.
PR_TERM_DECIMAL = "decimal(38,30)"


#: cap on the parallelism of the NODE-scale iteration state (the walks'
#: node and degree tables), applied as a ``coalesce`` of their own
#: aggregate output (no second shuffle). Left at the session's
#: fact-shuffle partition count, a graph that fits one executor pays
#: dozens of near-empty tasks per round (measured 5.9s -> 4.6s for
#: pagerank at sf0.1). EDGE-scale tables keep the session layout: the
#: rounds' map and aggregate work runs over their partitions, and
#: sizing them down serialized the rounds onto a handful of cores.
ITER_PARTITIONS = 4


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    dangling: str = "forbid",
    precision: str = "exact",
) -> DataFrame:
    """Weighted PageRank over a directed edge list ``(src, dst,
    weight)`` — ``iterations`` synchronous power-iteration rounds with
    teleport ``(1 - damping) / N``.

    Scale shape: the edge table is normalized once (per-source weight
    fractions — one aggregate + one join), and each round is exactly
    one join (ranks ⋈ edges on src) + one aggregate (sum contributions
    by dst). The rounds run on :class:`rounds.Rounds`: with a FIXED
    iteration count there is **no driver-side action at all** — every
    round's state is a deferred checkpoint the caller's action
    materializes, and each round shuffles only rank-table-sized rows
    (N per round, never the fact table — edges are built by the caller
    from whatever fact aggregation defines the graph). The per-round
    rank table is broadcast into the join with the stationary edge
    table; a node table past Spark's broadcast limit fails the query.

    Nodes with no in-edges get the pure teleport mass (left join +
    coalesce). ``dangling`` controls nodes with no OUT-edges, whose
    rank mass would otherwise silently leak each round (VERDICT r9 #3):

    - ``"forbid"`` (default): a LAZY in-plan guard — the dangling-node
      count rides the plan as a broadcast scalar and ``assert_true``
      raises on the first action if any exists. Zero driver-side jobs,
      ~free on the graphs this engine builds (the bipartite
      both-direction purchase graphs have no sinks by construction),
      and a sink-bearing caller fails LOUDLY instead of losing mass.
      The guard survives column pruning because every round ends in a
      ``localCheckpoint`` barrier; the one barrier-free shape,
      ``iterations=0``, is instead checked EAGERLY at build time
      (ADVICE r10 — a pruned-away assert is no guard at all).
    - ``"redistribute"``: the textbook convention — each round the
      summed rank of dangling nodes is re-spread uniformly
      (``damping * dangling_mass / N`` added to every node), keeping
      total mass exactly 1. The per-round dangling mass is a 1-row
      decimal-exact aggregate broadcast back into the update — still
      one lazy plan.
    - ``"ignore"``: the pre-round-10 convention (mass leaks; documented
      for graphs where sinks are intentional drains).

    Determinism: contributions ``rank * frac`` are cast to
    :data:`PR_TERM_DECIMAL` before the sum (exact, order-independent);
    ``frac`` is a double division of exact integer weights; the rank
    update is double arithmetic in a fixed expression order (the
    redistribute term is a decimal-exact sum divided by N, added after
    the damped mass) — all bit-replayable cross-engine.

    ``precision``: ``"exact"`` (default) decimal-casts every
    contribution before the shuffle sum — bit-replayable cross-engine,
    the mode every oracle-checked query uses; ``"fast"`` keeps plain
    double sums — the production knob for graphs where ranking matters
    and last-ulp replay does not (measured ~15% per call on the sf0.1
    purchase graph, growing with edge volume since the decimal work is
    per-contribution; agreement with exact mode is ~1e-12 relative,
    pytest-pinned, because the damped iteration is a contraction).

    The node-scale tables run at :data:`ITER_PARTITIONS`."""
    if dangling not in ("forbid", "redistribute", "ignore"):
        raise ValueError(f"dangling must be forbid|redistribute|ignore, got {dangling!r}")
    if precision not in ("exact", "fast"):
        raise ValueError(f"precision must be exact|fast, got {precision!r}")
    # ONE exploded aggregation yields the node set, the per-source
    # out-weight totals, AND the dangling set (optimization round 15:
    # the separate union-distinct + groupBy + anti-join paid two
    # corpus-scale shuffles and an extra node-scale join for the same
    # information): every endpoint contributes a row, src rows carry
    # the weight plus a presence marker, dst rows carry NULLs.
    # Danglingness comes from the src-row COUNT, not from the weight
    # sum's NULL-ness (ADVICE r15: a node whose out-edges all carry
    # NULL weights summed to NULL and was misclassified as dangling,
    # where the pre-r15 existence anti-join kept it non-dangling — the
    # marker restores the existence semantics exactly; its weight
    # total stays NULL, so the downstream fractions degrade to NULL
    # precisely as the old per-source sum did).
    w_t = edges.schema[weight].dataType.simpleString()
    loop = Rounds()
    deg = loop.stationary(
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("node"),
                        F.col(weight).alias("_w"),
                        F.lit(1).alias("_s"),
                    ),
                    F.struct(
                        F.col(dst).alias("node"),
                        F.lit(None).cast(w_t).alias("_w"),
                        F.lit(None).cast("int").alias("_s"),
                    ),
                )
            ).alias("_x")
        )
        .select(
            F.col("_x.node").alias("node"),
            F.col("_x._w").alias("_w"),
            F.col("_x._s").alias("_s"),
        )
        .groupBy("node")
        .agg(F.sum("_w").alias("_out"), F.count("_s").alias("_ns"))
        .coalesce(ITER_PARTITIONS)
    )
    nodes = deg.select("node")
    # scalar N kept INSIDE the plan (1-row frame, broadcast) — no
    # .count() action, the whole pagerank stays lazy. Checkpointed so
    # the per-round broadcast re-reads ONE row instead of re-running
    # the count aggregate inside every round's query execution
    # (optimization round 15).
    ncnt = loop.stationary(nodes.agg(F.count(F.lit(1)).alias("_n")))
    out_tot = deg.filter(F.col("_ns") > 0).select(
        F.col("node").alias(src), "_out"
    )
    # NOT keyed on _edst (optimization round 16 measured the cached,
    # co-partitioned alternative and REJECTED it): the contribution
    # aggregate's exchange carries NODE-scale partial sums (sum()
    # combines map-side), so it is cheap, while the cache's encode +
    # per-round decode of the EDGE-scale table measured net slower at
    # sf0.1 (3 fixed-order A/B pairs: ~14.8s vs ~13.8s per query run)
    e = loop.stationary(
        edges.join(out_tot, on=src).select(
            F.col(src).alias("_esrc"),
            F.col(dst).alias("_edst"),
            (F.col(weight).cast("double") / F.col("_out").cast("double")).alias(
                "_frac"
            ),
        )
    )
    # 'exact': decimal-cast contributions — bit-replayable cross-engine,
    # what every oracle-checked query uses. 'fast': plain double sums —
    # the production knob (~15% per call measured at sf0.1, more as
    # edge volume grows); double sums are partition-order-dependent in
    # the last ulps, but the damped iteration is a contraction, so
    # fast-mode ranks agree with exact mode to ~1e-12 relative
    # (pytest-pinned) — fine for ranking, wrong for a bit-exact replay
    # gate.
    term_t = PR_TERM_DECIMAL if precision == "exact" else "double"

    # out-degree-0 nodes — a map-side filter of the fused degree frame
    # (zero src-row count == no out-edges; see the marker note above);
    # only compiled into the plan for the modes that need it
    if dangling != "ignore":
        dangling_nodes = deg.filter(F.col("_ns") == 0).select("node")
    rank = nodes.crossJoin(F.broadcast(ncnt)).select(
        "node", (F.lit(1.0) / F.col("_n").cast("double")).alias("rank")
    )
    if dangling == "forbid" and iterations == 0:
        # ADVICE r10: with zero rounds the returned frame has no
        # localCheckpoint barrier downstream, so Catalyst may prune the
        # lazy guard's rank expression away entirely (e.g. a bare
        # .count() never evaluates it). The degenerate config runs the
        # node-scale check eagerly instead — one tiny driver job, on
        # checkpoints every later action reuses anyway.
        n_dang = dangling_nodes.count()
        if n_dang:
            raise ValueError(
                f"pagerank(dangling='forbid'): graph has {n_dang} node(s) "
                "with no out-edges; their rank mass would silently leak — "
                "pass dangling='redistribute' (or 'ignore' if the leak is "
                "intended)"
            )
    if dangling == "forbid":
        # lazy guard: assert_true yields NULL when the precondition
        # holds; adding coalesce(NULL, 0.0) to the initial rank forces
        # evaluation on the first action without changing any value.
        # With iterations >= 1 this CANNOT be pruned: each round ends
        # in a localCheckpoint, a barrier column pruning does not
        # cross, so round 1's checkpoint materializes the full rank
        # values — which evaluate the guard — no matter how narrow the
        # caller's final action is (iterations == 0, the one barrier-
        # free shape, is checked eagerly above — ADVICE r10).
        dang_cnt = dangling_nodes.agg(F.count(F.lit(1)).alias("_dangling_n"))
        rank = rank.crossJoin(F.broadcast(dang_cnt)).select(
            "node",
            (
                F.col("rank")
                + F.coalesce(
                    F.assert_true(
                        F.col("_dangling_n") == 0,
                        F.concat(
                            F.lit(
                                "pagerank(dangling='forbid'): graph has "
                            ),
                            F.col("_dangling_n").cast("string"),
                            F.lit(
                                " node(s) with no out-edges; their rank mass "
                                "would silently leak — pass "
                                "dangling='redistribute' (or 'ignore' if the "
                                "leak is intended)"
                            ),
                        ),
                    ).cast("double"),
                    F.lit(0.0),
                )
            ).alias("rank"),
        )
    # one map-side join + one node-scale aggregate exchange per round
    # (optimization round 15: without the state broadcast, every round
    # sort-merge-joined the 1.17M-row sf0.1 edge table)
    def step(rank: DataFrame) -> DataFrame:
        contrib = (
            e.join(F.broadcast(rank), e._esrc == rank.node)
            .select(
                F.col("_edst").alias("node"),
                (F.col("rank") * F.col("_frac")).cast(term_t).alias("_term"),
            )
            .groupBy("node")
            .agg(F.sum("_term").alias("_mass"))
        )
        updated = (
            nodes.join(F.broadcast(contrib), on="node", how="left")
            .crossJoin(F.broadcast(ncnt))
        )
        damped_mass = F.lit(damping) * F.coalesce(
            F.col("_mass"), F.lit(0).cast(term_t)
        ).cast("double")
        if dangling == "redistribute":
            # decimal-exact 1-row sum of the round's dangling rank,
            # broadcast back and spread uniformly — total mass stays 1
            dmass = (
                rank.join(dangling_nodes, on="node", how="left_semi")
                .agg(
                    F.coalesce(
                        F.sum(F.col("rank").cast(term_t)),
                        F.lit(0).cast(term_t),
                    ).alias("_dmass")
                )
            )
            updated = updated.crossJoin(F.broadcast(dmass))
            damped_mass = damped_mass + F.lit(damping) * (
                F.col("_dmass").cast("double") / F.col("_n").cast("double")
            )
        return updated.select(
            "node",
            (
                F.lit(1.0 - damping) / F.col("_n").cast("double") + damped_mass
            ).alias("rank"),
        )

    return loop.run(rank, step, iterations)


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """Synchronous weighted label propagation (community detection):
    every node starts labeled with its own id; each round, a node
    adopts the label with the LARGEST incoming weight mass among its
    neighbors' current labels (ties broken by the smallest label), and
    nodes with no in-edges keep their label. Fully deterministic — the
    per-round argmax is a per-node window with a total tie-break, and
    all arithmetic is integer/string, so any engine replays the rounds
    exactly (the oracle unrolls them as CTEs).

    Scale shape: each round is one join (labels ⋈ edges on src — the
    label table is node-scale and broadcast), one (dst, label)
    aggregate, and one per-node window (partitioned — never global).
    The rounds run on :class:`rounds.Rounds`; the edge table is its
    cached stationary table, so the final round's checkpoint is eager
    (the call runs every round before returning) and the cache is
    freed."""
    loop = Rounds()
    nodes = loop.stationary(
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .coalesce(ITER_PARTITIONS)
    )
    # keyed on _edst (optimization round 16): the per-round (dst,
    # label) aggregate AND the argmax window both cluster on it, so one
    # up-front exchange removes both per-round exchanges (the
    # aggregate's carries near-edge-scale partials, unlike pagerank's)
    e = loop.stationary(
        edges.select(
            F.col(src).alias("_esrc"),
            F.col(dst).alias("_edst"),
            F.col(weight).alias("_w"),
        ),
        key="_edst",
    )
    w_pick = Window.partitionBy("_edst").orderBy(F.desc("_mass"), F.asc("label"))

    def step(labels: DataFrame) -> DataFrame:
        adopted = (
            e.join(F.broadcast(labels), e._esrc == labels.node)
            .groupBy("_edst", "label")
            .agg(F.sum("_w").alias("_mass"))
            .withColumn("_rn", F.row_number().over(w_pick))
            .filter(F.col("_rn") == 1)
            .select(F.col("_edst").alias("node"), F.col("label").alias("_new"))
        )
        return labels.join(F.broadcast(adopted), on="node", how="left").select(
            "node", F.coalesce("_new", "label").alias("label")
        )

    return loop.run(nodes.withColumn("label", F.col("node")), step, iterations)


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_items_per_group: int | None = None,
) -> DataFrame:
    """Weighted item-item co-occurrence projection of a bipartite
    (group, item) relation — the standard unipartite graph builder
    (suppliers sharing a part, terms sharing a document, users sharing
    a session): one undirected edge ``(s1 < s2, weight = #groups both
    appear in)``.

    Scale shape: ONE self-equi-join on the group key + one aggregate on
    the pair — per-group work is C(k,2) for group size k, so the build
    parallelizes across groups and only a pathological hot group hurts.
    ``max_items_per_group`` is that guard: groups beyond the cap keep
    only their ``cap`` smallest item ids (deterministic, replayable —
    same discipline as the prefix-join df caps; pair truncation is a
    recall trade the caller accounts for, never silent corruption of
    surviving weights... except that a capped group DOES undercount
    pairs touching its dropped items — which is why the cap defaults
    OFF and the census query documents the natural bound instead).
    The cap itself runs on ``corpus.cap_per_key``'s TWO-PHASE per-key
    rank (priority = negated item id, so the smallest ids win) — a
    single member-scale window per group would serialize on exactly
    the hot group the cap exists to guard."""
    # ONE exchange serves the dedup AND both self-join sides
    # (optimization round 16, guide §2.4): hash-partitioning on the
    # group key BEFORE the distinct satisfies the distinct's (g, i)
    # clustering (a subset partitioning satisfies an aggregate's
    # required distribution) and leaves the output partitioned on _g,
    # which is exactly the self-join's key — so the join adds sorts
    # but NO exchange per side. Without it the distinct shuffled on
    # (g, i) and the join re-shuffled both sides onto _g. (A
    # collect_set + in-row sorted pair expansion was measured as the
    # alternative and REJECTED: the object aggregate + interpreted
    # nested higher-order expansion ran ~2x slower than the codegen
    # join at sf0.1.) Skew note: a pathological hot group now lands
    # one partition at the dedup too, not just at the join — the
    # ``max_items_per_group`` cap below is the guard either way.
    pairs = (
        df.select(F.col(group_col).alias("_g"), F.col(item_col).alias("_i"))
        .repartition(F.col("_g"))
        .distinct()
    )
    if max_items_per_group is not None:
        from .corpus import cap_per_key

        pairs = cap_per_key(
            pairs.withColumn("_negi", (-F.col("_i")).cast("long")),
            key_col="_g",
            max_docs=int(max_items_per_group),
            id_col="_i",
            priority_col="_negi",
        ).drop("_negi", "key_rank")
    a = pairs.select(F.col("_g"), F.col("_i").alias("s1"))
    b = pairs.select(F.col("_g"), F.col("_i").alias("s2"))
    return (
        a.join(b, on="_g")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )


def top_decile_edges(edges: DataFrame) -> DataFrame:
    """Keep the strongest tenth of a weighted edge list — the standard
    sparsification of a co-occurrence projection (raw co-occurrence
    graphs are near-complete; analytics run on the strong-tie tail).
    Exact integer rank arithmetic: edge rank r of n under the total
    order (weight DESC, s1, s2) survives iff ``r * 10 <= n`` — a
    deterministic, engine-replayable quantile cut via the two-phase
    :func:`relational.global_rank` (never a single-task sort). The
    input takes a deferred ``localCheckpoint`` barrier first: the
    rank's two phases and the count branch would otherwise each
    re-evaluate the caller's (typically expensive projection) subtree
    — the same multi-branch trap documented at :func:`count_triangles`.

    The rank gets an EXPLICIT monotone bucket (optimization round 16,
    guide §1.2): ``(-weight, coarse(s1))`` — legal because the second
    component only refines within equal weights — so
    ``global_rank``'s default numeric bucketing never runs its
    min/max stats aggregate, one full pass over the edge list per
    build; the ``s1`` refinement also splits the hot low-weight
    values (co-occurrence weights are zipfian — weight=1 alone can
    hold half the edges at any scale) across window tasks where a
    weight-only bucket would serialize them onto one."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    from .relational import global_rank

    edges = edges.localCheckpoint(eager=False)
    s1_t = edges.schema["s1"].dataType
    if isinstance(s1_t, (ByteType, ShortType, IntegerType, LongType)):
        refine = F.floor(F.col("s1") / F.lit(4096))
    elif isinstance(s1_t, StringType):
        refine = F.coalesce(F.substring(F.col("s1"), 1, 3), F.lit(""))
    else:  # exotic node id type: fall back to the derived bucketing
        refine = None
    bucket = (
        F.struct(F.col("_negw"), refine.alias("_s1b"))
        if refine is not None
        else None
    )
    ranked = global_rank(
        edges.withColumn("_negw", (-F.col("weight")).cast("long")),
        ["_negw", "s1", "s2"],
        "_rk",
        bucket=bucket,
    )
    n = edges.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.col("_rk") * 10 <= F.col("_n"))
        .drop("_negw", "_rk", "_n")
    )


def count_triangles(
    edges: DataFrame, src: str = "s1", dst: str = "s2"
) -> DataFrame:
    """Exact per-node triangle counts over an undirected edge list
    (``src < dst``, one row per edge) — the degree-ORIENTED algorithm
    (Cohen 2009 / Suri-Vassilvitskii 2011 "MR node-iterator++"): orient
    every edge from its (degree, id)-smaller endpoint, generate wedges
    only from ORIENTED out-neighbor pairs, and close them against the
    oriented edge list. Orientation bounds every out-degree by
    O(sqrt(m)) regardless of hubs — the wedge volume a naive
    neighbor-pair join would blow up on — and counts each triangle
    exactly once (its (deg, id)-minimum apex generates the wedge).

    Three joins + one aggregate, all on edge/wedge keys: degrees (one
    aggregate, node-scale, broadcast), orientation (map-side after the
    broadcast), the wedge self-join on the apex, and the closing
    semi-join. The edge list and the oriented list are each consumed
    by MULTIPLE downstream branches (degrees + orientation; wedge
    sides + closure), so both take deferred ``localCheckpoint``
    barriers — the pagerank discipline: without them each branch
    recompiles the whole upstream projection subtree (measured: the
    co-supply query compiled 327 exchanges instead of ~40). Returns
    ``(node, n_triangles)`` for every node in at least one triangle;
    the global count is ``sum / 3``."""
    edges = edges.localCheckpoint(eager=False)
    deg = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    e = (
        edges.select(src, dst)
        .join(F.broadcast(deg.withColumnRenamed("node", src).withColumnRenamed("deg", "_d1")), on=src)
        .join(F.broadcast(deg.withColumnRenamed("node", dst).withColumnRenamed("deg", "_d2")), on=dst)
    )
    fwd = F.struct(F.col("_d1"), F.col(src)) < F.struct(F.col("_d2"), F.col(dst))
    oriented = e.select(
        F.when(fwd, F.col(src)).otherwise(F.col(dst)).alias("u"),
        F.when(fwd, F.col(dst)).otherwise(F.col(src)).alias("v"),
        F.when(fwd, F.col("_d2")).otherwise(F.col("_d1")).alias("_dv"),
    ).localCheckpoint(eager=False)
    a = oriented.select(F.col("u"), F.col("v").alias("x"), F.col("_dv").alias("_dx"))
    b = oriented.select(F.col("u"), F.col("v").alias("y"), F.col("_dv").alias("_dy"))
    lo_first = F.struct(F.col("_dx"), F.col("x")) < F.struct(F.col("_dy"), F.col("y"))
    wedges = (
        a.join(b, on="u")
        .filter(F.col("x") < F.col("y"))
        .select(
            "u",
            F.when(lo_first, F.col("x")).otherwise(F.col("y")).alias("wu"),
            F.when(lo_first, F.col("y")).otherwise(F.col("x")).alias("wv"),
        )
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("wu"), F.col("v").alias("wv")),
        on=["wu", "wv"],
        how="left_semi",
    ).select("u", "wu", "wv")
    return (
        tri.select(F.explode(F.array("u", "wu", "wv")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def core_numbers(
    edges: DataFrame,
    rounds: int = 8,
    src: str = "s1",
    dst: str = "s2",
) -> DataFrame:
    """k-core decomposition of an undirected edge list (``src < dst``)
    by the h-index fixpoint iteration (Lü et al. 2016, "The H-index of
    a network node"): start every node at its degree and repeatedly
    replace each node's value with the H-INDEX of its neighbors'
    values (the largest h with >= h neighbors valued >= h). The
    sequence is pointwise non-increasing, bounded below by the true
    core number, and converges to it exactly — the classic
    coreness-peeling result without peeling's sequential dependency,
    so every round is ONE join (values onto neighbor lists) + ONE
    aggregate, the same synchronous-iteration shape as
    :func:`pagerank` / label propagation, run on the same
    :class:`rounds.Rounds` driver. The doubled edge list is its cached
    stationary table, so the final round's checkpoint is eager (the call
    runs every round before returning) and the cache is freed.

    ``rounds`` is FIXED (oracle-unrollable; the caller pins
    convergence — on small-world co-occurrence graphs a handful of
    rounds suffices, and a converged state is a fixpoint, so extra
    rounds are idempotent, never wrong). The per-node h-index runs
    in-row over the collected neighbor values — bound via
    ``text._bind1``, NOT a projection alias (RUNBOOK §9: CollapseProject
    re-evaluates aliased arrays per lambda element). Returns
    ``(node, core)``."""
    from .text import _bind1

    loop = Rounds()
    # keyed on the aggregate key u — hash-partitioned and cached
    # (optimization round 16, guide §2.4): every round's h-index
    # aggregate — a broadcast join then groupBy(u) — reuses this ONE
    # up-front exchange instead of re-shuffling the doubled edge list
    # once per round (rounds=24 on the co-supply graph: 24 edge-scale
    # exchanges -> 1; the collect_list partials have NO map-side
    # reduction, so each of those exchanges was genuinely edge-scale)
    und = loop.stationary(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionAll(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        ),
        key="u",
    )
    h_expr = _bind1(
        "array_sort(transform(_vs, x -> -x))",
        "sd",
        "cast(size(filter(transform(sequence(1, size(sd)),"
        " i -> -element_at(sd, i) >= i), b -> b)) as bigint)",
    )

    def step(core: DataFrame) -> DataFrame:
        nb = und.join(
            F.broadcast(core.select(F.col("u").alias("v"), F.col("val"))), on="v"
        ).select("u", "val")
        return (
            nb.groupBy("u")
            .agg(F.collect_list("val").alias("_vs"))
            .select("u", F.expr(h_expr).alias("val"))
        )

    degrees = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("val"))
    core = loop.run(degrees, step, int(rounds))
    return core.select(F.col("u").alias("node"), F.col("val").alias("core"))
