"""Dump CHECKPOINT-STRIPPED single-round physical plans for the
iterative builds (optimization evidence — the registered queries' final
plans are checkpoint-truncated to Scan ExistingRDD leaves, so build
structure is invisible there).

Monkeypatches DataFrame.localCheckpoint to identity and
DataFrame.unpersist to a no-op for the dump only, then calls the REAL
operators at ONE round (``suffix._dense_rank``, ``relational.
global_dense_rank``, and the round loops on ``rounds.Rounds``:
``dedup.connected_components``, ``graph.pagerank``,
``graph.label_propagation``, ``graph.core_numbers``). With the
checkpoints stripped the returned frame's plan is the operator's setup
plus its single round; with unpersist disabled a stationary table the
round driver cached (materialized up front, as every round after the
first sees it) still prints as the InMemoryTableScan the rounds read,
so the plan shows whether a round's aggregate reuses the table's hash
partitioning or re-shuffles it.

Usage: python tools/dump_round_shapes.py <tag> [name ...]
       # writes plans/r17/<name>_<tag>.txt
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r17"
)


def _formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    tag = sys.argv[1]
    from data_warehouse_implementation_spark.operators import (
        dedup,
        graph,
        relational,
        suffix,
    )
    from data_warehouse_implementation_spark.session import get_spark, load_tables

    # strip every checkpoint barrier so the full round lineage prints,
    # and keep the round driver's cached stationary tables registered
    # (patch the CLASSIC class — instances override the base class's
    # method in Spark 4, so patching pyspark.sql.DataFrame is a no-op)
    import pyspark.sql.classic.dataframe as _cdf

    real_ckpt = _cdf.DataFrame.localCheckpoint
    _cdf.DataFrame.localCheckpoint = lambda self, eager=True: self  # type: ignore
    _cdf.DataFrame.unpersist = lambda self, blocking=False: self  # type: ignore
    # a cached stationary table reports its hash partitioning only once
    # materialized, which it is for every round after the first:
    # materialize it as soon as the operator registers it
    from data_warehouse_implementation_spark.operators.rounds import Rounds

    register = Rounds.stationary

    def materialized(self, df, key=None):
        out = register(self, df, key)
        if key is not None:
            out.count()
        return out

    Rounds.stationary = materialized  # type: ignore

    spark = get_spark(app_name="round-shapes")
    spark.sparkContext.setLogLevel("ERROR")
    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"]
    os.makedirs(OUT_DIR, exist_ok=True)

    only = set(sys.argv[2:])  # optional name filter: dump just these

    def dump(name: str, header: str, df: DataFrame) -> None:
        if only and name not in only:
            return
        plan = _formatted(df)
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(header.rstrip() + "\n\n" + plan)
        shuffles = (
            plan.count("Exchange")
            - plan.count("BroadcastExchange")
            - plan.count("ReusedExchange")
        )
        print(f"# {name}: {shuffles} shuffle exchanges -> {path}")

    # --- ONE prefix-doubling round (hashed round-0 feeds round 1) over
    # an EAGERLY checkpointed round input (Scan ExistingRDD leaf,
    # exactly what every real round consumes)
    from pyspark.sql import Window

    r0 = real_ckpt(
        suffix.token_positions(docs).select(
            "d", "n", "p",
            (F.pmod(F.xxhash64("tok"), F.lit(suffix.HASH_P63)) + 1).alias("r"),
        )
    )
    w_doc = Window.partitionBy("d").orderBy("p")
    paired = r0.select(
        "d", "n", "p", "r",
        F.coalesce(F.lead("r", 1).over(w_doc), F.lit(0)).alias("r2"),
    )
    w_hash = suffix.HASH_P63 // 65536 + 1
    round1 = suffix._dense_rank(
        paired, ["r", "r2"], "srnk", bucket=F.floor((F.col("r") - 1) / F.lit(w_hash))
    )
    dump(
        "sa_doubling_round_shape",
        "ONE prefix-doubling round (hashed mode, round 1) over an "
        "eagerly-checkpointed round input: lead-window pairing + global "
        "dense rank, internal checkpoints stripped so the full rank "
        "machinery prints.",
        round1.select("d", "n", "p", F.col("srnk").alias("r")),
    )

    # --- global_dense_rank with its REAL deferred checkpoint: the
    # counts branch (groupBy(_b) max(_rn), inside the broadcast offsets)
    # reads the checkpointed window output — does it reuse the window's
    # hash partitioning on _b, or plan its own exchange?
    _cdf.DataFrame.localCheckpoint = real_ckpt
    dump(
        "dense_rank_counts_shape",
        "relational.global_dense_rank over the round-1 pair table, with "
        "its real deferred localCheckpoint of the per-bucket dense_rank "
        "window output. The counts branch (inside the broadcast offsets) "
        "groups that checkpoint by _b: the checkpoint's LogicalRDD "
        "reports UnknownPartitioning, so the aggregate plans its own "
        "Exchange hashpartitioning(_b) behind a map-side partial max "
        "(bucket-scale rows).",
        relational.global_dense_rank(
            paired, ["r", "r2"], "srnk",
            bucket=F.floor((F.col("r") - 1) / F.lit(w_hash)),
        ),
    )
    _cdf.DataFrame.localCheckpoint = lambda self, eager=True: self  # type: ignore

    # --- the round loops at ONE round, over a small synthetic graph
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (3, 12)], "doc_a long, doc_b long"
    )
    dump(
        "cc_round_shape",
        "dedup.connected_components at max_iter=1 (min-label propagation "
        "+ pointer jumping): setup plus ONE round, checkpoints stripped.",
        dedup.connected_components(pairs, max_iter=1),
    )
    directed = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 50}", 1 + i % 3) for i in range(200)],
        "src string, dst string, weight long",
    )
    dump(
        "pagerank_round_shape",
        "graph.pagerank at iterations=1: degree/edge setup plus ONE power "
        "iteration, checkpoints stripped.",
        graph.pagerank(directed, iterations=1, dangling="ignore"),
    )
    dump(
        "lpa_round_shape",
        "graph.label_propagation at iterations=1: ONE round (mass "
        "aggregate + argmax window) over the driver's cached edge table "
        "hash-partitioned on _edst — shows whether the (dst, label) "
        "aggregate and the per-dst window re-shuffle the edge list or "
        "reuse the cache's partitioning.",
        graph.label_propagation(directed, iterations=1),
    )
    undirected = spark.range(2000).select(
        (F.col("id") % 300).alias("s1"), ((F.col("id") * 7) % 300 + 300).alias("s2")
    )
    dump(
        "kcore_round_shape",
        "graph.core_numbers at rounds=1: ONE h-index round over the "
        "driver's cached doubled edge list hash-partitioned on u — shows "
        "whether groupBy(u) re-shuffles the edge list or reuses the "
        "cache's partitioning.",
        graph.core_numbers(undirected, rounds=1),
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
