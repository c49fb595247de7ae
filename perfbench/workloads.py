"""The workloads and the ops they run.

An op is one call into the program plus full materialization of its
result (``toPandas`` for a query, the write for a sink). Every workload
has a fixed list of ops, so two runs with different seeds do the same
work; the seed permutes warehouse_load's order and draws its change
batches.

The tables are generated at sf0.01 because a cold pass of a workload,
JVM start included, has to fit a run of about a minute on 4 cores.
BENCHMARK.md compares the generated tables, and the work each op does
on them, with the testdata tables.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Callable

import datagen

#: Family heads that run the iterative operators: the suffix array
#: (doubling and LCP), BPE and unigram-EM training, k-means with
#: connected components over the semantic-dedup cells, label propagation
#: and PageRank. They run in this order whatever the seed: a permuted
#: order moved the cold-start cost between ops and changed which op's
#: intermediate state was still persisted at the end (a 10 MB swing in
#: ``cached_mb_end``), so the metrics followed the seed, not the program.
CORPUS_QUERIES = [
    "doc_substring_sa_hashed", "tokenizer_fertility_compare",
    "embedding_semantic_dedup_trained", "purchase_graph_communities",
    "purchase_graph_pagerank",
]

ETL_QUERIES = ["complaints_clean", "demo_reshape_pipeline", "segment_mode_fill"]
IO_QUERIES = ["csv_scan_agg", "jsonl_scan_agg", "orc_scan_agg", "xml_scan_agg"]

#: Scale factor of the generated tables; the benchmark's smoke tests
#: lower it with PERFBENCH_SF.
SF = float(os.environ.get("PERFBENCH_SF", "0.01"))

#: Change-batch size of ``warehouse_load`` as a share of the order keys.
BATCH_SHARE = 0.05
PRUNED_READS = 2
SCD2_SCHEMA = "o_orderkey long, o_orderstatus string, seq long"
SCD3_SCHEMA = "o_orderkey long, o_orderpriority string, seq long"


@dataclass
class Op:
    name: str
    #: the query's registry name, or None for a warehouse_load step
    query: str | None = None
    run: Callable | None = None


def registry_oracles() -> list[str]:
    return CORPUS_QUERIES + ETL_QUERIES + IO_QUERIES


class Workload:
    name = ""
    #: whether the table shows op_p50_s and op_tail_s
    per_op_latency = False

    def __init__(self, bench) -> None:
        self.bench = bench

    def prepare(self) -> None:
        """Once per run, before timing."""

    def start_pass(self, index: int) -> None:
        """Before each pass, outside the timed region."""

    def ops(self, rng: random.Random) -> list[Op]:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Checks of the last pass beyond the per-op fingerprints."""
        return []

    def stored_bytes(self) -> int:
        """Bytes the last pass left on disk."""
        return 0


class CorpusPipeline(Workload):
    name = "corpus_pipeline"

    def ops(self, rng: random.Random) -> list[Op]:
        return [Op(n, query=n) for n in CORPUS_QUERIES]


class WarehouseLoad(Workload):
    """ETL cleaning, the star publish into a fresh catalog, seeded SCD2
    and SCD3 batches written back through the catalog, the same batches
    replayed through the streaming sinks, file-format round trips and
    month-pruned reads of the published fact."""

    name = "warehouse_load"
    per_op_latency = True

    def prepare(self) -> None:
        from data_warehouse_implementation_spark.plans import ingest_queries

        b = self.bench
        # the file-format queries stage their copies in a cache keyed by
        # the input, by default next to the package: give them one of
        # this run's own, so no pass reuses another's and no other
        # process's copies are touched or counted
        self.staging = os.path.join(b.run_dir, "staging")
        ingest_queries._CSV_CACHE_ROOT = self.staging
        n_orders = b.spark.read.parquet(os.path.join(b.data_dir, "orders.parquet")).count()
        self.batches = datagen.change_batches(b.seed, n_orders, int(n_orders * BATCH_SHARE))
        self.mb_dirs = {}
        for kind, tables in self.batches.items():
            self.mb_dirs[kind] = os.path.join(b.run_dir, "micro_batches", kind)
            datagen.write_micro_batches(tables, self.mb_dirs[kind])
        rng = random.Random(b.seed)
        months = sorted(b.expected["month_counts"])
        self.windows = []
        for _ in range(PRUNED_READS):
            i = rng.randrange(len(months) - 2)
            self.windows.append((int(months[i]), int(months[i + 2])))

    def start_pass(self, index: int) -> None:
        from data_warehouse_implementation_spark.sources.catalog import WarehouseCatalog

        b = self.bench
        shutil.rmtree(self.staging, ignore_errors=True)
        self.pass_dir = os.path.join(b.run_dir, f"pass{index}")
        shutil.rmtree(os.path.join(b.run_dir, f"pass{index - 1}"), ignore_errors=True)
        self.catalog = WarehouseCatalog(b.spark, os.path.join(self.pass_dir, "wh"))

    def ops(self, rng: random.Random) -> list[Op]:
        ops = [Op(n, query=n) for n in ETL_QUERIES + IO_QUERIES]
        for i in range(datagen.N_BATCHES):
            ops.append(Op(f"scd2_apply#{i}", run=lambda i=i: self._scd2(i)))
            ops.append(Op(f"scd3_apply#{i}", run=lambda i=i: self._scd3(i)))
        ops.append(Op("stream_scd2", run=self._stream_scd2))
        ops.append(Op("stream_scd3", run=self._stream_scd3))
        for lo, hi in self.windows:
            ops.append(Op(f"pruned_read_{lo}_{hi}", run=lambda lo=lo, hi=hi: self._pruned(lo, hi)))
        rng.shuffle(ops)
        # publish first; each kind of batch keeps its order
        for kind in ("scd2_apply#", "scd3_apply#"):
            slots = [i for i, op in enumerate(ops) if op.name.startswith(kind)]
            ordered = sorted((ops[i] for i in slots), key=lambda op: op.name)
            for i, op in zip(slots, ordered):
                ops[i] = op
        return [Op("publish_warehouse", run=self._publish)] + ops

    # -- steps ------------------------------------------------------------

    def _publish(self) -> None:
        from data_warehouse_implementation_spark.plans import warehouse
        from data_warehouse_implementation_spark.session import load_tables

        b = self.bench
        warehouse.publish_warehouse(self.catalog, load_tables(b.spark, b.data_dir))

    def _batch(self, kind: str, i: int):
        return self.bench.spark.read.parquet(os.path.join(self.mb_dirs[kind], f"b{i:03d}.parquet"))

    def _scd2(self, i: int) -> None:
        from data_warehouse_implementation_spark.plans import scd

        new = scd.scd2_apply(
            self.catalog.table("resolution_dim"), self._batch("scd2", i), ["o_orderkey"],
            as_of=datagen.CHANGES_AS_OF, order_col="seq",
        )
        self.catalog.replace("resolution_dim", new, internal=True)

    def _scd3(self, i: int) -> None:
        from data_warehouse_implementation_spark.plans import scd

        new = scd.scd3_apply(
            self.catalog.table("issue_dim"), self._batch("scd3", i), ["o_orderkey"],
            tracked_col="o_orderpriority", as_of=datagen.CHANGES_AS_OF, order_col="seq",
            old_col="o_orderpriority_old",
        )
        self.catalog.replace("issue_dim", new, internal=True)

    def _stream(self, kind: str, schema: str):
        return (
            self.bench.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.mb_dirs[kind])
        )

    def _await(self, query) -> None:
        query.awaitTermination()
        self.bench.stream_progress.extend(query.recentProgress)

    def _stream_scd2(self) -> None:
        from data_warehouse_implementation_spark import streaming

        self._await(streaming.incremental_scd2_sink(
            self._stream("scd2", SCD2_SCHEMA),
            self.catalog, "resolution_stream", ["o_orderkey"], order_col="seq",
            as_of=datagen.CHANGES_AS_OF, checkpoint=os.path.join(self.pass_dir, "ckpt_scd2"),
        ))

    def _stream_scd3(self) -> None:
        from data_warehouse_implementation_spark import streaming

        self._await(streaming.incremental_scd3_sink(
            self._stream("scd3", SCD3_SCHEMA),
            self.catalog, "issue_stream", ["o_orderkey"], tracked_col="o_orderpriority",
            order_col="seq", as_of=datagen.CHANGES_AS_OF,
            checkpoint=os.path.join(self.pass_dir, "ckpt_scd3"), old_col="o_orderpriority_old",
        ))

    def _pruned(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        return (
            self.catalog.table("lineitem_fact")
            .filter(F.col("order_month").between(lo, hi))
            .groupBy("order_month")
            .agg(F.count(F.lit(1)).alias("n"))
            .toPandas()
        )

    # -- checks -----------------------------------------------------------

    def check(self) -> list[str]:
        import pandas as pd
        from pyspark.sql import functions as F

        from data_warehouse_implementation_spark.plans import scd

        b, cat, spark = self.bench, self.catalog, self.bench.spark
        problems = []
        months = b.expected["month_counts"]
        for name, pdf in b.results.items():
            if name.startswith("pruned_read_"):
                lo, hi = map(int, name.split("_")[2:])
                want = {int(m): n for m, n in months.items() if lo <= int(m) <= hi}
                got = {int(r.order_month): int(r.n) for r in pdf.itertuples()}
                if got != want:
                    problems.append(f"{name}: month counts differ from the oracle")

        def rows(df, cols):
            return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

        def one_active(table):
            bad = (
                cat.table(table).groupBy("o_orderkey")
                .agg(F.sum(F.col("active").cast("int")).alias("n"))
                .filter("n != 1").count()
            )
            if bad:
                problems.append(f"{table}: {bad} keys without exactly one active version")

        def concat(kind, schema):
            return spark.createDataFrame(
                pd.concat([t.to_pandas() for t in self.batches[kind]]), schema
            )

        res_cols = ["o_orderkey", "o_orderstatus", "start_date", "end_date", "active"]
        one_active("resolution_dim")
        one_active("resolution_stream")
        empty2 = spark.createDataFrame(
            [], "o_orderkey long, o_orderstatus string, start_date date, end_date date, active boolean"
        )
        fold2 = scd.scd2_apply(empty2, concat("scd2", SCD2_SCHEMA), ["o_orderkey"],
                               as_of=datagen.CHANGES_AS_OF, order_col="seq")
        stream2 = rows(cat.table("resolution_stream"), res_cols)
        if stream2 != rows(fold2, res_cols):
            problems.append("resolution_stream differs from the batch fold")
        changed = cat.table("resolution_dim").filter(
            F.col("start_date") == F.lit(datagen.CHANGES_AS_OF).cast("date")
        )
        if rows(changed, res_cols) != stream2:
            problems.append("resolution_dim versions from the batches differ from the stream's")

        iss_cols = ["o_orderkey", "o_orderpriority", "o_orderpriority_old", "effective_date"]
        empty3 = spark.createDataFrame(
            [], "o_orderkey long, o_orderpriority string, o_orderpriority_old string,"
            " effective_date date"
        )
        fold3 = scd.scd3_apply(empty3, concat("scd3", SCD3_SCHEMA), ["o_orderkey"],
                               tracked_col="o_orderpriority", as_of=datagen.CHANGES_AS_OF,
                               order_col="seq", old_col="o_orderpriority_old", fresh_old=None)
        stream3 = cat.table("issue_stream")
        if rows(stream3, iss_cols) != rows(fold3, iss_cols):
            problems.append("issue_stream differs from the batch fold")
        issue = cat.table("issue_dim")
        if issue.count() != issue.select("o_orderkey").distinct().count():
            problems.append("issue_dim has duplicate keys")
        tracked = ["o_orderkey", "o_orderpriority"]
        if rows(issue.join(stream3.select("o_orderkey"), "o_orderkey"), tracked) != rows(stream3, tracked):
            problems.append("issue_dim tracked values differ from the stream's")
        return problems

    def stored_bytes(self) -> int:
        from tracing import dir_bytes

        return dir_bytes(self.pass_dir) + dir_bytes(self.staging)


WORKLOADS = {w.name: w for w in (WarehouseLoad, CorpusPipeline)}
