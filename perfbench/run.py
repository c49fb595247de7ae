"""The engine's benchmark. From the repository root:

    python3 perfbench/run.py --workload warehouse_load --seed 1 --seconds 10 --trace 0

One process is one run and one closed-loop client: each op starts when
the previous one has finished. The run sets up once (timed from process
start), runs whole passes over the workload's ops until ``--seconds``
have passed, checks every result outside the timed region and prints a
table of metrics, a ``#`` line with the run's facts, and one JSON line.
``--trace 1`` runs the same work with spans and the Spark event log on
and reports the per-layer metrics instead.

Inputs are generated on the first run into ``.perfbench/`` (gitignored)
together with the oracle fingerprints; each run's scratch space is a
fresh directory below it, deleted when the run ends. BENCHMARK.md next
to this file describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "data_warehouse_implementation_spark"

MB = 1024 * 1024


def process_age() -> float:
    """Seconds since this process started, from ``/proc/self/stat``."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by this process and all its live
    descendants (the JVM, Spark's Python workers), including children
    they have already reaped."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended
        stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` at the highest percentile that still
    has at least 10 samples beyond it. With 20 samples or fewer no
    percentile above the median qualifies, and the slowest op is
    reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


# -- inputs -----------------------------------------------------------------


def ensure_inputs(cache: Path) -> tuple[str, dict, bool]:
    """Generated tables and the expected result of every query, built
    once per checkout and again when an oracle changes, and whether
    this call built either. Both are written under a temporary name and
    renamed, so an interrupted build is never used."""
    import checks
    import datagen
    import workloads

    from data_warehouse_implementation_spark import registry

    home = cache / f"inputs-v{datagen.VERSION}-sf{workloads.SF}"
    data = home / "data"
    generated = not data.exists()
    if generated:
        tmp = cache / f"tmp-{uuid.uuid4().hex}"
        datagen.write_tables(str(tmp), workloads.SF)
        home.mkdir(parents=True, exist_ok=True)
        os.replace(tmp, data)
    oracles = {n: registry.oracle_sql()[n] for n in workloads.registry_oracles()}
    digest = hashlib.sha256(
        json.dumps([oracles, checks.MONTH_COUNTS_SQL], sort_keys=True).encode()
    ).hexdigest()
    path = home / "expected.json"
    expected = json.loads(path.read_text()) if path.exists() else {}
    if expected.get("oracles") != digest:
        generated = True
        months = checks.oracle_frame(str(data), checks.MONTH_COUNTS_SQL)
        expected = {
            "oracles": digest,
            "fingerprints": checks.expected_fingerprints(str(data), oracles),
            "month_counts": {str(m): int(n) for m, n in zip(months.order_month, months.n)},
        }
        tmp = home / f"tmp-{uuid.uuid4().hex}.json"
        tmp.write_text(json.dumps(expected, indent=1, sort_keys=True))
        os.replace(tmp, path)
    return str(data), expected, generated


def input_bytes(data_dir: str) -> int:
    return sum(p.stat().st_size for p in Path(data_dir).glob("*.parquet"))


def commit() -> str:
    """The git commit, or ``unknown`` outside a git checkout."""
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def source_digest() -> str:
    """Digest of the package's sources: names the program version even
    where the checkout carries no git metadata."""
    h = hashlib.sha256()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:12]


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM it launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- the run ----------------------------------------------------------------


class Bench:
    def __init__(self, seed: int, run_dir: Path, data_dir: str, expected: dict,
                 generate_s: float) -> None:
        self.seed = seed
        #: time this process spent generating inputs, left out of setup_s
        self.generate_s = generate_s
        self.run_dir = str(run_dir)
        self.data_dir = data_dir
        self.expected = expected
        self.spark = None
        self.results: dict[str, object] = {}
        self.records: list[dict] = []
        self.stream_progress: list[dict] = []
        self.tracer = None
        self.workload = None

    def setup(self) -> None:
        """Session start, table registration and a warm-up (one scan of
        every table) that runs no workload op."""
        from data_warehouse_implementation_spark.session import get_spark, load_tables

        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        for df in load_tables(spark, self.data_dir).values():
            df.groupBy().count().collect()
        self.spark = spark

    def run_op(self, op, pass_index: int, index: int) -> None:
        from data_warehouse_implementation_spark import registry
        from data_warehouse_implementation_spark.plans import materialize

        group = f"p{pass_index}.{index}.{op.name}"
        self.spark.sparkContext.setJobGroup(group, op.name)
        if self.tracer is not None:
            self.tracer.op = group
        rec = {"op": op.name, "query": op.query, "group": group, "pass": pass_index, "ok": True}
        builds = len(materialize.BUILD_SECONDS)
        t0 = time.perf_counter()
        try:
            if op.query is not None:
                df = registry.queries()[op.query](self.spark, self.data_dir)
                t1 = time.perf_counter()
                result = df.toPandas()
                rec["exec_s"] = time.perf_counter() - t1
                rec["plan_s"] = t1 - t0 - sum(materialize.BUILD_SECONDS[builds:])
            else:
                result = op.run()
        except Exception as exc:  # an op failure is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            result = None
        rec["seconds"] = time.perf_counter() - t0
        rec["builds"] = len(materialize.BUILD_SECONDS) - builds
        rec["build_s"] = sum(materialize.BUILD_SECONDS[builds:])
        self.records.append(rec)
        if result is not None:
            self.results[op.name] = result


def storage(spark) -> tuple[float, int]:
    """``(MB, RDDs)``: memory plus disk held by persisted RDDs, and how
    many RDDs hold blocks. Read from the storage info only: the map of
    persistent RDDs would hand the RDDs themselves to Python and keep
    them reachable."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB, len(infos)


def settled_storage(spark) -> tuple[float, int]:
    """:func:`storage` of what the program still references. Spark
    unpersists an RDD only once its driver-side object has been garbage
    collected, and one collection can make more objects unreachable, so
    the figures follow GC timing until collections reach a fixed point:
    collect on both sides of the gateway until three readings agree."""
    import gc

    readings: list[tuple[float, int]] = []
    for _ in range(20):
        gc.collect()  # drops the Python side's handles on JVM objects
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)  # the context cleaner unpersists asynchronously
        readings.append(storage(spark))
        if len(readings) >= 3 and len(set(readings[-3:])) == 1:
            break
    return readings[-1]


def run(args) -> int:
    cache = ROOT / ".perfbench"
    cache.mkdir(exist_ok=True)
    t0 = time.perf_counter()
    data_dir, expected, generated = ensure_inputs(cache)
    generate_s = time.perf_counter() - t0 if generated else 0.0
    run_dir = cache / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    for sub in ("tmp", "spark-local", "eventlog"):
        (run_dir / sub).mkdir(parents=True)
    # keep every file the run writes inside the run directory
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM of the run, the launcher's too; -XX:-UsePerfData keeps
    # them from writing /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if args.trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            # Spark 4 compresses with zstd by default; no reader is installed
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{run_dir / 'eventlog'}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    bench = Bench(args.seed, run_dir, data_dir, expected, generate_s)
    try:
        return measure(bench, args)
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(bench: Bench, args) -> int:
    import random

    import checks
    import workloads
    from tracing import Tracer

    from data_warehouse_implementation_spark.plans import materialize

    bench.setup()
    # from process start: imports, JVM launch, session, tables, warm-up
    setup_s = process_age() - bench.generate_s
    spark = bench.spark
    workload = bench.workload = workloads.WORKLOADS[args.workload](bench)
    workload.prepare()
    if args.trace:
        bench.tracer = Tracer()
        bench.tracer.install()

    rng = random.Random(args.seed)
    pass_times: list[float] = []
    pass_cpu: list[float] = []
    builds0 = len(materialize.BUILD_SECONDS)
    started = time.perf_counter()
    while not pass_times or time.perf_counter() - started < args.seconds:
        if pass_times:
            materialize.clear()
        workload.start_pass(len(pass_times))
        first = len(bench.records)
        cpu0 = tree_cpu_s()
        for i, op in enumerate(workload.ops(rng)):
            bench.run_op(op, len(pass_times), i)
        pass_times.append(sum(r["seconds"] for r in bench.records[first:]))
        pass_cpu.append(tree_cpu_s() - cpu0)
    measured_s = time.perf_counter() - started
    spark.sparkContext.setJobGroup("perfbench.end", "end of run")
    mb_end, persisted_end = settled_storage(spark)
    if bench.tracer is not None:
        bench.tracer.op = None
        bench.tracer.uninstall()

    # -- checks, outside the timed region ----------------------------------
    checks_started = time.perf_counter()
    records = bench.records
    problems = [f"{r['op']}: {r['error']}" for r in records if not r["ok"]]
    fps = bench.expected["fingerprints"]
    for rec in records:
        name = rec["op"]
        if rec["ok"] and rec["query"] is not None:
            got = checks.fingerprint(bench.results[name])
            if got != fps[name]:
                rec["ok"] = False
                problems.append(f"{name}: result {got} != oracle {fps[name]}")
    try:
        end_state = workload.check()
    except Exception as exc:  # a check that cannot run is a failed check
        end_state = [f"end-state check failed to run: {type(exc).__name__}: {exc}"]
    problems += end_state
    checks_s = time.perf_counter() - checks_started
    attempted = len(records)
    # each wrong end state counts as one more failed op
    failed = min(attempted, sum(1 for r in records if not r["ok"]) + len(end_state))

    lat = [r["seconds"] for r in records]
    tail_v, tail_pct, n = tail(lat)
    in_bytes = input_bytes(bench.data_dir)
    e2e = {
        "setup_s": (setup_s, "s"),
        "run_cpu_s": (statistics.median(pass_cpu), "s"),
        "cached_mb_end": (mb_end, "MB"),
        "stored_bytes_ratio": ((in_bytes + workload.stored_bytes()) / in_bytes, "ratio"),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": workloads.SF,
        "nproc": len(os.sched_getaffinity(0)), "commit": commit(), "source": source_digest(),
        "passes": len(pass_times), "pass_s": pass_times, "pass_cpu_s": pass_cpu,
        "measured_s": measured_s, "checks_s": checks_s, "op_fail_ratio": failed / attempted,
        "problems": problems,
        "ops": [{k: r[k] for k in ("op", "seconds", "builds", "build_s", "ok")} for r in records],
    }
    # printed, not in the result: wall times follow the machine's load
    # (BENCHMARK.md gives the spreads), and corpus_pipeline has too few
    # ops for a percentile
    shown = dict(e2e, run_s=(statistics.median(pass_times), "s"))
    if workload.per_op_latency:
        shown["op_p50_s"] = (statistics.median(lat), "s")
        shown["op_tail_s"] = (tail_v, "s")
        info.update(op_tail_percentile=tail_pct, op_tail_n=n)
    shown["op_fail_ratio"] = (info["op_fail_ratio"], "ratio")
    if args.trace:
        metrics = layer_metrics(bench, builds0, persisted_end, pass_times)
        shown.update(metrics)
    else:
        metrics = e2e
    for k, (v, unit) in shown.items():
        print(f"{k:34s} {v:16.6f} {unit}")
    print("# " + json.dumps(info))
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not problems else 1


def layer_metrics(bench: Bench, builds0: int, persisted_end: int,
                  pass_times: list[float]) -> dict[str, tuple[float, str]]:
    from tracing import event_log_files, fold_event_log, spark_totals

    from data_warehouse_implementation_spark.plans import materialize

    spark = bench.spark
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes and closes the event log
    bench.spark = None
    per_group, jobs = fold_event_log(event_log_files(os.path.join(bench.run_dir, "eventlog"), app_id))
    out: dict[str, tuple[float, str]] = {}
    for k, v in spark_totals(per_group).items():
        unit = "count" if k in ("spark.jobs", "spark.stages", "spark.tasks") else (
            "MB" if k.endswith("_mb") else "s")
        out[k] = (v, unit)
    spans = bench.tracer.layer_metrics(jobs)
    for k, v in spans.items():
        unit = ("count" if k.endswith(("jobs", "calls")) else
                "bytes" if k.endswith("bytes_written") else "s")
        out[k] = (v, unit)
    q = [r for r in bench.records if "plan_s" in r]
    out["registry.plan_s"] = (sum(r["plan_s"] for r in q), "s")
    out["registry.exec_s"] = (sum(r["exec_s"] for r in q), "s")
    builds = len(materialize.BUILD_SECONDS) - builds0
    # every call, nested ones too: a builder may itself call get_or_build
    calls = sum(1 for sp in bench.tracer.spans if sp.name == "materialize.get_or_build")
    out["materialize.builds"] = (builds, "count")
    out["materialize.build_s"] = (sum(materialize.BUILD_SECONDS[builds0:]), "s")
    out["materialize.hits"] = (calls - builds, "count")
    out["materialize.hit_ratio"] = ((calls - builds) / calls if calls else 0.0, "ratio")
    out["materialize.persisted_end"] = (persisted_end, "count")
    prog = bench.stream_progress
    out["streaming.batches"] = (sum(1 for p in prog if p.get("numInputRows", 0) > 0), "count")
    out["streaming.batch_s"] = (
        sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in prog) / 1000.0, "s"
    )
    out["streaming.rows_in"] = (sum(p.get("numInputRows", 0) for p in prog), "count")
    # run_s with tracing on: minus the untraced run_s, the tracing overhead
    out["trace.run_s"] = (statistics.median(pass_times), "s")
    return out


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=["warehouse_load", "corpus_pipeline"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = parser.parse_args(argv)
    if "SPARK_GRAFT_STAGE_DIR" in os.environ:
        print("perfbench: refusing to run with SPARK_GRAFT_STAGE_DIR set: staged "
              "caches from an earlier process would skip their build cost", file=sys.stderr)
        return 2
    if not (ROOT / PACKAGE / "__init__.py").exists():
        print(f"perfbench: {PACKAGE} not found under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
