"""Spans around the program's layers, recorded from the benchmark's own
files, and the fold of Spark's event log into per-layer counters.

Spans wrap public functions at the module attribute each caller uses:
many modules import names directly (``from .session import
load_tables``), so :meth:`Tracer.wrap` replaces every alias of the
function object found in the already-imported package modules. Spans
are kept in memory; :meth:`Tracer.layer_metrics` reduces them when the
run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

PACKAGE = "data_warehouse_implementation_spark"

#: Operator layers and the functions whose eager time and jobs they own.
OPERATOR_SPANS = {
    "suffix": ["suffix_dup_lengths"],
    "graph": ["pagerank", "label_propagation", "core_numbers", "count_triangles"],
    "dedup": ["connected_components"],
    "similarity": ["kmeans_fit", "pq_kmeans_fit"],
    "unigram": ["unigram_train", "unigram_train_from_words"],
    "bpe": ["bpe_train", "bpe_train_from_symbols"],
}
IO_SPANS = {
    "csvio": ("read_csv", "write_csv"),
    "jsonio": ("read_jsonl", "write_jsonl"),
    "orcio": ("read_orc", "write_orc"),
    "xmlio": ("read_xml", "write_xml"),
}
CATALOG_WRITES = ("write", "replace", "insert_into")

MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except FileNotFoundError:
                pass  # a concurrent replace renamed it away
    return total


class Tracer:
    """Records spans. ``op`` is the id of the op being run; spans opened
    on other threads (streaming ``foreachBatch`` callbacks) have no
    parent but still carry the op id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        span = Span(next(self._ids), name, time.time(), 0.0, stack[-1] if stack else None, self.op)
        stack.append(span.id)
        try:
            yield span
        finally:
            span.end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def _wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` and every alias of it in the loaded
        package modules with a spanning wrapper."""
        orig = getattr(module, attr)
        traced = self._wrapper(name, orig)
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE)]:
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._undo.append((mod, key, orig))
                    setattr(mod, key, traced)

    def install(self) -> None:
        """Wrap the layers named in the benchmark's per-layer table."""
        import importlib

        from data_warehouse_implementation_spark import session
        from data_warehouse_implementation_spark.plans import materialize
        from data_warehouse_implementation_spark.sources.catalog import WarehouseCatalog

        self.wrap(session, "load_tables", "session.load_tables")
        self.wrap(materialize, "get_or_build", "materialize.get_or_build")
        for layer, fns in OPERATOR_SPANS.items():
            mod = importlib.import_module(f"{PACKAGE}.operators.{layer}")
            for fn in fns:
                self.wrap(mod, fn, f"operators.{layer}")
        for modname, (read, write) in IO_SPANS.items():
            mod = importlib.import_module(f"{PACKAGE}.sources.{modname}")
            self.wrap(mod, read, "sources.io.read")
            self.wrap(mod, write, "sources.io.write")
        for meth in CATALOG_WRITES:
            self.wrap_catalog(WarehouseCatalog, meth)

    def wrap_catalog(self, cls, meth: str) -> None:
        """Catalog writes also record the bytes the written table holds."""
        orig = getattr(cls, meth)
        tracer = self

        @functools.wraps(orig)
        def traced(catalog, name, *args, **kwargs):
            with tracer.span("sources.catalog.write") as span:
                out = orig(catalog, name, *args, **kwargs)
                span.attrs["bytes"] = dir_bytes(catalog.path(name))
            return out

        self._undo.append((cls, meth, orig))
        setattr(cls, meth, traced)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- reduction --------------------------------------------------------

    def outermost(self, name: str) -> list[Span]:
        """Spans of ``name`` not nested inside another span of ``name``."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and by_id[p].name != name:
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def self_seconds(self) -> dict[str, float]:
        """Self time per span name: each span's duration minus that of
        its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.id]
        return dict(out)

    def layer_metrics(self, jobs: list[tuple[float, str]]) -> dict[str, float]:
        """Per-layer numbers from the spans. Times are self times.
        ``jobs`` holds one ``(submission epoch seconds, job group)`` per
        Spark job; a job belongs to an operator when it was submitted
        inside one of the operator's outermost spans, by the same op."""
        self_s = self.self_seconds()
        out: dict[str, float] = {
            "session.load_tables_s": self_s.get("session.load_tables", 0.0),
            "session.load_tables_calls": len(self.outermost("session.load_tables")),
        }
        for layer in OPERATOR_SPANS:
            name = f"operators.{layer}"
            spans = self.outermost(name)
            out[f"{name}.s"] = self_s.get(name, 0.0)
            out[f"{name}.jobs"] = sum(
                1 for t, g in jobs for s in spans if g == s.op and s.start <= t <= s.end
            )
        out["sources.catalog.write_s"] = self_s.get("sources.catalog.write", 0.0)
        out["sources.catalog.bytes_written"] = sum(
            s.attrs.get("bytes", 0) for s in self.outermost("sources.catalog.write")
        )
        out["sources.io.write_s"] = self_s.get("sources.io.write", 0.0)
        out["sources.io.read_s"] = self_s.get("sources.io.read", 0.0)
        return out


# -- Spark event log --------------------------------------------------------

SPARK_KEYS = (
    "jobs", "stages", "tasks", "deser_s", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The files of one application's event log: a single file, or the
    numbered parts of a rolling log (Spark 4's ``eventlog_v2_`` layout)."""
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(rolling):
        return [os.path.join(log_dir, app_id)]
    parts = [f for f in os.listdir(rolling) if f.startswith("events_")]
    return [os.path.join(rolling, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def fold_event_log(paths: list[str]) -> tuple[dict[str, dict[str, float]], list[tuple[float, str]]]:
    """Fold an uncompressed Spark event log by job group.

    Returns ``({group: {spark metric: value}}, [(submit time, group)])``.
    Jobs without a group (set-up, checks) are left out. A stage counts
    once, for the first job that listed it, and only if it ran."""
    stage_group: dict[int, str] = {}
    per: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0.0))
    jobs: list[tuple[float, str]] = []
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jobs.append((ev["Submission Time"] / 1000.0, group))
            per[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                per[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = per[group]
            g["tasks"] += 1
            g["deser_s"] += m.get("Executor Deserialize Time", 0) / 1000.0
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics", {})
            g["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / MB
            g["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            ) / MB
            g["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / MB
    return dict(per), jobs


def _lines(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            yield from fh


def spark_totals(per_group: dict[str, dict[str, float]]) -> dict[str, float]:
    return {f"spark.{k}": sum(g[k] for g in per_group.values()) for k in SPARK_KEYS}
