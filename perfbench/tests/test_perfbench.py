"""Tests of the benchmark itself. From the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests run every workload of BENCHMARK.json end to end at
sf0.001 (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(ROOT), str(BENCH)]

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402

from data_warehouse_implementation_spark.session import TESTDATA_TABLES  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_fingerprint_ignores_row_order_and_rejects_a_perturbed_value():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", None, "c"]})
    fp = checks.fingerprint(df)
    assert checks.fingerprint(df.iloc[::-1].reset_index(drop=True)) == fp
    assert checks.fingerprint(df[["s", "v", "k"]]) == fp
    bumped = df.copy()
    bumped.loc[1, "v"] = 1.2500001
    assert checks.fingerprint(bumped) != fp
    assert checks.fingerprint(df.iloc[:2]) != fp
    assert checks.fingerprint(df.astype({"k": "float64"})) != fp


@pytest.mark.parametrize(
    "n, rank, pct",
    [(21, 11, 100 * 11 / 21), (30, 20, 100 * 20 / 30), (100, 90, 90.0), (1000, 990, 99.0)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, rank, pct):
    samples = [float(i) for i in range(n, 0, -1)]  # rank r holds value r
    value, percentile, count = run.tail(samples)
    assert (value, count) == (rank, n)
    assert percentile == pytest.approx(pct)
    assert sum(1 for x in samples if x > value) == 10


@pytest.mark.parametrize("n", [1, 5, 20])
def test_tail_below_twenty_samples_is_the_slowest(n):
    assert run.tail([float(i) for i in range(n)]) == (n - 1, 100.0, n)


def test_tree_cpu_counts_live_and_reaped_children():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.8: pass"
    before = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", busy])
    time.sleep(0.5)  # this process sleeps; the child spins
    alive = run.tree_cpu_s() - before
    child.wait()
    reaped = run.tree_cpu_s() - before
    assert 0.1 <= alive <= reaped and reaped >= 0.75
    assert 0 < run.process_age() < 3600


def _as_rows(batches):
    return {k: [t.to_pylist() for t in v] for k, v in batches.items()}


def test_change_batches_are_deterministic_per_seed():
    a = _as_rows(datagen.change_batches(1, 1500, 75))
    assert a == _as_rows(datagen.change_batches(1, 1500, 75))
    assert a != _as_rows(datagen.change_batches(2, 1500, 75))
    for kind, col in (("scd2", "o_orderstatus"), ("scd3", "o_orderpriority")):
        for rows in a[kind]:
            keys = [r["o_orderkey"] for r in rows]
            assert len(set(keys)) < len(keys), "a batch repeats keys"
            assert any(r[col] is None for r in rows), "a batch carries NULLs"
            assert all(0 <= k < 1500 for k in keys)
    seqs = [r["seq"] for k in ("scd2", "scd3") for rows in a[k] for r in rows]
    assert seqs == sorted(set(seqs))


def test_base_tables_are_deterministic():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert set(a) == set(TESTDATA_TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 4 * a["orders"].num_rows


def test_documents_have_near_copies_at_the_testdata_share():
    t = datagen.tables(0.01)
    texts = t["documents"].column("text").to_pylist()
    marked = [x for x in texts if x.endswith(" dup")]
    assert len(marked) == int(len(texts) * datagen.NEAR_DUP_SHARE)
    # a copy's source may itself be overwritten by a later copy, as in
    # the testdata tables (24 of 25 sources survive there)
    assert sum(x[: -len(" dup")] in texts for x in marked) >= 0.9 * len(marked)
    vecs = t["embeddings"].column("embedding").to_pylist()
    assert all(abs(sum(v * v for v in vec) - 1) < 1e-4 for vec in vecs)


def test_micro_batch_files_are_stamped_in_batch_order(tmp_path):
    batches = datagen.change_batches(3, 1500, 75)["scd2"]
    datagen.write_micro_batches(batches, str(tmp_path))
    files = sorted(tmp_path.iterdir(), key=lambda p: p.stat().st_mtime)
    assert [f.name for f in files] == [f"b{i:03d}.parquet" for i in range(len(batches))]


SMOKE = [(w["name"], t) for w in SPEC["workloads"] for t in (0, 1)]


@pytest.mark.parametrize("workload, trace", SMOKE)
def test_smoke_run_at_sf0001(workload, trace):
    env = dict(os.environ, PERFBENCH_SF="0.001")
    env.pop("SPARK_GRAFT_STAGE_DIR", None)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }


def test_refuses_a_staging_directory(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", "/nonexistent")
    assert run.main(["--workload", "warehouse_load", "--seed", "1", "--seconds", "1"]) == 2
