"""Deterministic inputs for the benchmark.

Two kinds of input, kept apart on purpose:

- the base tables (:func:`write_tables`): the ten testdata tables in the
  schema of TESTDATA.md, drawn from a FIXED seed so that the
  expected oracle fingerprints are computed once per checkout;
- the change batches of ``warehouse_load`` (:func:`change_batches`),
  drawn from the run's ``--seed``: SCD2 order-status changes and SCD3
  tracked-column changes with duplicate keys inside a batch and NULL
  values (FIXTURES.md §A1), written once more as micro-batch files for
  the streaming sinks (:func:`write_micro_batches`).

Value domains and the statistics the corpus operators depend on follow
the testdata tables (BENCHMARK.md compares them): uniform draws over
small categorical domains, uniform dates, documents of 10-99 tokens
from a 30-word vocabulary of which 5% are near copies of another
document, and isotropic unit-norm embeddings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated tables change; it names the cache directory.
VERSION = 2
BASE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMB_DIM = 64
#: Share of documents that are near copies of another (measured on the
#: testdata tables, see BENCHMARK.md).
NEAR_DUP_SHARE = 0.05


def _day_range(rng, lo: str, hi: str, n: int) -> np.ndarray:
    d0 = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    langs = rng.choice(LANGS, n, p=LANG_P)
    toks = [
        [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        for _ in range(n)
    ]
    # near duplicates: a copy of another document (possibly itself a
    # copy) with a marker token appended
    for i in rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False):
        toks[i] = toks[(int(i) + int(rng.integers(1, n))) % n] + ["dup"]
    texts = [" ".join(t) for t in toks]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    # isotropic unit vectors; the label is drawn independently of them
    vecs = rng.normal(size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def tables(sf: float, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The ten base tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs = max(int(50_000 * sf), 500)
    i32 = pa.int32()
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(STATUSES, n_ord).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _day_range(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }),
    }
    n_li = 4 * n_ord
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _day_range(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt),
        "ts": (t0 + offsets.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(int(15_000 * sf), 150), n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt).tolist(),
        "value": np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, max(int(20_000 * sf), 500))
    return out


def write_tables(out_dir: str, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# -- warehouse_load change batches (seeded by --seed) --------------------

#: ``as_of`` of every change batch. One date for the whole run, so the
#: streaming fold and the batch fold are the same function of the rows.
CHANGES_AS_OF = "2024-07-01"
N_BATCHES = 2


def change_batches(seed: int, n_orders: int, rows_per_batch: int) -> dict[str, list[pa.Table]]:
    """SCD2 (``o_orderkey, o_orderstatus, seq``) and SCD3
    (``o_orderkey, o_orderpriority, seq``) change batches.

    Keys are existing order keys; about a fifth of each batch repeats a
    key already drawn in the same batch, and about 5% of values are
    NULL. ``seq`` increases across batches, so it orders the whole
    change stream."""
    rng = np.random.default_rng([seed, 7])
    out: dict[str, list[pa.Table]] = {"scd2": [], "scd3": []}
    seq = 0
    for kind, col, domain in (
        ("scd2", "o_orderstatus", STATUSES + ["X"]),
        ("scd3", "o_orderpriority", PRIORITIES + ["0-CRITICAL"]),
    ):
        for _ in range(N_BATCHES):
            n_fresh = rows_per_batch - rows_per_batch // 5
            keys = rng.choice(n_orders, n_fresh, replace=False)
            keys = np.concatenate([keys, rng.choice(keys, rows_per_batch - n_fresh)])
            rng.shuffle(keys)
            vals = rng.choice(domain, rows_per_batch).tolist()
            vals = [None if rng.random() < 0.05 else v for v in vals]
            out[kind].append(pa.table({
                "o_orderkey": pa.array(keys, pa.int64()),
                col: pa.array(vals, pa.string()),
                "seq": pa.array(np.arange(seq, seq + rows_per_batch), pa.int64()),
            }))
            seq += rows_per_batch
    return out


def write_micro_batches(batches: list[pa.Table], out_dir: str) -> None:
    """One parquet file per batch; modification times increase with the
    batch index, so a file stream with ``maxFilesPerTrigger=1`` reads
    them in batch order."""
    os.makedirs(out_dir, exist_ok=True)
    for i, tbl in enumerate(batches):
        path = os.path.join(out_dir, f"b{i:03d}.parquet")
        pq.write_table(tbl, path)
        stamp = dt.datetime(2024, 1, 1).timestamp() + 60 * i
        os.utime(path, (stamp, stamp))
