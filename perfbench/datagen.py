"""Deterministic input tables for the benchmark.

Writes the TPC-H-style star schema, the ``events`` stream and the
``documents``/``embeddings`` corpus that the workloads read, one parquet
file per table, with the column names and types ``andl_spark.session.TABLES``
expects. Columns are drawn independently from fixed domains, in the
shape of TPC-H-style sf0.01 test data, so every query in the workloads
returns rows. The tables depend only on ``DATA_SEED`` and the row
counts below, never on the benchmark's ``--seed``: a run's seed picks
the query order and the serve traffic, and the data stays the same.

    python3 perfbench/datagen.py <out_dir>
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: Bump when the generated tables change, so cached copies are rebuilt.
VERSION = 4

# The fixpoint queries walk key doubling chains up to the largest
# c_custkey, so this count sets their round count: sf0.1's 15000 gives
# the ~14 rounds (60-130 eager jobs a query) that workload is about.
N_CUSTOMER = 15_000
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15_000
N_LINEITEM = 60_000
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_NEAR_DUPS = 25
N_LABELS = 10
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window"]


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, N_CUSTOMER, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, N_SUPPLIER, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": _pick(rng, names, N_PART),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], N_PART),
        "p_type": _pick(rng, PART_TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    partkey = rng.integers(0, N_PART, N_LINEITEM)
    suppkey = rng.integers(0, N_SUPPLIER, N_LINEITEM)
    # suppliers 0..2 carry every small part (p_size < 4), so relational
    # divide over a brand's small parts has non-empty answers
    small = np.flatnonzero(out["part"].column("p_size").to_numpy() < 4)
    for p in small:
        rows = np.flatnonzero(partkey == p)[:3]
        suppkey[rows] = np.arange(len(rows))
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), i64),
        "l_partkey": pa.array(partkey, i64),
        "l_suppkey": pa.array(suppkey, i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04"),
    })
    # a stream: ascending timestamps with exponential gaps over January 2024
    gaps_us = rng.exponential(259.0e6, N_EVENTS).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    # the corpus draws from its own stream, so it stays put when the
    # tables above change
    corpus_rng = np.random.default_rng(DATA_SEED + 1)
    out["documents"] = _documents(corpus_rng)
    out["embeddings"] = _embeddings(corpus_rng)
    return out


def _documents(rng) -> pa.Table:
    """Word-soup documents. ``N_NEAR_DUPS`` of them copy another
    document minus its first word plus a ``dup`` marker, so the
    near-duplicate and repeated-span operators have pairs to find."""
    words = [list(np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), n)])
             for n in rng.integers(10, 100, N_DOCS)]
    copies = rng.choice(N_DOCS, size=2 * N_NEAR_DUPS, replace=False)
    for dst, src in zip(copies[:N_NEAR_DUPS], copies[N_NEAR_DUPS:]):
        words[dst] = words[src][1:] + ["dup"]
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": text,
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    """Unit vectors in ``N_LABELS`` loose clusters (a small shared
    direction per label plus isotropic noise)."""
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, N_DOCS)
    vec = 0.15 * centers[label] + rng.normal(scale=EMBED_DIM ** -0.5, size=(N_DOCS, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def ensure(root: str) -> str:
    """Return a directory holding the generated tables, writing it
    first if it is missing or from another ``VERSION``."""
    path = os.path.join(root, f"data-v{VERSION}")
    marker = os.path.join(path, "_COMPLETE")
    if os.path.exists(marker):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    os.replace(tmp, path)
    return path


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit("usage: datagen.py <out_dir>")
    print(ensure(sys.argv[1]))
