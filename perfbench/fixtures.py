"""Deterministic parquet fixtures for the query workloads.

Writes the ten tables the query registry reads (TPC-H-style star
schema, ``events``, ``documents``, ``embeddings``) with the schemas,
value domains and physical layout of the engine's test fixtures: one
snappy-compressed row group per table, micro-second naive timestamps.
The tables are a pure function of ``(seed, scale)``; ``scale=0.01``
gives 60,000 lineitem rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["rod", "bolt", "plate", "gear", "anvil", "gizmo", "widget", "ring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.42, 0.15, 0.14, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(start: dt.datetime, days: np.ndarray) -> np.ndarray:
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return base + days.astype("int64") * 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = 42, scale: float = 0.01) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_events = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days_us(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord))),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": _money(rng, 0.0, 0.1, n_line),
        "l_tax": _money(rng, 0.0, 0.08, n_line),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _ts(_days_us(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_line))),
    })
    start_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span_us, n_events, replace=False)) + start_us
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_events).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    t["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_vecs, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype("int32"),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Token-soup documents; ~5% are an earlier document plus the
    marker word ``dup`` (near duplicates) and ~1% exact copies."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k).tolist()))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def fixture_dir(state_dir: str, seed: int, scale: float) -> str:
    """Where the tables for ``(seed, scale)`` live. The name carries a
    hash of this module's source and the numpy and pyarrow versions, so
    a change to any of them writes fresh tables instead of reusing old
    ones."""
    with open(__file__, "rb") as f:
        source = f.read()
    versions = f"{np.__version__}\0{pa.__version__}".encode()
    digest = hashlib.sha256(source + b"\0" + versions).hexdigest()[:12]
    return os.path.join(state_dir, f"fixtures-{seed}-{scale}-{digest}")


def write_fixtures(out_dir: str, seed: int = 42, scale: float = 0.01) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (the directory
    is created atomically: staged under a pid suffix, then renamed)."""
    if os.path.isdir(out_dir):
        return
    stage = f"{out_dir}.part{os.getpid()}"
    os.makedirs(stage)
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"), compression="snappy")
    try:
        os.rename(stage, out_dir)
    except OSError:  # a concurrent writer got there first
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
