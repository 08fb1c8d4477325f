"""Seeded generator for the engine's TPC-H-ish source tables.

Writes one parquet file per table (``region nation customer supplier part
orders lineitem events documents embeddings``) with the column names, types
and value domains the registry queries read.  The same ``(sf, seed)`` always
gives byte-identical tables; a different seed gives new rows of the same
shape.  Row counts follow the TPC-H ratios: at ``sf`` there are
150,000·sf customers, 10,000·sf suppliers, 200,000·sf parts, 1,500,000·sf
orders, about four line items per order and 1,000,000·sf events.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


def _ts(start: str, end: str, n: int, rng: np.random.Generator, whole_days: bool) -> pa.Array:
    lo = np.datetime64(start, "us")
    hi = np.datetime64(end, "us")
    if whole_days:
        days = int((hi - lo) // np.timedelta64(1, "D"))
        v = lo + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    else:
        span = int((hi - lo) // np.timedelta64(1, "us"))
        v = lo + np.sort(rng.integers(0, span, n)).astype("timedelta64[us]")
    return pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def part_table(keys: np.ndarray, rng: np.random.Generator) -> pa.Table:
    """``part`` rows for the given keys (the flyer source documents)."""
    n = len(keys)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` for ``seed``, in memory."""
    rng = np.random.default_rng([seed, 7919])
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    out["part"] = part_table(np.arange(n_part), rng)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", n_ord, rng, whole_days=True),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _ts("1995-01-02", "2001-11-04", n_line, rng, whole_days=True),
    })
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", "2024-01-31", n_ev, rng, whole_days=False),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_WORDS, n_words)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.standard_normal((10, EMBED_DIM))
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.standard_normal((n_vec, EMBED_DIM)) + 0.14 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="write the seeded source tables")
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args()
    print(write_tables(a.out_dir, a.sf, a.seed))
