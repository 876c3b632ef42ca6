"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same files.  Inputs are written once per run, before the session starts
and before any timing.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INT32_MIN, INT32_MAX = -(2**31), 2**31 - 1


def kv_uniform(seed: int, rows: int) -> tuple[np.ndarray, np.ndarray]:
    """Uniform random int32 keys and values (the reference's tosort*.txt)."""
    rng = np.random.default_rng([seed, 1])
    keys = rng.integers(INT32_MIN, INT32_MAX, rows, endpoint=True)
    values = rng.integers(INT32_MIN, INT32_MAX, rows, endpoint=True)
    return keys, values


def write_kv_text(path: str, keys: np.ndarray, values: np.ndarray) -> None:
    """``key\\tvalue`` lines, the reference's input/tosort*.txt format."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("".join(f"{k}\t{v}\n" for k, v in zip(keys.tolist(), values.tolist())))


# --------------------------------------------------------------------------
# TPC-H-ish star schema plus events / documents / embeddings, shaped like the
# tables the catalog queries read (same columns, types and value domains).
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "the a data row column table key value sort order scan join hash merge "
    "group agg window stream batch spark query filter part line customer "
    "vector big small fast slow"
).split()
EMBED_DIM = 64


def _days(rng, n, start: dt.datetime, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def catalog_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Tables at ``scale`` (1.0 ~ 100k events / 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 3])
    n_cust = max(50, int(15000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_part = max(50, int(20000 * scale))
    n_ord = max(100, int(150000 * scale))
    n_line = 4 * n_ord
    n_ev = max(500, int(100000 * scale))
    n_users = max(10, int(1500 * scale))
    n_docs = max(100, int(5000 * scale))
    n_emb = max(100, int(5000 * scale))

    def pick(options, n):
        return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)].tolist(), pa.string())

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

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
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adjectives = ["blue", "cold", "small", "large", "red", "shiny", "old", "new"]
    nouns = ["widget", "bolt", "anvil", "gear", "spring", "valve", "panel", "screw"]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), 2404),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2), 2498),
    })
    # Unique, increasing-by-id timestamps over one month, so (ts, event_id)
    # orders are total and every engine ranks identically.
    offsets = np.sort(rng.choice(30 * 86400 * 10**6, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64(dt.datetime(2024, 1, 1), "us") + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # Near-duplicate of an earlier document: one word swapped.
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + 1.5 * rng.normal(size=(n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_catalog(sf_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
