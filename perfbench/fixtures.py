"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registry queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the column names, types and value domains the query
modules and their DuckDB oracles expect. Row counts follow the TPC-H
scale factor: `sf=0.01` gives 15,000 orders and about 60,000 lineitems.
The same `(sf, seed)` always yields the same logical content.

Documents are word salad over one small vocabulary; a fifth of them are
near-copies of an earlier document with a few words replaced, so the
dedup operators find real candidate pairs. Embeddings are unit vectors
scattered around ten cluster centres and labelled by centre.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
PART_ADJ = ["red", "blue", "hot", "old", "large", "small", "green", "cold"]
PART_NOUN = ["widget", "plate", "ring", "rod", "bolt", "gear"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a the join hash row batch scan column customer filter small slow fast "
    "big key value table part agg order query line sort window stream merge "
    "data spark vector group index"
).split()
EMBED_DIM = 64
N_CLUSTERS = 10

_EPOCH = dt.datetime(1970, 1, 1)


def _days(start: dt.date, n: np.ndarray) -> np.ndarray:
    base = (dt.datetime.combine(start, dt.time()) - _EPOCH).days
    return ((base + n) * 86_400_000_000).astype("datetime64[us]")


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_docs = n_vecs = max(200, int(50_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    order_day = rng.integers(0, 2403, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _days(dt.date(1995, 1, 1), order_day),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = np.clip(rng.normal(4, 1.9, n_ord).round().astype(np.int64), 1, 13)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_line = len(l_order)
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship_day = np.repeat(order_day, lines) + rng.integers(0, 121, n_line)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part], 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(dt.date(1995, 1, 2), ship_day),
        }
    )
    # mostly time-ordered with local disorder, like a real event stream
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_events)) + rng.normal(0, 120, n_events)
    secs = np.clip(secs, 0, 30 * 86_400 - 1)
    base_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": (base_us + (secs * 1e6).astype(np.int64)).astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    # A near-copy drops or appends one or two words at the end of an
    # original of 30+ words, which keeps their 3-word-shingle Jaccard
    # above 0.85 and their SimHash distance small; each original is
    # copied at most once, and unrelated documents stay below 0.2. The
    # dedup oracles rely on that gap.
    texts: list[str] = []
    sources: list[int] = []
    for _ in range(n_docs):
        if sources and rng.random() < 0.1:
            words = texts[sources.pop(int(rng.integers(0, len(sources))))].split()
            k = int(rng.integers(1, 3))
            words = words[:-k] if rng.random() < 0.5 else words + list(rng.choice(VOCAB, k))
        else:
            words = list(rng.choice(VOCAB, size=int(rng.integers(8, 96))))
            if len(words) >= 30:
                sources.append(len(texts))
        texts.append(" ".join(words))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centres = rng.normal(0, 1, (N_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, N_CLUSTERS, n_vecs)
    # a weak cluster signal: exact product-quantisation codes then
    # differ between vectors, so top-k rankings have no exact ties
    vecs = 0.15 * centres[labels] + rng.normal(0, 1, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
