"""Seeded tables for the analytics workload.

The analytics queries read ten parquet tables (a reduced TPC-H star plus
`events`, `documents` and `embeddings`). The benchmark may read nothing
outside its checkout, so it writes its own copy from the seed, with the
schema, value domains and row counts per scale factor of the synthetic
tables the query registry was written against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMBED_DIM = 64


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _days(start: dt.datetime, n_days: int, rng, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, n_days, n).astype(np.float64) * 86400.0)


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write <out_dir>/<table>.parquet for every table; -> row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), 2404, rng, n_orders),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(1.0, 2.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(dt.datetime(1995, 1, 2), 2499, rng, n_line),
    })
    ev_secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.round(ev_secs, 6)),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(np.minimum(rng.exponential(60.0, n_events), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_docs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
