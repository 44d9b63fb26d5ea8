"""Seeded generator of the star-schema corpus the query registry reads.

Writes the ten tables of ``gbif_filter_python_spark.sources.io.CORPUS_TABLES``
as single parquet files, with the schemas, value domains and
distributions of the reference sf0.1 corpus (600k lineitem rows):
uniform keys and categorical columns, exponential event gaps and
values, 31-word documents and unit-norm 64-dimensional embeddings. The
same seed gives byte-identical inputs.
"""

from __future__ import annotations

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
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _days(start: str, n_days: int, rng, size: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days, size) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def build_corpus(seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = 15_000
    n_supp = 1_000
    n_part = 20_000
    n_orders = 150_000
    n_line = 600_000
    n_events = 100_000
    n_docs = 5_000
    n_emb = 2_000
    i32 = pa.int32()

    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        # Whole even cents: the midpoint of two prices is then a whole
        # cent, so a median rounded to cents has no half-cent tie that
        # Spark and DuckDB could round apart.
        "o_totalprice": 2 * _money(rng, 500.0, 250000.0, n_orders),
        "o_orderdate": _days("1995-01-01", 2405, rng, n_orders),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", 2499, rng, n_line),
    })
    gaps_us = np.round(rng.exponential(25.92, n_events) * 1e6).astype(np.int64)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts0 + np.cumsum(gaps_us), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), n)])
        for n in rng.integers(10, 100, n_docs)
    ]
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_corpus(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
