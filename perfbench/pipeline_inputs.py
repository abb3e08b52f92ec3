"""Seeded source tables and entry orders for the ``pipeline_ops`` workload.

The inventory entries read ten TPC-H-like parquet tables through
``scout_spark.sources.tables.load_table(spark, sf_dir, name)``. This module
writes those tables from one integer seed into a directory of the run, with
the column names, types and row counts of the repository's 0.01 scale
factor: 25 nations, 1,500 customers, 2,000 parts, 15,000 orders, 60,000
line items, 10,000 events, 500 documents and 500 embeddings.
"""

from __future__ import annotations

import os

import numpy as np

# the pipeline_ops entries in their base order; the seed permutes each pass
ENTRIES = (
    "flagship_fuzzy_search",
    "bm25_topk_retrieval",
    "text_token_entropy",
    "graph_degree_assortativity",
    "pipeline_curate_end_to_end",
    "tpch_q9_product_profit",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15_000,
         "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500}
DIM = 64
N_SOURCES = 20  # documents.source is "src<doc_id % 20>"


def _days(base: str, offsets) -> np.ndarray:
    return np.datetime64(base, "us") + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def build(seed: int) -> dict:
    """Column dicts per table for ``seed``."""
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        },
    }
    pk = np.arange(n["part"], dtype=np.int64)
    price = np.round(900.0 + (pk % 1000) * 0.1, 2)
    out["part"] = {
        "p_partkey": pk,
        "p_name": [f"{COLORS[c]} {NOUNS[w]}" for c, w in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n["part"])],
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": price,
    }
    no = n["orders"]
    odate = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _days("1995-01-01", odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }
    nl = n["lineitem"]
    lo = rng.integers(0, no, nl).astype(np.int64)
    lp = rng.integers(0, n["part"], nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": lo,
        "l_partkey": lp,
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lp], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days("1995-01-02", odate[lo] + rng.integers(0, 122, nl)),
    }
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, ne))
    out["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(20.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), rng.integers(20, 80)))
             for _ in range(nd)]
    # every tenth document is a near-duplicate of an earlier one (one word
    # replaced), so the dedup entries have pairs to find
    for d in range(10, nd, 10):
        words = texts[int(rng.integers(0, d))].split()
        words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[d] = " ".join(words)
    out["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    label = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[label] + rng.normal(0.0, 0.7, (nv, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": label.astype(np.int32),
    }
    return out


def entry_orders(seed: int, passes: int) -> list[list[str]]:
    """``passes`` orders of ENTRIES, each a permutation drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    return [[ENTRIES[i] for i in rng.permutation(len(ENTRIES))] for _ in range(passes)]


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for ``seed``; returns the row
    count of each table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in build(seed).items():
        arrays = {}
        for col, values in cols.items():
            if col == "embedding":
                arrays[col] = pa.array(values, pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(values)
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
