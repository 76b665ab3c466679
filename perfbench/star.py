"""Seeded generator for the star-schema tables the registered queries read.

Writes ``{name}.parquet`` for every table in ``tables.TABLE_NAMES`` with
the column names, types and value domains of the program's test data
(TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), at ``orders`` orders. The same seed gives the same
rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["de", "en", "es", "fr", "zh"]
N_DOCS = 200
N_VECTORS = 500
DIM = 64

EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _days(rng, n: int, span: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, *, seed: int, orders: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp = orders // 10, orders // 8, max(orders // 150, 10)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region",
           {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation",
           {"n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s),
                      ("n_regionkey", i32)]))
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
           pa.schema([("c_custkey", i64), ("c_name", s),
                      ("c_nationkey", i32), ("c_acctbal", f64),
                      ("c_mktsegment", s)]))
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
           pa.schema([("s_suppkey", i64), ("s_name", s),
                      ("s_nationkey", i32), ("s_acctbal", f64)]))
    _write(out_dir, "part",
           {"p_partkey": np.arange(n_part),
            "p_name": [f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}"
                       for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part)
                                      / 10, 1)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32),
                      ("p_retailprice", f64)]))
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(orders),
            "o_custkey": rng.integers(0, n_cust, orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], orders),
            "o_totalprice": np.round(rng.uniform(1000, 500000, orders), 2),
            "o_orderdate": _days(rng, orders, 2404),
            "o_orderpriority": rng.choice(PRIORITIES, orders)},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                      ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", ts), ("o_orderpriority", s)]))
    lines = rng.integers(1, 8, orders)
    n_line = int(lines.sum())
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem",
           {"l_orderkey": np.repeat(np.arange(orders), lines),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": np.concatenate(
                [np.arange(1, k + 1) for k in lines]).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, 2499)},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                      ("l_suppkey", i64), ("l_linenumber", i32),
                      ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64),
                      ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", ts)]))
    n_ev = orders * 2 // 3
    users = max(n_ev // 66, 10)
    start = np.datetime64("2024-01-01", "us")
    _write(out_dir, "events",
           {"event_id": np.arange(n_ev),
            "ts": start + rng.integers(0, 30 * 86400 * 10**6, n_ev)
            .astype("timedelta64[us]"),
            "user_id": rng.integers(0, users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                      ("event_type", s), ("value", f64), ("props", s)]))
    texts = []
    for i in range(N_DOCS):
        if i % 20 == 19:  # near-copy of an earlier document
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), 3):
                words[j] = str(rng.choice(WORDS))
            words.append("dup")
        else:
            words = list(rng.choice(WORDS, rng.integers(10, 100)))
        texts.append(" ".join(words))
    _write(out_dir, "documents",
           {"doc_id": np.arange(N_DOCS), "text": texts,
            "lang": rng.choice(LANGS, N_DOCS),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": [len(t) for t in texts]},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                      ("source", s), ("n_chars", i64)]))
    labels = rng.integers(0, 10, N_VECTORS)
    centres = rng.normal(0, 0.15, (10, DIM))
    vecs = (centres[labels] + rng.normal(0, 0.05, (N_VECTORS, DIM))
            ).astype(np.float32)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(N_VECTORS),
            "embedding": [list(v) for v in vecs],
            "label": labels.astype(np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))
