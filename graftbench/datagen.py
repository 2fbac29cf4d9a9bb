"""Seeded generator for the ten fixture tables the benchmark's lines read.

Schemas, row counts and numeric ranges come from ``tables.json`` (the footers
of the sf0.1 fixtures, see ``footers.py``); categorical vocabularies and the
cross-table key structure are written out below. Row counts are the sf0.1
counts times ``SCALE``; the dimension tables ``region`` and ``nation`` keep
their full size. The same seed always gives byte-identical files.

    python3 graftbench/datagen.py <out_dir> <seed>
"""

from __future__ import annotations

import functools
import json
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1
FULL_SIZE = ("region", "nation")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["de", "en", "es", "fr", "zh"], [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
DUP_SHARE = 0.05  # share of documents that are another document plus " dup"
EMBED_DIM = 64
EMBED_LABELS = 10
CLUSTER_PULL = 0.14  # norm of a label's centroid among unit vectors


@functools.cache
def spec() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables.json")) as f:
        return json.load(f)


def rows(table: str) -> int:
    n = spec()[table]["rows"]
    return n if table in FULL_SIZE else max(1, round(n * SCALE))


def _range(table: str, col: str):
    c = spec()[table]["columns"][col]
    return c["min"], c["max"]


def _money(rng, table, col, n):
    lo, hi = _range(table, col)
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, table, col, n):
    lo, hi = (np.datetime64(datetime.fromisoformat(v), "D") for v in _range(table, col))
    span = int((hi - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _pick(rng, vocab, n, p=None):
    return np.asarray(vocab, dtype=object)[rng.choice(len(vocab), n, p=p)]


def _schema(table: str) -> pa.Schema:
    types = {
        "int32": pa.int32(), "int64": pa.int64(), "double": pa.float64(),
        "string": pa.string(), "timestamp[us]": pa.timestamp("us"),
        "list<element: float>": pa.list_(pa.float32()),
    }
    cols = spec()[table]["columns"]
    return pa.schema([(c, types[cols[c]["type"]]) for c in COLUMN_ORDER[table]])


COLUMN_ORDER = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def _documents(rng, n):
    lo, hi = _range("documents", "n_chars")
    texts = []
    while len(texts) < n:
        words = _pick(rng, WORDS, int(rng.integers(10, 100)))
        text = " ".join(words)
        if lo <= len(text) <= hi - 4:
            texts.append(text)
    for i in rng.choice(n, int(n * DUP_SHARE), replace=False):
        twin = int(rng.integers(0, n))
        if twin != i and not texts[twin].endswith(" dup"):
            texts[i] = texts[twin] + " dup"
    return {
        "doc_id": np.arange(n),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": [len(t) for t in texts],
    }


def _embeddings(rng, n):
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMBED_LABELS, n)
    noise = rng.normal(size=(n, EMBED_DIM))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    x = CLUSTER_PULL * centers[label] + noise
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n), "embedding": list(x), "label": label}


def generate(rng: np.random.Generator) -> dict[str, dict]:
    n = {t: rows(t) for t in spec()}
    users = max(1, round((_range("events", "user_id")[1] + 1) * SCALE))
    ev_lo, ev_hi = (np.datetime64(datetime.fromisoformat(v), "us")
                    for v in _range("events", "ts"))
    ev_span = int((ev_hi - ev_lo).astype(int))
    return {
        "region": {"r_regionkey": np.arange(5), "r_name": REGIONS},
        "nation": {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n["customer"]),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]),
            "c_acctbal": _money(rng, "customer", "c_acctbal", n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"]),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]),
            "s_acctbal": _money(rng, "supplier", "s_acctbal", n["supplier"]),
        },
        "part": {
            "p_partkey": np.arange(n["part"]),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJECTIVES, n["part"]),
                                                  _pick(rng, NOUNS, n["part"]))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) * 0.1, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"]),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n["orders"]),
            "o_totalprice": _money(rng, "orders", "o_totalprice", n["orders"]),
            "o_orderdate": _days(rng, "orders", "o_orderdate", n["orders"]),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": _money(rng, "lineitem", "l_extendedprice", n["lineitem"]),
            "l_discount": np.round(rng.uniform(0, 0.1, n["lineitem"]), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n["lineitem"]), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, "lineitem", "l_shipdate", n["lineitem"]),
        },
        "events": {
            "event_id": np.arange(n["events"]),
            "ts": ev_lo + np.sort(rng.integers(0, ev_span, n["events"])),
            "user_id": rng.integers(0, users, n["events"]),
            "event_type": _pick(rng, EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(50.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        },
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table as ``<out_dir>/<table>.parquet`` for ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for table, cols in generate(rng).items():
        schema = _schema(table)
        arrays = [pa.array(cols[f.name], type=f.type) for f in schema]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema),
                       os.path.join(out_dir, f"{table}.parquet"))


if __name__ == "__main__":
    write_tables(sys.argv[1], int(sys.argv[2]))
