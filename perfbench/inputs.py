"""Seeded benchmark inputs.

Every workload reads a *base* corpus that depends only on ``BASE_SEED`` and the
workload's copy count, and the run seed decides the row order of every table.
So the same seed gives byte-identical files, another seed gives other files,
and each query's correct answer (an order-insensitive row multiset) is the
same for every seed: the DuckDB oracle runs once per base, and a seed whose
row order changes a result exposes an order-dependent query.

The base tables have the column names, types, key ranges and value
distributions of the engine's fixture tables (TPC-H-ish star schema, an
``events`` click stream, a bag-of-words ``documents`` corpus over a 30-word
vocabulary in which 5 % of the documents repeat an earlier one with `` dup``
appended, and random unit ``embeddings``). With ``copies > 1`` the base is
grown by key-shifted copies: every key column moves by ``copy * keyspace`` so
joins stay within a copy, document copies get a per-copy word shuffle and
embedding copies are fresh random vectors.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20261017

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# rows of each table in one base copy (the fixture's sf0.01 proportions)
BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
EVENT_USERS = 150

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "red", "blue", "green", "large")
PART_NOUN = ("ring", "widget", "bolt", "anvil", "gear", "nut", "screw",
             "spring", "valve", "pipe", "plate", "rod", "hinge")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
DUP_SHARE = 0.05
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from ``[first, last]``."""
    epoch = dt.date(1970, 1, 1)
    lo, hi = (first - epoch).days, (last - epoch).days
    return pa.array(rng.integers(lo, hi + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _choice(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 100, n)]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def base_tables() -> dict[str, pa.Table]:
    """One base copy of every table, from ``BASE_SEED`` alone."""
    rng = np.random.default_rng(BASE_SEED)
    r = BASE_ROWS
    n_c, n_s, n_p, n_o, n_l, n_e = (r[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events"))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_c)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": _choice(rng, SEGMENTS, n_c),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_s)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_p), rng.integers(0, len(PART_NOUN), n_p))], pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_p)], pa.string()),
        "p_type": _choice(rng, PART_TYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) * 0.1, 2), pa.float64()),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(rng, n_o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_o),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64), pa.float64()),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100, pa.float64()),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_l),
        "l_linestatus": _choice(rng, ("F", "O"), n_l),
        "l_shipdate": _days(rng, n_l, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    start = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(start + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_e)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n_e), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_e),
        "value": pa.array(np.round(rng.exponential(50.0, n_e) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)], pa.string()),
    })
    t["documents"] = _documents(rng, r["documents"])
    t["embeddings"] = _embeddings(rng, r["embeddings"])
    return t


# key columns shifted per copy, each by the key space of the table it refers to
_KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part", "l_suppkey": "supplier"},
    "events": {"event_id": "events", "user_id": "users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}


def grow(base: dict[str, pa.Table], copies: int) -> dict[str, pa.Table]:
    """``copies`` key-shifted copies of every table (region and nation are
    dimensions and stay as they are)."""
    if copies == 1:
        return dict(base)
    space = {n: base[n].num_rows for n in BASE_ROWS}
    space["users"] = EVENT_USERS
    out = {}
    for name, tbl in base.items():
        if name not in _KEYS:
            out[name] = tbl
            continue
        parts = []
        for k in range(copies):
            cols = {}
            for col in tbl.column_names:
                arr = tbl[col]
                if col in _KEYS[name]:
                    arr = pa.array(arr.to_numpy() + k * space[_KEYS[name][col]], arr.type)
                cols[col] = arr
            part = pa.table(cols)
            if k and name == "documents":
                part = _shuffle_words(part, k)
            elif k and name == "embeddings":
                part = part.set_column(1, "embedding", _embeddings(np.random.default_rng([BASE_SEED, k]),
                                                                 part.num_rows)["embedding"])
            parts.append(part)
        out[name] = pa.concat_tables(parts).combine_chunks()
    return out


def _shuffle_words(docs: pa.Table, copy: int) -> pa.Table:
    rng = np.random.default_rng([BASE_SEED, copy])
    texts = []
    for text in docs["text"].to_pylist():
        words = text.split(" ")
        rng.shuffle(words)
        texts.append(" ".join(words))
    docs = docs.set_column(docs.column_names.index("text"), "text", pa.array(texts, pa.string()))
    return docs.set_column(docs.column_names.index("n_chars"), "n_chars",
                           pa.array([len(t) for t in texts], pa.int64()))


def permute(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """The same rows in a seeded order, drawn independently per table."""
    out = {}
    for i, name in enumerate(TABLES):
        if name in tables:
            tbl = tables[name]
            perm = np.random.default_rng([seed, i]).permutation(tbl.num_rows)
            out[name] = tbl.take(pa.array(perm))
    return out


def parquet_bytes(tbl: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(tbl, buf)
    return buf.getvalue()


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """Write one parquet file per table; return each file's rows, bytes and sha256."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, tbl in tables.items():
        data = parquet_bytes(tbl)
        with open(os.path.join(out_dir, f"{name}.parquet"), "wb") as fh:
            fh.write(data)
        info[name] = {"rows": tbl.num_rows, "bytes": len(data),
                      "sha256": hashlib.sha256(data).hexdigest()}
    return info
