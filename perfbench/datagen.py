"""Deterministic synthetic inputs shaped like the engine's driver tables.

The registered plans read ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``).  The benchmark
cannot read a fixed dataset from outside its checkout, so this module
regenerates tables with the same schemas, key domains and value
distributions at sf0.1 (600k lineitem rows, ~17 MB): random words from
the same 30-word vocabulary with planted ``dup``-suffixed near copies,
unit-norm 64-d embeddings, uniform keys, cents-rounded prices.

The tables are a fixed function of ``DATA_SEED``; the per-run ``--seed``
only chooses what the workloads do with them (request order, trade
batches, pass order, event waves), so every run of a checkout shares
one generated copy.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_NEAR_DUPS = 250
N_EXACT_DUPS = 8
N_VECS = 2_000
EMB_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every table as an Arrow table; a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
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
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, N_SUPPLIER)),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), N_PART)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, N_PART)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), N_ORDERS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    })
    li = N_LINEITEM
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, li),
        "l_partkey": rng.integers(0, N_PART, li),
        "l_suppkey": rng.integers(0, N_SUPPLIER, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, li)),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), li),
    })
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": _cents(rng.exponential(50.0, N_EVENTS)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    t["documents"] = _documents(rng)
    emb = rng.standard_normal((N_VECS, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })
    return t


def _documents(rng) -> pa.Table:
    """Random-vocabulary documents; ``N_NEAR_DUPS`` are an earlier
    document plus a trailing ``dup`` token and ``N_EXACT_DUPS`` are
    verbatim copies, so the near-dup stages have real pairs to find."""
    texts: list[str] = []
    for _ in range(N_DOCS):
        n = int(rng.integers(10, 101))
        texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)]))
    slots = rng.permutation(np.arange(1, N_DOCS))[: N_NEAR_DUPS + N_EXACT_DUPS]
    for i, d in enumerate(slots):
        src = texts[int(rng.integers(0, d))]
        texts[d] = src + " dup" if i < N_NEAR_DUPS else src
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def ensure_tables(out_dir: str, seed: int = DATA_SEED) -> str:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each,
    the layout ``sources.catalog.load_table`` reads) unless a complete
    copy is already there; returns ``out_dir``.  The copy is built in a
    sibling directory and renamed into place, so an interrupted run
    never leaves a partial one behind."""
    if os.path.exists(os.path.join(out_dir, "_COMPLETE")):
        return out_dir
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir
