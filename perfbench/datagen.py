"""Deterministic input tables for the benchmark.

The engine's queries read ten parquet tables (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``). The benchmark builds its
inputs inside its own checkout, so this module synthesizes tables with the
schemas and value distributions of the engine's sf0.1 test data (uniform
keys and measures, a 31-word vocabulary with ~5% near-duplicate documents,
unit-norm 64-dim embeddings) at ``SCALE``.

The tables depend only on ``DATA_SEED``: they are the benchmark's fixed
dataset, generated once per checkout (a few seconds) and reused by every run.
Per-run variation (where the replayed writes start, which clients a client
reads, the order of a query pass) comes from the run's ``--seed``.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Scale factor: every table but region and nation has this share of the
#: sf1 row count (sf0.1 = 15,000 customers, 150,000 orders, 600,000
#: lineitems).
SCALE = 0.05
N_CUSTOMER = int(150_000 * SCALE)
N_SUPPLIER = int(10_000 * SCALE)
N_PART = int(200_000 * SCALE)
N_ORDERS = int(1_500_000 * SCALE)
N_LINEITEM = int(6_000_000 * SCALE)
N_EVENTS = int(1_000_000 * SCALE)
N_DOCUMENTS = int(50_000 * SCALE)
N_EMBEDDINGS = int(20_000 * SCALE)
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _day_timestamps(rng, n, first: dt.date, last: dt.date) -> pa.Array:
    """Midnight timestamps drawn uniformly from [first, last]."""
    epoch = dt.date(1970, 1, 1)
    lo, hi = (first - epoch).days, (last - epoch).days
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _strings(fmt: str, keys) -> pa.Array:
    return pa.array([fmt % k for k in keys], pa.string())


def _pick(rng, choices, n, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices)
    ).cast(pa.string())


def _documents(rng) -> dict:
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document: one word dropped or added
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5 and len(words) > 10:
                words = words[:-1]
            else:
                words = words + ["dup"]
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, N_DOCUMENTS, LANG_P),
        "source": _strings("src%d", np.arange(N_DOCUMENTS) % 20),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng) -> dict:
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(N_EMBEDDINGS + 1) * EMBED_DIM, pa.int32())
    return {
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    }


def _events(rng) -> dict:
    start = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span, N_EVENTS)) + start
    return {
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_CUSTOMER // 10, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": _strings('{"k": %d}', rng.integers(0, 100, N_EVENTS)),
    }


def build_tables() -> dict[str, pa.Table]:
    """All ten tables, generated from ``DATA_SEED``."""
    rng = np.random.default_rng(DATA_SEED)
    cust = np.arange(N_CUSTOMER)
    supp = np.arange(N_SUPPLIER)
    part = np.arange(N_PART)
    cols = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": _strings("NATION_%d", range(25)),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(cust, pa.int64()),
            "c_name": _strings("Customer#%09d", cust),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
            "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
        },
        "supplier": {
            "s_suppkey": pa.array(supp, pa.int64()),
            "s_name": _strings("Supplier#%09d", supp),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
        },
        "part": {
            "p_partkey": pa.array(part, pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, len(PART_ADJ), N_PART),
                        rng.integers(0, len(PART_NOUN), N_PART),
                    )
                ]
            ),
            "p_brand": _strings("Brand#%d", rng.integers(1, 26, N_PART)),
            "p_type": _pick(rng, PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": pa.array(900.0 + (part % 1000) / 10.0),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, N_ORDERS)),
            "o_orderdate": _day_timestamps(
                rng, N_ORDERS, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEM).astype(float)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, N_LINEITEM)),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
            "l_shipdate": _day_timestamps(
                rng, N_LINEITEM, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
            ),
        },
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    return {name: pa.table(cols[name]) for name in TABLES}


def ensure_dataset(root: str) -> tuple[str, float]:
    """Return ``(data_dir, seconds_spent_building)``.

    Builds the tables under ``root/sf<SCALE>`` on first use; later calls reuse
    them. The write goes to a temporary directory that is renamed into
    place, so an interrupted build leaves nothing that looks complete.
    """
    data_dir = os.path.join(root, f"sf{SCALE:g}")
    if os.path.exists(os.path.join(data_dir, "_COMPLETE")):
        return data_dir, 0.0
    t0 = time.perf_counter()
    os.makedirs(root, exist_ok=True)
    tmp = data_dir + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)
    return data_dir, time.perf_counter() - t0
