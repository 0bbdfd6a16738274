"""Seeded generator for the engine's ten fixture tables.

Writes ``<out_dir>/<table>.parquet`` with the same column names, Arrow
types and value domains as the engine's TPC-H-ish star schema plus the
``events``, ``documents`` and ``embeddings`` tables, so every registry
query and its DuckDB oracle run on it unchanged.  The same
``(seed, sf)`` always gives byte-identical tables.  Row counts follow
the fixture convention: ``lineitem`` has 6,000,000 x sf rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "large", "small", "red", "green", "hot", "tiny", "shiny", "dull", "old", "new", "bright"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = dt.datetime(2024, 1, 1)

def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def _ts_us(epoch: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy", row_group_size=1 << 30,
    )


def events_table(seed: int, n: int, n_users: int, days: int = 30) -> pa.Table:
    """The ``events`` stream table: ``n`` events over ``days`` days from
    2024-01-01, in timestamp order, ``event_id`` dense from 0."""
    rng = np.random.default_rng([seed, 7])
    offsets = np.sort(rng.integers(0, days * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_us(EVENT_EPOCH, offsets),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all ten tables for scale factor ``sf``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(10, round(200_000 * sf))
    n_ord = max(10, round(1_500_000 * sf))
    n_line = max(10, round(6_000_000 * sf))
    n_evt = max(10, round(1_000_000 * sf))
    n_docs = 5000 if sf >= 0.1 else 500
    n_vecs = 2000 if sf >= 0.1 else 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    nk = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{k}" for k in nk]),
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array(_names("Customer", ck)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array(_names("Supplier", sk)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, len(PART_ADJ), n_part),
                            rng.integers(0, len(PART_NOUN), n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(retail),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    order_day = rng.integers(0, ORDER_DAYS, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_us(ORDER_EPOCH, order_day * 86_400_000_000),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    l_ord = rng.integers(0, n_ord, n_line, dtype=np.int64)
    l_part = rng.integers(0, n_part, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship_day = order_day[l_ord] + rng.integers(1, 122, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_ord),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail[l_part] * rng.uniform(0.9, 1.1, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts_us(ORDER_EPOCH, ship_day * 86_400_000_000),
    })
    pq.write_table(
        events_table(seed, n_evt, max(5, round(15_000 * sf))),
        os.path.join(out_dir, "events.parquet"), compression="snappy",
    )

    # documents: random-word texts; every 20th is a near-duplicate of
    # an earlier text (a prefix of it plus the marker word "dup")
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            src = texts[int(rng.integers(0, i))].split()
            keep = max(5, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    # embeddings: unit vectors around 10 labelled centroids
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.02, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_evt, "documents": n_docs, "embeddings": n_vecs,
    }
