"""Seeded generator of the catalog's input tables.

Writes the same ten tables, columns and types as the repository's shared
test data (``schemas.TESTDATA_TABLES``: a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``), with row counts proportional
to a scale factor, so the catalog runs on inputs made from ``--seed`` alone.

Row counts and value ranges follow the shared tables (TESTDATA.md). The
event timestamps do not: there, each user's events lie about 12 h apart and
a month after the last order, so gap sessionization finds one event per
session and an as-of join always picks a user's latest order. Here events
come in per-user bursts inside the orders' date range (see ``_events``).
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
ADJECTIVES = ["cold", "small", "large", "red", "blue", "green", "fast", "slow"]
NOUNS = ["widget", "bolt", "gear", "spring", "valve", "panel", "screw", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "fr", "es", "zh", "de"]
VOCAB = (
    "the a data spark stream batch window join sort merge hash scan filter agg "
    "group key value row column table query line order part customer vector "
    "fast slow big small dup"
).split()
DIM = 64
#: The orders' date range, 1995-01-01 .. 2001-08-01, in days.
ORDER_DAYS = 2404


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + n.astype("timedelta64[D]")).astype("datetime64[us]")


def _events(rng: np.random.Generator, n_evt: int, n_users: int) -> pa.Table:
    """Events in sessions: runs of 1-9 events of one user, 5 s to 20 min
    apart (inside the 30 min session gap of ``events_sessionization``),
    each run starting at a random moment of the orders' date range (so
    ``asof_latest_order_before_event`` picks orders from across a user's
    history, and finds none before some events). ``event_id`` follows
    ``ts``, as in the shared table."""
    sizes = rng.integers(1, 10, n_evt)
    sizes = sizes[: np.searchsorted(np.cumsum(sizes), n_evt) + 1]
    sizes[-1] -= sizes.sum() - n_evt
    session = np.repeat(np.arange(len(sizes)), sizes)
    first = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    gaps = rng.integers(5_000_000, 1_200_000_000, n_evt)
    gaps[first] = 0
    run = np.cumsum(gaps)
    start = rng.integers(0, ORDER_DAYS * 86_400_000_000, len(sizes))
    t_us = start[session] + run - run[first][session]
    users = rng.integers(0, n_users, len(sizes))[session]
    order = np.argsort(t_us, kind="stable")
    return pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": np.datetime64("1995-01-01T00:00:00", "us") + t_us[order].astype("timedelta64[us]"),
            "user_id": users[order],
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            # Exponential with mean 50, as in the shared table.
            "value": np.round(np.minimum(rng.exponential(50.0, n_evt), 330.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_evt = max(500, int(1_000_000 * sf))
    n_doc = 500

    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
        }
    )
    o_date = rng.integers(0, ORDER_DAYS, n_ord)
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _days("1995-01-01", o_date),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_order)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": l_lineno,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days("1995-01-02", o_date[l_order] + rng.integers(0, 95, n_li)),
        }
    )
    events = _events(rng, n_evt, n_users=max(15, n_evt // 20))
    texts = [" ".join(rng.choice(VOCAB, rng.integers(8, 90))) for _ in range(n_doc)]
    documents = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(size=(10, DIM))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_doc, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.9).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write(out_dir: str, seed: int, sf: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
