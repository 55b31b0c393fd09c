"""Seeded input generator: all ten catalog tables in the sf-dir layout.

``generate(out_dir, seed)`` writes ``<table>.parquet`` for every name in
``catalog.TABLES`` with the same Arrow schemas as the repository's test
data, so ``catalog.table`` and the DuckDB oracle views read them unchanged.
Table sizes are fixed; only values move with the seed, so every seed costs
about the same work. What varies per seed is what the program's behaviour
depends on: how events split across the ten farms (``farm_no = user_id %
10``, so the farm count itself is fixed), the event-type mix per farm, which
customer keys (hence which weather grid cells) exist, and the duplicate
structure of the documents and embeddings.

Run ``python3 perfbench/datagen.py OUT_DIR --seed N`` to write a data set.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 12_000
N_USERS = 400
N_FARMS = 10  # fixed by the program: farm_no = user_id % 10
N_CUSTOMERS = 2_000
N_DOCS = 200
N_VECS = 500
DIM = 64
# Events span every date the workloads and the program's module constants
# touch: history weeks from December, the report weeks of January
# (weekly.WEEK_FROM/TO, status_schedule.BASE_DATE, weather_pipeline.TODAY)
# and the on-demand weeks up to early February.
EVENTS_FROM = dt.datetime(2023, 11, 27)
EVENTS_TO = dt.datetime(2024, 2, 5)

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.42, 0.15, 0.15, 0.14, 0.14)


def _events(rng: np.random.Generator) -> pa.Table:
    # Farm sizes differ per seed (0.4x .. 1.6x of an even split); users of
    # farm f are the ids with id % 10 == f.
    farm_w = rng.uniform(0.4, 1.6, N_FARMS)
    farm_w /= farm_w.sum()
    farm = rng.choice(N_FARMS, N_EVENTS, p=farm_w)
    user = rng.integers(0, N_USERS // N_FARMS, N_EVENTS) * N_FARMS + farm
    # Per-farm event-type mix.
    mix = rng.dirichlet(np.full(len(EVENT_TYPES), 4.0), N_FARMS)
    u = rng.random(N_EVENTS)
    etype = (u[:, None] > np.cumsum(mix[farm], axis=1)).sum(axis=1)
    etype = np.minimum(etype, len(EVENT_TYPES) - 1)
    span_us = int((EVENTS_TO - EVENTS_FROM).total_seconds() * 1_000_000)
    t0 = int(EVENTS_FROM.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    ts = np.sort(t0 + rng.integers(0, span_us, N_EVENTS))
    value = np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype], pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.09:  # near duplicate: earlier doc + marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 40))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    lang = rng.choice(len(LANGS), N_DOCS, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, N_VECS)
    vec = centers[label] * 0.35 + rng.normal(size=(N_VECS, DIM))
    # ~4% near-duplicates of an earlier vector, so semantic dedup prunes.
    for i in np.flatnonzero(rng.random(N_VECS) < 0.04):
        if i > 0:
            j = int(rng.integers(0, i))
            vec[i] = vec[j] + rng.normal(scale=0.01, size=DIM)
            label[i] = label[j]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Small TPC-H-shaped dimension/fact tables. The weather collector
    derives its grid cells from ``customer.c_custkey``, so the customer keys
    are a seeded sample of a wide key range."""
    n_nation, n_supp, n_part, n_orders, n_line = 25, 100, 400, 3_000, 12_000
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(n_nation), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(n_nation)],
            "n_regionkey": pa.array([i % 5 for i in range(n_nation)], pa.int32()),
        }
    )
    custkey = np.sort(rng.choice(100_000, N_CUSTOMERS, replace=False))
    segments = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    customer = pa.table(
        {
            "c_custkey": pa.array(custkey, pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in custkey],
            "c_nationkey": pa.array(rng.integers(0, n_nation, N_CUSTOMERS), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2)),
            "c_mktsegment": [segments[i] for i in rng.integers(0, 5, N_CUSTOMERS)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, n_nation, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }
    )
    adjs, nouns = ("small", "red", "blue", "hot"), ("ring", "widget", "bolt", "gear")
    types = ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{adjs[i % 4]} {nouns[(i // 4) % 4]}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": [types[t] for t in rng.integers(0, len(types), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2)),
        }
    )
    day0 = np.datetime64("1995-01-01", "us")
    orderdate = day0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.choice(custkey, n_orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
            "o_orderdate": pa.array(orderdate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": [
                ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                for i in rng.integers(0, 5, n_orders)
            ],
        }
    )
    okey = rng.integers(0, n_orders, n_line)
    shipdate = orderdate[okey] + rng.integers(1, 122, n_line).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(shipdate.astype("datetime64[us]"), pa.timestamp("us")),
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
    }


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write all ten tables for ``seed`` under ``out_dir``; returns row
    counts by table. Identical seeds give byte-identical files."""
    rng = np.random.default_rng([seed, 0x1A5B])
    tables = _tpch(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--seed", type=int, default=0)
    a = p.parse_args()
    print(generate(a.out_dir, a.seed))
