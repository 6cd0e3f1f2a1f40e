"""Seeded TPC-H-shaped lake for the query workloads.

Writes the ten tables the query registry reads (``sources.lake.STAR_TABLES``)
as one parquet file each, with the column names, types and value domains of
the star-schema lake the registry and its DuckDB oracles were written
against. Row counts scale with ``sf`` like TPC-H (lineitem ~6M x sf);
``documents`` and ``embeddings`` are fixed-size corpora.

Everything is drawn from one ``numpy`` generator seeded with ``seed``, so the
same (seed, sf) gives the same tables. Doubles carry two decimals, so the
registry's exact-decimal sums stay deterministic.
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
PART_ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"), type=pa.timestamp("us"))


def lake_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten lake tables for (seed, sf), as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    n_events = max(int(1_000_000 * sf), 1_000)

    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32)),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    partkey = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table(
        {
            "p_partkey": pa.array(partkey),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (partkey % 1000) / 10.0),
        }
    )
    order_day = rng.integers(0, 2400, n_ord)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lines_per_order = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per_order)
    n_line = len(l_orderkey)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_linenumber = np.arange(n_line) - np.repeat(starts, lines_per_order) + 1
    l_partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    ship_day = order_day[l_orderkey] + rng.integers(1, 122, n_line)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey),
            "l_partkey": pa.array(l_partkey),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
            "l_linenumber": pa.array(l_linenumber.astype(np.int32)),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(
                np.round(quantity * (900.0 + (l_partkey % 1000) / 10.0) * 1.05, 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995 + ship_day * _DAY_US),
        }
    )
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_events))),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": pa.array(_money(rng, 0.01, 490.0, n_events)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    n_docs = 500
    texts = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 90))])
        for _ in range(n_docs)
    ]
    # a few near-duplicates so the dedup and similarity entries find pairs
    for i in range(0, n_docs, 25):
        texts[i + 1] = texts[i] + " row"
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.35, (n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32)),
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


def write_lake(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet``; return user bytes per table
    (the tables' Arrow in-memory size)."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in lake_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        sizes[name] = table.nbytes
    return sizes
