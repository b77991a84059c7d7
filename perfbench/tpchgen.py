"""Seeded star-schema tables for the SQL read path.

Writes the ten tables ``bigquery_etl_spark.sources.tables.TABLES`` names
(TPC-H-like star schema, an ``events`` stream and the two text/vector
tables) as parquet files with the same column names, types and value
domains as the fixtures the declared queries are written against, so
every declared query and its DuckDB twin run unchanged. Scale is fixed
(lineitem ~60k rows); the seed changes the values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 15_000
N_CUSTOMERS = 1_500
N_PARTS = 2_000
N_SUPPLIERS = 100
N_USERS = 150
N_EVENTS = 10_000
N_DOCS = 500

_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_PART_WORDS = ["small", "red", "blue", "green", "large", "steel", "brass"]
_PART_NOUNS = ["ring", "widget", "bolt", "gear", "valve", "panel"]
_PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"]
_DOC_WORDS = ("key agg row scan slow fast table value part hash merge batch spark a the "
              "line sort window data column join small customer query order group stream "
              "filter big").split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _days(rng, n, lo, hi):
    return _EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": rng.choice(_SEGMENTS, N_CUSTOMERS),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PARTS), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_WORDS, N_PARTS),
                                              rng.choice(_PART_NOUNS, N_PARTS))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": rng.choice(_PART_TYPES, N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(N_PARTS) * 0.1, 2),
    })

    odate = _days(rng, N_ORDERS, 0, 2403)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, N_ORDERS),
    })

    lines_per_order = rng.integers(1, 8, N_ORDERS)
    n_lines = int(lines_per_order.sum())
    okeys = np.repeat(np.arange(N_ORDERS), lines_per_order)
    linenos = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    ship = np.repeat(odate, lines_per_order) + rng.integers(1, 122, n_lines).astype(
        "timedelta64[D]").astype("timedelta64[us]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_lines), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, N_EVENTS).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, N_EVENTS),
        "value": _money(rng, 0.01, 500.0, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts = [" ".join(rng.choice(_DOC_WORDS, int(n))) for n in rng.integers(10, 80, N_DOCS)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], N_DOCS, p=[0.8, 0.1, 0.1]),
        "source": [f"src{i % 7}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((N_DOCS, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_DOCS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, N_DOCS), pa.int32()),
    })
    return out


def write(seed: int, out_dir: str) -> str:
    """Write the tables for ``seed`` under ``out_dir`` (once) and return it."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir
