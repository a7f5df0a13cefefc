"""Seeded generator for the catalog tables the query catalog reads.

Writes one parquet file per table (``<name>.parquet``) with the schema the
catalog queries and their DuckDB oracles expect: a TPC-H-like star schema
(region, nation, customer, supplier, part, orders, lineitem) plus the
``events`` stream table and the ``documents``/``embeddings`` corpus tables.
Values are drawn uniformly from the same domains the catalog's fixtures
use, so every query has non-empty work at any scale factor.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "stream filter group big vector"
).split()
LANGS = ("en", "en", "en", "es", "de", "fr", "zh")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
PART_ADJ = ("blue", "hot", "small", "old", "cold", "red", "new", "large")
PART_NOUN = ("bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1).timestamp()) * 1_000_000
_EPOCH_2024 = int(datetime(2024, 1, 1).timestamp()) * 1_000_000


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All catalog tables at scale factor ``sf``, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_line = 4 * n_orders
    n_users = max(20, int(15_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(50, int(50_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(11, 75, n_part)]
            ),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _days(rng, n_orders, 2404),
            "o_orderpriority": _choice(rng, PRIORITIES, n_orders),
        }
    )
    line_order = np.sort(rng.integers(0, n_orders, n_line))
    starts = np.r_[0, np.flatnonzero(np.diff(line_order)) + 1]
    linenumber = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line]))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(line_order),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(linenumber + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _choice(rng, ("O", "F"), n_line),
            "l_shipdate": _days(rng, n_line, 2500),
        }
    )
    gaps = rng.integers(1, 2 * (30 * 86_400_000_000 // n_events), n_events)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": _choice(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(8, 90, n_docs)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": _choice(rng, LANGS, n_docs),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.normal(0.0, 0.15, (n_vecs, EMBED_DIM)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return out


def write_tables(dest: Path, sf: float, seed: int) -> Path:
    """Generate the tables into ``dest`` and return it."""
    dest.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, dest / f"{name}.parquet")
    return dest
