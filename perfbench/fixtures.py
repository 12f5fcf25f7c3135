"""Seeded fixture tables for the entry_headliners workload.

Writes the eight tables the 15 bench.py headliner queries read (documents,
embeddings, events, orders, customer, nation, region, lineitem) as one
single-row-group parquet file each, with the column names and types of the
project's sf fixtures.  The same seed gives byte-identical tables.

Row counts and value distributions follow the project's sf0.01 tables, as
measured on them (README.md, "Entry fixtures"):

- documents: 500 rows; texts of 10-99 words drawn uniformly from a
  30-word vocabulary; 5% of texts are an earlier text plus " dup" (the
  near-duplicates the dedup queries look for); lang en 44%, zh/es/de/fr
  14% each; source ``src<i mod 20>``; ``n_chars`` = text length;
- embeddings: 500 unit vectors of 64 dims, isotropic (no cluster
  structure), with one of 10 labels drawn uniformly;
- events: 10,000 rows over 30 days in timestamp order, 150 users, 5
  event types, value exponential with mean 50;
- orders 15,000 / customer 1,500 / lineitem 60,000 rows, every key and
  value uniform over the sf0.01 ranges (lineitem's order key is uniform,
  so orders carry 1-13 lines, median 4).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DUP_SHARE = 0.05
_LANGS = np.array(["en"] * 44 + ["zh"] * 14 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 14)
_EVENT_TYPES = np.array(["click", "view", "purchase", "error", "signup"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

SIZES = {
    "default": {"documents": 500, "embeddings": 500, "events": 10_000,
                "orders": 15_000, "customer": 1_500, "lineitem": 60_000},
    "tiny": {"documents": 60, "embeddings": 60, "events": 500,
             "orders": 500, "customer": 100, "lineitem": 2_000},
}


def _days(rng, n, start: datetime, span_days: int):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) + 1)


def _texts(rng, n: int) -> list[str]:
    words = np.array(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n)]
    n_dup = max(1, round(_DUP_SHARE * n))
    for i in rng.choice(n, n_dup, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    return texts


def write_fixtures(out_dir: str, seed: int, scale: str = "default") -> dict[str, int]:
    """Write the tables under ``out_dir``; returns table -> row count."""
    n = SIZES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_docs = n["documents"]
    texts = _texts(rng, n_docs)
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    n_emb, dim = n["embeddings"], 64
    vecs = rng.normal(0.0, 1.0, (n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))

    n_ev = n["events"]
    ts = np.datetime64(datetime(2024, 1, 1), "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev * 3 // 200), n_ev), pa.int64()),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n_ev)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    }))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }))

    n_cust = n["customer"]
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, len(_SEGMENTS), n_cust)], pa.string()),
    }))

    n_ord = n["orders"]
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_ord), 2), pa.float64()),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime(1995, 1, 1), 2_405), pa.timestamp("us")),
        "o_orderpriority": pa.array(_PRIORITIES[rng.integers(0, len(_PRIORITIES), n_ord)], pa.string()),
    }))

    n_li = n["lineitem"]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(20, n_li // 30), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(10, n_li // 600), n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2), pa.float64()),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2), pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": pa.array(_days(rng, n_li, datetime(1995, 1, 2), 2_499), pa.timestamp("us")),
    }))
    return dict(n) | {"nation": 25, "region": 5}


TABLES = ("documents", "embeddings", "events", "orders", "customer", "nation", "region", "lineitem")
