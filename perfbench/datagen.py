"""Seeded synthetic inputs in the schema of the package's parquet tables.

Every table the workloads touch (TPC-H-style star schema, an ``events``
stream, ``documents`` and ``embeddings``) is generated from one seed with
NumPy and written as one parquet file per table, so the benchmark needs no
data outside its own checkout. Same seed and sizes give byte-identical
rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
PART_WORDS = ["red", "blue", "small", "hot", "old", "large", "green", "cold"]
PART_NOUNS = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _day_ts(days: np.ndarray, start: dt.date) -> pa.Array:
    base = int(dt.datetime(start.year, start.month, start.day, tzinfo=dt.timezone.utc)
               .timestamp() * 1e6)
    return _ts(base + days.astype("int64") * DAY_US)


def events_table(
    rng: np.random.Generator, n: int, days: int, first_id: int = 0, first_day: int = 0
) -> pa.Table:
    """``n`` events spread over ``days`` days from 2024-01-01 plus
    ``first_day`` days, sorted by time, with ids from ``first_id``."""
    ts = np.sort(EPOCH_2024 + first_day * DAY_US + rng.integers(0, days * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(n // 60, 50), n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    # every 20th document is an exact copy and every 20th (offset 10) a
    # one-word edit of an earlier one, so the dedup operators find pairs
    for i in range(20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in range(10, n, 20):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    x = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """TPC-H-style dimension and fact tables at scale factor ``sf``
    (sf 0.01 ≈ 60k lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_WORDS[a]} {PART_NOUNS[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
            }
        ),
    }
    order_days = rng.integers(0, 2400, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
            "o_orderdate": _day_ts(order_days, dt.date(1995, 1, 1)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship = np.repeat(order_days, lines_per) + rng.integers(1, 122, n_li)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _day_ts(ship, dt.date(1995, 1, 1)),
        }
    )
    return tables


def write_dataset(
    out_dir: str,
    seed: int,
    sf: float,
    events: int,
    event_days: int,
    documents: int,
    embeddings: int,
) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts per table."""
    rng = np.random.default_rng(seed)
    tables = star_schema(rng, sf)
    tables["events"] = events_table(rng, events, event_days)
    tables["documents"] = _documents(rng, documents)
    tables["embeddings"] = _embeddings(rng, embeddings)
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
