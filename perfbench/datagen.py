"""Seeded generator for the benchmark's input tables.

Writes the star schema the package's loaders expect (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet file
each) with the column names, types and value shapes of the project's
synthetic testdata. The same seed and scale give byte-identical inputs.

Order dates fall on a fixed grid of ``N_ORDER_DATES`` days between 1995 and
2001, so the ``order_date``-partitioned ``fact_sales`` write produces one
small file per grid day rather than one per calendar day: the small-file
write stays in the workload while a refresh pass stays within seconds.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts at scale 1.0: half the project's sf0.01 testdata
ROWS = {
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "lineitem": 30000,
    "events": 5000,
    "documents": 250,
    "embeddings": 250,
}
N_ORDER_DATES = 60
EMBED_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line"
    " merge order part query row scan slow small sort spark stream table the value"
    " vector window"
).split()


def _ts(values: np.ndarray) -> pa.Array:
    """Naive microsecond timestamps, as the testdata stores them."""
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
    })

    no = n["orders"]
    start = np.datetime64("1995-01-01")
    span = (np.datetime64("2001-08-01") - start).astype(int)
    grid = start + np.linspace(0, span, N_ORDER_DATES).astype(int).astype("timedelta64[D]")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(rng.choice(grid, no)),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })

    # Ship dates are drawn independently of the order's date, as in the
    # testdata, where ship minus order date runs from -2383 to +2478 days.
    # So fact_sales' +-365-day interval join matches about 27% of lines
    # (sf0.01 and sf0.1: 27.6%; seeds 1001 and 2001 here: 27.2%, 27.0%) and
    # the rest land in the NULL order_date partition, as in the reference.
    nl = n["lineitem"]
    ship_span = (np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int)
    ship = np.datetime64("1995-01-02") + rng.integers(0, ship_span + 1, nl).astype("timedelta64[D]")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(ship),
    })

    ne = n["events"]
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 50, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, nd)]
    # one document in ten repeats an earlier one with its last word changed,
    # so the near-duplicate operators have pairs to find
    for i in range(10, nd, 10):
        words = texts[int(rng.integers(0, i))].split()
        words[-1] = str(rng.choice(WORDS))
        texts[i] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def write(directory: str, seed: int, scale: float = 1.0) -> str:
    """Write every table as ``<directory>/<name>.parquet``; returns ``directory``."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return directory
