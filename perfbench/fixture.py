"""Deterministic synthetic fixture for the benchmark.

Writes the ten tables the engine reads (``io.TEST_TABLES``) as one
parquet file each, at a scale factor relative to the TPC-H-like shapes
the engine's queries expect: ``sf=0.01`` gives 60k lineitem rows, 10k
events over 30 days from 2024-01-01, 500 documents and 500 embeddings.
The generator is seeded with a constant, so every run benchmarks the
same bytes; the workload seed only orders and selects operations.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark line column order small sort fast value scan batch part "
    "query agg table hash key group filter stream customer slow vector "
    "join shuffle cache disk read write plan stage task"
).split()
MKTSEG = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "STANDARD"]
PNAMES1 = ["large", "hot", "small", "cold", "dim", "light"]
PNAMES2 = ["ring", "bolt", "washer", "spring", "cap", "plate"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = (["en"] * 6) + ["zh", "de", "fr", "es"]
EVENTS_START = "2024-01-01"
EVENT_DAYS = 30


def generate(out: str, sf: float = 0.01) -> str:
    """Write the fixture tables into ``out`` and return it."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.RandomState(42)

    def n(base: int) -> int:
        return max(1, int(round(base * sf)))

    n_customer, n_supplier, n_part = n(150_000), n(10_000), n(200_000)
    n_orders, n_lineitem = n(1_500_000), n(6_000_000)
    n_events, n_users = n(1_000_000), n(15_000)
    n_docs = max(500, n(50_000))
    n_emb = max(500, n(20_000))

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def day_range(lo: str, hi: str, k: int) -> np.ndarray:
        span = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
        days = rng.randint(0, span + 1, k).astype("timedelta64[D]")
        return np.datetime64(lo) + days

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", {
        "c_custkey": pa.array(np.arange(n_customer), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_customer), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_customer), 2),
        "c_mktsegment": [MKTSEG[i] for i in rng.randint(0, 5, n_customer)],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supplier), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supplier)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supplier), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supplier), 2),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PNAMES1[a]} {PNAMES2[b]}"
            for a, b in zip(
                rng.randint(0, len(PNAMES1), n_part),
                rng.randint(0, len(PNAMES2), n_part),
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.randint(0, 5, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + 0.1 * np.arange(n_part) % 1000, 2),
    })

    odate = day_range("1995-01-01", "2001-08-01", n_orders)
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_customer, n_orders), pa.int64()),
        "o_orderstatus": ["OFP"[i] for i in rng.randint(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": pa.array(
            odate.astype("datetime64[us]"), pa.timestamp("us")
        ),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_orders)],
    })

    lkey = np.sort(rng.randint(0, n_orders, n_lineitem).astype(np.int64))
    # l_linenumber is the 1-based position of the line within its order
    first = np.concatenate([[True], lkey[1:] != lkey[:-1]])
    starts = np.flatnonzero(first)
    run_start = np.repeat(starts, np.diff(np.append(starts, n_lineitem)))
    linenumber = (np.arange(n_lineitem) - run_start + 1).astype(np.int32)
    ship = odate[lkey] + rng.randint(1, 96, n_lineitem).astype("timedelta64[D]")
    write("lineitem", {
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(
            rng.randint(0, n_supplier, n_lineitem), pa.int64()
        ),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.randint(1, 51, n_lineitem).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_lineitem), 2),
        "l_discount": np.round(rng.randint(0, 11, n_lineitem) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_lineitem) / 100.0, 2),
        "l_returnflag": ["NAR"[i] for i in rng.randint(0, 3, n_lineitem)],
        "l_linestatus": ["OF"[i] for i in rng.randint(0, 2, n_lineitem)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })

    start_us = np.datetime64(EVENTS_START).astype("datetime64[us]").astype(np.int64)
    ts_us = start_us + np.sort(
        rng.randint(0, EVENT_DAYS * 86400 * 1_000_000, n_events, dtype=np.int64)
    )
    write("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 560, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_events)],
    })

    n_words = rng.randint(8, 101, n_docs)
    texts = [
        " ".join(VOCAB[j] for j in rng.randint(0, len(VOCAB), n_words[i]))
        for i in range(n_docs)
    ]
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.randint(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.randint(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array([e.tolist() for e in emb], pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_emb), pa.int32()),
    })
    return out
