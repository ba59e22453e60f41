"""Seeded stand-ins for the query tables the `query_overhead` workload reads.

Same schema, shape and scale convention as the repository's synthetic
TPC-H-ish tables (one parquet file per table): per unit of scale factor,
6,000,000 `lineitem` rows over 1,500,000 orders and 200,000 parts, with
uniformly drawn order and part keys (the co-purchase graph of q153), and
1,000,000 `events` from 15,000 users with timestamps uniform over 30 days
in event-id order (the streams of q161). So sf 0.01 is 60,000 lineitem
rows over 15,000 orders x 2,000 parts, and 10,000 events from 150 users.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM, ORDERS, PARTS, SUPPLIERS = 6_000_000, 1_500_000, 200_000, 10_000
EVENTS, USERS = 1_000_000, 15_000


def lineitem(rng, sf):
    n = int(LINEITEM * sf)
    day = np.datetime64("1995-01-02", "us")
    return pa.table({
        "l_orderkey": rng.integers(0, int(ORDERS * sf), n, dtype=np.int64),
        "l_partkey": rng.integers(0, int(PARTS * sf), n, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(1, int(SUPPLIERS * sf)), n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": day + rng.integers(0, 2498, n) * np.timedelta64(86_400_000_000, "us"),
    })


def events(rng, sf):
    n = int(EVENTS * sf)
    start = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, int(USERS * sf), n, dtype=np.int64),
        "event_type": rng.choice(np.array(["click", "view", "purchase", "signup", "error"]), n),
        "value": np.round(rng.uniform(0.01, 500.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })


def generate(out_dir, seed, sf):
    """Write every table under out_dir (the same seed gives the same bytes);
    return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name, make in (("lineitem", lineitem), ("events", events)):
        table = make(rng, sf)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
