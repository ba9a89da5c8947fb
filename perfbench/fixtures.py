"""Source tables for the tap-sync workloads.

The tables follow the TPC-H-like star schema the repository's tests use
(`lineitem`, `orders`, `events` at scale factor 0.1): same column names,
types, ranges and row counts. They are generated with numpy from a fixed
generator seed, so every checkout builds the same bytes; the per-run
workload seed only picks watermarks and JDBC deltas (see `inputs.py`).
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

GENERATOR_SEED = 42
ORDERS = 150_000
LINEITEMS = 600_000
EVENTS = 100_000
CUSTOMERS = 15_000
PARTS = 20_000
SUPPLIERS = 1_000
USERS = 1_500

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RETURN_FLAGS = np.array(["A", "N", "R"])
LINE_STATUSES = np.array(["O", "F"])
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])

DAY_US = 86_400 * 1_000_000


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _orders(rng):
    return pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(STATUSES, ORDERS)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, ORDERS), 2)),
        "o_orderdate": pa.array(_days(rng, ORDERS, "1995-01-01", 2404)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, ORDERS)),
    })


def _lineitem(rng):
    n = LINEITEMS
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, PARTS, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(RETURN_FLAGS, n)),
        "l_linestatus": pa.array(rng.choice(LINE_STATUSES, n)),
        "l_shipdate": pa.array(_days(rng, n, "1995-01-02", 2498)),
    })


def _events(rng):
    n = EVENTS
    month_us = 30 * DAY_US
    ts = np.sort(rng.integers(0, month_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, USERS, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array(["{\"k\": %d}" % k for k in rng.integers(0, 100, n)]),
    })


TABLES = {"orders": _orders, "lineitem": _lineitem, "events": _events}


def ensure(data_dir):
    """Write the tables under `data_dir` unless a complete set is there."""
    done = os.path.join(data_dir, "_COMPLETE")
    if os.path.exists(done):
        return
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([GENERATOR_SEED, i])
        table = make(rng)
        pq.write_table(table, os.path.join(tmp, name + ".parquet"))
        if name == "orders":  # the Derby bulk-import copy
            pacsv.write_csv(table, os.path.join(tmp, "orders.csv"),
                            pacsv.WriteOptions(include_header=False))
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)
    open(done, "w").close()
