"""Per-run inputs of each workload, made from the workload seed.

The seed picks each native stream's start watermark inside a band that
keeps its record count within 1% of the table, and generates the JDBC
delta rows. The program gets only these inputs (a tap config, a delta
file); the expected outputs stay here, computed with DuckDB.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import fixtures

WORKLOADS = ("sync_singer", "sync_batch", "sync_jdbc_incremental")

DERBY_URL = "jdbc:derby:memory:perfbench"
DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
DELTA_PASSES = 400
DELTA_ROWS = (900, 1100)
BAND_SHARE = 0.009  # the watermark stays below this quantile of the key

# name -> (replication key, [(column, declared type)])
STREAMS = {
    "lineitem": ("l_shipdate", [
        ("l_orderkey", "bigint"), ("l_partkey", "bigint"), ("l_suppkey", "bigint"),
        ("l_linenumber", "integer"), ("l_quantity", "double"),
        ("l_extendedprice", "double"), ("l_discount", "double"), ("l_tax", "double"),
        ("l_returnflag", "text"), ("l_linestatus", "text"), ("l_shipdate", "datetime")]),
    "orders": ("o_orderdate", [
        ("o_orderkey", "bigint"), ("o_custkey", "bigint"), ("o_orderstatus", "text"),
        ("o_totalprice", "double"), ("o_orderdate", "datetime"),
        ("o_orderpriority", "text")]),
    "events": ("ts", [
        ("event_id", "bigint"), ("ts", "datetime"), ("user_id", "bigint"),
        ("event_type", "text"), ("value", "double"), ("props", "text")]),
}
KEYS = {"lineitem": ["l_orderkey", "l_linenumber"], "orders": ["o_orderkey"],
        "events": ["event_id"]}


def stream_config(name, rep_key, start, execution="native"):
    cols = STREAMS[name][1]
    return {
        "name": name,
        "sql": "SELECT %s FROM %s WHERE %s > :rep_key_val" % (
            ", ".join(c for c, _ in cols), name, rep_key),
        "key_properties": KEYS[name],
        "replication_key": rep_key,
        "replication_key_value_start": start,
        "execution": execution,
        "columns": [{"name": c, "type": t} for c, t in cols],
    }


def watermark(con, table, col, rng):
    """A start value between just below the key's minimum and its
    BAND_SHARE quantile, at whole seconds."""
    lo, hi = con.execute(
        "SELECT min(%s) - INTERVAL 1 DAY, quantile_disc(%s, %f) FROM %s"
        % (col, col, BAND_SHARE, table)).fetchone()
    start = lo + (hi - lo) * float(rng.uniform())
    return start.replace(microsecond=0).strftime("%Y-%m-%d %H:%M:%S")


def oracle(con, table, col, start):
    count, mx = con.execute(
        "SELECT count(*), max(%s) FROM %s WHERE %s > TIMESTAMP '%s'"
        % (col, table, col, start)).fetchone()
    return {"count": count, "max": mx}


def native_streams(data, names, rng):
    con = duckdb.connect()
    for n in names:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (n, os.path.join(data, n + ".parquet")))
    configs, expect = [], {}
    for n in names:
        col = STREAMS[n][0]
        start = watermark(con, n, col, rng)
        configs.append(stream_config(n, col, start))
        expect["postgres-public-" + n] = dict(oracle(con, n, col, start), name=n)
    return configs, expect


def deltas(path, rng):
    """DELTA_PASSES batches of new orders with keys above the base table."""
    sizes = rng.integers(DELTA_ROWS[0], DELTA_ROWS[1] + 1, DELTA_PASSES)
    n = int(sizes.sum())
    keys = fixtures.ORDERS - 1 + np.cumsum(rng.integers(1, 4, n))
    day = np.datetime64("2001-08-02", "us")
    table = pa.table({
        "pass": pa.array(np.repeat(np.arange(DELTA_PASSES, dtype=np.int32), sizes)),
        "o_orderkey": pa.array(keys.astype(np.int64)),
        "o_custkey": pa.array(rng.integers(0, fixtures.CUSTOMERS, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(fixtures.STATUSES, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(day + rng.integers(0, 30, n).astype("timedelta64[D]")),
        "o_orderpriority": pa.array(rng.choice(fixtures.PRIORITIES, n)),
    })
    pq.write_table(table, path)
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    return [keys[bounds[i]:bounds[i + 1]] for i in range(DELTA_PASSES)]


def generate(workload, seed, build_dir, work):
    """Write the run's inputs under `work`; return the JVM parameters and a
    function from pass index to the oracle's expectations."""
    data = os.path.join(build_dir, "data")
    fixtures.ensure(data)
    rng = np.random.default_rng(seed)
    tap = {"streams": []}
    params = {"data_dir": data, "views": []}
    if workload == "sync_singer":
        params["views"] = ["lineitem"]
        tap["streams"], streams = native_streams(data, params["views"], rng)
        expect = lambda i: {"streams": streams}  # noqa: E731
    elif workload == "sync_batch":
        params["views"] = ["lineitem", "orders", "events"]
        tap["streams"], streams = native_streams(data, params["views"], rng)
        tap["sync_parallelism"] = os.cpu_count()
        tap["batch_config"] = {
            "encoding": {"format": "jsonl", "compression": "gzip"},
            "storage": {"root": "file://" + os.path.join(work, "batch")}}
        expect = lambda i: {"streams": streams}  # noqa: E731
    else:
        delta_path = os.path.join(work, "deltas.parquet")
        per_pass = deltas(delta_path, rng)
        cfg = stream_config("orders", "o_orderkey", str(fixtures.ORDERS - 1), "jdbc")
        tap.update(streams=[cfg], jdbc_url=DERBY_URL, jdbc_driver=DERBY_DRIVER)
        params["derby"] = {"orders": os.path.join(data, "orders.csv"),
                           "deltas": delta_path}

        def expect(i):
            k = per_pass[i]
            return {"streams": {"postgres-public-orders": {
                        "name": "orders", "count": len(k), "max": int(k[-1])}},
                    "keys": {"count": len(k), "min": int(k[0]), "max": int(k[-1]),
                             "sum": int(k.sum())}}
    tap_path = os.path.join(work, "tap.json")
    with open(tap_path, "w") as fh:
        json.dump(tap, fh)
    params["tap_config"] = tap_path
    return {"params": params, "expect": expect}
