"""Output checks, run after the measured window has closed.

`ingest` compares the store, its rollup and the DAG's counts with what
the generator planted. `serve` hash-compares each op's result with
DuckDB running the op's `SparkEntry.oracleSql` text on the same staged
files, canonicalized by the repo's own `tools/check_oracle.py`.
"""
import glob
import importlib.util
import os

import duckdb
import pandas as pd


def _oracle_module(root):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def store_rows(con, store):
    """(device_id, ts epoch s, consumer batch file, is_anomaly) per row."""
    return con.execute(
        "SELECT device_id, CAST(epoch(ts) AS BIGINT) AS ts, filename, "
        "is_anomaly FROM read_parquet(?, filename = true, "
        "hive_partitioning = true)",
        [f"{store}/event_date=*/*.parquet"]).fetchall()


def check_ingest(rows, rollup, quarantined, expected):
    """Returns a list of failure messages (empty when correct)."""
    fails = []
    keys = [(r[0], r[1]) for r in rows]
    if len(keys) != expected["stored_rows"]:
        fails.append(f"stored rows {len(keys)} != {expected['stored_rows']}")
    if len(set(keys)) != len(keys):
        fails.append(f"{len(keys) - len(set(keys))} duplicate (device_id, ts)")
    anomalies = sum(1 for r in rows if r[3])
    if anomalies != expected["anomaly_rows"]:
        fails.append(f"anomalies {anomalies} != {expected['anomaly_rows']}")
    if quarantined != expected["quarantined_rows"]:
        fails.append(
            f"quarantined {quarantined} != {expected['quarantined_rows']}")
    con = duckdb.connect()
    hourly = [list(r) for r in con.execute(
        "SELECT CAST(epoch(bucket) AS BIGINT), event_type, n FROM "
        "read_parquet(?, hive_partitioning = true) ORDER BY 1, 2",
        [f"{rollup}/bucket_date=*/*.parquet"]).fetchall()]
    if hourly != expected["hourly"]:
        fails.append("hourly rollup counts differ from the generator's")
    return fails


def check_serve(root, tables_dir, results_dir, oracle_sql):
    """op -> failure message, for each op whose result differs."""
    canon = _oracle_module(root).canon
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{tables_dir}/{t}.parquet'")
    fails = {}
    for op, sql in sorted(oracle_sql.items()):
        files = glob.glob(f"{results_dir}/{op}/*.parquet")
        if not files:
            fails[op] = "no result written"
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        exp = canon(con.execute(sql).df())
        if list(got.columns) != list(exp.columns):
            fails[op] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(got) != len(exp):
            fails[op] = f"rows {len(got)} != {len(exp)}"
        elif not got.equals(exp):
            fails[op] = "values differ"
    return fails
