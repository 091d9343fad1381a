"""Strict oracle check of the slot outputs a benchmark run dumped.

Each dumped slot output is compared with its DuckDB oracle query
(`SparkEntry.oracleSql`) over the same corpus by tools/strict_check.py's
own comparison: columns sorted by name, every cell rendered to a string
(floats by repr, so bit-exact), rows sorted.  There is no numeric
tolerance.  A slot without an oracle passes when it returned rows.
"""
import json
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from strict_check import TABLES, compare  # noqa: E402


def check(data_dir, run_dir, slots):
    """{slot: 'OK' | reason} for every slot the run's check pass dumped."""
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    verdicts = {}
    for slot in slots:
        dump = os.path.join(run_dir, "dump", slot)
        if not os.path.isdir(dump):
            verdicts[slot] = "NO DUMP"
            continue
        spark_df = pd.read_parquet(dump)
        if slot not in oracle:
            verdicts[slot] = "OK" if len(spark_df) else "EMPTY (rows-only slot)"
            continue
        try:
            duck_df = con.execute(oracle[slot]).fetchdf()
        except duckdb.Error as e:
            verdicts[slot] = f"ORACLE SQL ERROR {e}"
            continue
        verdicts[slot] = compare(slot, spark_df, duck_df)
    con.close()
    return verdicts
