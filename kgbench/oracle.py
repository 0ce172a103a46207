"""DuckDB compare of registry query outputs against their oracle SQL.

Uses the comparison rules of tools/oracle_check.py (equal row counts,
equal column-name sets, and an equal `value_hash`); only the loop that
collects one error string per mismatching query lives here.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import value_hash  # noqa: E402


def compare(input_dir, check_dir):
    """Returns one error string per query whose output does not match."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(input_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        src = f"{p}/**/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    errors = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            errors.append(f"{name}: no Spark output")
            continue
        sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:  # a failing oracle is a failed check, never a skip
            errors.append(f"{name}: oracle SQL error: {e}")
            continue
        if len(sdf) != len(odf):
            errors.append(f"{name}: rows {len(sdf)} != oracle {len(odf)}")
        elif sorted(sdf.columns) != sorted(odf.columns):
            errors.append(f"{name}: columns {sorted(sdf.columns)} != oracle {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            errors.append(f"{name}: values differ from oracle")
    con.close()
    return errors
