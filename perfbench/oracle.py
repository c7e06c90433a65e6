"""Output check: each query's dumped result against its DuckDB oracle SQL,
with the canonicalization of tools/check.py (columns sorted by name, rows
sorted, cells compared exactly), imported from there.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check import TABLES, canon, cell_eq  # noqa: E402


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """'' when equal after canonicalization, else what differs."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not cell_eq(a, b):
                return f"value mismatch col={c} row={i}: {a!r} != {b!r}"
    return ""


def check(data_dir, dump_dir, queries, temp_dir) -> dict:
    """Query name -> '' if its dumped result matches the oracle, else why not."""
    con = duckdb.connect(config={"threads": 2, "temp_directory": str(temp_dir)})
    for t in TABLES:
        if (data_dir / f"{t}.parquet").exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    sqls = json.loads((dump_dir / "oracle_sql.json").read_text())
    out = {}
    for q in queries:
        try:
            got = pd.read_parquet(dump_dir / q)
        except Exception as e:  # noqa: BLE001 - any unreadable dump is a failure
            out[q] = f"result unreadable: {e}"
            continue
        if not sqls.get(q):
            out[q] = "no oracle SQL"
            continue
        try:
            exp = con.sql(sqls[q]).df()
        except Exception as e:  # noqa: BLE001
            out[q] = f"oracle SQL error: {e}"
            continue
        out[q] = compare(got, exp)
    con.close()
    return out
