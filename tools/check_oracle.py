#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB against the sfDir parquet
tables, sorts columns by name and rows by all columns, and compares values
exactly. Reports per-query PASS/FAIL with first diffs. Results are looked up
by oracle key only, so Verify's verify_failures.json sidecar is never read as
a query result.
"""
import json
import math
import sys
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        res_dir = Path(out_dir) / name
        if not res_dir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM parquet_scan('{res_dir}/*.parquet')").df()
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        got = got[sorted(got.columns)]
        want = want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        dtype_diffs = [(c, str(got[c].dtype), str(want[c].dtype))
                       for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
        if dtype_diffs:
            print(f"WARN {name}: dtype drift {dtype_diffs}")
        g = sorted(tuple(norm(v) for v in row) for row in got.itertuples(index=False))
        w = sorted(tuple(norm(v) for v in row) for row in want.itertuples(index=False))
        if g == w:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: rows spark={len(g)} oracle={len(w)}")
            diffs = [(a, b) for a, b in zip(g, w) if a != b][:3]
            for a, b in diffs:
                print(f"  spark : {a}\n  oracle: {b}")
    print(f"== {n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
