#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify at a
given SF, then execute each oracle SQL in DuckDB over the same parquet
tables and diff the results. Driver-side python only (duckdb/pyarrow are
NOT dependencies of the Scala engine)."""
import json
import math
import sys
from pathlib import Path

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Full-precision repr: the driver hashes values at (at least) full
        # double precision, so a 9-sig-digit normalization here can hide a
        # cross-engine ulp drift that the driver gate then flags (this is
        # exactly how the r6 trend_slope miss slipped through localcheck).
        return repr(v)
    return str(v)


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    oracle = json.loads(Path(f"{OUT_DIR}/oracle_sql.json").read_text())
    results = {}
    for name in sorted(p.name for p in Path(OUT_DIR).iterdir() if p.is_dir()):
        # a failed write leaves a directory with no parquet file: fail
        # that row and keep checking the others
        if not any(Path(OUT_DIR, name).glob("*.parquet")):
            results[name] = "NO_OUTPUT"
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{OUT_DIR}/{name}/*.parquet')").fetch_arrow_table()
        got_cols = sorted(got.column_names)
        if name not in oracle:
            results[name] = f"ROWS_ONLY rows={got.num_rows}"
            continue
        try:
            exp = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR {e}"
            continue
        exp_cols = sorted(exp.column_names)
        if got_cols != exp_cols:
            results[name] = f"SCHEMA_MISMATCH got={got_cols} exp={exp_cols}"
            continue
        if got.num_rows != exp.num_rows:
            results[name] = f"ROWCOUNT_MISMATCH got={got.num_rows} exp={exp.num_rows}"
            continue
        g = [[norm(v) for v in row] for row in zip(*[got.column(c).to_pylist() for c in got_cols])] if got.num_rows else []
        e = [[norm(v) for v in row] for row in zip(*[exp.column(c).to_pylist() for c in exp_cols])] if exp.num_rows else []
        g.sort()
        e.sort()
        if g == e:
            results[name] = "OK"
        else:
            bad = next(i for i in range(len(g)) if g[i] != e[i])
            results[name] = (f"VALUE_MISMATCH first_diff_row={bad} "
                             f"got={g[bad][:6]} exp={e[bad][:6]} cols={got_cols[:6]}")
    ok = sum(1 for v in results.values() if v == "OK")
    rows_only = sum(1 for v in results.values() if v.startswith("ROWS_ONLY"))
    for k, v in sorted(results.items()):
        mark = "PASS" if v == "OK" else ("INFO" if v.startswith("ROWS_ONLY") else "FAIL")
        print(f"[{mark}] {k}: {v}")
    print(f"\n{ok} oracle-matched, {rows_only} rows-only, "
          f"{len(results) - ok - rows_only} failing, {len(results)} total")


if __name__ == "__main__":
    main()
