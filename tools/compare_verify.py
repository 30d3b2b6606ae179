#!/usr/bin/env python3
"""Check that two graft.Verify output directories hold the same results:
every <name>/ parquet result of the change equals the parent's row for
row, with the same columns and the same DuckDB column types. Parquet
bytes differ from run to run even for unchanged queries, so the compare
is on canonicalized rows (tools/check_correctness.py's `canon`).

Usage: python3 tools/compare_verify.py <parentOut> <changeOut>
Exits non-zero when a result differs or exists on one side only.
"""
import os, sys
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_correctness import canon


def results(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}


def main(parent_out, change_out):
    con = duckdb.connect()
    parent, change = results(parent_out), results(change_out)
    same = diff = 0
    for name in sorted(parent ^ change):
        print(f"[DIFF] {name}: only in {'parent' if name in parent else 'change'}")
        diff += 1
    for name in sorted(parent & change):
        a = canon(con.sql(f"SELECT * FROM read_parquet('{parent_out}/{name}/*.parquet')"))
        b = canon(con.sql(f"SELECT * FROM read_parquet('{change_out}/{name}/*.parquet')"))
        if a == b:
            print(f"[same] {name}: {len(a[1])} rows")
            same += 1
            continue
        (ac, ar, at), (bc, br, bt) = a, b
        if ac != bc:
            print(f"[DIFF] {name}: columns {ac} vs {bc}")
        elif at != bt:
            print(f"[DIFF] {name}: column types {at} vs {bt}")
        else:
            print(f"[DIFF] {name}: rows {len(ar)} vs {len(br)}")
            print(f"   parent-only: {[r for r in ar if r not in br][:3]}")
            print(f"   change-only: {[r for r in br if r not in ar][:3]}")
        diff += 1
    print(f"\n{same} same, {diff} differ")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
