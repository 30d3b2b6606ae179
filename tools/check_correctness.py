#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify
(done separately via sbt), then compare each <name>.parquet against the
DuckDB result of oracle_sql.json on the same sf dir.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb


def canon(rel):
    """(sorted column names, rows sorted under a type-aware key, DuckDB
    type name per column) of a DuckDB relation."""
    cols = sorted(rel.columns)
    df = rel.df()[cols]
    df = df.astype(object).where(df.notna(), None)  # NaN holes -> None
    def key(row):
        return tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)
    rows = sorted((tuple(r) for r in df.itertuples(index=False, name=None)), key=key)
    types = {c: str(t) for c, t in zip(rel.columns, rel.types)}
    return cols, rows, types


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    ok = fail = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        spark_rel = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        if name not in oracle:
            print(f"[rows-only] {name}: {len(spark_rel.df())} rows")
            continue
        try:
            duck_rel = con.sql(oracle[name])
        except Exception as e:
            print(f"[FAIL] {name}: oracle SQL error: {e}")
            fail += 1
            continue
        sc, sr, st = canon(spark_rel)
        dc, dr, dt = canon(duck_rel)
        if sc != dc:
            print(f"[FAIL] {name}: columns {sc} vs {dc}")
            fail += 1
            continue
        # Type-strict: the driver's compare hashes TYPED values (HUGEINT 3 !=
        # BIGINT 3), so a value-equal result with a widened oracle type (DuckDB
        # SUM->HUGEINT, AVG->DOUBLE, // on HUGEINT) is a driver red cell that
        # the old object-canonicalizing compare could not see. Compare the
        # DuckDB-reported type of every column pair-wise before the values.
        type_mismatch = {c: (st[c], dt[c]) for c in sc if st[c] != dt[c]}
        if type_mismatch:
            print(f"[FAIL] {name}: column TYPE mismatch (spark vs oracle): {type_mismatch}")
            fail += 1
            continue
        if sr == dr:
            print(f"[ok]   {name}: {len(sr)} rows, cols={sc}")
            ok += 1
        else:
            print(f"[FAIL] {name}: rows {len(sr)} vs {len(dr)}")
            only_s = [r for r in sr if r not in set(map(tuple, dr))][:3]
            only_d = [r for r in dr if r not in set(map(tuple, sr))][:3]
            print(f"   spark-only: {only_s}")
            print(f"   duck-only:  {only_d}")
            fail += 1

    print(f"\n{ok} ok, {fail} fail")
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
