#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate.

Usage: python3 scripts/oracle_check.py [sfDir] [outDir]

Runs graft.Verify output (outDir, default /tmp/verify_out) against the
DuckDB oracle SQL it dumped, per-query: schema (column names sorted),
row count, and value hash (columns sorted by name, rows compared in
emitted order). Queries without oracle SQL get a rows>0 check.

Driver-side tooling only — never a library dependency.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    # Register each parquet file as a view named exactly like the table, so
    # the oracle SQL runs UNMODIFIED. The previous 'FROM <t>' string
    # substitution would silently corrupt SQL if a CTE or alias ever shared
    # a table-name prefix (e.g. a CTE named 'events2').
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sqls = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok, bad, rows_only = 0, 0, 0
    # A query that THREW leaves no output directory — without this it
    # would be silently absent from the sweep (exactly how the PQ-family
    # zero-vector collapse hid from the adversarial sweep for two rounds).
    failures_path = f"{out_dir}/verify_failures.json"
    failed_names = set()
    if os.path.exists(failures_path):
        for name, err in sorted(json.load(open(failures_path)).items()):
            print(f"VERIFY_FAILED    {name}: {err}")
            failed_names.add(name)
            bad += 1
    names = sorted(os.listdir(out_dir))
    for name in names:
        path = f"{out_dir}/{name}"
        if not os.path.isdir(path):
            continue
        # A thrown query's STALE parquet dir from a previous sweep (Verify
        # only overwrites on success) must not also print a misleading OK
        # line — adversarial_check got the equivalent rmtree fix earlier.
        if name in failed_names:
            print(f"STALE_SKIPPED    {name} (failed this sweep; dir is from a prior run)")
            continue
        got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
        if name not in sqls:
            status = "ROWS_ONLY_OK" if len(got) > 0 else "ROWS_ONLY_EMPTY"
            print(f"{status:16s} {name} rows={len(got)}")
            ok += status == "ROWS_ONLY_OK"
            rows_only += status == "ROWS_ONLY_OK"
            bad += status != "ROWS_ONLY_OK"
            continue
        sql = sqls[name]
        try:
            oracle = con.sql(sql).df()
        except Exception as e:
            print(f"ORACLE_SQL_ERR   {name}: {e}")
            bad += 1
            continue
        g = got[sorted(got.columns)].reset_index(drop=True)
        o = oracle[sorted(oracle.columns)].reset_index(drop=True)
        if sorted(got.columns) != sorted(oracle.columns):
            print(f"SCHEMA_MISMATCH  {name}: spark={sorted(got.columns)} oracle={sorted(oracle.columns)}")
            bad += 1
        elif len(g) != len(o):
            print(f"ROWS_MISMATCH    {name}: spark={len(g)} oracle={len(o)}")
            bad += 1
        elif not g.equals(o):
            # allow dtype-widening equality (e.g. int32 vs int64)
            try:
                eq = all((g[c].astype("object") == o[c].astype("object")).all() for c in g.columns)
            except Exception:
                eq = False
            if eq:
                print(f"OK_DTYPE_LOOSE   {name} rows={len(g)}")
                ok += 1
            else:
                diffcols = [c for c in g.columns if not (g[c].astype("object") == o[c].astype("object")).all()]
                print(f"VALUE_MISMATCH   {name}: cols={diffcols}")
                for c in diffcols[:2]:
                    mask = ~(g[c].astype("object") == o[c].astype("object"))
                    print("  spark:", g[mask][c].head(3).tolist(), " oracle:", o[mask][c].head(3).tolist())
                bad += 1
        else:
            print(f"OK               {name} rows={len(g)}")
            ok += 1
    print(f"\n{ok} ok ({ok - rows_only} hash, {rows_only} rows-only), {bad} bad")
    sys.exit(1 if bad else 0)

if __name__ == "__main__":
    main()
