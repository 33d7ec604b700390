#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate (dev tooling only —
NOT part of the engine). Runs graft.Verify output against DuckDB on the
same parquet tables and diffs per query: row count, schema (column names
sorted), and values.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir> [query ...]
"""
import sys, os, json, glob
import duckdb

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        # driver testdata is one file per table; Spark-materialized dirs
        # (fraction midpoints, replicas) are directories of part files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    # Queries may skip the oracle only by explicit declaration
    # (Verify writes rows_only.json); absence from BOTH is a failure,
    # so a forgotten oracleSql entry can't silently weaken the gate.
    rows_only_path = os.path.join(out_dir, "rows_only.json")
    rows_only = set()
    if os.path.exists(rows_only_path):
        with open(rows_only_path) as f:
            rows_only = set(json.load(f))
    # Queries that threw inside Verify (failed.json: name -> message);
    # their messages explain the FAIL-miss lines below.
    failed_path = os.path.join(out_dir, "failed.json")
    failed = {}
    if os.path.exists(failed_path):
        with open(failed_path) as f:
            failed = json.load(f)
    n_pass = n_fail = 0
    # Result-TYPE gate (r18 judge finding): the driver's hasher is
    # type-sensitive (INT64 vs INT128 physical encoding) while the
    # pandas value-compare below is type-erasing, so a DuckDB HUGEINT
    # output column — e.g. an uncast sum(BIGINT) — passes every local
    # value sweep yet hash-mismatches at the driver. Probe every
    # oracle's OUTPUT types (relation plan only, no execution) and fail
    # loudly. Internal CTE HUGEINTs are fine; only the final projection
    # reaches the hasher.
    for name in sorted(oracle):
        if only and name not in only:
            continue
        try:
            rel = con.sql(oracle[name])
            bad = [f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                   if str(t).upper() in ("HUGEINT", "UHUGEINT")]
        except Exception:
            bad = []  # SQL errors surface as FAIL-sql in the main loop
        if bad:
            print(f"[FAIL-type] {name}: oracle output not driver-hashable "
                  f"({', '.join(bad)}) — CAST the aggregate "
                  f"(DuckDB sum(BIGINT) returns HUGEINT)")
            n_fail += 1
    seen = set()
    for qdir in sorted(glob.glob(os.path.join(out_dir, "*"))):
        if not os.path.isdir(qdir):
            continue
        name = os.path.basename(qdir)
        if only and name not in only:
            continue
        seen.add(name)
        spark_df = con.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
        if name not in oracle:
            if name in rows_only:
                print(f"[rows-only] {name}: {len(spark_df)} rows")
            else:
                print(f"[FAIL-decl] {name}: no oracle and not declared rows-only")
                n_fail += 1
            continue
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"[FAIL-sql ] {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        s_cols, d_cols = sorted(spark_df.columns), sorted(duck_df.columns)
        if s_cols != d_cols:
            ok = False
            msgs.append(f"schema {s_cols} vs {d_cols}")
        if len(spark_df) != len(duck_df):
            ok = False
            msgs.append(f"rows {len(spark_df)} vs {len(duck_df)}")
        if ok:
            a = spark_df[s_cols].sort_values(s_cols, kind="mergesort").reset_index(drop=True)
            b = duck_df[d_cols].sort_values(d_cols, kind="mergesort").reset_index(drop=True)
            for c in s_cols:
                av, bv = a[c], b[c]
                try:
                    import pandas as pd
                    if not av.astype(object).where(pd.notna(av), None).equals(
                           bv.astype(object).where(pd.notna(bv), None)):
                        neq = (av.astype(str) != bv.astype(str))
                        idx = list(neq[neq].index[:3])
                        if idx:
                            ok = False
                            msgs.append(f"col {c} differs at rows {idx}: "
                                        f"{[ (av[i], bv[i]) for i in idx ]}")
                except Exception as e:
                    ok = False
                    msgs.append(f"col {c} compare error: {e}")
        if ok:
            n_pass += 1
            print(f"[PASS     ] {name}: {len(spark_df)} rows")
        else:
            n_fail += 1
            print(f"[FAIL     ] {name}: {'; '.join(msgs)}")
    # A query that THROWS inside Verify writes no output dir at all and
    # would otherwise never enter the loop above — every name the oracle
    # map or the rows-only declaration expects must have produced a dir.
    expected = set(oracle) | rows_only
    if only:
        expected &= only
    for name in sorted(expected - seen):
        why = f" — Verify: {failed[name]}" if name in failed else ""
        print(f"[FAIL-miss] {name}: expected but no output directory written{why}")
        n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
