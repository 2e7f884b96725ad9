#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
loads each <outDir>/<name> parquet (Spark result), executes the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB over the
same sf tables, and compares row count, column names (sorted), and
exact values (floats bit-exact) — stricter than any plausible driver
comparison, so passing here should pass the real gate.

A lane declared in <outDir>/rows_only.json ({lane: reason}) passes on a
readable result alone. Every declared lane must have a result dir, and
every result dir must be declared in one of the two files.

Usage: python3 tools/check_oracle.py [outDir] [sfDir]
"""
import json
import sys
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    return df[sorted(df.columns)].reset_index(drop=True)


def cell_eq(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if np.isnan(a) and np.isnan(b):
            return True
        return a == b and np.signbit(a) == np.signbit(b)
    if (a is None or a is pd.NaT) and (b is None or b is pd.NaT):
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, np.ndarray)) or isinstance(b, (list, np.ndarray)):
        a, b = list(a), list(b)
        return len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b))
    return a == b


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"COLS spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"ROWS spark={len(s)} duck={len(d)}"
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        for i in range(len(sv)):
            if not cell_eq(sv[i], dv[i]):
                return (f"VAL col={c} row={i} spark={sv[i]!r} ({type(sv[i]).__name__}) "
                        f"duck={dv[i]!r} ({type(dv[i]).__name__})")
        # dtype check (warn-level, printed but not fatal)
    return ""


def main():
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/gverify"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    rows_only = json.load(open(f"{out_dir}/rows_only.json"))
    n_pass = n_fail = n_rows_only = 0
    results_dirs = {os.path.basename(p) for p in glob.glob(f"{out_dir}/*") if os.path.isdir(p)}
    for name in sorted(set(oracle) | set(rows_only) | results_dirs):
        if name in rows_only:
            reason = rows_only[name]
            if name not in results_dirs:
                print(f"  ✗ {name}: rows-only lane declared but NO spark result dir ({reason})")
                n_fail += 1
                continue
            try:
                n = len(pd.read_parquet(f"{out_dir}/{name}"))
                print(f"  ~ {name}: rows-only ({n} rows): {reason}")
                n_rows_only += 1
            except Exception as e:
                print(f"  ✗ {name}: rows-only read FAILED: {e}")
                n_fail += 1
            continue
        if name not in oracle:
            print(f"  ✗ {name}: result dir declared in neither oracle_sql.json nor rows_only.json")
            n_fail += 1
            continue
        if name not in results_dirs:
            print(f"  ✗ {name}: oracle present but NO spark result dir")
            n_fail += 1
            continue
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"  ✗ {name}: spark parquet read failed: {e}")
            n_fail += 1
            continue
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"  ✗ {name}: ORACLE SQL failed: {e}")
            n_fail += 1
            continue
        err = compare(name, spark_df, duck_df)
        if err:
            print(f"  ✗ {name}: {err}")
            n_fail += 1
        else:
            sd = {c: str(spark_df[c].dtype) for c in spark_df.columns}
            dd = {c: str(duck_df[c].dtype) for c in duck_df.columns}
            dt = {c: (sd[c], dd[c]) for c in sd if c in dd and sd[c] != dd[c]}
            note = f"  [dtype diff: {dt}]" if dt else ""
            print(f"  ✓ {name} ({len(spark_df)} rows){note}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
