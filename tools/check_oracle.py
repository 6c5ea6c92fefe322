#!/usr/bin/env python3
"""Local pre-check of SparkEntry.oracleSql vs graft.Verify parquet dumps.

Mimics the driver's t2 gate: registers the sf tables as DuckDB views, runs
each oracle SQL, loads the Spark result parquet, sorts columns by name and
rows by all columns, and compares values exactly (floats bit-exact, with a
reported max-abs-diff fallback so near-misses are visible).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Equivalence mode, for a change that rewrites oracle SQL text:

  python3 tools/check_oracle.py <sfDir> <new oracle_sql.json | verifyOutDir> \
      --against <old oracle_sql.json>

For each name in both dumps it prints SAME (byte-identical text) or, for a
changed text, runs both strings in DuckDB and compares the canonicalized
results the same way (EQUIV / DIFF). Names in only one dump are listed.
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    df = df.sort_values(by=cols, ignore_index=True, kind="mergesort")
    return df


def cmp_cell(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            if a is None or b is None:
                return False
            if math.isnan(a) and math.isnan(b):
                return True
            return a == b
    except TypeError:
        pass
    return a == b


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def diff(exp, got, x, y):
    """None if frames exp (named x) and got (named y) match after canon(),
    else why not."""
    exp, got = canon(exp), canon(got)
    if list(exp.columns) != list(got.columns):
        return f"columns differ: {x}={list(exp.columns)} {y}={list(got.columns)}"
    if len(exp) != len(got):
        return f"row counts differ: {x}={len(exp)} {y}={len(got)}"
    for c in exp.columns:
        for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist())):
            if not cmp_cell(a, b):
                return f"first diff at col={c} row={i}: {x}={a!r} {y}={b!r}"
    return None


def load_oracle(path):
    return json.load(open(path if path.endswith(".json") else f"{path}/oracle_sql.json"))


def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = load_oracle(out_dir)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            n_fail += 1
            continue
        bad = diff(exp, got, "oracle", "spark")
        if bad:
            print(f"FAIL {name}: {bad}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows, {len(exp.columns)} cols)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


def against(sf_dir, new_path, old_path):
    con = connect(sf_dir)
    new, old = load_oracle(new_path), load_oracle(old_path)
    for name in sorted(set(new) ^ set(old)):
        print(f"ONLY {'new' if name in new else 'old'} {name}")
    n_same = n_equiv = n_diff = 0
    for name in sorted(set(new) & set(old)):
        if new[name] == old[name]:
            print(f"SAME {name}")
            n_same += 1
            continue
        try:
            bad = diff(con.sql(old[name]).df(), con.sql(new[name]).df(), "old", "new")
        except Exception as e:
            bad = f"SQL error: {e}"
        if bad:
            print(f"DIFF {name}: {bad}")
            n_diff += 1
        else:
            print(f"EQUIV {name}")
            n_equiv += 1
    print(f"== {n_same} same, {n_equiv} changed text with equal results, {n_diff} differ")
    return 1 if n_diff or set(new) != set(old) else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) == 4 and args[2] == "--against":
        sys.exit(against(args[0], args[1], args[3]))
    sys.exit(main(args[0], args[1]))
