#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify's parquet dumps
against the DuckDB oracle SQL on the same testdata tables, compare as
column-name-sorted, row-sorted value sets. Usage:
  python3 tools/compare.py <sfDir> <verifyOutDir>

Dump-vs-dump mode compares two Verify dumps of the same testdata (say,
before and after a change) query by query with the same normalization,
oracle or not, and lists every query whose rows differ or that only one
dump holds:
  python3 tools/compare.py --dumps <beforeOutDir> <afterOutDir>
"""
import duckdb
import json
import math
import os
import sys

import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else v)
        df[c] = df[c].map(lambda v: str(v) if v is not None else "\x00NULL")
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)))
    return rows


def query_dirs(out):
    return {d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))}


def errors(out):
    path = f"{out}/_errors.json"
    return json.load(open(path)) if os.path.exists(path) else {}


def compare_dumps(a, b):
    """Every query output of dump `a` against dump `b`: 0 when all match."""
    n_same = n_diff = 0
    for side, out in (("before", a), ("after", b)):
        for name, msg in sorted(errors(out).items()):
            print(f"ERR  {side} {name}: {msg}")
            n_diff += 1
    qa, qb = query_dirs(a), query_dirs(b)
    for name in sorted(qa | qb):
        if name not in qb or name not in qa:
            print(f"MISSING {name}: only in {'before' if name in qa else 'after'}")
            n_diff += 1
            continue
        ga, gb = pd.read_parquet(f"{a}/{name}"), pd.read_parquet(f"{b}/{name}")
        if sorted(ga.columns) != sorted(gb.columns):
            print(f"DIFF {name}: columns {sorted(ga.columns)} vs {sorted(gb.columns)}")
            n_diff += 1
            continue
        ra, rb = norm(ga), norm(gb)
        if ra != rb:
            sa, sb = set(ra), set(rb)
            print(f"DIFF {name}: rows {len(ra)} vs {len(rb)}; before-only "
                  f"{[r for r in ra if r not in sb][:2]} after-only "
                  f"{[r for r in rb if r not in sa][:2]}")
            n_diff += 1
        else:
            n_same += 1
    print(f"\n{n_same} identical, {n_diff} differing or missing, "
          f"{len(qa | qb)} output dirs")
    return 1 if n_diff else 0


def main():
    if len(sys.argv) == 4 and sys.argv[1] == "--dumps":
        return compare_dumps(sys.argv[2], sys.argv[3])
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = 0
    errs_path = f"{out}/_errors.json"
    errored = set()
    if os.path.exists(errs_path):
        for name, msg in sorted(json.load(open(errs_path)).items()):
            print(f"ERR  {name}: {msg}")
            n_fail += 1
            errored.add(name)
    for name in sorted(oracle):
        if name in errored:
            # already counted via _errors.json; comparing would either
            # double-count the failure or PASS against a stale dump from
            # a prior run into the same outDir
            continue
        sql = oracle[name]
        try:
            exp = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_fail += 1
            continue
        pdir = f"{out}/{name}"
        if not os.path.isdir(pdir):
            print(f"FAIL {name}: no spark output at {pdir}")
            n_fail += 1
            continue
        got = pd.read_parquet(pdir)
        if sorted(got.columns) != sorted(exp.columns):
            print(f"FAIL {name}: columns differ spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
            n_fail += 1
            continue
        g, e = norm(got), norm(exp)
        if len(g) != len(e):
            print(f"FAIL {name}: rowcount spark={len(g)} oracle={len(e)}")
            only_g = [r for r in g if r not in set(e)][:3]
            only_e = [r for r in e if r not in set(g)][:3]
            print(f"  spark-only: {only_g}\n  oracle-only: {only_e}")
            n_fail += 1
        elif g != e:
            diffs = [(a, b) for a, b in zip(g, e) if a != b][:3]
            print(f"FAIL {name}: values differ; first diffs (spark vs oracle): {diffs}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
            n_pass += 1
    # rows-only queries (no oracle)
    for name in sorted(query_dirs(out) - set(oracle)):
        got = pd.read_parquet(f"{out}/{name}")
        print(f"ROWS {name}: {len(got)} rows (no oracle)")
    print(f"\n{n_pass} passed, {n_fail} failed, {len(oracle)} total with oracle")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
