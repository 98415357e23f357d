#!/usr/bin/env python3
"""Compare two graft.Verify output directories result set by result set.

Usage: python3 tools/diff_verify.py <parentOut> <changeOut>

Both directories are written by `graft.Verify <sfDir> <outDir>`: one
parquet directory per result set plus `oracle_sql.json`. A refactor
that must not change any answer should leave every result set
identical. For each result set this reads both sides with DuckDB and
compares the row count, the column names and DuckDB types (in order),
and the values with rows sorted (exact: floats by repr, NULL distinct
from the string 'None'). It also compares `oracle_sql.json`. Prints one
line per difference and a summary; exits 1 on any difference.
"""
import json
import os
import sys

import duckdb


def result_sets(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}


def read(con, path):
    rel = f"'{path}/*.parquet'"
    cols = [(c, t) for c, t, *_ in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]
    rows = sorted(tuple(repr(v) for v in r)
                  for r in con.execute(f"SELECT * FROM {rel}").fetchall())
    return cols, rows


def diff_set(con, a_dir, b_dir):
    """None when identical, else a short description of the first difference."""
    a_cols, a_rows = read(con, a_dir)
    b_cols, b_rows = read(con, b_dir)
    if len(a_rows) != len(b_rows):
        return f"row count {len(a_rows)} != {len(b_rows)}"
    if a_cols != b_cols:
        return f"columns {a_cols} != {b_cols}"
    for x, y in zip(a_rows, b_rows):
        if x != y:
            return f"first differing sorted row {x} != {y}"
    return None


def main(a_out, b_out):
    con = duckdb.connect()
    a_sets, b_sets = result_sets(a_out), result_sets(b_out)
    diffs = 0
    for name in sorted(a_sets ^ b_sets):
        side = a_out if name in a_sets else b_out
        print(f"[DIFF] {name}: only in {side}")
        diffs += 1
    same = 0
    for name in sorted(a_sets & b_sets):
        try:
            d = diff_set(con, os.path.join(a_out, name), os.path.join(b_out, name))
        except Exception as e:  # an unreadable side is a difference too
            d = f"read error: {str(e)[:300]}"
            con = duckdb.connect()
        if d is None:
            same += 1
        else:
            print(f"[DIFF] {name}: {d}")
            diffs += 1
    a_sql = json.load(open(os.path.join(a_out, "oracle_sql.json")))
    b_sql = json.load(open(os.path.join(b_out, "oracle_sql.json")))
    if a_sql == b_sql:
        print(f"oracle_sql.json identical ({len(a_sql)} entries)")
    else:
        changed = sorted(k for k in a_sql.keys() | b_sql.keys()
                         if a_sql.get(k) != b_sql.get(k))
        print(f"[DIFF] oracle_sql.json: {len(changed)} entries differ: {changed[:10]}")
        diffs += 1
    print(f"{same}/{len(a_sets | b_sets)} result sets identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    sys.exit(main(sys.argv[1], sys.argv[2]))
