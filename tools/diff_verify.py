#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query.

Usage: python3 tools/diff_verify.py <dirA> <dirB> [<sf_dir>]

Each query's result is read from both dirs and rendered through the
strict checker's `cells` (column names lower-cased, rows sorted, cells
through its `norm`), so "identical" means what the oracle gate compares;
the column order must match too. With <sf_dir>, every oracle whose SQL
text differs between the two `oracle_sql.json` files is also run on
DuckDB over that fixture, and both texts must return the same cells.
Exits 1 if a query is missing from either dir or anything differs.
"""
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

from check_oracle_strict import TABLES, cells


def frame(df):
    df.columns = [c.lower() for c in df.columns]
    return list(df.columns), cells(df[sorted(df.columns)])


def why(ta, tb):
    (ca, ra), (cb, rb) = ta, tb
    if ca != cb:
        return (ca, cb)
    return next(((x, y) for x, y in zip(ra, rb) if x != y), "row counts")


def main():
    a, b = sys.argv[1], sys.argv[2]
    names = {d: {n for n in os.listdir(d) if n != "oracle_sql.json"}
             for d in (a, b)}
    bad = 0
    for name in sorted(names[a] | names[b]):
        if name not in names[a] or name not in names[b]:
            print(f"MISSING {name}: only in {a if name in names[a] else b}")
            bad += 1
            continue
        ta, tb = (frame(pq.read_table(f"{d}/{name}").to_pandas())
                  for d in (a, b))
        if ta != tb:
            print(f"DIFF {name}: {why(ta, tb)}")
            bad += 1
    print(f"== {len(names[a] | names[b]) - bad} results identical ==")
    if len(sys.argv) > 3:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sys.argv[3]}/{t}.parquet')")
        sa, sb = (json.load(open(f"{d}/oracle_sql.json")) for d in (a, b))
        moved = sorted(n for n in sa.keys() & sb.keys() if sa[n] != sb[n])
        for name in moved:
            ta, tb = (frame(con.execute(s[name]).df()) for s in (sa, sb))
            if ta != tb:
                print(f"ORACLE DIFF {name}: {why(ta, tb)}")
                bad += 1
        print(f"== {len(moved)} rewritten oracles checked ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
