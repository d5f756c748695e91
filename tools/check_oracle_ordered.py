#!/usr/bin/env python3
"""Order-sensitive variant of tools/check_oracle.py: compares the exact
row sequence of the Spark parquet (file-order) against the oracle SQL's
ORDER BY output. Columns still aligned by name.

The oracle SQL must end in a total ORDER BY (one that breaks every tie):
rows that tie on the sort key may come back from DuckDB in any order, so
a partial ORDER BY can report a FAIL for a correct result.

Usage: check_oracle_ordered.py [sfDir] [outDir], with the same defaults
as check_oracle.py (the sf0.01 tables of TESTDATA.md, Verify's output).
"""
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def rows_of(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], data


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_cols, got = rows_of(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
            want_cols, want = rows_of(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_fail += 1
            continue
        if got_cols != want_cols:
            print(f"FAIL {name}: columns spark={got_cols} oracle={want_cols}")
            n_fail += 1
        elif got != want:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(got, want)) if a != b]
            print(f"FAIL {name}: {len(got)} vs {len(want)} rows, ", end="")
            print(f"first order-diffs: {diffs[:2]}" if diffs else
                  f"extra spark={got[len(want):][:1]} extra oracle={want[len(got):][:1]}")
            n_fail += 1
        else:
            n_pass += 1
    print(f"== ORDERED: {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sys.exit(main(sf, out))
