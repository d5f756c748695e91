#!/usr/bin/env python3
"""Local replica of the round driver's correctness gate.

Runs each oracle SQL from <outDir>/oracle_sql.json in DuckDB with the
sfDir parquet tables registered by name, and compares against the parquet
the Spark side wrote to <outDir>/<query>/. Columns are aligned by name and
values compared exactly (floats rounded to 9 places). Two verdicts come
from the same pass:

- row set: both sides' rows sorted, then compared;
- ORDERED: the Spark parquet's row sequence (file order) against the
  oracle SQL's ORDER BY output. The oracle SQL must end in a total
  ORDER BY (one that breaks every tie): rows that tie on the sort key may
  come back from DuckDB in any order, so a partial ORDER BY can report a
  FAIL for a correct result.

Usage: check_oracle.py [sfDir] [outDir] (defaults: the sf0.01 tables of
TESTDATA.md, graft.Verify's output). Exits 1 if either verdict has a FAIL.
"""
import json
import math
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


def ordered_rows_of(rel):
    """(cols, types, rows) with columns sorted by name, rows as fetched."""
    cols = rel.columns
    types = [str(t) for t in rel.types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
    return [cols[i] for i in order], [types[i] for i in order], data


def sort_rows(data):
    return sorted(data, key=lambda t: tuple((x is None, str(x)) for x in t))


def rows_of(rel):
    """(cols, types, rows) with columns sorted by name and rows sorted."""
    cols, types, data = ordered_rows_of(rel)
    return cols, types, sort_rows(data)


# Terminal types that historically drift at the round driver's typed-hash
# layer even when values are byte-equal (r1 postmortem): int128-backed
# aggregates, wide decimals, raw timestamps.
def risky(t):
    t = t.upper()
    if t == "HUGEINT" or t.startswith("TIMESTAMP"):
        return True
    # ALL terminal decimals are risky: the driver coerces the DuckDB side
    # to float64 ("123.4") while the Spark parquet side stays Decimal
    # ("123.40") — q_sort_limit passed r1 only because none of its 10
    # values had a trailing zero.
    return t.startswith("DECIMAL(")


# Spark `int` against DuckDB `BIGINT` (COUNT, integer sums and lengths
# come back BIGINT in DuckDB): a standing difference that the value
# comparison already covers, reported once instead of per query.
INT_WIDENING = ("INTEGER", "BIGINT")


def extras(got, want):
    return f"extra spark={got[len(want):][:1]} extra oracle={want[len(got):][:1]}"


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = o_pass = o_fail = 0
    widened = []
    for name, sql in sorted(oracle.items()):
        try:
            got_cols, got_types, got_seq = ordered_rows_of(
                con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
            want_cols, want_types, want_seq = ordered_rows_of(con.sql(sql))
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_fail += 1
            o_fail += 1
            continue
        got, want = sort_rows(got_seq), sort_rows(want_seq)
        flagged = sorted({t for t in got_types + want_types if risky(t)})
        drift = [(c, a, b) for c, a, b in
                 zip(got_cols, got_types, want_types) if a != b]
        int_only = drift and all((a, b) == INT_WIDENING for _, a, b in drift)
        if got_types != want_types and not int_only:
            print(f"WARN {name}: type drift {drift}")
        else:
            if int_only:
                widened.append(name)
            if flagged:
                print(f"WARN {name}: hash-risky terminal types {flagged}")
        if got_cols != want_cols:
            print(f"FAIL {name}: columns spark={got_cols} oracle={want_cols}")
            n_fail += 1
            o_fail += 1
            continue
        if got != want:
            print(f"FAIL {name}: {len(got)} vs {len(want)} rows", end="")
            diffs = [(a, b) for a, b in zip(got, want) if a != b]
            print(f", first diffs: {diffs[:2]}" if diffs else f", {extras(got, want)}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        if got_seq != want_seq:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(got_seq, want_seq))
                     if a != b]
            print(f"FAIL ORDERED {name}: {len(got_seq)} vs {len(want_seq)} rows, ", end="")
            print(f"first order-diffs: {diffs[:2]}" if diffs else extras(got_seq, want_seq))
            o_fail += 1
        else:
            o_pass += 1
    if widened:
        print(f"WARN type drift INTEGER->BIGINT only in {len(widened)} queries: "
              + ", ".join(widened))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    print(f"== ORDERED: {o_pass} pass, {o_fail} fail ==")
    return 1 if n_fail or o_fail else 0

if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    sys.exit(main(sf, out))
