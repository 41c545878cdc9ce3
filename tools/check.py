#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, runs each SQL in DuckDB over the
sfDir parquet tables, loads the Spark result parquet from
<verifyOutDir>/<name>/, and compares: columns sorted by name, rows
sorted by all columns, exact for non-floats, tiny-tolerance for floats.
A query listed in oracle_sql.json without a result directory (it threw
during Verify) fails; the exit code is 1 if any query fails.
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    # pandas NaT (null datetime): NaT != NaT, so two identical rows with a
    # null timestamp cell would compare unequal — normalize to a sentinel
    if v is not None and repr(v) == "NaT":
        return "NaT"
    return v


def cells_equal(a, b):
    a, b = norm_cell(a), norm_cell(b)
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        # table can be a single parquet file (driver testdata) or a
        # Spark-written directory of part files (tools/BigGen output)
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        # Verify lists only the queries it was asked to dump (a filtered
        # run writes only the filter's entries), so an entry without a
        # result is a query that failed to dump: a failure, not a skip
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"FAIL {name}: listed in oracle_sql.json but not dumped in {out_dir}")
            n_fail += 1
            continue
        try:
            odf = con.sql(sql).df()
            sdf = con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
        except Exception as e:
            print(f"FAIL {name}: load error: {e}")
            n_fail += 1
            continue
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            print(f"FAIL {name}: columns differ oracle={ocols} spark={scols}")
            n_fail += 1
            continue
        def sort_key(row):
            # Round floats in the sort key so rows whose float cells differ
            # only within the comparison tolerance sort identically on the
            # oracle and Spark sides (near-tie stability).
            def k(v):
                if isinstance(v, float) and not math.isnan(v):
                    return repr(round(v, 6))
                if isinstance(v, tuple):
                    return "(" + ",".join(k(x) for x in v) + ")"
                return repr(v)
            return tuple(k(v) for v in row)

        orows = sorted((tuple(norm_cell(v) for v in r) for r in
                        odf[ocols].itertuples(index=False)), key=sort_key)
        srows = sorted((tuple(norm_cell(v) for v in r) for r in
                        sdf[scols].itertuples(index=False)), key=sort_key)
        if len(orows) != len(srows):
            print(f"FAIL {name}: rowcount oracle={len(orows)} spark={len(srows)}")
            n_fail += 1
            continue
        bad = None
        for i, (orow, srow) in enumerate(zip(orows, srows)):
            if not all(cells_equal(a, b) for a, b in zip(orow, srow)):
                bad = (i, orow, srow)
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} oracle={bad[1]} spark={bad[2]}")
            n_fail += 1
        else:
            exact = all(
                tuple(map(repr, o)) == tuple(map(repr, s))
                for o, s in zip(orows, srows))
            tag = "exact" if exact else "approx"
            print(f"PASS {name} ({len(orows)} rows, {tag})")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
