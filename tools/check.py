#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py [sfDir] [outDir]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir> [prefixes]"` already
ran; a prefix filter there limits oracle_sql.json, and so this check, to
the selected entries. Exits 1 on any failure or when there is nothing
to check.

Registers each /root/testdata parquet as a DuckDB view, runs every
oracle SQL from outDir/oracle_sql.json, and compares against the
Spark-written parquet in outDir/<name>/ — columns sorted by name,
rows compared in result order, exact equality (what a hash would see).
"""
import json
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not oracle:
        # an empty check is a broken run (a typo'd Verify filter, a
        # truncated dump), never a pass
        print(f"no oracle entries in {out_dir}/oracle_sql.json")
        sys.exit(1)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        err_sentinel = os.path.join(out_dir, f"{name}._error")
        if os.path.exists(err_sentinel):
            first = open(err_sentinel).readline().strip()
            print(f"ERR  {name}: query crashed in Verify: {first}")
            n_fail += 1
            continue
        try:
            exp_rel = con.sql(sql)
            exp = exp_rel.fetchall()
            exp_cols = list(exp_rel.columns)
            exp_types = [str(t) for t in exp_rel.types]
            got_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got = got_rel.fetchall()
            got_cols = list(got_rel.columns)
            got_types = [str(t) for t in got_rel.types]
        except Exception as e:
            print(f"FAIL {name}: exception {e}")
            n_fail += 1
            continue
        if sorted(exp_cols) != sorted(got_cols):
            print(f"FAIL {name}: columns exp={sorted(exp_cols)} got={sorted(got_cols)}")
            n_fail += 1
            continue
        # dtype gate: a HUGEINT oracle vs a BIGINT parquet hashes
        # differently on the driver even when every value matches.
        et, gt = dict(zip(exp_cols, exp_types)), dict(zip(got_cols, got_types))
        tmis = [(c, et[c], gt[c]) for c in sorted(exp_cols) if et[c] != gt[c]]
        if tmis:
            print(f"FAIL {name}: dtypes differ (col, oracle, spark): {tmis}")
            n_fail += 1
            continue
        # reorder both to sorted-column order
        eidx = [exp_cols.index(c) for c in sorted(exp_cols)]
        gidx = [got_cols.index(c) for c in sorted(got_cols)]
        exp2 = [tuple(r[i] for i in eidx) for r in exp]
        got2 = [tuple(r[i] for i in gidx) for r in got]
        if len(exp2) != len(got2):
            print(f"FAIL {name}: rows exp={len(exp2)} got={len(got2)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(exp2, got2)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(exp2)} rows differ; first @{i}:\n  exp={a}\n  got={b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp2)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
