#!/usr/bin/env python3
"""Compare two graft.Verify board dumps query by query.

Raw `diff -r` of two dumps always differs, even for two runs of one
commit: Spark names part files with a random UUID, and parquet-mr writes
the footer's encoding list in hash-set order. This compares what the
board means instead: per query dir, the rows in file order.

Usage: python3 tools/cmp_dumps.py <dump_a> <dump_b>
Exit code 0 when every query's rows are identical, 1 otherwise.
"""
import glob, os, sys
import duckdb

a, b = sys.argv[1], sys.argv[2]
con = duckdb.connect()

def rows(d, name):
    files = sorted(glob.glob(f"{d}/{name}/*.parquet"))
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall() if files else None

names = sorted(set(os.listdir(a)) | set(os.listdir(b)))
bad = []
for n in names:
    if n == "oracle_sql.json":
        if open(f"{a}/{n}").read() != open(f"{b}/{n}").read():
            bad.append(n)
        continue
    ra, rb = rows(a, n), rows(b, n)
    if ra is None or ra != rb:
        bad.append(n)
for n in bad:
    print(f"[DIFF] {n}")
print(f"{len(names) - len(bad)} identical, {len(bad)} differ")
sys.exit(1 if bad else 0)
