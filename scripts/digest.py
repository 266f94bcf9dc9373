#!/usr/bin/env python3
"""Row count and order-free digest of each query in a graft.Verify dump.

Usage: python3 scripts/digest.py <verifyOutDir> [query,query,...]

Prints one line per query directory under verifyOutDir (or only the named
ones): name, row count, and sum(hash(row) % 2147483648) over its parquet
output, computed by DuckDB. Two dumps of the same queries from two commits
can then be diffed line for line, which also covers queries that have no
oracle in oracle_sql.json. The digest ignores row order but not column
order or cell values.
NOT part of the engine — development tooling only.
"""
import glob
import os
import sys

import duckdb

if len(sys.argv) < 2:
    sys.exit(__doc__)
OUT = sys.argv[1]
only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

con = duckdb.connect()
names = sorted(d for d in os.listdir(OUT)
               if os.path.isdir(os.path.join(OUT, d)) and (only is None or d in only))
for name in names:
    if not glob.glob(f"{OUT}/{name}/*.parquet"):
        print(f"{name}\tMISSING")
        continue
    rows, dig = con.sql(
        f"SELECT count(*), coalesce(sum(hash(t) % 2147483648), 0) "
        f"FROM read_parquet('{OUT}/{name}/*.parquet') t").fetchone()
    print(f"{name}\t{rows}\t{dig}")
if only is not None:
    for name in sorted(only - set(names)):
        print(f"{name}\tMISSING")
