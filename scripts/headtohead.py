#!/usr/bin/env python3
"""Spark-vs-DuckDB head-to-head on the full oracle inventory.

Usage: python3 scripts/headtohead.py [sfDir] [verifyOut] [benchFull]

Times every oracle SQL (written by graft.Verify into verifyOut/oracle_sql.json)
in DuckDB at 32 threads over the same parquet tables, pairs each with the
engine's per-query wall time from target/BENCH_FULL.json (written by
graft.Bench at the same sfDir; pass a committed round file explicitly), and
writes HEADTOHEAD.json + a README-ready summary to stdout.
NOT part of the engine — development tooling only (the driver environment
ships duckdb for the oracle; the Scala engine never depends on it).
"""
import json
import sys
import time

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
BENCH = sys.argv[3] if len(sys.argv) > 3 else "target/BENCH_FULL.json"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

con = duckdb.connect()
con.execute("SET threads = 32")
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
bench = json.load(open(BENCH))
spark_q = bench.get("queries", {})

rows = []
duck_total = 0.0
spark_total = 0.0
for name, sql in sorted(oracle.items()):
    # warm once (filesystem cache, catalog), then time the better of 2 runs —
    # mirrors the engine side's warm-JVM measurement
    try:
        con.sql(sql).fetchall()
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            times.append(time.perf_counter() - t0)
        d = min(times)
    except Exception as e:
        print(f"SKIP {name}: duckdb error: {e}", file=sys.stderr)
        continue
    s = spark_q.get(name)
    if s is None or s < 0:
        print(f"SKIP {name}: no spark timing", file=sys.stderr)
        continue
    duck_total += d
    spark_total += s
    rows.append({"query": name, "spark_s": round(s, 3), "duckdb_s": round(d, 3),
                 "ratio_spark_over_duck": round(s / d, 2) if d > 0 else None})

result = {
    "sf": SF,
    "threads": 32,
    # run policy is NOT identical on both sides — recorded so the artifact
    # can't silently overstate either engine: DuckDB is warm min-of-2;
    # Spark is a single timed run taken after Bench's full untimed warm
    # pass over every query (JIT/codegen/footers warm, data caches cleared)
    "policy": {"duckdb": "warm, min of 2",
               "spark": "per-query timings from the bench file argument "
                        "(BENCH_BAND.json medians of 7 warm runs when fed "
                        "/tmp/bench_median.json; a single warm run when fed "
                        "BENCH_FULL.json)"},
    "n_queries": len(rows),
    "spark_total_s": round(spark_total, 2),
    "duckdb_total_s": round(duck_total, 2),
    "ratio": round(spark_total / duck_total, 3) if duck_total else None,
    "queries": rows,
}
with open("HEADTOHEAD.json", "w") as f:
    json.dump(result, f, indent=1)

rows.sort(key=lambda r: r["spark_s"] - r["duckdb_s"])
ratio = f"{spark_total / duck_total:.2f}x" if duck_total > 0 else "n/a"
print(f"{len(rows)} shared queries  spark={spark_total:.1f}s  duckdb={duck_total:.1f}s  "
      f"ratio={ratio}")
wins, losses = rows[:5], rows[max(5, len(rows) - 5):]
print("engine wins (spark - duck, top 5):")
for r in wins:
    print(f"  {r['query']}: {r['spark_s']}s vs {r['duckdb_s']}s")
print("duckdb wins (top 5):")
for r in losses:
    print(f"  {r['query']}: {r['spark_s']}s vs {r['duckdb_s']}s")
