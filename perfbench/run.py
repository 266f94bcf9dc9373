#!/usr/bin/env python3
"""Host-native benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: lines_etl, corpus_dedup (see BENCHMARK.json and
perfbench/README.md). The script builds the engine with its harness
(perfbench/build.py), generates the workload's inputs from the seed, runs
the harness JVM at local[nproc], checks the outputs, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. An earlier stdout line carries the host record and input sizes; the
traced run writes its spans next to the result under the build dir.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("lines_etl", "corpus_dedup")
# rows, files and days of the lines_etl source; its traced run also streams
# STREAM_ROWS events (nominal rate plus the rate ladder)
ETL_ROWS, ETL_FILES, ETL_DAYS = 200_000, 6, 30
STREAM_ROWS = 600_000
CORPUS_SF = 0.01  # 500 documents
HEAP = {"lines_etl": "2g", "corpus_dedup": "2g"}
JVM_TIMEOUT_S = 165
NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def meminfo_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def source_sha(root):
    h = hashlib.sha256()
    for d in ("src/main/scala", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(root, d)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def generate(workload, seed, data, trace):
    import gen
    sizes = {}
    if workload == "lines_etl":
        t = gen.write_events(os.path.join(data, "lines"), seed, ETL_ROWS, ETL_DAYS, ETL_FILES)
        sizes["lines_rows"] = t.num_rows
        if trace:
            t = gen.write_events(os.path.join(data, "stream"), seed + 2, STREAM_ROWS, ETL_DAYS, 1)
            sizes["stream_rows"] = t.num_rows
    else:
        # the seed sets the near-duplicate share of the documents
        dup_share = 0.095 + 0.01 * ((seed * 2654435761) % 1000) / 1000
        sizes.update(gen.write_star(os.path.join(data, "star"), seed, CORPUS_SF, dup_share))
        sizes["dup_share"] = round(dup_share, 4)
    sizes["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                         for d, _, fs in os.walk(data) for f in fs)
    return sizes


def oracle_check(data_dir, check_dir):
    """Hash-compare each oracle-backed result against DuckDB over the
    generated tables: returns {query: ok}."""
    import duckdb
    con = duckdb.connect(config={"threads": NPROC})
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    manifest = os.path.join(check_dir, "oracle_sql.json")
    if not os.path.exists(manifest):
        return {"manifest": False}
    with open(manifest) as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        try:
            odf = con.sql(sql).df()
            sdf = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')").df()
            out[name] = frames_equal(odf, sdf)
        except Exception as e:  # a missing result or an oracle error fails the check
            sys.stderr.write(f"[bench] oracle {name}: {e}\n")
            out[name] = False
    return out


def frames_equal(odf, sdf):
    cols = sorted(odf.columns)
    if cols != sorted(sdf.columns) or len(odf) != len(sdf):
        return False
    for c in cols:
        for x, y in zip(sdf[c].tolist(), odf[c].tolist()):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if (math.isnan(x) and math.isnan(y)) or x == y:
                    continue
                return False
            if str(x) != str(y):
                return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    import build
    build.build(root)  # exits non-zero when the engine sources are missing

    bdir = build.build_dir(root)
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        t0 = time.time()
        sizes = generate(a.workload, a.seed, data, a.trace)
        gen_s = time.time() - t0

        result_file = os.path.join(work, "result.json")
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(NPROC)
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        cmd = (["java", f"-Xmx{HEAP[a.workload]}", f"-Djava.io.tmpdir={work}",
                "-Dlog4j2.level=ERROR", "-Dspark.ui.enabled=false"] + ADD_OPENS +
               ["-cp", build.classpath(root), "graftbench.Bench",
                "--workload", a.workload, "--data", data, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--seed", str(a.seed), "--result", result_file])
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        with open(log_path) as f:
            for line in f:
                if line.startswith("[bench]"):
                    sys.stderr.write(line)
        if rc != 0 or not os.path.exists(result_file):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"harness exited with {rc}")
        with open(result_file) as f:
            res = json.load(f)

        jvm_s = time.time() - t0 - gen_s
        checks = dict(res["checks"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "corpus_dedup":
            for name, ok in oracle_check(os.path.join(data, "star"),
                                         os.path.join(work, "check")).items():
                checks[f"oracle.{name}"] = ok
                attempted += 1
                if not ok:
                    failed += 1
                    sys.stderr.write(f"[bench] FAILED check oracle.{name}\n")

        check_s = time.time() - t0 - gen_s - jvm_s
        metrics = res["metrics"]
        layers = res["layers"]
        if "setup_s" in metrics:
            metrics["setup_s"] += gen_s  # input generation is part of set-up
        layers["failed_frac"] = failed / max(1, attempted)
        info = dict(res["info"])
        info.update({
            "seed": a.seed, "nproc": NPROC, "mem_total_kb": meminfo_kb(),
            "SPARK_GRAFT_CPUS": cpus, "driver_heap": HEAP[a.workload],
            "source_sha": source_sha(root), "gen_s": round(gen_s, 3),
            "jvm_s": round(jvm_s, 3), "oracle_check_s": round(check_s, 3),
            "input_sizes": sizes, "checks": checks, "failures": res["failures"],
        })
        e2e, per_layer = benchmark_metric_names(root)
        names = per_layer if a.trace else e2e
        src = layers if a.trace else metrics
        missing = [n for n, _ in names if n not in src]
        out = {n: {"value": float(src.get(n, 0.0)), "unit": u} for n, u in names}
        if a.trace:
            trace_dir = os.path.join(bdir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            spans = os.path.join(work, "spans.json")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"))
        print(json.dumps({"info": info, "layers": layers, "metrics_all": metrics,
                          "not_applicable": missing}))
        if not a.trace and missing:
            raise SystemExit(f"harness did not report {missing}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def benchmark_metric_names(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


if __name__ == "__main__":
    main()
