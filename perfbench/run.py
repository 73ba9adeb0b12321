#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload table_dml --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the program and the harness
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the harness in one JVM on local[N] (N = min(4,
cores)), checks the outputs and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics (0 where a layer is not used by the workload), and the
spans are written next to the run's output under .bench_build/out.
Exits non-zero when a check fails or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_medallion", "table_dml")
# etl_medallion input: base-month rows and day batches, measured and warm-up
ETL_ROWS, ETL_BATCHES = 150000, 2
WARM_ROWS, WARM_BATCHES = 10000, 1
TIME_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"run.py: {msg}\n")
    sys.exit(2)


def inputs(workload, seed):
    """Generates (once per seed and generator version) the inputs."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        ver = hashlib.sha256(f.read()).hexdigest()[:12]
    if workload == "etl_medallion":
        key = f"etl-{ETL_ROWS}x{ETL_BATCHES}-{WARM_ROWS}x{WARM_BATCHES}-{seed}"

        def make(d):
            gen.taxi_month(f"{d}/etl", seed, ETL_ROWS, ETL_BATCHES)
            gen.taxi_month(f"{d}/warm", seed, WARM_ROWS, WARM_BATCHES)
    else:
        key, make = "none", lambda d: None
    d = os.path.join(BUILD, "inputs", f"{key}-{ver}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        make(d)
        open(os.path.join(d, "done"), "w").close()
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not here; "
             "run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build: {e}")
    t_built = time.time()
    inp = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    outdir = os.path.join(BUILD, "out")
    os.makedirs(outdir, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(outdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cores = min(4, os.cpu_count() or 1)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work, "--input", inp, "--out", out])
    log = open(os.path.join(outdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        # a first run may spend long building; the time limit counts the rest
        proc.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - t_built)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("the harness did not finish in time")
    finally:
        log.close()
    if not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the harness wrote no result (exit {proc.returncode}); see {log.name}")
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    result["correct"] = result["error"] is None and not result["mismatches"]

    m = result["metrics"]
    for name, v in m.items():
        print(f"metric {name} {v['value']:.6g} {v['unit']}")
    for name, xs in result["op_samples"].items():
        print(f"samples {name} n={len(xs)} p50={sorted(xs)[len(xs) // 2]:.4f}s")
    print(f"metric ops_attempted {result['attempted']} count")
    print(f"metric ops_failed {result['failed']} count")
    # tracing overhead: the traced and untraced runs of this workload and seed
    other = out.replace(f"trace{a.trace}.json", f"trace{1 - a.trace}.json")
    if os.path.exists(other):
        with open(other) as f:
            o = json.load(f)["metrics"]["cycle_p50_s"]["value"]
        own = m["cycle_p50_s"]["value"]
        print(f"metric trace_overhead_s {(own - o) if a.trace else (o - own):.4f} s")
    for msg in result["mismatches"]:
        print(f"MISMATCH {msg}")
    if result["error"]:
        print(f"ERROR {result['error']}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for w in wanted:
        if w["name"] in m:
            metrics[w["name"]] = {"value": m[w["name"]]["value"], "unit": w["unit"]}
        elif a.trace:
            metrics[w["name"]] = {"value": 0, "unit": w["unit"]}
        else:
            result["correct"] = False
            print(f"ERROR end-to-end metric {w['name']} was not measured")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
