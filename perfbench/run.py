#!/usr/bin/env python3
"""Run one benchmark workload once and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Builds the engine and harness if needed (perfbench/build.py), runs the
harness JVM on the committed sf0.01 tables, prints every metric by name
with its unit, the output-check verdict, and as the last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports
the end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones
(and writes the run's spans next to its result under .bench_build/results).

Maintenance options, not used by a benchmark run:
  --cpus N            local[N] instead of local[nproc] (single-thread baseline: 1)
  --mode record       fingerprint graft.Verify's per-entry outputs in --verify-out
                      (checked against DuckDB by tools/check_oracle.py) into
                      perfbench/fingerprints/catalog.tsv
  --mode calibrate    measure the stream's closed-loop drain rate
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("catalog", "stream-flagship")
DEADLINE_S = 175  # a run must end within 180 s once built
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--mode", default="bench", choices=("bench", "record", "calibrate"))
    ap.add_argument("--verify-out", default="")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        conf = json.load(fh)
    classpath = build.build()
    t_built = time.time()

    data = os.path.join(ROOT, conf["data"])
    if not os.path.isdir(data):
        raise SystemExit(f"perfbench: input tables missing: {data}")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}" + (
        "" if args.cpus == len(os.sched_getaffinity(0)) else f"-c{args.cpus}")
    work = os.path.join(build.BUILD, "work", args.workload)
    results = os.path.join(build.BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(work, "tmp"), results):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    fingerprints = os.path.join(HERE, "fingerprints", args.workload + ".tsv")
    stream = conf["stream"]
    harness_args = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "data": data, "work": work, "out": out,
        "spans": os.path.join(results, tag + ".spans.json"), "cpus": args.cpus,
        "fingerprints": fingerprints, "mode": args.mode,
        "rate": stream["offered_rows_per_s"], "tick-ms": stream["tick_ms"],
        "window": stream["window"], "verify-out": args.verify_out,
    }
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{conf['heap']}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath, "perfbench.Harness"]
           + [x for k, v in harness_args.items() for x in (f"--{k}", str(v))])
    budget = DEADLINE_S - (time.time() - t_built) if args.mode == "bench" else 3600
    log_path = os.path.join(results, tag + ".log")
    with open(log_path, "wb") as log:
        launch_ms = time.time() * 1000
        proc = subprocess.Popen(cmd + ["--launch-ms", repr(launch_ms)], cwd=ROOT,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: harness exceeded its time budget; log: {log_path}")
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: harness failed (exit {rc}); log: {log_path}")
    with open(out) as fh:
        res = json.load(fh)
    if args.mode != "bench":
        print(json.dumps(res))
        return

    group = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[group]:
        v = res["metrics"].get(m["name"])
        if v is None:
            if not args.trace:
                raise SystemExit(f"perfbench: harness did not report {m['name']}")
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    rate = res["failed"] / res["attempted"]
    print(f"{'error_rate':40s} {rate:>16.6g} share  ({res['failed']} of {res['attempted']} failed)")
    print("output check: " + ("PASS" if res["correct"] else "FAIL"))
    for f in res["failures"]:
        print("  failure: " + f)
    print(f"run took {time.time() - t_start:.1f} s; result {os.path.relpath(out, ROOT)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
