#!/usr/bin/env python3
"""Run every workload once per seed and report each end-to-end metric's
spread: the distance between the first and third quartile of its values
(statistics.quantiles, n=4) as a share of their median, against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/record/set1
    python3 perfbench/steadiness.py --report perfbench/record/set1 [--against perfbench/record/set2]

--against prints, per metric, how far the second set's median moved from
the first's, as a share of the first, next to the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def load(out):
    with open(os.path.join(out, "runs.json")) as fh:
        return json.load(fh)


def report(spec, runs, against=None):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w, rs in runs.items():
        print(f"== {w}: {len(rs)} runs, failed operations {sum(r['failed'] for r in rs)}"
              f" of {sum(r['attempted'] for r in rs)}")
        for m, b in bounds.items():
            xs = [r["metrics"][m]["value"] for r in rs]
            line = (f"   {m:18s} median {statistics.median(xs):10.4g}  spread {spread(xs):6.3f}"
                    f"  bound {b:.2f}  bound/3 {b / 3:.3f}  {'ok' if spread(xs) < b / 3 else 'WIDE'}")
            if against and w in against:
                ys = [r["metrics"][m]["value"] for r in against[w]]
                move = statistics.median(xs) / statistics.median(ys) - 1
                line += f"  vs other set {move:+.3f}"
            print(line)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--report")
    ap.add_argument("--against")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.report:
        report(spec, load(args.report), load(args.against) if args.against else None)
        return
    os.makedirs(args.out, exist_ok=True)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    runs = {}
    for w in workloads:
        runs[w] = []
        for seed in seeds_of(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            if args.cpus:
                cmd += ["--cpus", str(args.cpus)]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                raise SystemExit(f"{w} seed {seed} failed:\n{r.stdout[-1000:]}{r.stderr[-2000:]}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            res["seed"] = seed
            runs[w].append(res)
            print(w, seed, {k: round(v["value"], 4) for k, v in res["metrics"].items()}, flush=True)
        with open(os.path.join(args.out, "runs.json"), "w") as fh:
            json.dump(runs, fh, indent=1)
    if args.cpus is None:
        report(spec, runs)


if __name__ == "__main__":
    main()
