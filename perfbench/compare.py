#!/usr/bin/env python3
"""Compare a parent and a change, run as alternating pairs.

Run and report (each side a checkout with this benchmark in it):
    python3 perfbench/compare.py --parent ../parent --change . --pairs 10 \
        --out runs/ --changed-families XTextQueries

Report on runs made earlier:
    python3 perfbench/compare.py --report runs/ --changed-families XTextQueries

Pair i runs seed 100+i on both sides; even pairs run the parent first, odd
pairs the change. For each workload and end-to-end metric it prints each
side's median and quartiles and a verdict from BENCHMARK.json:
  win         the change is better in >= 90% of pairs (ties count for
              neither) and the medians differ by more than the parent's
              quartile spread;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's own quartile spread is wider than the bound, and
              not every change run beats every parent run;
  same        none of these.
For the catalog it also prints the weather control: the geometric mean of
per-entry median-time ratios (change / parent) over entries outside the
changed family files. A change that speeds up one family should leave it
near 1.0; a value off 1.0 is host drift that affects every entry.
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


def run_side(checkout, workload, seed, seconds, out_dir, side):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{side} run failed ({workload} seed {seed}):\n{r.stderr[-2000:]}")
    src = os.path.join(checkout, ".bench_build", "results", f"{workload}-s{seed}-t0.json")
    shutil.copy(src, os.path.join(out_dir, side, f"{workload}-s{seed}.json"))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def load(out_dir, side, workload):
    runs = {}
    for p in glob.glob(os.path.join(out_dir, side, f"{workload}-s*.json")):
        seed = int(os.path.basename(p)[len(workload) + 2:-5])
        with open(p) as fh:
            runs[seed] = json.load(fh)
    return runs


def verdict(spec, par, chg):
    lower = spec["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    pairs = [(p, c) for p, c in zip(par, chg)]
    wins = sum(better(c, p) for p, c in pairs)
    pq1, pmed, pq3 = quartiles(par)
    _, cmed, _ = quartiles(chg)
    spread = pq3 - pq1
    worse = (cmed - pmed) if lower else (pmed - cmed)
    all_better = all(better(c, p) for c in chg for p in par)
    if wins >= 0.9 * len(pairs) and abs(cmed - pmed) > spread:
        return "win"
    if spread > spec["bound"] * pmed and not all_better:
        return "unresolved"
    if worse > spec["bound"] * pmed:
        return "regression"
    return "same"


def weather(par_runs, chg_runs, changed):
    def medians(runs):
        per = {}
        for r in runs:
            for k, v in r["info"]["entry_median_ms"].items():
                per.setdefault(k, []).append(v)
        return {k: statistics.median(v) for k, v in per.items()}, runs[0]["info"]["entry_family"]
    pm, fam = medians(par_runs)
    cm, _ = medians(chg_runs)
    ratios = [cm[k] / pm[k] for k in pm if k in cm and fam.get(k) not in changed and pm[k] > 0]
    if not ratios:
        return None, 0
    return math.exp(sum(map(math.log, ratios)) / len(ratios)), len(ratios)


def report(out_dir, spec, changed):
    for w in [w["name"] for w in spec["workloads"]]:
        par, chg = load(out_dir, "parent", w), load(out_dir, "change", w)
        seeds = sorted(set(par) & set(chg))
        if not seeds:
            continue
        print(f"== {w}: {len(seeds)} pairs")
        fails = [sum(r["failed"] for r in side.values()) for side in (par, chg)]
        print(f"   failed operations: parent {fails[0]}, change {fails[1]}")
        for m in spec["end_to_end"]:
            pv = [par[s]["metrics"][m["name"]] for s in seeds]
            cv = [chg[s]["metrics"][m["name"]] for s in seeds]
            p = quartiles(pv)
            c = quartiles(cv)
            print(f"   {m['name']:20s} parent {p[1]:10.4g} [{p[0]:.4g}, {p[2]:.4g}]  "
                  f"change {c[1]:10.4g} [{c[0]:.4g}, {c[2]:.4g}] {m['unit']:5s} "
                  f"ratio {c[1] / p[1]:.3f}  {verdict(m, pv, cv)}")
        if any("entry_median_ms" in r["info"] for r in par.values()):
            g, n = weather([par[s] for s in seeds], [chg[s] for s in seeds], changed)
            if g:
                print(f"   weather control: geomean change/parent over {n} entries "
                      f"outside {sorted(changed) or 'no changed family'}: {g:.3f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out")
    ap.add_argument("--report")
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--changed-families", default="",
                    help="comma-separated family files the change touches (e.g. XTextQueries)")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    changed = {f for f in args.changed_families.split(",") if f}
    out_dir = args.report
    if not out_dir:
        if not (args.parent and args.change and args.out):
            ap.error("give --parent, --change and --out, or --report")
        out_dir = args.out
        for side in ("parent", "change"):
            os.makedirs(os.path.join(out_dir, side), exist_ok=True)
        workloads = (args.workloads.split(",") if args.workloads
                     else [w["name"] for w in spec["workloads"]])
        for w in workloads:
            for i in range(args.pairs):
                order = [("parent", args.parent), ("change", args.change)]
                for side, checkout in (order if i % 2 == 0 else order[::-1]):
                    run_side(os.path.abspath(checkout), w, 100 + i, spec["run_seconds"], out_dir, side)
    report(out_dir, spec, changed)


if __name__ == "__main__":
    main()
