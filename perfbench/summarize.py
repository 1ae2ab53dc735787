#!/usr/bin/env python3
"""Summarize a traced run: self time per layer, how well the parts of each
catalog entry add up to its wall time, and the tracing overhead.

    python3 perfbench/summarize.py catalog 1 [results_dir]

Reads <results_dir>/<workload>-s<seed>-t1.spans.json and .json (the traced
run) and, when present, <workload>-s<seed>-t0.json (the untraced run of the
same seed). results_dir defaults to .bench_build/results.
"""
import json
import os
import sys
from collections import defaultdict


def layer(name):
    """Span name -> layer it is charged to."""
    if name.startswith("entry:"):
        return "entry (harness)"
    if name.startswith("table:"):
        return "Tables"
    if name.startswith("batch:"):
        return "micro-batch (other)"
    if name.startswith("job:"):
        return "job (scheduling)"
    if name.startswith("stage:"):
        return "stage (executor)"
    return name


def covered(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans):
    by_op = defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    out = defaultdict(float)
    for ss in by_op.values():
        kids = defaultdict(list)
        for s in ss:
            kids[s["parent"]].append((s["start_us"], s["end_us"]))
        for s in ss:
            dur = s["end_us"] - s["start_us"]
            out[layer(s["name"])] += (dur - covered(kids[s["id"]], s["start_us"], s["end_us"])) / 1000
    return out


def coverage(spans):
    """Share of entry executions whose build + action + cleanup lie within
    10% of the entry's wall time."""
    by_op = defaultdict(dict)
    for s in spans:
        if s["parent"] in (-1, 0):
            by_op[s["op"]][s["name"] if s["parent"] == 0 else "root"] = s
    ok = n = 0
    for parts in by_op.values():
        root = parts.get("root")
        if not root or not root["name"].startswith("entry:"):
            continue
        wall = root["end_us"] - root["start_us"]
        got = sum(parts[k]["end_us"] - parts[k]["start_us"]
                  for k in ("build", "action", "cleanup") if k in parts)
        n += 1
        ok += abs(got - wall) <= 0.1 * wall
    return ok, n


def main():
    workload, seed = sys.argv[1], sys.argv[2]
    d = sys.argv[3] if len(sys.argv) > 3 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_build", "results")
    base = os.path.join(d, f"{workload}-s{seed}")
    with open(base + "-t1.spans.json") as fh:
        spans = json.load(fh)
    with open(base + "-t1.json") as fh:
        traced = json.load(fh)["metrics"]
    st = self_times(spans)
    total = sum(st.values())
    print(f"self time by layer, {workload} seed {seed} (traced run, {len(spans)} spans)")
    for k, v in sorted(st.items(), key=lambda kv: -kv[1]):
        print(f"  {k:28s} {v:12.1f} ms  {100 * v / total:5.1f}%")
    ok, n = coverage(spans)
    if n:
        print(f"entries whose build+action+cleanup is within 10% of wall: {ok}/{n} ({100 * ok / n:.1f}%)")
    if os.path.exists(base + "-t0.json"):
        with open(base + "-t0.json") as fh:
            plain = json.load(fh)["metrics"]
        for m in ("pass_s", "latency_p50_ms"):
            t, p = traced.get(m), plain.get(m)
            if t and p:
                print(f"tracing overhead on {m}: traced {t:.4g} vs untraced {p:.4g} "
                      f"({100 * (t / p - 1):+.1f}%)")
    else:
        print(f"no untraced run {base}-t0.json: tracing overhead not computed")


if __name__ == "__main__":
    main()
