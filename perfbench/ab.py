#!/usr/bin/env python3
"""Paired A/B runner: alternate two source trees and judge each metric.

Usage:
  python3 perfbench/ab.py <parent_tree> <change_tree> [--workload W ...]
                          [--pairs 10] [--seed 1000] [--out ab.json]

Each tree is a full checkout with this benchmark under perfbench/; both
should carry identical benchmark files (a warning says when they do
not). Pair i runs the same seed on both trees, parent first on even i
and change first on odd i. Per workload and end-to-end metric it prints
each side's median and quartiles and the verdict of the paired rule
(stats.pair_verdict): "gain" needs at least 9/10 pair wins and a median
gap larger than the parent's quartile spread; a metric whose parent
spread exceeds its bound is "unresolved" unless the change beats every
parent run. The run length is BENCHMARK.json's, the same on both sides.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

import stats


def bench_digest(tree):
    base = os.path.join(tree, "perfbench")
    files = []
    for d, _, fs in os.walk(base):
        parts = os.path.relpath(d, base).split(os.sep)
        if {"target", "work", "records", "__pycache__"} & set(parts):
            continue
        files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, tree).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_once(tree, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True, timeout=1200)
    if r.returncode != 0:
        sys.exit(f"{tree}: {workload} seed {seed} exited {r.returncode}\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.pairs < 10:
        sys.exit("the paired rule needs at least 10 pairs")
    bench = json.load(open(os.path.join(args.parent, "BENCHMARK.json")))
    if bench_digest(args.parent) != bench_digest(args.change):
        print("warning: the two trees carry different benchmark files", file=sys.stderr)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    report = {}
    for w in workloads:
        sides = {"parent": [], "change": []}
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                tree = args.parent if side == "parent" else args.change
                sides[side].append(run_once(tree, w, args.seed + i, bench["run_seconds"]))
        failed = {s: sum(r["failed"] for r in rs) for s, rs in sides.items()}
        rows = {}
        for m in bench["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in sides["parent"]]
            c = [r["metrics"][m["name"]]["value"] for r in sides["change"]]
            verdict, detail = stats.pair_verdict(p, c, m["better"], m["bound"])
            if verdict == "gain" and failed["change"] > failed["parent"]:
                verdict = "gain void: more failures"
            detail.update(verdict=verdict, parent_quartiles=stats.quartiles(p),
                          change_quartiles=stats.quartiles(c), unit=m["unit"])
            rows[m["name"]] = detail
            print(f"{w:14s} {m['name']:12s} parent {detail['parent_median']:.4g} "
                  f"change {detail['change_median']:.4g} {m['unit']:5s} "
                  f"wins {detail['wins']}/{detail['pairs']} -> {verdict}")
        report[w] = {"metrics": rows, "failed": failed}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
