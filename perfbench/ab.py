#!/usr/bin/env python3
"""Paired A/B runs of the benchmark on two checkouts: a parent and a change.

Usage:

    python3 perfbench/ab.py --parent <checkout> --change <checkout> [--pairs 10]
        [--workload batch_boilerplate ...] [--first-seed 1000]

Each checkout must hold the same perfbench/ and BENCHMARK.json. Pair i runs
both sides on seed first_seed + i, alternating which side goes first. Per
workload and end-to-end metric it prints both sides' median and quartiles, the
change's pair wins, and a verdict:

  gain        the change wins >= 9 of 10 pairs (ties count for neither) and
              the medians differ by more than the parent's interquartile range
  regression  the change's median is worse than the parent's by more than the
              metric's bound
  unresolved  the parent's own spread (IQR / median) exceeds the bound, so a
              difference within it cannot be told from noise; unless every
              change run reads better than every parent run (then: gain)
  same        none of the above

A failed or incorrect run on either side is reported and fails the pair.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=1000)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None
    r = json.loads(lines[-1])
    if not r["correct"] or r["failed"]:
        return None
    return {k: v["value"] for k, v in r["metrics"].items()}


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], q[1], q[2]


def verdict(parent, change, better, bound):
    sign = 1 if better == "higher" else -1
    p_q1, p_med, p_q3 = quartiles(parent)
    _, c_med, _ = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    gap = sign * (c_med - p_med)
    spread = (p_q3 - p_q1) / abs(p_med) if p_med else float("inf")
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if wins >= 0.9 * len(parent) and gap > (p_q3 - p_q1) and gap > 0:
        return "gain", wins
    if all_better:
        return "gain", wins
    if spread > bound:
        return "unresolved", wins
    if -gap > bound * abs(p_med):
        return "regression", wins
    return "same", wins


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1000)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]

    for w in workloads:
        sides = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            got = {}
            for side in order:
                got[side] = run(getattr(a, side), w, seed, spec["run_seconds"])
                print(f"# {w} pair {i} seed {seed} {side}: "
                      f"{'FAILED' if got[side] is None else got[side]}", file=sys.stderr, flush=True)
            if got["parent"] is None or got["change"] is None:
                print(f"{w}: pair {i} failed; A/B stopped", flush=True)
                break
            for side in sides:
                sides[side].append(got[side])
        n = len(sides["parent"])
        if n == 0:
            continue
        print(f"\n{w} ({n} pairs)")
        print(f"{'metric':<16}{'parent p50 [q1, q3]':>34}{'change p50 [q1, q3]':>34}"
              f"{'wins':>7}  verdict")
        for m in metrics:
            p = [r[m["name"]] for r in sides["parent"]]
            c = [r[m["name"]] for r in sides["change"]]
            v, wins = verdict(p, c, m["better"], m["bound"])
            pq, cq = quartiles(p), quartiles(c)
            print(f"{m['name']:<16}{pq[1]:>14.4g} [{pq[0]:.4g}, {pq[2]:.4g}]"
                  f"{cq[1]:>14.4g} [{cq[0]:.4g}, {cq[2]:.4g}]{wins:>5}/{n}  {v}")


if __name__ == "__main__":
    main()
