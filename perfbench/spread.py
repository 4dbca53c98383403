#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics on one checkout.

Usage (from the repository root):

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--workload NAME ...]
        [--log runs.jsonl]

Runs every workload --runs times, each with its own seed, and prints per
metric the median and the interquartile range as a share of the median (the
quartiles of statistics.quantiles(values, n=4)), next to the metric's bound
from BENCHMARK.json. A spread above a third of the bound is flagged: the
benchmark aims to stay under it. With --log, each run's result line is also
appended to that file.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--log")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bad = 0
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for i in range(a.runs):
            seed = a.first_seed + i
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True)
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            r = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            # the harness's one-line summary: op times, quality, host probe
            summary = [l for l in p.stderr.splitlines() if "op_s_p50=" in l]
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "result": r,
                                        "summary": summary[-1] if summary else None}) + "\n")
            if r is None or not r["correct"] or r["failed"]:
                print(f"{w} seed {seed}: FAILED {r}", flush=True)
                bad += 1
                continue
            for k, v in r["metrics"].items():
                values[k].append(v["value"])
            print(f"# {w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), file=sys.stderr, flush=True)
        print(f"\n{w}")
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread <= m["bound"] / 3 else "  > bound/3"
            print(f"  {m['name']:<14} median {med:10.4g} {m['unit']:<7} spread {spread:6.3f}"
                  f"  (bound {m['bound']}, n={len(xs)}){flag}", flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
