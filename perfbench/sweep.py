#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarize each metric.

Usage (from the repository root):
  python3 perfbench/sweep.py [--runs 10] [--first-seed 1] [--workload NAME ...]
                             [--traced] [--out FILE.json]

For each workload of BENCHMARK.json, runs `perfbench/run.py` once per
seed (seeds first-seed .. first-seed+runs-1) with tracing off, and
prints, per end-to-end metric, the median, the quartiles (Python's
statistics.quantiles(n=4)) and the spread (Q3 - Q1) / median next to
the metric's bound. With --traced it also makes one traced run per
workload (seed first-seed) and prints its per-layer metrics.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {r.returncode}")
    return json.loads(lines[-1])


def summarize(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    names = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in names:
        runs = [one(w, s, spec["run_seconds"], 0)
                for s in range(a.first_seed, a.first_seed + a.runs)]
        if not all(r["correct"] for r in runs):
            print(f"{w}: some runs were not correct", file=sys.stderr)
        stats = {m: summarize([r["metrics"][m]["value"] for r in runs]) for m in bounds}
        report[w] = {"end_to_end": stats}
        print(f"\n{w}: {len(runs)} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}")
        print(f"  {'metric':<18}{'median':>10}{'q1':>10}{'q3':>10}{'spread':>8}{'bound':>7}")
        for m, s in stats.items():
            print(f"  {m:<18}{s['median']:>10.3f}{s['q1']:>10.3f}{s['q3']:>10.3f}"
                  f"{s['spread']:>8.3f}{bounds[m]:>7.2f}")
        if a.traced:
            t = one(w, a.first_seed, spec["run_seconds"], 1)
            report[w]["per_layer"] = {k: v["value"] for k, v in t["metrics"].items()}
            print(f"  traced run, seed {a.first_seed}:")
            for k, v in t["metrics"].items():
                print(f"    {k:<34}{v['value']:>12.4f} {v['unit']}")
        sys.stdout.flush()
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
