#!/usr/bin/env python3
"""Statistics helper for the benchmark, and its repeat mode.

Within a run, `describe()` reports a timing as its median with the sample
count; a p95 only with at least 200 samples (ten beyond it); below 40
samples the median alone.

Repeat mode reruns one workload with seeds `seed .. seed+runs-1` and
prints each run's wall time and, for every metric, each run's value, the
median, the quartiles and the spread (interquartile range over the
median) beside the metric's bound from BENCHMARK.json:

    python3 perfbench/stats.py --workload serve --runs 10 [--seed 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def describe(samples):
    xs = sorted(samples)
    d = {"n": len(xs)}
    if not xs:
        return d
    d["median"] = statistics.median(xs)
    if len(xs) >= 200:
        d["p95"] = xs[int(0.95 * len(xs)) - 1]
    return d


def spread(values):
    """Median, quartiles and (q3 - q1) / median of repeated runs."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = str(bench["run_seconds"])
    results = []
    for seed in range(a.seed, a.seed + a.runs):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", a.workload, "--seed", str(seed),
             "--seconds", seconds, "--trace", a.trace],
            cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            continue
        r = json.loads(lines[-1])
        results.append(r)
        print(f"seed {seed}: correct={r['correct']} attempted="
              f"{r['attempted']} failed={r['failed']} "
              f"wall={time.time() - t0:.1f}s", flush=True)
    if not results:
        sys.exit(1)
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"runs={len(results)} failed shares={shares} "
          f"all correct={all(r['correct'] for r in results)}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        unit = results[0]["metrics"][name]["unit"]
        med, q1, q3, sp = spread(vals)
        b = bounds.get(name)
        tail = "" if b is None else \
            f" bound={b} spread/bound={sp / b:.2f}"
        print(f"{name} [{unit}] n={len(vals)} median={med:.4g} "
              f"q1={q1:.4g} q3={q3:.4g} spread={sp:.3f}{tail}")
        print("    " + " ".join(f"{v:.4g}" for v in vals))


if __name__ == "__main__":
    main()
