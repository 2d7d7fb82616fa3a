#!/usr/bin/env python3
"""Run every workload in BENCHMARK.json on several seeds and record the
spread of each end-to-end metric.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/steadiness.json

Runs one after another (never concurrently, which would skew the
timings). The spread is the distance between the first and third
quartile (`statistics.quantiles(values, n=4)`) as a share of the median;
a metric whose spread exceeds a tenth, or a third of its bound, is
flagged rather than hidden.
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": round(time.time() - t0, 1),
                         "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(w, seed, json.dumps(runs[-1]), flush=True)
        metrics = {}
        for m, bound in bounds.items():
            vals = [r["metrics"][m] for r in runs]
            q = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q[2] - q[0]) / med
            metrics[m] = {"median": med, "q1": q[0], "q3": q[2],
                          "spread": round(spread, 4), "bound": bound,
                          "within_tenth": spread <= 0.1,
                          "within_third_of_bound": spread <= bound / 3}
        report["workloads"][w] = {
            "runs": runs, "metrics": metrics,
            "failed": sum(r["failed"] for r in runs),
            "all_correct": all(r["correct"] for r in runs)}
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
