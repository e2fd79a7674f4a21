#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics: runs a workload once per
seed and reports, per metric, the median, the quartiles and the spread
(third minus first quartile, as a share of the median) beside the metric's
bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload batch --seeds 1 2 3 4 5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    out = json.loads(p.stdout.strip().splitlines()[-1])
    print(json.dumps(out), flush=True)
    return out


def report(results: list, spec: dict) -> None:
    print(f"runs={len(results)} correct={sum(r['correct'] for r in results)}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:10s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
              f"spread={spread:.4f} bound={m['bound']} ratio={spread / m['bound']:.2f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    report([run(a.workload, s, spec["run_seconds"]) for s in a.seeds], spec)


if __name__ == "__main__":
    main()
