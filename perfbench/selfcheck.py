#!/usr/bin/env python3
"""Toy-size self-check of the benchmark: runs every workload untraced and
one traced run on tiny inputs (run.py --toy) and asserts that each prints
every metric BENCHMARK.json names, with its unit, and that the traced run's
span file parses (run.py itself fails a traced run that leaves more than 5%
of executor CPU unattributed).

    python3 perfbench/selfcheck.py        # from the repository root
"""
import json
import os
import subprocess
import sys


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(lines[-1])


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    cases = [(w["name"], 0) for w in spec["workloads"]] + [(spec["workloads"][0]["name"], 1)]
    for workload, trace in cases:
        out = run(workload, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
        assert out["correct"] and out["attempted"] >= 1 and out["failed"] == 0, out
        want = spec["per_layer"] if trace else spec["end_to_end"]
        for m in want:
            got = out["metrics"].get(m["name"])
            assert got is not None, f"{workload} trace={trace}: {m['name']} missing"
            assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']}"
            assert isinstance(got["value"], (int, float)), f"{m['name']}: {got['value']}"
        if trace:
            traces = os.path.join(".bench_work", "traces")
            newest = max((os.path.join(traces, f) for f in os.listdir(traces)),
                         key=os.path.getmtime)
            with open(newest) as f:
                spans = json.load(f)["spans"]
            assert spans and all({"name", "parent", "run", "start_s", "end_s"} <= set(s)
                                 for s in spans), newest
        print(f"ok {workload} trace={trace}: {len(out['metrics'])} metrics")


if __name__ == "__main__":
    main()
