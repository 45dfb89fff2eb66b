#!/usr/bin/env python3
"""Records one traced run per workload next to an untraced run of the same
seed, so the per-layer numbers come with their tracing overhead.

    python3 perfbench/record_trace.py --seed <n> [--workload <name> ...]

Writes perfbench/results/traced_<workload>.json: the untraced end-to-end
metrics, the traced per-layer metrics, and tracing_overhead_s = the traced
run's suite time minus the untraced one.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, stdout=subprocess.PIPE, check=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    os.makedirs(os.path.join(BENCH, "results"), exist_ok=True)
    for w in a.workload or [w["name"] for w in spec["workloads"]]:
        plain = run(w, a.seed, spec["run_seconds"], 0)
        traced = run(w, a.seed, spec["run_seconds"], 1)
        overhead = (traced["metrics"]["trace.suite_s"]["value"]
                    - plain["metrics"]["suite_s"]["value"])
        record = {"workload": w, "seed": a.seed, "run_seconds": spec["run_seconds"],
                  "untraced": plain, "traced": traced, "tracing_overhead_s": overhead}
        path = os.path.join(BENCH, "results", f"traced_{w}.json")
        with open(path, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
        print(f"{w}: tracing overhead {overhead:+.3f} s -> {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
