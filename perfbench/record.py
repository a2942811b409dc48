#!/usr/bin/env python3
"""Writes the benchmark's baseline records for the checked-out commit.

    python3 perfbench/record.py [--seed N] [--seconds S] [workload ...]

Run from the repository root. For each workload (default: all) it makes
one untraced and one traced run with the same seed and writes
perfbench/baseline/<workload>.json: both results, the tracing overhead
(traced end-to-end value minus untraced, per metric) and the host facts;
the traced run's spans go to perfbench/baseline/<workload>-spans.json.
"""
import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

BASELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "baseline")


def host_facts():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()[0]
    return {"nproc": os.cpu_count(), "mem_total_gb": round(mem_kb / 2**20, 1),
            "spark_cpus": build.SPARK_CPUS,
            "machine": platform.machine(), "java": java,
            "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("workloads", nargs="*",
                    default=["serve", "ingest", "analytics"])
    a = ap.parse_args()
    os.makedirs(BASELINE, exist_ok=True)
    root = os.getcwd()
    for w in a.workloads:
        res = {}
        for trace in (0, 1):
            args = argparse.Namespace(workload=w, seed=a.seed,
                                      seconds=a.seconds, trace=trace)
            res[trace] = run.run(args, root)
        untraced, traced = res[0], res[1]
        overhead = {
            n: {"untraced": m["value"],
                "traced": traced["traced_end_to_end"][n]["value"],
                "traced_minus_untraced":
                    traced["traced_end_to_end"][n]["value"] - m["value"],
                "unit": m["unit"]}
            for n, m in untraced["metrics"].items()
            if n in traced["traced_end_to_end"]}
        record = {"workload": w, "seed": a.seed, "seconds": a.seconds,
                  "host": host_facts(),
                  "untraced": {k: untraced[k] for k in
                               ("correct", "attempted", "failed", "metrics",
                                "info")},
                  "traced": {k: traced[k] for k in
                             ("correct", "attempted", "failed", "metrics",
                              "info")},
                  "tracing_overhead": overhead}
        with open(os.path.join(BASELINE, f"{w}.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
        spans = traced["spans_file"]
        shutil.copy(spans, os.path.join(BASELINE, f"{w}-spans.json"))
        print(f"{w}: untraced correct={untraced['correct']} "
              f"traced correct={traced['correct']}")


if __name__ == "__main__":
    main()
