#!/usr/bin/env python3
"""Steadiness self-check for the benchmark.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...] [--out FILE]

Runs every workload of BENCHMARK.json (or the ones named) once per seed,
untraced, for the benchmark's run_seconds, and reports for each
end-to-end metric its median, first and third quartile
(`statistics.quantiles(values, n=4)`) and the spread (q3 - q1) / median
against the metric's bound. A spread must stay within the bound for the
benchmark to be usable, and below a third of it to be comfortable. Run
from the repository root.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(cmd, workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return r.returncode, out, time.time() - t0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"cpus": os.cpu_count(), "run_seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    for w in workloads:
        values = {m: [] for m in bounds}
        walls, failures = [], 0
        for k in range(a.runs):
            seed = a.first_seed + k
            rc, out, wall = run_once(bench["command"], w, seed, bench["run_seconds"])
            walls.append(wall)
            if rc != 0 or out is None or not out["correct"]:
                failures += 1
                print("%s seed %d: failed (exit %d)" % (w, seed, rc), flush=True)
                continue
            for m in bounds:
                values[m].append(out["metrics"][m]["value"])
            print("%s seed %d: %s  (%.0f s)" % (w, seed, "  ".join(
                "%s=%.4g" % (m, out["metrics"][m]["value"]) for m in bounds), wall), flush=True)
        rows = {}
        for m, v in values.items():
            if len(v) < 2:
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            spread = (q3 - q1) / med
            verdict = ("steady" if spread < bounds[m] / 3 else
                       "within bound" if spread <= bounds[m] else "UNSTEADY")
            if verdict == "UNSTEADY":
                ok = False
            rows[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                       "bound": bounds[m], "verdict": verdict, "values": v}
            print("  %-18s median %12.4f  q1 %12.4f  q3 %12.4f  spread %.3f  bound %.2f  %s"
                  % (m, med, q1, q3, spread, bounds[m], verdict), flush=True)
        ok = ok and failures == 0
        report["workloads"][w] = {"runs": a.runs, "failed_runs": failures,
                                  "mean_wall_s": statistics.mean(walls), "metrics": rows}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
