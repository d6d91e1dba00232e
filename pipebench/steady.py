#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on several seeds per workload and
reports, for each end-to-end metric, the median and the spread (distance
between the first and third quartile as a share of the median), next to
the metric's bound from BENCHMARK.json.

Usage, from the repository root:

    python3 pipebench/steady.py [--workloads refresh,board]
        [--seeds 10] [--first-seed 1] [--rows-per-type N]
        [--out pipebench/steadiness/NAME.json]

With --rows-per-type it is a size sweep point of `refresh`.
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
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--rows-per-type", type=int)
    ap.add_argument("--out")
    a = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "cpus": len(os.sched_getaffinity(0)),
              "rows_per_type": a.rows_per_type, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            p = subprocess.run(["python3", *bench["command"][1:], "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0",
                                *(["--rows-per-type", str(a.rows_per_type)] if a.rows_per_type else [])],
                                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                res = {}
            # the run's human-readable `metric <name> <value> <unit>` lines
            printed = {ln.split()[1]: float(ln.split()[2])
                       for ln in p.stdout.splitlines() if ln.startswith("metric ")}
            runs.append({"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1),
                         "correct": res.get("correct"), "attempted": res.get("attempted"),
                         "failed": res.get("failed"),
                         "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()},
                         "printed": printed})
            print(f"{w} seed {seed}: exit {p.returncode} wall {wall:.1f} s {last}", flush=True)
        stats = {}
        for m, bound in bounds.items():
            vals = [r["metrics"][m] for r in runs if m in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            stats[m] = {"median": statistics.median(vals), "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / statistics.median(vals), "bound": bound}
            print(f"  {w:8s} {m:12s} median {statistics.median(vals):10.3f} "
                  f"spread {stats[m]['spread']:.4f} (bound {bound}, a third is {bound / 3:.4f})")
        report["workloads"][w] = {"runs": runs, "stats": stats}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    ok = all(r["exit"] == 0 and r["correct"] for wl in report["workloads"].values() for r in wl["runs"])
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
