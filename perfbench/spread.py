#!/usr/bin/env python3
"""Runs the benchmark once per seed on each workload and reports, for every
end-to-end metric, the median and the spread (distance between the first
and third quartile as a share of the median) next to the bound in
BENCHMARK.json.

    python3 perfbench/spread.py [--runs 10] [--out perfbench/baseline.json]

Seeds 1 to --runs, on every workload of BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    summary = {}
    ok = True
    for w in workloads:
        values = {m["name"]: [] for m in bench["end_to_end"]}
        for seed in range(1, a.runs + 1):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                 text=True, check=True).stdout
            res = json.loads(out.strip().splitlines()[-1])
            ok &= res["correct"]
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(w, seed, {k: round(v[-1], 4) for k, v in values.items()}, flush=True)
        summary[w] = {}
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else 0.0
            summary[w][m["name"]] = {"unit": m["unit"], "median": med, "q1": q1, "q3": q3,
                                     "spread": spread, "bound": m["bound"], "values": v}
            print("  %-15s median %10.4f %-5s spread %.3f (bound %.2f)"
                  % (m["name"], med, m["unit"], spread, m["bound"]), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": a.runs, "nproc": os.cpu_count(),
                       "all_correct": ok, "workloads": summary}, f, indent=1, sort_keys=True)
            f.write("\n")
    if not ok:
        sys.exit("spread: some run reported incorrect results")


if __name__ == "__main__":
    main()
