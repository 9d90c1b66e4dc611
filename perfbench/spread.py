#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the benchmark's
acceptance reads it: for each metric, the distance between the first and
third quartile of its values over several seeds, as a share of their
median, next to the metric's bound.

    python3 perfbench/spread.py --workload registry_sweep --seeds 1 2 3 4 5
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    for seed in args.seeds:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(seed)],
                           cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        if p.returncode != 0 or not result.get("correct"):
            print(f"seed {seed}: exit {p.returncode}", result, p.stderr[-2000:])
            continue
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}"
                                          for k, v in result["metrics"].items()), flush=True)
    for name, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        print(json.dumps({"metric": name, "n": len(vs), "median": med,
                          "iqr_share": round(spread, 4), "bound": bounds.get(name)}))


if __name__ == "__main__":
    main()
