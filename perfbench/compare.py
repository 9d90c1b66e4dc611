#!/usr/bin/env python3
"""Compare two benchmark runs from their saved standard output.

    python3 perfbench/run.py --workload W --seed 1 > a.log
    python3 perfbench/run.py --workload W --seed 1 --trace 1 > b.log
    python3 perfbench/compare.py a.log b.log

Two runs are comparable only when their environment fingerprints match
(effective SQL conf, nproc, N, JVM flags, Java and Spark versions); the
script names what differs and exits 1 otherwise. For an untraced and a
traced run of one workload it prints the tracing overhead, traced wall_s
minus untraced wall_s.
"""
import json
import sys


def load(path):
    with open(path) as f:
        lines = [l for l in f.read().splitlines() if l.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    (env_a, res_a), (env_b, res_b) = load(sys.argv[1]), load(sys.argv[2])
    if env_a["fingerprint"] != env_b["fingerprint"]:
        diff = sorted(k for k in set(env_a["env"]) | set(env_b["env"])
                      if env_a["env"].get(k) != env_b["env"].get(k))
        print(json.dumps({"comparable": False, "differs": diff}))
        return 1
    out = {"comparable": True, "workload": [env_a["workload"], env_b["workload"]]}
    if env_a["workload"] == env_b["workload"] and env_a["trace"] != env_b["trace"]:
        traced, plain = (env_a, env_b) if env_a["trace"] else (env_b, env_a)
        out["trace_overhead_s"] = traced["wall_s"] - plain["wall_s"]
    out["metrics"] = {k: [res_a["metrics"][k]["value"], res_b["metrics"].get(k, {}).get("value")]
                      for k in res_a["metrics"]}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
