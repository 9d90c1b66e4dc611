#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest          # generator determinism + plan pruning

Run from the root of a checkout. The first run builds the program and the
benchmark harness from source with sbt (perfbench/build.sbt) into
.bench_build/; later runs reuse the build while the sources are unchanged.
Each run generates its inputs from --seed, runs the workload in one JVM on
local[N] (N = min(4, nproc)), checks the outputs, and prints as its last
line a JSON object: correct, attempted, failed and metrics (the end-to-end
metrics of BENCHMARK.json untraced, the per-layer metrics traced). The line
before it records the run's environment and a fingerprint of it; runs with
different fingerprints are not comparable (see perfbench/compare.py).
Exits non-zero when any output check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("lulc_pipeline", "text_curation", "registry_sweep")
JVM_TIMEOUT_S = 165
# Seed offset of the warm-up inputs: the warm-up never reads what is timed.
WARM_SEED_OFFSET = 7919


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness (sbt, offline) unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in p.stdout.splitlines() if "scala-2.13" in l and os.pathsep in l][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ---------------------------------------------------------------- running

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm_flags(work):
    flags = ["-Xmx2g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
             "-XX:+UseCodeCacheFlushing", "-XX:-DontCompileHugeMethods", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        flags += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return flags


def java(cp, work, args, log_name, timeout=JVM_TIMEOUT_S):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + jvm_flags(work) + ["-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, log_name), "w") as errf:
        p = subprocess.Popen(cmd, cwd=work, stdout=errf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:
            # on a timeout, and when this script is stopped, the JVM goes too
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, log_name)) as f:
            sys.stderr.write(f.read()[-6000:])
    return rc


def generate(workload, seed, work):
    import gen
    if workload == "registry_sweep":
        gen.registry_tables(os.path.join(work, "input/registry/base"), seed)
        gen.registry_tables(os.path.join(work, "input/registry/warm"), seed + WARM_SEED_OFFSET)
    elif workload == "text_curation":
        gen.text_corpus(os.path.join(work, "input/text"), seed)
    # lulc_pipeline inputs are written by the JVM (the program's TIFF writers)


def fresh_work(name):
    """An empty work directory. A previous one is moved aside before it is
    deleted, so nothing left in it can stand in the way of this run."""
    work = os.path.join(BUILD, name)
    for old in glob.glob(os.path.join(BUILD, "*.stale-*")):
        shutil.rmtree(old, ignore_errors=True)
    if os.path.lexists(work):
        stale = f"{work}.stale-{os.getpid()}-{time.time_ns()}"
        os.rename(work, stale)
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(work)
    return work


def env_record(result, work):
    env = dict(result["env"])
    env["jvm_flags"] = [f.replace(work, "<work>") for f in env["jvm_flags"]]
    env["sql_conf"] = {k: v.replace(work, "<work>") for k, v in env["sql_conf"].items()}
    keyed = {k: env[k] for k in ("nproc", "local_n", "jvm_flags", "sql_conf",
                                  "java_version", "spark_version")}
    fp = hashlib.sha256(json.dumps(keyed, sort_keys=True).encode()).hexdigest()[:16]
    return env, fp


def golden_entry(workload, seed):
    with open(os.path.join(HERE, "golden.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def golden_failures(workload, seed, result):
    """Per-operation hashes must match those recorded for the seeds the
    benchmark ships (when the run has the recorded N)."""
    g = golden_entry(workload, seed)
    if not g or g["local_n"] != result["env"]["local_n"]:
        return [], False
    have = result["facts"].get("hashes", {})
    bad = [f"{op}: hash {have.get(op)} != golden {h}" for op, h in g["hashes"].items()
           if have.get(op) != h]
    return bad, True


def run(args):
    s = spec()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources under src/main/scala: run from a checkout root")
    cp = build()
    work = fresh_work("work")
    generate(args.workload, args.seed, work)
    out = os.path.join(work, "result.json")
    hashes = args.record_golden or golden_entry(args.workload, args.seed) is not None
    rc = java(cp, work, ["--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--hashes", "1" if hashes else "0",
                         "--work", work, "--out", out], "jvm.log")
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(out) as f:
        result = json.load(f)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    shutil.copy(out, os.path.join(BUILD, "results",
                                  f"{args.workload}_s{args.seed}_t{args.trace}.json"))
    failures = [f"{x['op']}: {x['error']}" for x in result["failures"]]
    failed_ops = {x["op"] for x in result["failures"]}
    if args.workload == "registry_sweep":
        import oracle
        for q, msg in oracle.compare(os.path.join(work, "input/registry/base"),
                                     os.path.join(work, "results")):
            failures.append(f"{q}: {msg}")
            failed_ops.add(q)
    bad, golden_checked = golden_failures(args.workload, args.seed, result)
    failures += bad
    if bad:
        failed_ops.add("golden")
    if args.record_golden:
        record_golden(args.workload, args.seed, result)

    env, fp = env_record(result, work)
    attempted = max(int(result["attempted"]), 1)
    kind = "per_layer" if args.trace else "end_to_end"
    have = result["per_layer"] if args.trace else result["end_to_end"]
    metrics = {}
    for m in s[kind]:
        v = have.get(m["name"], 0.0)
        if m["name"] == "error_rate":
            v = len(failed_ops) / attempted
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in failures:
        log(f"FAILED {f}")
    history_check(fp, args)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "wall_s": result["end_to_end"]["wall_s"],
                      "env": env, "fingerprint": fp, "facts": result["facts"],
                      "phases_s": result["phases_s"],
                      "tail": result["tail"], "golden_checked": golden_checked}))
    if args.trace:
        with open(os.path.join(BUILD, f"trace_{args.workload}.jsonl"), "w") as f:
            for sp in result["spans"]:
                f.write(json.dumps(sp) + "\n")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(len(failed_ops), attempted), "metrics": metrics}))
    return 0 if not failures else 1


def history_check(fp, args):
    """Warn when this run's environment differs from the previous run's in
    this checkout: their figures are not comparable."""
    path = os.path.join(BUILD, f"history_{args.workload}.jsonl")
    prev = None
    if os.path.exists(path):
        with open(path) as f:
            lines = f.read().splitlines()
        prev = json.loads(lines[-1]) if lines else None
    if prev and prev["fingerprint"] != fp:
        log(f"NOT COMPARABLE with the previous {args.workload} run (seed {prev['seed']}): "
            f"environment fingerprint {fp} != {prev['fingerprint']}")
    with open(path, "a") as f:
        f.write(json.dumps({"fingerprint": fp, "workload": args.workload, "seed": args.seed}) + "\n")


def record_golden(workload, seed, result):
    path = os.path.join(HERE, "golden.json")
    golden = json.load(open(path)) if os.path.exists(path) else {}
    golden.setdefault(workload, {})[str(seed)] = {
        "local_n": result["env"]["local_n"], "hashes": result["facts"]["hashes"]}
    with open(path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


# --------------------------------------------------------------- selftests

def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for name in sorted(fs):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def selftest(args):
    """Generator determinism for every workload, and the registry plan
    check: no swept query is timed on a plan pruned below its full
    optimized plan, while count() timing is shown to prune."""
    cp = build()
    ok = True
    import gen
    gens = {
        "registry_sweep": lambda s, d: gen.registry_tables(d, s),
        "text_curation": lambda s, d: gen.text_corpus(d, s),
        "lulc_pipeline": lambda s, d: java(cp, d, ["--gen", "lulc_pipeline", "--seed", str(s),
                                                   "--work", d], "gen.log"),
    }
    for w, g in gens.items():
        digests = []
        for tag, seed in (("a", args.seed), ("b", args.seed), ("c", args.seed + 1)):
            d = fresh_work(f"selftest_gen_{tag}")
            g(seed, d)
            shutil.rmtree(os.path.join(d, "tmp"), ignore_errors=True)
            for f in ("gen.log",):
                if os.path.exists(os.path.join(d, f)):
                    os.remove(os.path.join(d, f))
            digests.append(_tree_digest(d))
        same, differ = digests[0] == digests[1], digests[0] != digests[2]
        ok &= same and differ
        print(json.dumps({"selftest": "generator", "workload": w, "same_seed_identical": same,
                          "other_seed_differs": differ}))
    work = fresh_work("selftest_plans")
    gen.registry_tables(os.path.join(work, "input/registry/base"), args.seed)
    out = os.path.join(work, "plans.json")
    if java(cp, work, ["--selftest", "plans", "--seed", str(args.seed), "--work", work,
                       "--out", out], "jvm.log", timeout=1800) != 0:
        raise SystemExit("plan selftest JVM failed")
    r = json.load(open(out))
    named = ["e6_simhash", "e2_minhash_sig", "p10_md5", "w1", "w2", "w3", "w4", "w5", "w6",
             "g1", "g12", "g15", "g16", "g17", "g18"]
    pruned = set(r["count_pruned"])
    names = [q["query"] for q in r["queries"]]
    missed = [p for p in named
              if not any(q in pruned for q in names if q == p or q.startswith(p + "_"))]
    swept_ok = not r["swept_pruned"]
    ok &= swept_ok and not missed and not r["errors"]
    print(json.dumps({"selftest": "plans", "queries": len(names), "swept": len(r["swept"]),
                      "swept_timed_on_pruned_plan": r["swept_pruned"],
                      "count_pruned": len(pruned), "count_bare_scan": r["count_bare_scan"],
                      "named_cases_missed": missed, "errors": r["errors"]}))
    print(json.dumps({"selftest": "all", "ok": ok}))
    return 0 if ok else 1


def _stop(signum, _frame):
    # unwinds through java() and the build, which stop their processes
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGHUP, _stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec_seconds())
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-golden", action="store_true",
                    help="store this run's per-operation hashes as the golden ones for its seed")
    args = ap.parse_args()
    # any integer names a seed: numpy takes none below 0, the JVM none
    # beyond 64 bits
    args.seed %= 2 ** 63
    if args.selftest:
        return selftest(args)
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


def spec_seconds():
    try:
        return int(spec()["run_seconds"])
    except (OSError, KeyError, ValueError):
        return 10


if __name__ == "__main__":
    sys.exit(main())
