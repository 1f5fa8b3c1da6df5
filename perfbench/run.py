#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and harness from source (perfbench/build.py), generates the
seeded corpus (perfbench/gen.py), runs the harness JVM (one Spark session,
local[nproc], closed loop with one client), checks every output, and prints
as its last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The line before it is the full run record. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORK = ".bench_work"
# corpus scale per workload; DuckDB's recursive-CTE replay of the box merge
# checks batch's scale in about 2.5 s on 4 cores
SCALE = {"batch": 0.005, "tracker_log": 0.002}
KEEP_CORPORA = 8
# a run ends within 180 s, or 900 s when it had to build first
RUN_LIMIT_S, BUILD_RUN_LIMIT_S = 175, 890


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def percentile(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def tail_rank(n):
    """Highest whole percentile that leaves at least ten of n samples beyond it."""
    return max(50, (100 * (n - 10)) // n) if n else 50


def corpus(seed, scale):
    # the generator's own hash keys the cache, so a changed generator
    # never reads a corpus an older one wrote
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(WORK, "corpus", f"s{seed}_x{scale}_{version}")
    t0 = time.perf_counter()
    manifest = gen.write(d, seed, scale)
    os.utime(d)
    return d, manifest, time.perf_counter() - t0


def evict_corpora():
    dirs = sorted(glob.glob(os.path.join(WORK, "corpus", "s*")), key=os.path.getmtime)
    for d in dirs[:-KEEP_CORPORA]:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(args, work, corpus_dir, out, timeout):
    log = open(os.path.join(work, "jvm.log"), "w")
    cmd = build.java("graftbench.Main", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--corpus", corpus_dir, "--work", work, "--out", out],
        os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"harness JVM failed ({rc})")


def cpu_times():
    """The machine's cumulative (steal, total) CPU ticks, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def latency_p50(ops):
    """Each op kind's median latency (a batch query, a tracker step of the
    cycle), averaged over the kinds: the median of a mix of kinds with
    latencies seconds apart would jump between them from run to run."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["ms"])
    return statistics.mean(statistics.median(v) for v in by.values())


def end_to_end(rec):
    return {
        "setup_s": rec["setup_s"],
        "throughput_ops_s": len(rec["ops"]) / rec["measure_s"],
        "latency_p50_ms": latency_p50(rec["ops"]),
        "live_heap_mb": rec["live_heap_mb"],
    }


def tail(xs):
    """Latency at the highest percentile that leaves at least ten samples
    beyond it (the median when there are too few samples), with rank and n."""
    rank = tail_rank(len(xs))
    return {"ms": percentile(xs, rank), "rank": rank, "n": len(xs)}


def tracker_metrics(rec):
    """Commit-log figures of a tracker_log run; commits are append, upsert
    and dvDelete calls, reads are snapshot, time-travel and change reads."""
    def calls(names):
        return [o["parts"][f"{n}_ms"] for o in rec["ops"] for n in names if f"{n}_ms" in o["parts"]]
    commits = calls(("append", "upsert", "dv_delete"))
    reads = calls(("snapshot_read", "time_travel_read", "changes"))
    t = rec["tracker"]
    return {
        "commit_p50_ms": statistics.median(commits), "commit_tail": tail(commits),
        "read_p50_ms": statistics.median(reads), "read_tail": tail(reads),
        "write_amp": t["write_amp"], "space_amp": t["space_amp"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isdir("src/main/scala") and os.path.isfile("BENCHMARK.json")):
        die("run from the repository root: src/main/scala or BENCHMARK.json is missing")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    t_start = time.perf_counter()
    built = build.build()
    t_build = time.perf_counter() - t_start
    deadline = t_start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    os.makedirs(WORK, exist_ok=True)
    data, manifest, gen_s = corpus(args.seed, SCALE[args.workload])
    evict_corpora()
    work = os.path.join(WORK, f"run{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "record.json")
        cpu0 = cpu_times()
        run_jvm(args, work, data, out, deadline - time.perf_counter() - 5)
        cpu1 = cpu_times()
        with open(out) as f:
            rec = json.load(f)
        t0 = time.perf_counter()
        mismatches, oracle_query_s = oracle.check(data, os.path.join(work, "oracle"))
        oracle_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rec["ops"]
    checked = rec["warm_ops"] + ops + rec.get("traced_ops", [])
    errors = [f"{o['name']}: {o['err']}" for o in checked if o["err"]]
    wrong = [f"{o['name']}: {o['wrong']}" for o in checked if o["wrong"]]
    problems = errors + wrong + mismatches
    attempted = len(checked)
    failed = len(errors) + len(wrong) + len(mismatches)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    e2e = {k: {"value": v, "unit": units[k]} for k, v in end_to_end(rec).items()}

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": rec["cpus"], "load_before": rec["load_before"], "load_after": rec["load_after"],
        # share of the machine's CPU time the hypervisor gave to other guests
        # while the harness ran: the main source of run-to-run spread
        "cpu_steal_share": (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]) if cpu0 and cpu1 else None,
        "git_commit": os.environ.get("GIT_COMMIT") or git_commit(),
        "source_sha256": open(os.path.join(build.BUILD, "stamp")).read(),
        "java_version": rec["java_version"], "spark_version": rec["spark_version"],
        "scala_version": rec["scala_version"],
        "corpus": manifest,
        "corpus_gen_s": round(gen_s, 3), "build_s": round(t_build, 3),
        "built": built,
        "session_s": rec["session_s"], "oracle_pass_s": rec["oracle_pass_s"],
        "oracle_check_s": round(oracle_s, 3), "oracle_query_s": oracle_query_s,
        "measure_s": rec["measure_s"], "ops": len(ops),
        "peak_rss_mb": rec["peak_rss_mb"], "heap_max_mb": rec["heap_max_mb"],
        "op_ms": [o["ms"] for o in ops], "warm_op_ms": [o["ms"] for o in rec["warm_ops"]],
        "latency_tail": tail([o["ms"] for o in ops]),
        "error_rate": failed / attempted if attempted else 1.0,
        "problems": problems[:20],
        "per_query_ms": per_query(ops),
        "end_to_end": e2e,
    }
    if "tracker" in rec:
        record["tracker"] = rec["tracker"]
        record["tracker_metrics"] = tracker_metrics(rec)
        record["tracker_init_s"] = rec.get("tracker_init_s")
    if args.trace:
        layers = rec.get("layers", {})
        record["layers"] = layers
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = e2e
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def per_query(ops):
    by = {}
    for o in ops:
        for q, v in o["parts"].items():
            by.setdefault(q, []).append(v)
        if not o["parts"]:
            by.setdefault(o["name"], []).append(o["ms"])
    return {q: {"p50": statistics.median(v), "n": len(v)} for q, v in sorted(by.items())}


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree."""
    if not os.path.isdir(".git"):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
