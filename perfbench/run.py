"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Builds the program from source (perfbench/build.py), generates the seeded
inputs (perfbench/gen.py), checks that generation is deterministic, runs the
workload in one Spark JVM (perfbench/harness) and prints a readable report
followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics; the traced run also writes its spans as JSON
lines under .bench_build/traces/. Every scratch file lives under .bench_build
in the working directory and is deleted at the end of the run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 165


def declared_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json declares for this kind of run."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def self_test(workload, seed, work, fingerprint):
    """Same seed: byte-identical files and query stream; other seed: different."""
    again = os.path.join(work, "selftest-same")
    other = os.path.join(work, "selftest-other")
    try:
        same = gen.fingerprint(again, gen.generate(workload, seed, again))
        diff = gen.fingerprint(other, gen.generate(workload, seed + 1, other))
    finally:
        shutil.rmtree(again, ignore_errors=True)
        shutil.rmtree(other, ignore_errors=True)
    return same == fingerprint and diff != fingerprint


def run_jvm(cmd):
    """Run the harness JVM; return (exit code, peak RSS of that JVM in MB)."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        watchdog.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    archive_flag = build.ensure_built(out)

    work = os.path.join(out, "work", f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        spec = gen.generate(a.workload, a.seed, inputs)
        if not self_test(a.workload, a.seed, work, gen.fingerprint(inputs, spec)):
            print("generator self-test failed: output is not a function of the seed",
                  file=sys.stderr)
            return 1
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        result_path = os.path.join(work, "result.json")
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        trace_path = os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl")
        cores = len(os.sched_getaffinity(0))
        os.makedirs(os.path.join(work, "tmp"))
        status, peak_mb = run_jvm(build.harness_command(
            out, work, [work, str(cores), str(a.seconds), str(a.trace), trace_path,
                        spec_path, result_path], archive_flag))
        if status != 0 or not os.path.exists(result_path):
            print(f"harness JVM failed with status {status}", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = dict(res["metrics"], peak_rss_mb=peak_mb)
    declared = declared_metrics(a.trace)
    missing = [n for n, _ in declared if n not in measured]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    attempted, failed = int(res["attempted"]), int(res["failed"])
    info = res["info"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  seconds {a.seconds}")
    print(f"inputs   {json.dumps(spec['sizes'])}  input_bytes {info['input_bytes']}"
          f"  stored_bytes {info['stored_bytes']}")
    print(f"ops      queries {info['queries']}  distinct calls {info['distinct_calls']}"
          f"  timed {info['timed_s']:.2f} s  ingest batches {info['ingest_batches']}"
          f"  age cycles {info['age_cycles']}")
    print(f"check    attempted {attempted}  failed {failed}"
          f"  failed_op_ratio {failed / max(1, attempted):.6f} ratio")
    for m in res["mismatches"] + res["errors"]:
        print(f"MISMATCH {m}")
    for name, unit in declared:
        print(f"metric   {name} = {measured[name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": measured[n], "unit": u} for n, u in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
