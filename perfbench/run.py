#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds graft and the benchmark program
from source on first use (see build.py), then runs the workload in one JVM with
a local[4] Spark session over the base tables in perfbench/data, staged in
a seed-chosen order. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end ones, with --trace 1 its per_layer ones
(and the run's spans are written to .bench_build/traces/).
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

DATA = "perfbench/data/sf0.001"
PINS = "perfbench/pins.json"
JVM_TIMEOUT_S = 165


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(root, cp, work, args, log_path, extra_opts=()):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + build.jvm_options(os.path.join(root, build.BUILD), work)
           + list(extra_opts) + ["-cp", os.pathsep.join(cp), "graftbench.Main"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s, see {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode, out


def ensure_archive(root, cp):
    """Class-data-sharing archive of the classes a sql_mix warm-up loads;
    recorded once per build."""
    b = os.path.join(root, build.BUILD)
    marker = os.path.join(b, "graft.jsa.tried")
    if os.path.exists(marker):
        return
    open(marker, "w").close()
    work = os.path.join(b, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    run_jvm(root, cp, work,
            ["--workload", "sql_mix", "--seed", "0", "--seconds", "0", "--trace", "0",
             "--data", os.path.join(root, DATA), "--pins", os.path.join(root, PINS),
             "--work", work, "--warm-up-only", "1"],
            os.path.join(b, "archive.log"),
            ["-XX:ArchiveClassesAtExit=" + os.path.join(b, "graft.jsa")])
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # self-test hook: the workload's first pin is off by one
    ap.add_argument("--corrupt-pin", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {a.workload}")
    b = os.path.join(root, build.BUILD)
    os.makedirs(b, exist_ok=True)
    with open(os.path.join(b, "lock"), "w") as lock:
        # one build per checkout, however many runs start at once
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build.classpath(root)
        ensure_archive(root, cp)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(b, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(b, "logs"), exist_ok=True)
    log_path = os.path.join(b, "logs", tag + ".log")
    try:
        code, out = run_jvm(root, cp, work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(root, DATA),
            "--pins", os.path.join(root, PINS), "--work", work,
            "--trace-out", os.path.join(b, "traces", tag + ".jsonl"),
            "--corrupt-pin", "1" if a.corrupt_pin else "0"], log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code} and no result, see {log_path}")
    raw = json.loads(lines[-1])

    known = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]}
    unknown = sorted(set(raw["metrics"]) - known)
    if unknown:
        fail(f"benchmark JVM reported undeclared metrics {', '.join(unknown)}")
    declared = bench["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in raw["metrics"]]
    if missing:
        fail(f"benchmark JVM did not report {', '.join(missing)}")
    # a layer the workload never reaches reports 0: it stayed idle
    metrics = {m["name"]: {"value": raw["metrics"].get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    print(f"graftbench: {a.workload} seed {a.seed}: {raw['iterations']} iterations",
          file=sys.stderr)
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
