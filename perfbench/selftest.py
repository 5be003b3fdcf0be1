#!/usr/bin/env python3
"""Self-test of the graft benchmark.

    python3 perfbench/selftest.py

Run from the root of a graft checkout. Runs every workload once untraced
and once traced, and checks that each run is correct and reports every
declared metric with its unit; that every per-layer metric is non-zero on
some workload, apart from the ones listed below; and that a corrupted pin
makes each workload report a failure. Takes about ten minutes.
"""
import json
import subprocess
import sys

# zero on every workload at this input size: nothing spills, no task
# fails, and these operators are lazy, so their work runs in the
# pipeline's own stage jobs (pipeline.stage.*_s) rather than in jobs
# they submit themselves
MAY_BE_ZERO = {
    "spark.spill_mb", "spark.failed_tasks", "operators.spill_mb",
    "operators.minhash_lsh.job_s", "operators.segment_dedup.job_s",
    "operators.shuffle_shard.job_s", "operators.bloom_contamination.job_s",
    "operators.exact_dedup.job_s", "operators.quality_rules.job_s",
}


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace)] + (["--corrupt-pin"] if corrupt else [])
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}\n{p.stderr}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    bench = json.load(open("BENCHMARK.json"))
    problems = []
    nonzero = set()
    for w in (w["name"] for w in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            r = run(w, trace)
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{w} trace={trace}: not correct: {r}")
            for m in declared:
                got = r["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: {m['name']} missing or wrong unit: {got}")
                elif got["value"] != 0:
                    nonzero.add(m["name"])
            if trace == 0:
                zero = [m["name"] for m in declared if r["metrics"][m["name"]]["value"] == 0]
                if zero:
                    problems.append(f"{w}: end-to-end metrics read 0: {zero}")
        r = run(w, 0, corrupt=True)
        if r["correct"] or r["failed"] < 1:
            problems.append(f"{w}: a corrupted pin did not fail the run: {r}")
        print(f"{w}: ok so far, {len(problems)} problems", flush=True)
    idle = sorted(m["name"] for m in bench["per_layer"]
                  if m["name"] not in nonzero and m["name"] not in MAY_BE_ZERO)
    if idle:
        problems.append(f"per-layer metrics zero on every workload: {idle}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
