#!/usr/bin/env python3
"""Self-test of the pipeline benchmark at smoke size.

Usage (from the root of a checkout):

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all, including corpus_curation) it makes

  * a traced smoke run, which must be correct, print every per_layer metric
    and have its layer spans cover the traced operations' wall within 5%;
  * a smoke run with --corrupt, where one output is deliberately damaged
    before its check: the run must report correct=false and failed >= 1.

Exits non-zero on the first failed expectation. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ALL = ["daily_dag", "incremental_ticks", "adhoc_queries", "corpus_curation"]


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", trace, "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"FAIL {workload}: run.py exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        raise SystemExit(1)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    per_layer = {m["name"] for m in spec["per_layer"]}
    for w in sys.argv[1:] or ALL:
        res = run(w, "1")
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w}: traced smoke run is correct ({res['attempted']} operations)")
        expect(set(res["metrics"]) == per_layer, f"{w}: every per_layer metric reported")
        trace = json.load(open(os.path.join(
            ROOT, ".bench_build", "out", f"{w}-seed7-trace1-smoke", "trace.json")))
        cov = trace["per_layer"]["trace.span_coverage"]
        expect(abs(cov - 1) <= 0.05, f"{w}: layer spans cover {cov:.3f} of the traced wall")
        bad = run(w, "0", "--corrupt")
        expect(not bad["correct"] and bad["failed"] >= 1,
               f"{w}: a deliberately wrong output is counted ({bad['failed']} failed)")


if __name__ == "__main__":
    main()
