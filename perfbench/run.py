#!/usr/bin/env python3
"""Pipeline benchmark for graft: one workload per call, one JSON result line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload daily_dag --seed 1 --seconds 1 --trace 0

Builds the engine sources together with the benchmark (sbt, once per source
state, cached under .bench_build/), runs one JVM on local[cores] that sets the
workload up, runs it for --seconds and checks its outputs, compares the corpus
outputs with their DuckDB oracle SQL, and prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1 the
per_layer ones (a traced run; spans go to .bench_build/out/<run>/trace.json).
--smoke shrinks every input (self-test); --corrupt damages one output before
its check, which must then be counted as failed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["daily_dag", "incremental_ticks", "adhoc_queries", "corpus_curation"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every input of the build: engine sources and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found next to the benchmark")
    fp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine + benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {BUILD}/build.log)")
    log(f"built in {time.time() - t0:.1f} s")
    # run from a copy of the compiled classes, so a later rebuild never
    # changes the classes under a running JVM
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    classes = os.path.join(BUILD, f"classes-{fp[:12]}")
    entries = lines[-1].strip().split(os.pathsep)
    copies = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            copies.append(os.path.join(classes, str(i)))
            shutil.copytree(e, copies[-1])
        else:
            copies.append(e)
    cp = os.pathsep.join(copies)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return cp


def run_jvm(cp, args, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g",
        "-XX:+UseG1GC",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Main",
        "--work", f"{work}/data", "--out", out,
    ] + args
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"benchmark JVM timed out (see {out}/jvm.log)")
    if rc != 0:
        raise SystemExit(f"benchmark JVM exited with {rc} (see {out}/jvm.log)")


def oracle_failures(request_path):
    """Compare each corpus output with its registered DuckDB oracle SQL.

    Returns the number of failed operations: the (pipeline, pass) outputs
    that differ from their oracle.
    """
    import duckdb
    import pandas as pd

    req = json.load(open(request_path))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{req['documents']}/*.parquet')")

    def normalize(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None):
                df[c] = df[c].dt.tz_localize(None)
        return df.sort_values(by=list(df.columns), kind="mergesort",
                              na_position="last").reset_index(drop=True)

    def same(a, b):
        if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        try:
            if pd.isna(a) and pd.isna(b):
                return True
        except (TypeError, ValueError):
            pass
        return a == b

    failed = 0
    for name, sql in sorted(req["sql"].items()):
        exp = normalize(con.sql(sql).df())
        for k, path in enumerate(req["outputs"][name], 1):
            got = normalize(pd.read_parquet(path))
            ok = sorted(exp.columns) == sorted(got.columns) and len(exp) == len(got) and all(
                same(a, b) for c in exp.columns for a, b in zip(exp[c].tolist(), got[c].tolist()))
            if not ok:
                log(f"oracle mismatch: {name}, pass {k}")
                failed += 1
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        raise SystemExit("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}"
    out = os.path.join(BUILD, "out", tag)
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace]
        args += ["--smoke"] * a.smoke + ["--corrupt"] * a.corrupt
        t0 = time.time()
        run_jvm(cp, args, work, out)
        log(f"benchmark JVM ran {time.time() - t0:.1f} s")
        res = json.load(open(os.path.join(out, "result.json")))
        failed = res["failed"]
        if a.workload == "corpus_curation":
            t0 = time.time()
            failed = min(res["attempted"], failed + oracle_failures(
                os.path.join(out, "oracle_request.json")))
            log(f"oracle check took {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if a.trace == "1":
        metrics["failed_op_frac"] = failed / res["attempted"]
    missing = [m["name"] for m in wanted if metrics.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
