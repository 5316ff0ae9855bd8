#!/usr/bin/env python3
"""Benchmark of the CDC pipeline and the lakehouse query suite.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark with sbt when their sources changed,
generates the run's inputs from the seed, runs one workload in a fresh JVM
(graft.perfbench.Main) inside a temporary directory under the checkout,
checks the outputs, removes the directory, and prints one JSON line:
correct, attempted, failed and the metrics (end-to-end ones with --trace 0,
per-layer ones with --trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_trickle", "query_suite")
HEAP = "3g"
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def note(msg):
    print(f"perfbench: {time.time() - T0:7.2f} s  {msg}", file=sys.stderr)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in ("src/main", "src/test", "project", "perfbench/src", "perfbench/project"):
        for d, subdirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    h.update(open(p, "rb").read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        p = os.path.join(ROOT, f)
        if os.path.exists(p):
            h.update(open(p, "rb").read())
    return h.hexdigest()


def classpath():
    """The benchmark's runtime classpath, building first if needed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"{ROOT} holds no engine sources (src/main/scala/graft)")
    cache = os.path.join(HERE, "target", "perfbench-classpath")
    stamp = source_stamp()
    if os.path.exists(cache):
        saved_stamp, cp = open(cache).read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    print("perfbench: building (sbt compile)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def oracle_problems(results_dir, data_dir):
    """Hash-compare every dumped query result with DuckDB running the
    query's oracle SQL on the same tables, canonicalized as
    scripts/check_oracle.py does. Results without their oracle SQL are a
    problem, not a skipped check."""
    oracle_path = os.path.join(results_dir, "oracle_sql.json")
    if not os.path.exists(oracle_path):
        return ["no oracle_sql.json: the query results were not checked"]
    import glob
    import importlib.util
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(oracle_path))
    problems = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no result written")
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        problems += compare(name, got, con.sql(sql).df(), check.canon)
    return problems


def compare(name, got, want, canon):
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} vs oracle {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows vs oracle {len(b)}"]
    if not a.equals(b):
        return [f"{name}: rows differ from the oracle"]
    return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an error, so the JVM is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = classpath()
    # set-up is timed from here: the build above is not part of it
    t0_ms = int(time.time() * 1000)
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    work = os.path.join(base, f"run-{os.getpid()}-{t0_ms}")
    data = os.path.join(work, "data")
    os.makedirs(data)
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        sys.path.insert(0, HERE)
        import gen_tables
        gen_tables.write(args.seed, data)
        note(f"tables generated")
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JVM_OPENS,
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dderby.stream.error.file={work}/derby.log",
               "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", work, "--data", data, "--t0-ms", str(t0_ms), "--cpus", str(cpus)]
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT)
            rc = proc.wait(timeout=900)
        note(f"jvm exited with {rc}")
        if rc != 0:
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
            fail(f"workload {args.workload} exited with {rc}")
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(base, "last-jvm.log"))
        res = json.load(open(os.path.join(work, "result.json")))
        problems = res["problems"] + oracle_problems(res["query_results"], data)
        note("checks done")
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        if args.trace:
            note("traced run, end-to-end figures: " + json.dumps(res["end_to_end"]))
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"))
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": res["metrics"]}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
