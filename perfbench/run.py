#!/usr/bin/env python3
"""Connapse benchmark runner.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt (once per
source tree; later runs reuse the build), launches one JVM on the compiled
classpath for the named workload, checks the battery's outputs against
the DuckDB oracle, and prints one JSON line as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Build logs and JVM output go to
stderr, never to stdout. Exits 1 when a correctness check fails and 2
when the benchmark cannot run at all.

Build outputs, per-run work directories and reports live under
`.bench_build/` at the repository root.
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
OUT = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
RUN_LIMIT_S = 160  # the JVM's share; the whole run, build excluded, ends within 180 s
BUILD_LIMIT_S = 840
HEAP = ["-Xms3g", "-Xmx3g"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_files():
    """Every file the build reads: both build definitions and both main trees."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """(classpath, jvm options), building first unless this source tree was built."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s["digest"] == digest and all(os.path.exists(p) for p in s["classpath"].split(os.pathsep)):
            return s["classpath"], s["jvm_options"]
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    log("building program and benchmark with sbt ...")
    with open(os.path.join(OUT, "build.log"), "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed to run: {e}")
    if rc != 0:
        with open(os.path.join(OUT, "build.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed (exit {rc}); see .bench_build/build.log")
    with open(os.path.join(HERE, "target", "launch-classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(HERE, "target", "launch-jvm-options.txt")) as fh:
        opts = [l for l in fh.read().splitlines() if l]
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp, "jvm_options": opts}, fh)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp, opts


def run_jvm(cp, opts, args, work, deadline):
    """Run one workload; returns the JVM's result JSON, or None."""
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *HEAP, *opts, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
           "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", DATA,
           "--work", work, "--out", out]
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's scratch space stays inside the run directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr.fileno(),
                            stderr=sys.stderr.fileno(), stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("workload exceeded its time limit; stopping the JVM")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        log(f"JVM exited with {proc.returncode} and no result")
        return None
    with open(out) as fh:
        return json.load(fh)


def oracle_failures(work):
    """Battery outputs against their DuckDB oracle at the run's scale, with
    the repository's oracle sweep's comparison (tools/sweep.py: columns by
    name, rows sorted, floats to 9 decimals). Returns (checked, failures)."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from sweep import table_rows
    out = os.path.join(work, "battery")
    path = os.path.join(out, "oracle_sql.json")
    if not os.path.exists(path):
        return 0, ["battery wrote no oracle SQL"]
    with open(path) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in glob.glob(os.path.join(DATA, "sf0.1", "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(t)[:-8]} AS SELECT * FROM '{t}'")
    fails = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if not files:
            fails.append(f"{name}: no output")
            continue
        got_cols, got = table_rows(pq.read_table(files))
        exp_cols, exp = table_rows(con.execute(sql).fetch_arrow_table())
        if got_cols != exp_cols:
            fails.append(f"{name}: columns {got_cols} != oracle {exp_cols}")
        elif got != exp:
            fails.append(f"{name}: {len(got)} rows differ from the oracle's {len(exp)}")
    return len(oracle), fails


def main():
    # a stop request unwinds normally, so the JVM and the build are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        die("BENCHMARK.json not found at the repository root")
    with open(bench_path) as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        die(f"unknown workload {args.workload}")
    cp, opts = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, opts, args, work, deadline)
        if res is None:
            die("the workload produced no result")
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if os.path.exists(os.path.join(work, "battery", "oracle_sql.json")):
            checked, fails = oracle_failures(work)
            attempted += checked
            failed += len(fails)
            failures += fails
        reports = os.path.join(OUT, "reports")
        os.makedirs(reports, exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(reports, f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = res["metrics"]
    last_untraced = os.path.join(reports, f"{args.workload}-untraced.json")
    if args.trace:
        # tracing overhead: this traced run's end-to-end figures minus the
        # latest untraced run's, when one exists in this checkout
        if os.path.exists(last_untraced):
            with open(last_untraced) as fh:
                base = json.load(fh)
            for k in ("latency_ms_p50", "throughput_per_s"):
                if k in measured and k in base:
                    measured[f"trace.overhead_{k}"] = measured[k] - base[k]
    else:
        with open(last_untraced, "w") as fh:
            json.dump(measured, fh)

    group = bench["per_layer" if args.trace else "end_to_end"]
    metrics, absent = {}, []
    for m in group:
        v = measured.get(m["name"])
        if v is None:
            absent.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if absent and not args.trace:
        failures.append(f"end-to-end metrics not measured: {absent}")
        failed += 1
        attempted += 1
    correct = failed == 0
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "correct": correct, "attempted": attempted, "failed": failed,
              "failures": failures, "not_exercised": absent, "measured": measured,
              "detail": res["detail"]}
    with open(os.path.join(reports, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for f in failures:
        log(f"FAILED: {f}")
    if absent and args.trace:
        log(f"not exercised by {args.workload} (reported as 0): {', '.join(absent)}")
    log("detail: " + json.dumps(res["detail"]))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}),
          flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
