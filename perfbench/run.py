#!/usr/bin/env python3
"""Benchmark runner: builds the engine and its harness from source, runs one
workload in a fresh JVM, checks the outputs, and prints the result.

    python3 perfbench/run.py --workload steady_mix --seed 1 --seconds 18 --trace 0

Run it from the repository root. Build outputs and per-run scratch files go
under `.bench_build/` (and `perfbench/target/`, sbt's own output). Lines
before the last are for people: `load_start`/`load_end` markers, one
`metric <name> <value> <unit> n=<samples>` line per metric, a `detail` JSON
line with every metric the workload measured. The last line is the result
object: correct, attempted, failed and the metrics BENCHMARK.json lists for
this kind of run (end_to_end with --trace 0, per_layer with --trace 1).
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

sys.dont_write_bytecode = True  # importing fixtures.py leaves nothing behind

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("steady_mix", "tenant_churn", "catalog")
JVM_TIMEOUT_S = 170
CPUS = min(4, os.cpu_count() or 1)  # local[N]
BUILD_TIMEOUT_S = 840

# what spark-submit would pass to a JDK 17 driver
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_marker():
    try:
        with open("/proc/loadavg") as f:
            p = f.read().split()
        run, procs = p[3].split("/")
        return {"load1": float(p[0]), "load5": float(p[1]), "load15": float(p[2]),
                "runnable": int(run), "procs": int(procs)}
    except OSError:
        return None


def sources_stamp():
    """Hash of everything the build compiles, so a stale build is redone."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in roots:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala: run from a full checkout")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={BUILD}", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def oracle_check(run_dir, fixtures):
    """Compare each dumped query result with its DuckDB oracle, the way the
    repository's oracle gate does: sorted columns, sorted rows, exact cells."""
    import duckdb
    import pandas as pd
    out = os.path.join(run_dir, "oracle")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    def cells(df):
        return [tuple("NULL" if v is None or v != v else repr(v) if isinstance(v, float)
                      else str(v) for v in row) for row in df.itertuples(index=False)]

    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            got, want = canon(pd.read_parquet(os.path.join(out, name))), canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns):
                failures.append(f"{name}: oracle columns {list(got.columns)} vs {list(want.columns)}")
            elif cells(got) != cells(want):
                failures.append(f"{name}: oracle mismatch ({len(got)} vs {len(want)} rows)")
        except Exception as e:  # a crash in the check is a failed check
            failures.append(f"{name}: oracle check error {e}")
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated runner still stops the JVM it started (finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    load_start = load_marker()
    print("load_start " + json.dumps(load_start), flush=True)
    classpath = build()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir, "--cpus", str(CPUS),
                "--out", os.path.join(run_dir, "result.json")]
        fixtures = os.path.join(run_dir, "fixtures")
        with_catalog = a.workload == "catalog" or a.trace
        if with_catalog:
            sys.path.insert(0, HERE)
            import fixtures as fx
            fx.generate(fixtures, a.seed)
            args += ["--fixtures", fixtures]
        cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={run_dir}/tmp",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
               ["-cp", classpath, "perfbench.Main"] + args +
               ["--launch-ms", str(int(time.time() * 1000))])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
                   SPARK_LOCAL_IP="127.0.0.1")
        with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
                open(os.path.join(run_dir, "jvm.err"), "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=err)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        with open(os.path.join(run_dir, "jvm.out")) as f:
            for line in f:
                if line.startswith(("metric ", "layer ", "phase ", "batch ")):
                    print(line.rstrip())
        if rc != 0:
            with open(os.path.join(run_dir, "jvm.err")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark process failed ({rc})")
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
        if with_catalog:
            n, bad = oracle_check(run_dir, fixtures)
            attempted += n
            failed += len(bad)
            failures += bad
            print(f"metric oracle_checked {n} count n={n}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    detail = dict(res["e2e"])
    detail.update(res["detail"])
    detail.update(res["layers"])
    detail["error_rate"] = {"value": failed / max(1, attempted), "unit": "ratio", "n": attempted}
    for msg in failures[:20]:
        print("failure " + msg)
    load_end = load_marker()
    print("load_end " + json.dumps(load_end))
    print("detail " + json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                  "seconds": a.seconds, "load_start": load_start,
                                  "load_end": load_end, "metrics": detail}))
    source = res["layers"] if a.trace else res["e2e"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        # a workload BENCHMARK.json does not list: report what it measured
        wanted = [{"name": k, "unit": v["unit"]} for k, v in source.items()]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if (got is None or got["value"] is None) and a.trace:
            value = 0.0  # a layer this workload does not exercise
        elif got is None or got["value"] is None:
            fail(f"metric {m['name']} was not measured")
        else:
            value = got["value"]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
