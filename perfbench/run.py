#!/usr/bin/env python3
"""The repository benchmark: one workload of the graft engine, end to end.

Run from the repository root:

    python3 perfbench/run.py --workload engine-backfill --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source (cached until a source
file changes), generates the workload's inputs from the seed, runs the
harness JVM, checks the outputs, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are the
per-layer metrics of a traced run, whose spans go to
.bench_build/trace/<workload>-seed<seed>.jsonl.

Every run sets up SETUPS times, each in a fresh JVM timed from its launch;
setup_s is the median. Only the last JVM goes on to run the workload.

Exit status: 0 when every output check passed, 1 when one failed (the
result line is still printed), 2 when the benchmark cannot run at all.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("engine-backfill", "entries-mix")
# the JVMs of one run, after the build, must end within this
RUN_TIMEOUT_S = 165
SETUPS = 2
# Per-layer metrics of layers a workload does not exercise, by name prefix:
# the traced run reports them as 0. Any other metric the harness leaves out
# fails the run.
NOT_EXERCISED = {
    "engine-backfill": ("analytics.", "streaming.state_"),
    "entries-mix": ("sources.", "processor.", "store.", "monitoring.", "live.", "backfill_rps_1core",
                    "baseline.", "engine.batch_p", "engine.validate_", "engine.onitems_",
                    "engine.driver_commit_"),
}
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles program + harness with sbt (offline) unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "engine", "GraftProcessor.scala")):
        fail(f"the program's sources are not under {ROOT}/src/main/scala; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(BUILD, "fingerprint"), os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"] +
                               ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
                                if os.path.isfile(repos) else []))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        # own process group: the sbt script starts a JVM that must not outlive a timeout
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"], cwd=BENCH, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=840)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    lines = open(log).read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "scala-2.13/classes" in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return cps[-1]


def run_jvm(cp, args, work, deadline):
    # every JVM starts from empty query and temporary directories
    for d in ("q", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed young generation and no adaptive sizing: GC work and heap
    # growth follow what the program allocates and keeps, not the collector's
    # timing-driven resizing, so throughput and peak RSS vary less between
    # runs. Peak RSS is the 256 MB young generation plus all the program
    # holds beyond it.
    cmd = ["java", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn256m", "-Xms512m", "-Xmx2g",
           "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--launched-ms", str(int(time.time() * 1000))]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    text = open(log).read()
    sys.stderr.write("\n".join(l for l in text.splitlines() if l.startswith("[perfbench]")) + "\n")
    if code != 0:
        sys.stderr.write("\n".join(text.splitlines()[-40:]) + "\n")
        fail("harness timed out" if code is None else f"harness exited with {code}")


def oracle_problems(data_dir, out_dir, wrong):
    """Each entry's last result against its DuckDB oracle. Values are
    compared as strings after sorting columns and rows."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in os.listdir(data_dir):
        con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{data_dir}/{t}'")
    problems = []
    for name, sql in sorted(json.load(open(os.path.join(out_dir, "oracle_sql.json"))).items()):
        files = sorted(f for f in os.listdir(os.path.join(out_dir, name)) if f.endswith(".parquet")) \
            if os.path.isdir(os.path.join(out_dir, name)) else []
        if not files:
            problems.append(f"{name}: no result")
            continue
        exp = con.sql(sql).df()
        if wrong:
            exp = exp.iloc[1:]
        got = pd.concat([pd.read_parquet(os.path.join(out_dir, name, f)) for f in files])
        exp, got = exp.reindex(sorted(exp.columns), axis=1), got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns) or len(exp) != len(got):
            problems.append(f"{name}: oracle {list(exp.columns)} x {len(exp)}, got {list(got.columns)} x {len(got)}")
            continue
        cols = list(exp.columns)
        e = exp.astype(str).sort_values(by=cols).reset_index(drop=True)
        g = got.astype(str).sort_values(by=cols).reset_index(drop=True)
        if not e.equals(g):
            problems.append(f"{name}: values differ from the oracle")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--expect-wrong", default="0", choices=["0", "1"],
                    help="check against a deliberately wrong expectation (the run must fail)")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    spec = json.load(open(spec_path))
    cp = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    work = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result_file = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--work", os.path.join(work, "q"), "--out", result_file,
                "--expect-wrong", a.expect_wrong,
                "--trace-out", os.path.join(ROOT, ".bench_build", "trace", f"{a.workload}-seed{a.seed}.jsonl")]
        data = None
        if a.workload == "entries-mix":
            sys.path.insert(0, BENCH)
            import gen_tables
            data = gen_tables.generate(a.seed, os.path.join(ROOT, ".bench_build", "data", f"seed{a.seed}"))
            args += ["--data", data, "--out-dir", os.path.join(work, "out")]
            os.makedirs(os.path.join(work, "out"))
        setups = []
        for _ in range(SETUPS - 1 if a.trace == "0" else 0):
            run_jvm(cp, args + ["--setup-only", "1"], work, deadline)
            setups.append(json.load(open(result_file))["setup_s"])
        run_jvm(cp, args, work, deadline)
        res = json.load(open(result_file))
        if a.trace == "0":
            setups.append(res["metrics"]["setup_s"]["value"])
            res["metrics"]["setup_s"]["value"] = statistics.median(setups)
        if data is not None:
            bad = oracle_problems(data, os.path.join(work, "out"), a.expect_wrong == "1")
            for p in bad:
                print(f"[perfbench] check failed: {p}", file=sys.stderr)
            res["failed"] = min(res["attempted"], res["failed"] + len(bad))
            res["correct"] = res["correct"] and not bad
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    if a.trace == "1":
        for m in wanted:
            if m["name"] not in res["metrics"] and m["name"].startswith(NOT_EXERCISED[a.workload]):
                res["metrics"][m["name"]] = {"value": 0.0, "unit": m["unit"]}
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]]["value"], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
