#!/usr/bin/env python3
"""graft benchmark runner.

One run:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

builds the benchmark (perfbench/build.sbt: graft's sources plus the
benchmark's own) when the sources are newer than the last build, starts one
JVM on `local[<cores>]`, and prints one JSON object as its last stdout line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md).

Steadiness mode:
    python3 perfbench/run.py --workload <name> --steady <N> [--seconds <s>]
runs N untraced runs with seeds 1..N and prints, for each end-to-end
metric, the median, the quartiles and the quartile spread as a share of
the median.

Everything the benchmark writes stays under perfbench/work/ (generated
inputs, Spark scratch space, pass outputs, trace files) and
perfbench/target/ (the build).
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
CLASSPATH = os.path.join(BENCH, "target", "bench.classpath")
WORKLOADS = ["gisaid_spine", "headline_queries"]
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile with sbt, offline, when any source is newer than the build."""
    if os.path.exists(CLASSPATH) and \
            os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # keep sbt's and its JVMs' scratch files inside the checkout
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xmx2g"])
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"build failed (sbt exit {r.returncode})")
    os.utime(CLASSPATH)


def run_jvm(args, run_dir, trace_dir):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_LOCAL_DIRS"] = local
    env.pop("SPARK_HOME", None)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--traces", trace_dir,
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--launch-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(WORK, f"jvm-{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, env=env, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.strip():
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    return result


# ---------------------------------------------------------------- oracle
# headline_queries outputs are compared with DuckDB running each query's
# oracle SQL over the same parquet tables, with the repository's own
# comparison (tools/check_correctness.py): columns sorted by name, rows
# sorted, exact values.

def oracle_compare():
    """canon/table_rows/TABLES of tools/check_correctness.py (its work is
    behind __main__, so importing it runs nothing)."""
    sys.dont_write_bytecode = True  # leave no __pycache__ in tools/
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness
    return check_correctness


def check_headline(run_dir, data_dir):
    import duckdb
    cc = oracle_compare()
    out = os.path.join(run_dir, "headline_out")
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            ocols, orows = cc.table_rows(con, sql)
            scols, srows = cc.table_rows(con, "SELECT * FROM read_parquet("
                                         f"'{os.path.join(out, name)}/*.parquet')")
        except Exception as e:  # a failed comparison is a wrong output
            problems.append(f"{name}: {e}")
            continue
        if scols != ocols:
            problems.append(f"{name}: columns {scols} != oracle {ocols}")
        elif sorted(srows) != sorted(orows):
            problems.append(f"{name}: {len(srows)} rows differ from the "
                            f"oracle's {len(orows)}")
    con.close()
    return problems


def one_run(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {WORKLOADS}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py")):
        fail("graft's sources (src/main/scala/graft, tools/check_correctness.py) "
             "are not next to the benchmark; run from the root of a graft checkout")
    if not os.path.isdir(os.path.join(BENCH, "data", "sf0.01")):
        fail("perfbench/data/sf0.01 is missing")
    os.makedirs(WORK, exist_ok=True)
    build()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        res = run_jvm(args, run_dir, os.path.join(WORK, "traces"))
        problems = res.pop("problems", [])
        if args.workload == "headline_queries":
            problems += check_headline(run_dir,
                                       os.path.join(BENCH, "data", "sf0.01"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems[:20]:
        print(f"perfbench: wrong output: {p}", file=sys.stderr)
    res["correct"] = res["correct"] and not problems
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


def steady(args):
    """N untraced runs with seeds 1..N; quartile spread of each metric."""
    values, shares, correct = {}, set(), True
    for seed in range(1, args.steady + 1):
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            fail(f"seed {seed} failed")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        correct &= res["correct"]
        shares.add(f"{res['failed']}/{res['attempted']}")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {time.time() - t0:.1f}s " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
            flush=True)
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else math.inf}
        print(f"{k:14s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
              f"spread {summary[k]['spread']:.4f}")
    print(json.dumps({"workload": args.workload, "runs": args.steady,
                      "correct": correct, "failed_shares": sorted(shares),
                      "metrics": summary}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="run this many seeds and print quartile spreads")
    args = ap.parse_args()
    if args.steady:
        steady(args)
    else:
        one_run(args)


if __name__ == "__main__":
    main()
