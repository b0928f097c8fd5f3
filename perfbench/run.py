#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Every run first calls build.py, which
compiles the benchmark package (the engine's sources plus the benchmark's)
when a source changed since the last build. The JVM
generates the workload's inputs from the seed in a scratch directory under
the checkout, times the workload, checks its outputs and writes a result
file; this script adds the DuckDB row-count check of the operator queries
and, in an untraced run, the set-up samples of set-up-only JVMs, prints a
readable report and, as its last line, the JSON result. The
scratch directory is removed when the run ends. A traced run (--trace 1)
also writes its spans to perfbench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402  (perfbench/build.py)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["mixed_to_table", "giants_split"]
# the JVMs of one run (the workload's and the set-up probes) end within this
RUN_TIMEOUT_S = 165
# cold set-ups per untraced run besides the workload's own: setup_s is the
# median of all of them
SETUP_PROBES = 2
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def oracle_counts(work):
    """Row count of every oracle query over the run's tables (DuckDB)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tables = os.path.join(work, "tables")
    for t in sorted(os.listdir(tables)):
        name = t[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables}/{t}/*.parquet')")
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    return {q: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0] for q, sql in oracle.items()}


def check_ops(work):
    counts = json.load(open(os.path.join(work, "row_counts.json")))
    oracle = oracle_counts(work)
    bad = [f"{q}: {counts.get(q)} rows, oracle {n}" for q, n in sorted(oracle.items()) if counts.get(q) != n]
    bad += [f"{q}: no oracle" for q in sorted(counts) if q not in oracle]
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    # a terminated run still kills its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    deadline = time.monotonic() + RUN_TIMEOUT_S
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = os.cpu_count() or 1
    trace_out = os.path.join(HERE, "traces", f"{a.workload}-seed{a.seed}.json") if a.trace else ""
    java = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={cpus}",
             f"-Djava.io.tmpdir={work}/tmp",
             "-cp", classpath])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    proc = None

    def stop():
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    def jvm(args):
        """Runs one JVM to its end (killed at the run's deadline); its exit code."""
        nonlocal proc
        with open(log_path, "a") as log:
            proc = subprocess.Popen(java + args, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                raise RuntimeError(f"JVM still running after {RUN_TIMEOUT_S} s")

    try:
        code = jvm(["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", work, "--trace-out", trace_out])
        res_path = os.path.join(work, "result.json")
        if not os.path.exists(res_path):
            raise RuntimeError(f"JVM exited {code} without a result")
        res = json.load(open(res_path))
        if res["correct"] and os.path.exists(os.path.join(work, "row_counts.json")):
            bad = check_ops(work)
            res["report"].append(f"operator queries: {len(bad)} row counts differ from the DuckDB oracle")
            if bad:
                res["correct"] = False
                res["failed"] += 1
                res["metrics"] = {}
                res["report"] += ["ERROR oracle row count " + b for b in bad]
        if res["correct"] and "setup_s" in res["metrics"]:
            samples = [res["metrics"]["setup_s"]["value"]]
            for k in range(SETUP_PROBES):
                out = os.path.join(work, f"setup-{k}.txt")
                code = jvm(["graftbench.SetupProbe", out])
                if code != 0 or not os.path.exists(out):
                    raise RuntimeError(f"set-up probe JVM exited {code} without a result")
                samples.append(float(open(out).read()))
            res["metrics"]["setup_s"]["value"] = statistics.median(samples)
            res["report"].append("setup_s: median of " + ", ".join(f"{x:.3f}" for x in samples) +
                                 " s (this run's JVM, then set-up-only JVMs)")
    except BaseException as e:
        stop()
        try:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
        except OSError:
            pass
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run failed: {e}", 1)
    stop()
    if not res["correct"]:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass

    for line in res["report"]:
        print("# " + line)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
