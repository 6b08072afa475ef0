#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the benchmark
(perfbench/build.py), runs workload W in one JVM as a DDF session at
local[nproc] with one caller thread, checks every final frame against
the DuckDB oracle over the same generated corpus, prints one summary
line per metric group, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the span
trace is written to .perfbench_out/trace-W-seedN.json.

An op is one layer call or one output check; a wrong output is a failed
op. Any failed op makes the exit code 1. Workloads are listed in
BENCHMARK.json; why each exists is in perfbench/scala/.../Workloads.scala.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import corpus  # noqa: E402

ROOT = build.ROOT
BASE = os.path.join(HERE, "base")
OUT = os.path.join(ROOT, ".perfbench_out")
WORK = os.path.join(ROOT, ".perfbench_work")
# workload -> {table it reads: replicas of the base table}; the steps and
# the reason for each workload are in perfbench/scala/.../Workloads.scala.
# curation_build's documents need 2 replicas for their near-dup sibling
# groups; its customer names (the edit-distance join's input) stay at one,
# which keeps that join and its all-pairs DuckDB oracle inside the budget.
WORKLOADS = {
    "analyst_sql": {"region": 1, "nation": 1, "supplier": 1, "customer": 2, "part": 2,
                    "orders": 2, "lineitem": 2},
    "curation_build": {"documents": 2, "customer": 1, "embeddings": 2},
}
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
NPROC = len(os.sched_getaffinity(0))
JVM_DEADLINE_S = 150  # the JVM is killed after this; the oracle checks follow


def java_cmd(cp, work, main_class, args):
    """A JVM for `main_class` that keeps its temp files, Spark local dirs
    and warehouse under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", cp, main_class] + args)


def duck_check(con, name, path, oracle):
    """Compare Spark's frame at `path` with the oracle's rows as multisets
    over the same column names; return None when equal, else why not."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {oracle}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM read_parquet('{path}/*.parquet')")
    ocols = [r[0] for r in con.execute("DESCRIBE o").fetchall()]
    scols = [r[0] for r in con.execute("DESCRIBE s").fetchall()]
    if sorted(c.lower() for c in ocols) != sorted(c.lower() for c in scols):
        return f"columns differ: oracle {ocols}, spark {scols}"
    cols = ", ".join(f'"{c}"' for c in sorted(ocols, key=str.lower))
    n_o, n_s = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("o", "s"))
    diff = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM o EXCEPT ALL SELECT {cols} FROM s))"
        f" + (SELECT count(*) FROM (SELECT {cols} FROM s EXCEPT ALL SELECT {cols} FROM o))"
    ).fetchone()[0]
    if diff:
        return f"{diff} rows differ (oracle {n_o} rows, spark {n_s} rows)"
    return None


def oracle_checks(result, corpus_dir, work):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
    for t in corpus.tables_in(corpus_dir):
        glob = corpus.parquet_glob(os.path.join(corpus_dir, t + ".parquet"))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    failures = []
    for name, chk in sorted(result["checks"].items()):
        t0 = time.time()
        try:
            why = duck_check(con, name, chk["path"], chk["oracle"])
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check error: {e}"
        if why:
            failures.append(f"{name} oracle: {why}")
        print(f"[perfbench] oracle check {name}: {'FAILED' if why else 'ok'} "
              f"({time.time() - t0:.2f} s)")
    con.close()
    return len(result["checks"]), failures


def run(args):
    cp = build.build()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out_file = os.path.join(work, "result.json")
    log_path = os.path.join(OUT, f"jvm-{tag}.log")
    trace_file = os.path.join(OUT, f"trace-{tag}.json")
    corpus_dir = os.path.join(work, "corpus")
    cmd = java_cmd(cp, work, "graft.perfbench.Main",
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--corpus", corpus_dir, "--work", work, "--out", out_file]
                   + (["--trace-file", trace_file] if args.trace else []))
    try:
        t_gen = time.time()
        corpus.build(BASE, corpus_dir, args.seed, WORKLOADS[args.workload], files=NPROC)
        gen_s = time.time() - t_gen
        rows = corpus.rows(corpus_dir)
        t_jvm = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
            watchdog = threading.Timer(JVM_DEADLINE_S, proc.kill)
            watchdog.start()
            try:
                for line in proc.stdout:
                    if line.startswith("[perfbench]"):
                        print(line.rstrip(), flush=True)
            finally:
                watchdog.cancel()
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(out_file):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
        with open(out_file) as f:
            result = json.load(f)
        jvm_s = time.time() - t_jvm
        t_check = time.time()
        n_checks, check_failures = oracle_checks(result, corpus_dir, work)
        print(f"[perfbench] {args.workload} JVM {jvm_s:.1f} s, oracle checks "
              f"{time.time() - t_check:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = int(result["attempted"]) + n_checks
    failures = result["failures"] + check_failures
    failed = int(result["failed"]) + len(check_failures)
    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    metrics = result["metrics"]
    if "setup_s" in metrics:  # set-up includes generating the corpus
        metrics["setup_s"]["value"] += gen_s
    if args.trace:
        with open(trace_file) as f:
            trace = json.load(f)
        trace["input_rows"] = rows
        with open(trace_file, "w") as f:
            json.dump(trace, f)
    print(f"[perfbench] {args.workload} seed={args.seed} corpus generation {gen_s:.3f} s, "
          f"input rows: " + ", ".join(f"{k}={v}" for k, v in sorted(rows.items())))
    shown = (" ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
             if args.trace == 0 else f"{len(metrics)} per-layer metrics")
    print(f"[perfbench] {args.workload} reps={result['reps']} {shown} "
          f"op_fail_ratio={failed / attempted:.6g} ratio ({failed}/{attempted} ops)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def on_term(*_):
    """Unwind through run()'s clean-up, which stops the JVM and deletes the
    corpus; a second SIGTERM must not interrupt that clean-up."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(BASE):
        raise SystemExit(f"perfbench: base corpus missing at {BASE}")
    signal.signal(signal.SIGTERM, on_term)
    sys.exit(run(args))


if __name__ == "__main__":
    main()
