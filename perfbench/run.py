#!/usr/bin/env python3
"""graft benchmark: one workload run in one fresh JVM.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--out FILE]

Builds the engine (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships in the Spark distribution, into
.bench_build/perfbench/, then runs one workload and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. The full per-run result
(ops, set-up, host stamp, failures, span self times) is written to --out,
by default under .bench_build/perfbench/results/; a traced run also writes
its spans to <out>.spans.jsonl. Everything it writes stays in the checkout.
"""
import argparse
import decimal
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["fixture_crawl", "tree_crawl", "resume_crawl", "frontier_wave", "dedup_queries"]
ORACLE_FILE = os.path.join(HERE, "oracle", "dedup_expected.json")
JVM_TIMEOUT_S = 170
# JVM settings for short, steady runs (perfbench/README.md, "Shape of a
# run"): the parallel collector, which runs no concurrent GC threads next to
# the local[N] task threads, and the C1 compiler only. Spark's code base keeps
# the C2 compiler busy for minutes, and op time followed how much C2 work
# happened to fall in each op; C1 is done compiling after the cold op.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1"]
# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark installation at $SPARK_HOME."""
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars_dir):
        fail("no Spark jars under $SPARK_HOME/jars (set SPARK_HOME)")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def sources():
    srcs = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            fail(f"missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(srcs)


def build(jars):
    """Compiles once per source state; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1500m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compile failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def heap_mb():
    """Half of physical memory, clamped to 2-4 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2048, min(4096, kb // 2048))
    except (OSError, StopIteration, ValueError):
        return 2048


def run_jvm(classes, jars, args, work, out):
    cp = os.pathsep.join([classes] + jars)
    cmd = (["java"] + JVM_FLAGS +
           ["-XX:-UsePerfData", f"-Xmx{heap_mb()}m", "-Xss8m", f"-Djava.io.tmpdir={work}",
            "-Dderby.system.home=" + work] + ADD_OPENS +
           ["-cp", cp, "perfbench.PerfBench", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out, "--commit", commit()])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log) as lf:
            print(lf.read()[-4000:], file=sys.stderr)
        fail(f"benchmark JVM exited with {p.returncode}")


def norm(v):
    """Normalises a DuckDB value for an order-free, float-tolerant compare."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        r = round(v, 5)
        return 0.0 if r == 0 else r
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def rows_digest(con, sql):
    """(row count, digest of the sorted normalised rows) of a DuckDB query."""
    rows = sorted((repr(norm(r)) for r in con.execute(sql).fetchall()))
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:24]


def dedup_tables(con, data_dir):
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}/*.parquet')")


def oracle_check(work):
    """The inputs and each query output the warm-up pass wrote must equal
    those recorded with the DuckDB oracle results (make_oracle.py)."""
    import duckdb
    with open(ORACLE_FILE) as f:
        expected = json.load(f)
    con = duckdb.connect()
    dedup_tables(con, os.path.join(work, "data"))
    failures = []
    for t in ("documents", "embeddings"):
        if list(rows_digest(con, f"SELECT * FROM {t}")) != expected["inputs"][t]:
            failures.append(f"input table {t} differs from the one the oracle used")
    for q, want in sorted(expected["queries"].items()):
        path = os.path.join(work, "query_out", q)
        if not os.path.isdir(path):
            failures.append(f"{q}: no output written")
            continue
        got = rows_digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        if list(got) != want:
            failures.append(f"{q}: output ({got[0]} rows) differs from its DuckDB oracle "
                            f"({want[0]} rows)")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="file for the full per-run result")
    args = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.abspath(args.out or os.path.join(
        BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"))
    os.makedirs(os.path.dirname(out), exist_ok=True)
    try:
        run_jvm(classes, jars, args, work, out)
        with open(out) as f:
            res = json.load(f)
        if args.workload == "dedup_queries":
            bad = oracle_check(work)
            res["failures"] += bad
            # the dumped outputs are the first pass's: one op
            res["failed"] = min(res["attempted"], res["failed"] + (1 if bad else 0))
            res["correct"] = res["correct"] and not bad
            with open(out, "w") as f:
                json.dump(res, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for msg in res["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
