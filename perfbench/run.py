#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source when the sources
changed, runs the benchmark in one JVM with the engine's own JVM options
(the input is the vendored sf0.01 fixture, or a corpus the JVM derives from
it with graft.ScaleUp under the seed), checks every op's result against its
DuckDB oracle, and prints one JSON object as the last line of standard
output. See perfbench/README.md for the workloads and metrics.
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
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
JAVA_OPTS = os.path.join(HERE, "target", "perfbench.javaopts")
FIXTURE = os.path.join(HERE, "data", "sf0.01")
# the engine's default heap (16g) is more than a small box has; this is the
# override build.sbt provides for it
DRIVER_MEM = "4g"

# workload -> op set and input (PerfBench.scala `families`)
WORKLOADS = {"tpch_sf0.01": "tpch", "curation_1k": "curation"}
RUN_LIMIT_S = 170  # a run after the build must end within this

END_TO_END = ["setup_s", "ops_per_s"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_files():
    out = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build():
    """Compile the engine and the benchmark with sbt unless the last build used these
    sources; leaves the runtime classpath in CLASSPATH and the engine's JVM options in
    JAVA_OPTS."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(JAVA_OPTS) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building the engine and the benchmark with sbt")
    for f in (CLASSPATH, JAVA_OPTS):
        if os.path.exists(f):
            os.remove(f)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbenchExport"], cwd=HERE,
                       env=env, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(JAVA_OPTS):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def engine_java_opts():
    """The engine's JVM options without their shuffle directory, and that directory
    (tmpfs where the box has one)."""
    opts = open(JAVA_OPTS).read().splitlines()
    local = [o.split("=", 1)[1] for o in opts if o.startswith("-Dspark.local.dir=")]
    return [o for o in opts if not o.startswith("-Dspark.local.dir=")], (local or ["/tmp"])[-1]


def oracle_failures(result, work):
    """Compare each op's first result with its oracle SQL in DuckDB; return
    the number of op executions whose output mismatched."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES, cmp_frames  # the repo's correctness comparator
    import duckdb
    import pandas as pd

    data = result["input_dir"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")  # a file, or a directory Spark wrote
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}{'/*.parquet' if os.path.isdir(p) else ''}'")
    out = os.path.join(work, "out")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = 0
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            probs = cmp_frames(name, spark_df, con.sql(sql).df())
        except Exception as e:  # a broken oracle run is a failed check
            probs = [f"oracle error: {str(e).splitlines()[0]}"]
        if probs:
            log(f"oracle mismatch {name}: " + "; ".join(probs[:3]))
            bad += result["runs_per_op"].get(name, 1)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a TERM from outside unwinds through the finally that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        fail("run from a checkout of the repository: engine sources or tools/check.py missing")
    build()
    t0 = time.time()

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    # the engine's JVM options, with the temporary and warehouse directories
    # in the work directory and the shuffle directory narrowed to a
    # subdirectory of the engine's that this run removes
    opts, shuffle_root = engine_java_opts()
    local_dir = os.path.join(shuffle_root, f"perfbench-{os.getpid()}")
    cmd = ["java", *opts, f"-Dspark.local.dir={local_dir}", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", "-XX:-UsePerfData",
           "-cp", ":".join(open(CLASSPATH).read().splitlines()), "graft.perfbench.PerfBench",
           WORKLOADS[a.workload], str(a.seed), str(a.seconds), str(a.trace), FIXTURE, work]
    jvm_log = os.path.join(work, "jvm.log")
    artifacts = os.path.join(work, "artifact_dir")
    # graft.ScaleUp sizes its session from SPARK_GRAFT_CPUS
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(jvm_log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S - (time.time() - t0))
        except subprocess.TimeoutExpired:
            rc = -1
        finally:
            proc.kill()
            proc.wait()
            shutil.rmtree(local_dir, ignore_errors=True)
            if os.path.exists(artifacts):
                shutil.rmtree(open(artifacts).read(), ignore_errors=True)
    if rc != 0:
        with open(jvm_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}")

    log(f"JVM done at {time.time() - t0:.1f} s")
    result = json.load(open(os.path.join(work, "result.json")))
    for e in result["errors"]:
        log(e)
    failed = result["failed"] + oracle_failures(result, work)
    log(f"oracle check done at {time.time() - t0:.1f} s")
    attempted = result["attempted"]
    metrics = result["metrics"]
    if a.trace:
        metrics["ops.fail_frac"] = {"value": failed / attempted, "unit": "ratio"}
    want = END_TO_END if a.trace == 0 else [k for k in metrics if k not in END_TO_END]

    print(f"workload {a.workload}: seed {a.seed}, {result['passes']} timed passes, "
          f"{result['timed_ops']} timed ops")
    print(f"host: steal {result['host_steal_s']:.2f} s over the timed section, "
          f"loadavg {result['host_loadavg']:.2f}")
    for k in want:
        print(f"{k} = {metrics[k]['value']:.6g} {metrics[k]['unit']}")
    print(f"fail_frac = {failed / attempted:.6g} ({failed} of {attempted} op executions)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: metrics[k] for k in want}}))


if __name__ == "__main__":
    main()
