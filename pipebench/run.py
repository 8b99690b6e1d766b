#!/usr/bin/env python3
"""Pipeline benchmark runner.

Usage (from the repository root):
  python3 pipebench/run.py --workload <refine_corpus|index_search|catalog>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with the Scala compiler that
ships in Spark's jars (once per checkout; rebuilt when a source is newer than
the build; sbt is not needed) together with a JVM class-data archive of the
classes the workloads load, runs one workload in a JVM,
checks the outputs, and prints one JSON line as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of metrics.json, the tracing overhead among them.

A record of the run (nproc, live session conf, seed, input sizes, host steal,
checks) is written to pipebench/.runs/. Everything the run writes stays under
pipebench/.
"""
import argparse
import fcntl
import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.realpath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
STATE = os.path.join(HERE, ".work")
JAR = os.path.join(STATE, "pipebench.jar")
# class-data archive: the classes a workload loads, mapped at JVM start
# instead of being loaded and verified again by every run
ARCHIVE = os.path.join(STATE, "classes.jsa")
JVM_TIMEOUT_S = 172
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, log=None):
    """Exits with code 2; the tail of `log` goes to stderr with the message."""
    if log and os.path.isfile(log):
        with open(log, errors="replace") as f:
            tail = f.readlines()[-40:]
        print(f"pipebench: --- last lines of {os.path.relpath(log, REPO)} ---", file=sys.stderr)
        sys.stderr.write("".join(tail))
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark installation's jars/ directory, which is the engine's whole
    classpath: $SPARK_HOME/jars, else the directory the repository's own
    build.sbt names as its unmanagedBase, else the jars/ of the first
    installation on the PATH (a directory with bin/spark-submit)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(REPO, "build.sbt")) as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if d and os.path.isfile(os.path.join(d, "spark-submit")):
            home = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
            candidates.append(os.path.join(home, "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    fail("no Spark installation found (tried SPARK_HOME, the repository's build.sbt and "
         f"spark-submit on the PATH: {candidates})")


def java_bin():
    """$JAVA_HOME/bin/java, else `java` on the PATH."""
    if os.environ.get("JAVA_HOME"):
        j = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.access(j, os.X_OK):
            return j
    return shutil.which("java") or fail("no java: set JAVA_HOME or put java on the PATH")


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                if f.endswith(".scala"):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(java, jars):
    """Compiles the engine and the harness into one jar with the Scala
    compiler that ships in Spark's jars (the version Spark itself is built
    with), then trains the class-data archive. Returns the runtime classpath.
    Skipped when the jar is newer than every source."""
    spark_cp = sorted(glob.glob(os.path.join(jars, "*.jar")))
    cp = os.pathsep.join([JAR] + spark_cp)
    sources = [ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")]
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(JAR) and os.path.getmtime(JAR) >= newest_mtime(sources):
            return cp
        tmp = os.path.join(STATE, "build-tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        files = sorted(os.path.join(d, f) for s in sources for d, _, fs in os.walk(s)
                       for f in fs if f.endswith(".scala"))
        with open(os.path.join(tmp, "sources.txt"), "w") as f:
            f.write("\n".join(f'"{p}"' for p in files))
        compiler = [j for j in spark_cp if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
        out = os.path.join(tmp, "pipebench.jar")
        log = os.path.join(STATE, "build.log")
        with open(log, "w") as f:
            try:
                code = subprocess.run(
                    [java, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                     "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
                     "-classpath", os.pathsep.join(spark_cp), "-d", out, "@" + os.path.join(tmp, "sources.txt")],
                    cwd=tmp, stdout=f, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                fail(f"compile timed out after {BUILD_TIMEOUT_S} s", log)
        if code != 0 or not os.path.isfile(out):
            fail(f"compile failed with exit code {code}", log)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        os.replace(out, JAR)
        shutil.rmtree(tmp, ignore_errors=True)
        train_archive(java, cp)
        return cp


def train_archive(java, cp):
    """Writes the class-data archive from one short run of every workload's
    warm-up. Without it runs still work, only with a slower JVM start."""
    work = os.path.join(STATE, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    code, _ = run_jvm(java, cp, ["--workload", "train", "--seed", "1", "--seconds", "1", "--trace", "0",
                                 "--work", work, "--out", os.path.join(work, "result.json")],
                      work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    shutil.rmtree(work, ignore_errors=True)


def run_jvm(java, cp, main_args, work, jvm_opts=()):
    """Runs pipebench.Main in `work`; returns (exit code, timed out)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # local mode only: bind to the loopback without resolving the host name
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    # -UsePerfData: the JVM would otherwise write its perf file under /tmp
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *jvm_opts]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "pipebench.Main", *main_args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return proc.returncode, True
    return proc.returncode, False


def oracle_counts(tables_dir, sql_by_query):
    """Row count of each query's DuckDB oracle over the generated tables."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(tables_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    counts = {}
    for q, sql in sorted(sql_by_query.items()):
        counts[q] = con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')}) AS oracle").fetchone()[0]
    con.close()
    return counts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.load(open(os.path.join(HERE, "metrics.json")))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail("engine sources not found next to the benchmark; run from a full checkout")

    if args.workload == "catalog":
        try:
            import duckdb  # noqa: F401  (the catalog's row-count oracle)
        except ImportError:
            fail(f"the catalog oracle needs the duckdb module, which {sys.executable} lacks")
    java = java_bin()
    cp = build(java, spark_jars())
    work = os.path.join(STATE, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    t0 = time.time()
    code, timed_out = run_jvm(
        java, cp, ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--work", work, "--out", out,
             "--catalog", os.path.join(HERE, "catalog.json")],
        work, [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else [])
    if timed_out:
        fail(f"workload timed out after {JVM_TIMEOUT_S} s", os.path.join(work, "jvm.log"))
    if code != 0 or not os.path.exists(out):
        fail(f"workload exited with {code} without a result", os.path.join(work, "jvm.log"))
    res = json.load(open(out))

    checks = dict(res["checks"])
    failures = list(res["failures"])
    failed = int(res["failed"])
    if args.workload == "catalog":
        expect = oracle_counts(os.path.join(work, "run", "tables"), res["oracle_sql"])
        bad = {q: (res["catalog_counts"].get(q), n) for q, n in expect.items()
               if res["catalog_counts"].get(q) != n}
        checks["catalog.rows_equal_duckdb_oracle"] = not bad
        failures += [f"oracle row count {q}: spark={s} duckdb={d}" for q, (s, d) in sorted(bad.items())]
        failed += len(bad)

    # every workload prints the whole per-layer set; a layer it does not
    # exercise reads 0
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            if not args.trace or args.workload in m["workloads"]:
                missing.append(m["name"])
            v = 0.0  # a layer this workload does not exercise
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        failures.append(f"metrics not measured: {missing}")
    if not args.trace:
        zero = [m for m, v in metrics.items() if not v["value"] > 0]
        if zero:
            failures.append(f"end-to-end metrics not positive: {zero}")
            missing += zero
    failed += sum(1 for ok in checks.values() if not ok)  # a failed check fails an operation
    correct = all(checks.values()) and failed == 0 and not missing and bool(checks)

    record = {k: res[k] for k in ("workload", "seed", "trace", "nproc", "steal_pct", "inputs", "conf")}
    record.update(checks=checks, failures=failures, wall_s=time.time() - t0,
                  attempted=res["attempted"], failed=failed, metrics=metrics)
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    with open(os.path.join(HERE, ".runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for line in failures:
        print(f"pipebench: {line}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": max(1, int(res["attempted"])),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
