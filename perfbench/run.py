#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest_compact|batch \
        --seed N --seconds S --trace 0|1 [--size full|tiny] [--wrong-expected]

Run from the root of a source checkout. The first run builds the engine
(`sbt compile` at the root) and the benchmark package (`sbt compile`
here); later runs reuse the build while the sources are unchanged. Each
run launches one benchmark JVM (perfbench.Main), checks `batch` results
against the DuckDB oracle, and prints, as its last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The lines before it carry the run's conditions and the named per-workload
figures. Exits non-zero, without a result line, when the run cannot be
made (no sources, a failed build, a crashed or overdue JVM).

`--size tiny` shrinks every input for smoke tests; `--wrong-expected`
perturbs one expected value, so the run must report a failure.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD_STAMP = os.path.join(BENCH, ".build-stamp")
ORACLE_CACHE = os.path.join(BENCH, ".oracle-cache")
# `sbt compile` does not copy resources into the classes directory, and
# the engine's DSv2 source (format "graft") is registered by a service
# file among them, so the run puts them on the classpath itself.
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
WORKLOADS = ("serve", "ingest_compact", "batch")
XMX = "4g"
# A fixed young generation: G1 otherwise sizes eden from the heap and its
# pause history, and the pages eden touches, not the program's demand,
# would set the peak RSS. With it, heap growth beyond eden follows what
# the run retains.
XMN = "512m"
# A run must end within 180 s of its start (the build excepted).
RUN_BUDGET_S = 170
BUILD_TIMEOUT_S = 800
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the engine's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class RunError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RunError("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_process(cmd, cwd, env, timeout_s, stdout):
    """Run `cmd` in its own process group; kill the group on overrun."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, timeout_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RunError(f"{cmd[0]} overran {timeout_s:.0f}s and was killed")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(jars):
    """Compile the engine and the benchmark unless the sources are unchanged."""
    stamp = source_stamp()
    classes = [os.path.join(ROOT, "target", "scala-2.13", "classes"),
               os.path.join(BENCH, "target", "scala-2.13", "classes")]
    if (os.path.exists(BUILD_STAMP) and open(BUILD_STAMP).read() == stamp
            and all(os.path.isdir(c) for c in classes)):
        return classes
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    for cwd in (ROOT, BENCH):
        log(f"building {os.path.relpath(cwd, ROOT) if cwd != ROOT else 'engine'}")
        code = run_process(["sbt", "-batch", "compile"], cwd, env,
                           BUILD_TIMEOUT_S - (time.time() - t0), sys.stderr)
        if code != 0:
            raise RunError(f"build failed in {cwd} (exit {code})")
    with open(BUILD_STAMP, "w") as f:
        f.write(stamp)
    return classes


def cpu_times():
    """Aggregate (total, steal) jiffies from /proc/stat; None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, IndexError, ValueError):
        return None


def classpath(classes, jars):
    return ":".join(list(reversed(classes)) + [RESOURCES, os.path.join(jars, "*")])


def run_jvm(args, classes, jars, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{XMX}", f"-Xmn{XMN}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath(classes, jars),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--sf", SF_DIR]
    if args.size == "tiny":
        cmd.append("--tiny")
    if args.wrong_expected:
        cmd.append("--wrong-expected")
    code = run_process(cmd, ROOT, os.environ, deadline - time.time(), sys.stderr)
    if code != 0 or not os.path.exists(out):
        raise RunError(f"benchmark JVM exited with code {code}")
    with open(out) as f:
        return json.load(f)


# -- batch oracle check: the same comparison as tools/check_oracle.py --

def canon(rel):
    """Columns sorted by name; rows as sorted reprs, floats to 9 places."""
    cols = sorted(rel.columns)
    df = rel.df()[cols]
    rows = []
    for r in df.itertuples(index=False):
        rows.append(tuple(round(v, 9) if isinstance(v, float) else
                          (tuple(v) if hasattr(v, "__iter__") and not isinstance(v, str) else v)
                          for v in r))
    return cols, sorted(map(repr, rows))


def digest(cols, rows):
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def duck(sf):
    import duckdb
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle_hashes(sf, sqls):
    """The DuckDB oracle's result hash per query, cached per (tables, SQL)."""
    h = hashlib.sha256(os.path.realpath(sf).encode())
    for name in sorted(os.listdir(sf)):
        st = os.stat(os.path.join(sf, name))
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    tables = h.hexdigest()[:16]
    os.makedirs(ORACLE_CACHE, exist_ok=True)
    out, con = {}, None
    for name, sql in sqls.items():
        key = hashlib.sha256(f"{tables}\n{sql}".encode()).hexdigest()[:32]
        path = os.path.join(ORACLE_CACHE, f"{name}-{key}.json")
        if not os.path.exists(path):
            con = con or duck(sf)
            cols, rows = canon(con.sql(sql))
            with open(path + ".tmp", "w") as f:
                json.dump({"hash": digest(cols, rows), "rows": len(rows)}, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            out[name] = json.load(f)["hash"]
    return out


def check_batch(work, checks, wrong_expected):
    """Number of batch results whose hash differs from the oracle's."""
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sqls = json.load(f)
    expected = oracle_hashes(SF_DIR, sqls)
    if wrong_expected:
        first = sorted(expected)[0]
        expected[first] = "0" * 64
    con, failed = duck(SF_DIR), 0
    for key, d in checks.items():
        name = key.split("@")[0]
        try:
            got = digest(*canon(con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')")))
        except Exception as e:  # an unreadable result is a wrong result
            got = f"error: {e}"
        if got != expected[name]:
            failed += 1
            log(f"FAILED: {key} differs from the DuckDB oracle")
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--wrong-expected", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise RunError(f"no engine sources at {ROOT}: run from a source checkout")
    jars = spark_jars()
    classes = build(jars)
    deadline = time.time() + RUN_BUDGET_S

    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0, cpu0 = time.time(), cpu_times()
        res = run_jvm(args, classes, jars, work, deadline)
        cpu1 = cpu_times()
        if cpu0 and cpu1 and cpu1[0] > cpu0[0]:
            # CPU time the hypervisor gave to other guests during the run
            res["conditions"]["steal_share"] = str((cpu1[1] - cpu0[1]) / (cpu1[0] - cpu0[0]))
        attempted, failed = int(res["attempted"]), int(res["failed"])
        t1 = time.time()
        if res["oracle_checks"]:
            failed += check_batch(work, res["oracle_checks"], args.wrong_expected)
        log(f"JVM {t1 - t0:.1f}s, oracle check {time.time() - t1:.1f}s")
        keep = os.path.join(WORK, "results")
        os.makedirs(keep, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}" + (
            "-tiny" if args.size == "tiny" else "")
        with open(os.path.join(keep, stem + ".json"), "w") as f:
            json.dump(dict(res, failed=failed), f, indent=1)
        spans = os.path.join(work, "trace-spans.json")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(keep, stem + "-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["layers"] if args.trace else res["end_to_end"]
    bad = [k for k, v in metrics.items()
           if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if bad:
        raise RunError(f"metrics without a value: {', '.join(bad)}")
    named = dict(res["named"], failed_frac={
        "value": failed / max(1, attempted), "unit": "ratio"})
    print("perfbench conditions: " + json.dumps(res["conditions"]))
    print("perfbench named metrics: " + json.dumps(named))
    for msg in res["failures"]:
        log(f"failure: {msg}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def on_term(signum, frame):
    # run_process kills the child's process group on the way out
    raise RunError(f"terminated by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_term)
    try:
        main()
    except RunError as e:
        log(f"error: {e}")
        sys.exit(1)
