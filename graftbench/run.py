#!/usr/bin/env python3
"""Benchmark entry point.

    python3 graftbench/run.py --workload road_paths --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark with sbt and caches the runtime classpath under .bench_build/;
later runs start the JVM directly. The JVM drives one workload and checks
every result; this script then compares the oracled sf0.1 query results
with DuckDB and prints the result as the last line of standard output.
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
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
TMP = os.path.join(ROOT, ".bench_build", "tmp")
SF = os.path.join(BENCH, "data", "sf0.1")
WORKLOADS = ("road_paths", "sf01")
# A run must end within 180 s, or 900 s when it builds first.
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 890
# Spark needs these module openings when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True,
                         text=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath, compiling first when any source changed."""
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={TMP} -XX:-UsePerfData"
    os.makedirs(TMP, exist_ok=True)
    t0 = time.time()
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"],
                        BUILD_RUN_LIMIT_S - 200, cwd=BENCH, env=env)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        log(f"build failed (exit {rc})")
        sys.exit(1)
    cp = [ln for ln in out.splitlines()
          if ln.endswith(".jar") or "/classes" in ln and not ln.startswith("[")]
    if not cp:
        log("build printed no classpath")
        sys.exit(1)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1]


def norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same_cell(a, b):
    if hasattr(a, "item"):
        a = a.item()
    if hasattr(b, "item"):
        b = b.item()
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def duckdb_check(outputs):
    """Each written sf0.1 result against the registry's oracle SQL run by
    DuckDB on the same parquet tables: same columns, same row count, every
    cell equal (floats to 1e-9 relative). Returns the failing names."""
    if not outputs:
        return []
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(SF)):
        t = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF, f)}'")
    bad = []
    for o in outputs:
        try:
            got = norm(con.execute(
                f"SELECT * FROM '{o['path']}/*.parquet'").df())
            want = norm(con.execute(o["sql"]).df())
            ok = list(got.columns) == list(want.columns) and \
                len(got) == len(want) and all(
                    same_cell(a, b)
                    for ga, wa in zip(got.to_numpy(), want.to_numpy())
                    for a, b in zip(ga, wa))
        except Exception as e:  # a failed comparison is a failed check
            log(f"oracle {o['name']}: {e}")
            ok = False
        if not ok:
            bad.append(o["name"])
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}/src/main/scala")
        sys.exit(2)
    built_before = os.path.exists(os.path.join(BUILD, "classpath.txt"))
    cp = classpath()
    limit = RUN_LIMIT_S if built_before else BUILD_RUN_LIMIT_S
    with open(os.path.join(BENCH, "pools.json")) as f:
        pools = json.load(f)
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{a.workload}-{a.seed}-{a.trace}")
    for d in (work, TMP):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(TMP)
    cores = min(4, os.cpu_count() or 1)
    # A fixed-size heap and the throughput collector: no heap resizing and
    # no concurrent GC threads competing with the timed operations.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={TMP}",
            f"-Dspark.local.dir={TMP}",
            f"-Dspark.sql.warehouse.dir={os.path.join(TMP, 'warehouse')}",
            "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--sf", SF, "--cores", str(cores),
            "--pool", ",".join(pools["sf01"])]
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=TMP)
    # leave time for the DuckDB check after the JVM
    budget = limit - 15 - (time.time() - t_start)
    rc, out = run_group(cmd, budget, cwd=TMP, env=env)
    lines = out.strip().splitlines()
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if rc != 0 or not lines:
        log(f"benchmark JVM failed (exit {rc})")
        sys.exit(1)
    res = json.loads(lines[-1])
    outputs = res.pop("oracle")
    bad = duckdb_check(outputs)
    for name in bad:
        log(f"FAILED oracle {name}")
    res["attempted"] += len(outputs)
    res["failed"] += len(bad)
    res["correct"] = res["failed"] == 0
    print(json.dumps(res))


if __name__ == "__main__":
    main()
