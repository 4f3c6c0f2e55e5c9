#!/usr/bin/env python3
"""Runs one benchmark workload of the OHLCV pipeline and prints its result.

Usage (from the repository root):
    python3 perfbench/run.py --workload rest_live --seed 1 --seconds 5 --trace 0

Builds the program and the harness with the repository's own sbt build
(offline, the tier-1 settings) on first use, then starts one JVM that
runs the workload. All scratch data goes to a temporary directory under
`.bench_build/` that is removed when the run ends. The last line of
standard output is the result JSON; the line before it records the host.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("rest_live", "query_suite")
CORES = 2  # Spark's local[N], pinned so every host runs the same plans
RUN_LIMIT_S = 170  # a run must end within 180 s, its build aside
BUILD_LIMIT_S = 850

# Spark 4 on JDK 17 outside spark-submit: the repository's javaOptions
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the tier-1 sbt settings: offline, through the toolchain's repository list
SBT_OPTS_DEFAULT = ("-Dsbt.override.build.repos=true "
                    f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                    "-Dsbt.offline=true -Xmx4g")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def stop(proc):
    """Kills a child's whole process group if it still runs, and waits."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def sources():
    """Every file the build reads: the program's build and main sources,
    and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compiles on first use, or when a source changed; returns the
    harness's runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} next to the benchmark: nothing to build")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", SBT_OPTS_DEFAULT)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        die("build exceeded its time limit")
    finally:
        stop(p)
    lines = [ln for ln in out.splitlines() if ln.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def heap():
    """The tier-1 rule: half the host's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_times():
    """(steal, total) jiffies of all CPUs, to tell a slow host from a slow run."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return 0, 0


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)  # full precision
    return repr(v)


def oracle_check(check_dir):
    """Compares the answers `query_suite` wrote under `check_dir` with
    each query's oracle SQL run by DuckDB over the same events table:
    same column names and, as a sorted multiset, the same rows with
    exact values. Returns the failures."""
    try:
        import duckdb
    except ImportError:
        die("duckdb is not installed: the query answers cannot be checked")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{check_dir}/events.parquet'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    fails = []
    for name, sql in sorted(oracles.items()):
        try:
            got = con.execute(f"SELECT * FROM '{check_dir}/{name}/*.parquet'")
            got_rows, got_cols = got.fetchall(), [d[0] for d in got.description]
            exp = con.execute(sql)
            exp_rows, exp_cols = exp.fetchall(), [d[0] for d in exp.description]
        except duckdb.Error as e:
            fails.append(f"{name}: {e}")
            continue
        if sorted(got_cols) != sorted(exp_cols):
            fails.append(f"{name}: columns {sorted(got_cols)}, oracle {sorted(exp_cols)}")
            continue

        def key(rows, cols):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(tuple(canon(r[i]) for i in order) for r in rows)
        g, e = key(got_rows, got_cols), key(exp_rows, exp_cols)
        if g != e:
            bad = next((i for i, (a, b) in enumerate(zip(g, e)) if a != b), min(len(g), len(e)))
            fails.append(f"{name}: {len(g)} rows, oracle {len(e)}; first difference at row {bad}")
    if not oracles:
        fails.append("no oracle to compare with")
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()

    tmp = os.path.join(BUILD, "tmp", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    xmx = heap()
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{xmx}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}/spark-local", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
        tmp, os.path.join(BUILD, "trace"), str(CORES)]
    # the program's tuning variables would change what is measured
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    steal0, total0 = cpu_times()
    proc = subprocess.Popen(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            die("run exceeded its time limit")
        finally:
            stop(proc)
        result = None
        for ln in out.splitlines():
            if ln.startswith("{\"correct\""):
                result = json.loads(ln)
        if proc.returncode != 0 or result is None:
            sys.stderr.write(out[-4000:])
            die(f"workload exited with code {proc.returncode} and no result")
        if a.workload == "query_suite" and result["correct"]:
            fails = oracle_check(os.path.join(tmp, "check"))
            for f in fails:
                print(f"perfbench: WRONG ANSWER: {f}", file=sys.stderr)
            if fails:
                result = {"correct": False, "attempted": result["attempted"], "failed": 0, "metrics": {}}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    steal1, total1 = cpu_times()
    host = {"nproc": len(os.sched_getaffinity(0)), "spark_cores": CORES, "heap": xmx,
            "load1": os.getloadavg()[0],
            "cpu_steal_pct": round(100 * (steal1 - steal0) / max(1, total1 - total0), 2),
            "workload": a.workload, "seed": a.seed}
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
