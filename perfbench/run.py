#!/usr/bin/env python3
"""KG-construction benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload cc_head --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout of the repository. The first run
compiles the program with the repository's own `sbt compile`, then the
benchmark's Scala sources (perfbench/src) against the program's classes and
the classpath sbt resolves, into `.bench_build/`. Every input is generated
from the seed inside `.bench_build/work-*`, which is removed afterwards.

Workloads (why each was chosen is written beside its definition):
  cc_head  perfbench/src/perfbench/CcHead.scala
  queries  perfbench/src/perfbench/Queries.scala

With `--trace 0` the last line holds the end-to-end metrics; with
`--trace 1` the per-layer metrics, after the traced run's profile (stage
spans against `_lineage`, self time by module). Metric names and units are
listed in BENCHMARK.json.
"""
import argparse
import fcntl
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import tables  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, os.path.join(ROOT, "tools"))  # check_verify, imported late
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# the JVM options build.sbt gives forked runs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def program_present():
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "build.sbt", "src/main/scala/graft/Pipeline.scala",
        "src/main/scala/graft/SparkEntry.scala"))


def sources_digest():
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties"]
    for base in ("src/main", os.path.relpath(os.path.join(HERE, "src"), ROOT)):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    for f in sorted(files):
        p = os.path.join(ROOT, f)
        if os.path.isfile(p):
            h.update(f.encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


_children = set()


def _stop_children(signum, _frame):
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; the group is
    killed on timeout, or when this process is told to stop."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.add(proc.pid)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        _children.discard(proc.pid)
    return proc.returncode, out


def build():
    """Compiles the program and the benchmark once per source state."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        stamp = os.path.join(BUILD, "stamp")
        if os.path.isfile(stamp) and open(stamp).read() == digest:
            return
        env = dict(os.environ, COURSIER_MODE="offline")
        if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
            opts = ["-Dsbt.offline=true"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.isfile(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts)
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
            stderr=sys.stderr, text=True)
        lines = [ln for ln in out.splitlines()
                 if ln and not ln.startswith("[") and ".jar" in ln]
        if code != 0 or not lines:
            sys.stderr.write(out)
            fail("sbt compile failed")
        classpath = lines[-1].strip()
        classes = os.path.join(BUILD, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        srcs = sorted(glob.glob(os.path.join(HERE, "src", "perfbench", "*.scala")))
        code, _ = run_group(
            ["java", "-cp", classpath, "scala.tools.nsc.Main", "-usejavacp",
             "-d", classes] + srcs,
            BUILD_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        if code != 0:
            fail("benchmark compile failed")
        with open(os.path.join(BUILD, "classpath"), "w") as fh:
            fh.write(classes + os.pathsep + classpath)
        with open(stamp, "w") as fh:
            fh.write(digest)


# the `queries` tables, as shares of sf0.1's rows (see tables.py): the
# warm-up pass's and the timed passes'
WARM_FRACTION = 0.01
BASE_FRACTION = 0.1


def _canon(cur):
    """A DuckDB result in tools/check_verify.py's canonical form."""
    import check_verify
    return check_verify.canon(cur.fetchall(), [d[0] for d in cur.description])


def check_queries(work):
    """Compares every query output listed in checks.txt with its oracle;
    returns the number that differ."""
    path = os.path.join(work, "out", "checks.txt")
    if not os.path.isfile(path):
        return 0
    oracles = json.load(open(os.path.join(work, "oracles.json")))
    import duckdb
    import check_verify
    bad, cons = 0, {}
    for line in open(path):
        name, tdir, out = line.rstrip("\n").split("\t")
        if tdir not in cons:
            con = duckdb.connect()
            con.execute("SET threads = 2")
            for t in check_verify.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(tdir, t)}.parquet')")
            cons[tdir] = con
        con = cons[tdir]
        try:
            got = _canon(con.execute(
                f"SELECT * FROM read_parquet('{out}/*.parquet')"))
            exp = _canon(con.execute(oracles[name]))
        except Exception as e:  # an unreadable output fails the query
            got, exp = None, e
        if got != exp:
            bad += 1
            print(f"perfbench: query {name} over {os.path.basename(tdir)} "
                  "differs from its oracle", file=sys.stderr)
    for con in cons.values():
        con.close()
    return bad


def make_tables(root, seed, name, fraction):
    """Seeded query tables in `<root>/<name>`; returns the seconds taken."""
    t0 = time.monotonic()
    tables.write(os.path.join(root, name), seed, fraction)
    return time.monotonic() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cc_head", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    if not program_present():
        fail(f"no program to measure in {ROOT} (build.sbt and src/main/scala)")
    build()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    t_start = time.monotonic()
    work = os.path.join(BUILD, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # the small tables of the warm-up pass (and of the ops-layer pass in
        # a traced run of cc_head), and the tables of the timed passes
        pre_setup = 0.0
        tdir = os.path.join(work, "tables")
        if a.workload == "queries":
            pre_setup = (make_tables(tdir, a.seed, "warm", WARM_FRACTION)
                         + make_tables(tdir, a.seed, "base", BASE_FRACTION))
        elif a.trace:
            make_tables(tdir, a.seed, "warm", WARM_FRACTION)
        classpath = open(os.path.join(BUILD, "classpath")).read()
        mem = os.environ.get("SPARK_DRIVER_MEM", "4g")
        cmd = (["java"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-XX:+UseParallelGC", f"-Xmx{mem}", "-Duser.timezone=UTC",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--pre-setup-s", repr(pre_setup)])
        left = RUN_TIMEOUT_S - (time.monotonic() - t_start)
        code, _ = run_group(cmd, left, cwd=work, stdout=sys.stderr,
                            stderr=sys.stderr)
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            fail(f"workload {a.workload} exited with code {code}")
        res = json.load(open(result_path))
        failed = res["failed"] + check_queries(work)
        profile = os.path.join(work, "profile.txt")
        if os.path.isfile(profile):
            sys.stdout.write(open(profile).read())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"workload {a.workload} did not report {missing}")
    metrics = {m["name"]: res["metrics"][m["name"]] for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
