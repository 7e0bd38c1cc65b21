#!/usr/bin/env python3
"""Closed-loop benchmark of the reference pipeline and the operator registry.

Run from the repository root:

    python3 epochbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine sources (src/main/scala) together with the
harness (epochbench/src) with sbt; later runs reuse the build while the
sources are unchanged. Inputs are generated from the seed under
.epochbench/ and removed afterwards. The last line of standard output is
one JSON object: correct, attempted, failed and metrics (end-to-end with
--trace 0, per-layer with --trace 1). The line before it holds the raw
per-pass readings.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "epochbench.stamp")
ORACLE_SQL = os.path.join(BENCH, "target", "oracle_sql.json")
WORKLOADS = ("meter_upsample", "registry_events")
HEAP = "3g"
RUN_LIMIT_S = 170
# Scale factor of the generated events table: 6,000 rows, 90 users (oracle.py
# has the per-unit figures of the repository's test data)
REGISTRY_SF = 0.006

# Spark on JDK 17 outside spark-submit needs these (the list Spark's
# launcher adds, as in the repository's build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(message):
    print(f"epochbench: {message}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    tops = [ENGINE, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(ENGINE):
        fail(f"engine sources not found at {os.path.relpath(ENGINE)}; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name a Spark distribution")
    digest = source_digest()
    if all(map(os.path.exists, (CLASSES, ORACLE_SQL, STAMP))) and open(STAMP).read() == digest:
        return
    started = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    if run_jvm(java(["--oracle-sql", ORACLE_SQL], tmp), dict(os.environ), 120) is None:
        fail("could not read the registry's oracle SQL")
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"epochbench: built in {time.time() - started:.1f} s", file=sys.stderr)


def java(args, tmp):
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    classpath = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    return [exe, f"-Xms{HEAP}", f"-Xmx{HEAP}", *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "epochbench.Main", *args]


def run_jvm(cmd, env, limit_s):
    """Run the JVM; return its stdout lines, or None if it failed."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=sys.stderr, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"epochbench: run exceeded {limit_s:.0f} s", file=sys.stderr)
        return None
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        print(f"epochbench: run exited with {proc.returncode}", file=sys.stderr)
        return None
    return out.splitlines()


def registry_inputs(work, seed):
    """Seeded events table plus each key's oracle hash; returns JVM args."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, BENCH)
    import oracle
    tables = os.path.join(work, "tables")
    os.makedirs(tables)
    oracle.generate_events(os.path.join(tables, "events.parquet"), seed, REGISTRY_SF)
    with open(ORACLE_SQL) as f:
        hashes = oracle.oracle_hashes(tables, json.load(f))
    expect = os.path.join(work, "expected.json")
    with open(expect, "w") as f:
        json.dump(hashes, f)
    return ["--inputs", tables, "--expect", expect]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is killed and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    work = os.path.join(ROOT, ".epochbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        started = time.time()
        extra = registry_inputs(work, a.seed) if a.workload == "registry_events" else []
        pre_s = time.time() - started
        if extra:
            print(f"epochbench: inputs and oracle hashes took {pre_s:.1f} s", file=sys.stderr)
        lines = run_jvm(java(["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--work", work, *extra], os.path.join(work, "tmp")),
                        env, RUN_LIMIT_S - pre_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if not lines:
        fail("no result")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("the last output line is not a JSON result")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
