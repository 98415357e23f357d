#!/usr/bin/env python3
"""Wire-level serving benchmark for the SiriDB-on-Spark server.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload standalone --seed 1 --seconds 10 --trace 0

Builds the engine and the load generator from source with sbt (once per
source state), then runs one workload in a fresh JVM: seeded inputs,
set-up, a timed closed-loop window over CPROTO/HTTP, correctness checks.
The last stdout line is the result JSON; the same JSON is written to
perfbench/results/<workload>-seed<seed>-trace<0|1>.json, with sample
counts and failures beside it in ...-detail.json. Exit code 0 only when
every correctness check passed.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# a copy of the sf0.1 `events` table; the base store is built from it
DATA = os.path.join(BENCH, "data", "sf0.1")
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench.classpath")
MAIN_CLASS = os.path.join(TARGET, "scala-2.13", "classes", "graft", "perfbench", "Main.class")
STAMP_FILE = os.path.join(TARGET, "perfbench.stamp")
RESULTS = os.path.join(BENCH, "results")
WORKLOADS = ("standalone", "mixed_cluster")
RUN_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 300
BUILD_TIMEOUT_S = 420

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (same list as the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# the child process running now (sbt or the JVM), stopped with us
child = None


def stop_child(*_):
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sys.exit(1)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group, killed on timeout or when this
    script is stopped. Returns (exit code or None on timeout, stdout)."""
    global child
    child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)
    try:
        out, _ = child.communicate(timeout=timeout)
        return child.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        return None, None


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"), DATA]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark install found (set SPARK_HOME)")
    return jars


def build(jars):
    stamp = source_stamp()
    if all(map(os.path.exists, (CLASSPATH_FILE, STAMP_FILE, MAIN_CLASS))):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH_FILE) as cf:
                    return cf.read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    code, out = run_child(
        [sbt, "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = (out or "").splitlines()
    cp = [ln for ln in lines if ln.strip() and not ln.startswith("[")
          and os.pathsep in ln and ".jar" in ln]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp[-1].strip()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found; run from the root of a source checkout")

    jars = spark_jars()
    cp = build(jars)

    os.makedirs(RESULTS, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = os.path.join(RESULTS, tag + ".json")
    spans = os.path.join(RESULTS, tag + "-spans.jsonl")
    for f in (result, spans):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(BENCH, ".work", f"{tag}-{os.getpid()}")
    # the base store is built once per source state and copied per set-up
    with open(STAMP_FILE) as fh:
        stamp = fh.read().strip()
    cache_root = os.path.join(BENCH, ".cache")
    if os.path.isdir(cache_root):
        for old in os.listdir(cache_root):
            if old != stamp:
                shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    cache = os.path.join(cache_root, stamp)
    os.makedirs(cache, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx1536m", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", DATA, "--work", work, "--cache", cache, "--result", result]
    if a.trace:
        cmd += ["--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        if not os.path.isdir(os.path.join(
                cache, "cluster" if a.workload == "mixed_cluster" else "standalone")):
            # the bulk load runs in a JVM of its own, so that the measured
            # run starts as cold as every other
            code, _ = run_child(cmd + ["--prepare", "1"], PREPARE_TIMEOUT_S, cwd=work, env=env)
            if code != 0:
                fail(f"building the base store failed (exit {code})", 6)
        # JVM and Spark logs go to stderr; the table goes to our stdout
        code, _ = run_child(cmd, RUN_TIMEOUT_S, cwd=work, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    if not os.path.exists(result):
        fail(f"the run wrote no result (exit {code})", 5)
    with open(result) as fh:
        res = json.load(fh)
    if a.trace:
        report_overhead(a, tag)
    print(json.dumps(res))
    sys.exit(0 if code == 0 and res.get("correct") else 1)


def report_overhead(a, tag):
    """Tracing overhead: the traced run's end-to-end numbers against an
    untraced run of the same workload and seed, when one is on disk."""
    base = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace0-detail.json")
    traced = os.path.join(RESULTS, tag + "-detail.json")
    if not os.path.exists(base):
        print(f"  tracing overhead: no untraced run of {a.workload} seed {a.seed} "
              "on disk; run it with --trace 0 to compare")
        return
    with open(base) as fh:
        b = json.load(fh)["end_to_end"]
    with open(traced) as fh:
        t = json.load(fh)["end_to_end"]
    print("  tracing overhead (traced vs untraced, same seed):")
    for k in ("select_p50_ms", "meta_p50_ms", "query_rps", "insert_p50_ms",
              "insert_points_per_s"):
        if k in b and k in t and b[k]["value"]:
            d = (t[k]["value"] - b[k]["value"]) / b[k]["value"] * 100
            print(f"    {k:<24} {b[k]['value']:12.3f} -> {t[k]['value']:12.3f}  ({d:+.1f}%)")


if __name__ == "__main__":
    main()
