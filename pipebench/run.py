#!/usr/bin/env python3
"""Pipeline benchmark: raw -> bronze -> CDF -> silver -> gold.

Run from the root of a checkout:

    python3 pipebench/run.py --workload corrections --seed 1 --seconds 10 --trace 0

Builds the program together with the benchmark from source (sbt, offline)
when the sources changed, runs one workload in a fresh JVM, and prints the
result as the last line of standard output:

    {"correct": true, "attempted": 21, "failed": 0, "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
and writes a span file. Artifacts land in pipebench/out/. Extra options
are passed to the benchmark process: `--scale toy` shrinks every workload
to about 20 symbols x 10 days, `--drop-silver-row true` removes one silver
row from the output check's input (which must then fail).
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "pipebench.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175

JAVA_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg, code=2):
    print("pipebench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def fingerprint():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src"),
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


def run(cmd, timeout, **kw):
    """Runs cmd in its own process group. The group is killed, and waited
    for, when the time runs out or this script is interrupted."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail("timed out after %d s: %s" % (timeout, " ".join(cmd[:3])), 1)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build(env):
    fp = fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return False
    env = dict(env)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    code, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "Compile/products"],
                  BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                  stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        fail("build failed", 1)
    with open(STAMP, "w") as f:
        f.write(fp)
    return True


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "corrections"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args, extra = ap.parse_known_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail("program sources not found under " + PROGRAM_SRC)
    env = dict(os.environ, SPARK_HOME=spark_home())
    built = build(env)

    tag = "%s-s%d-t%s" % (args.workload, args.seed, args.trace)
    work = os.path.join(BENCH, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cp = CLASSES + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*")
    cmd = (["java"] + [a for o in JAVA_OPENS for a in ("--add-opens", o)] +
           ["-Xmx3g", "-Djava.io.tmpdir=" + work,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "pipebench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", os.path.join(work, "state"),
            "--out", os.path.join(BENCH, "out"), "--git-sha", git_sha()] +
           extra)
    budget = (900 if built else RUN_TIMEOUT_S) - (time.monotonic() - t0)
    try:
        code, out = run(cmd, max(10, budget - 5), cwd=work, env=env,
                        stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                        text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            result = json.loads(lines[i])
            del lines[i]
            break
        except ValueError:
            continue
    for line in lines:
        print(line)
    if code != 0 or not isinstance(result, dict) or "metrics" not in result:
        fail("benchmark process failed (exit %d)" % code, code or 1)
    try:
        line = json.dumps(result, allow_nan=False)
    except ValueError:
        fail("result holds a non-finite metric", 1)
    print(line, flush=True)


if __name__ == "__main__":
    main()
