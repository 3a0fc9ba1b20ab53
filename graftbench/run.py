#!/usr/bin/env python3
"""Build graft from this checkout and run one benchmark workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run compiles graft's
sources together with the benchmark (sbt, offline); later runs of the
same sources reuse the build. The last line of stdout is the result:
one JSON object with the keys correct, attempted, failed and metrics.
Details of the run (seed, sizes, session settings, SIMD state, latency
percentiles per operation, failures, spans) go to graftbench/out/.
"""
import argparse
import fcntl
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
WORKLOADS = ["ann_serve", "dedup_curate"]
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
BUILD_LIMIT_S = 840
RUN_LIMIT_S = 170

JAVA_OPTS = [
    "--add-modules=jdk.incubator.vector",
    "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false",
] + [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, f) for f in ("build.sbt", ".jvmopts", "project/build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def read(path):
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return None


def build():
    """compiles unless the sources match the last build; one build at a time"""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if read(STAMP) == stamp and read(CLASSPATH):
            return
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        # no JVM of the build writes its perf data to /tmp
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.isfile(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                               "-Dsbt.repository.config=" + repos)
        tmp = os.path.join(TARGET, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # sbt's own scratch files stay inside the checkout too
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               "-Dsbt.global.base=" + os.path.join(TARGET, "sbt-global"),
               "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp,
               "compile", "writeClasspath"]
        log("building: " + " ".join(cmd))
        t0 = time.time()
        env["TMPDIR"] = tmp
        rc = run_bounded(cmd, BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr)[0]
        if rc != 0:
            log("build failed (exit %s)" % rc)
            sys.exit(3)
        with open(STAMP, "w") as fh:
            fh.write(stamp)
        log("built in %.1f s" % (time.time() - t0))


def run_bounded(cmd, limit_s, **kw):
    """runs cmd in its own process group; kills the group past limit_s"""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        log("%s exceeded %d s, killed" % (cmd[0], limit_s))
        return 124, None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("no graft sources at %s: run from the root of a graft checkout" % ROOT)
        sys.exit(2)
    build()

    start = time.time()
    work = os.path.join(HERE, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(HERE, "out", "%s_seed%d_trace%d.json" % (a.workload, a.seed, a.trace))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JAVA_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                                "-cp", read(CLASSPATH), "graftbench.Main",
                                "--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--work", work, "--out", out]
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"))
    rc, stdout = run_bounded(cmd, RUN_LIMIT_S - (time.time() - start), cwd=ROOT, env=env,
                             stdout=subprocess.PIPE)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        log("benchmark exited with %s" % rc)
        sys.exit(rc if rc > 0 else 1)
    lines = [l for l in stdout.decode().splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log("no result line in the benchmark's output")
        sys.exit(1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
