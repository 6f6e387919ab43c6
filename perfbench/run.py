#!/usr/bin/env python3
"""Build the engine with the benchmark, then run one workload in its own JVM.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The engine's sources (src/main/scala) and the benchmark's (perfbench/src) are
compiled together by perfbench/build.sbt into the build directory
($CARGO_TARGET_DIR, default .bench_build); the build is reused while no source or
build file changes. Each run writes its scratch tables under the build directory,
removes them when it ends, and keeps its full record (iterations, host anchor,
failed checks, and for traced runs every span and job) under <build>/results/.
The last stdout line is the result object; the exit code is non-zero when the run
failed, timed out, or any output check missed.
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
WORKLOADS = ("extract_flagship", "snapshot_maintain")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the engine build).
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


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout, or when
    this process is told to stop, and wait for it either way."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, "", ""
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return proc.returncode, out, err


def build(build_dir):
    """Compile engine + benchmark; return the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build takes Spark's jars from $SPARK_HOME/jars")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's own state and temporary files stay inside the build directory
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""),
        f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
        f"-Dsbt.ipcsocket.tmpdir={tmp}", "-Dsbt.server.autostart=false",
    ]).strip()
    t0 = time.time()
    code, out, err = run_bounded(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        tail = "\n".join(out.splitlines()[-40:])
        fail(f"build failed (exit {code}) after {time.time() - t0:.0f} s\n{tail}")
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    data = os.path.join(BENCH, "data", "documents.parquet")
    if not os.path.isfile(data):
        fail(f"missing base corpus {data}")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(build_dir, "runs", tag)
    results = os.path.join(build_dir, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.callstack.depth=80", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--data", data,
            "--results", os.path.join(results, f"{tag}.json")]
    log = os.path.join(results, f"{tag}.log")
    try:
        with open(log, "w") as err:
            code, out, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work,
                                       stdout=subprocess.PIPE, stderr=err,
                                       stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}", 3)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed",
                                                       "metrics"}:
        with open(log) as fh:
            tail = "".join(fh.readlines()[-30:])
        fail(f"run ended (exit {code}) without a result; log: {log}\n{tail}", 4)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
