#!/usr/bin/env python3
"""Run one workload of the CDC-consumer benchmark.

    python3 cdcbench/run.py --workload replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine together
with the benchmark (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run starts one JVM, prints its
progress on stderr, and prints one JSON result as the last line of stdout.
The exit code is 0 only when every output check passed.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "cdcbench", "classpath.txt")
STAMP = os.path.join(BUILD, "cdcbench", "sources.sha256")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from the repository root")
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    sbt_tmp = os.path.join(BUILD, "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env = dict(os.environ)
    # every JVM the build starts keeps its scratch files in the checkout
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={sbt_tmp}"
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    log_path = os.path.join(BUILD, "build.log")
    print("[cdcbench] building (log: .bench_build/build.log)", file=sys.stderr)
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"[cdcbench] built in {time.time() - t0:.0f} s", file=sys.stderr)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    wanted = expected_metrics(a.trace)
    build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, "cdcbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if not lines:
        fail(f"no result (exit {proc.returncode})")
    result = json.loads(lines[-1])
    got = set(result.get("metrics", {}))
    if got != set(wanted):
        fail(f"metrics {sorted(got ^ set(wanted))} differ from BENCHMARK.json")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
