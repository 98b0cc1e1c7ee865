#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its metrics.

    python3 perfbench/run.py --workload startable_io --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and the driver first (perfbench/build.py), then runs one
JVM with a fresh temp dir, Spark local dir, warehouse and checkpoint dir,
all deleted at the end. The last line of standard output is the result
JSON: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ("startable_io", "query_hotset")
DEADLINE_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(cp, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp, "-Duser.timezone=UTC", "-Dderby.system.home=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
             "-cp", cp, "perfbench.Main"] + args)


def run_jvm(cmd, timeout):
    """Run the JVM in its own process group; kill the group on timeout or
    on our own termination, and wait until it has ended."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         cwd=ROOT, start_new_session=True, text=True)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit(1)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        print("perfbench: the run exceeded its deadline", file=sys.stderr)
        kill()
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp = build.build()
    t0 = time.time()
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}"
    run_dir = os.path.join(ROOT, ".bench_run", f"{name}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        if a.selftest:
            args = ["--mode", "selftest", "--benchmark-json", os.path.join(ROOT, "BENCHMARK.json")]
            rc, out = run_jvm(java_cmd(cp, run_dir, args), 600)
            sys.stdout.write(out)
            return rc
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--run-dir", run_dir, "--data-dir", os.path.join(BENCH, "data"),
                "--out-dir", os.path.join(ROOT, ".bench_out")]
        rc, out = run_jvm(java_cmd(cp, run_dir, args), max(10, DEADLINE_S - (time.time() - t0)))
        lines = out.strip().splitlines()
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        for line in lines[:-1] if result is not None else lines:
            print(line, file=sys.stderr)
        if rc != 0 or result is None:
            print(f"perfbench: the run failed (exit {rc})", file=sys.stderr)
            return rc or 1
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
