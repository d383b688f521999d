#!/usr/bin/env python3
"""Benchmark entry point. From the repo root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program (perfbench/build.py), runs one JVM for the workload
(perfbench.Main), relays its `perfbench:` lines and prints, as the last
line, one JSON object with `correct`, `attempted`, `failed` and `metrics`.
Scratch files go to .bench_work/<workload>; a traced run leaves its span
file and layer tables in .bench_work/<workload>/trace.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_DEADLINE_S = 165  # a run must end within 180 s once the build is cached

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, work, extra):
    opts = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # fixed heap (Xms = Xmx): heap_live_mb and GC pauses do not depend on
    # how far the heap happened to grow
    return (["java"] + opts + ["-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch",
                               f"-Djava.io.tmpdir={work}/tmp",
                               "-cp", classpath, "perfbench.Main"] + extra)


def run_jvm(cmd, work, timeout):
    """Run the JVM in its own process group; return (exit code, stdout)."""
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        sys.stderr.write(f"perfbench: JVM killed after {timeout:.0f} s\n")
        return 1, out
    finally:
        log.close()
    with open(os.path.join(work, "jvm.log")) as fh:
        for line in fh:
            if line.startswith("perfbench:") or "Exception in thread" in line:
                sys.stderr.write(line)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record", help="write observed rows/fingerprints to this file instead of checking")
    args = ap.parse_args()

    root = os.getcwd()
    classpath = build.build(root)
    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    extra = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", os.path.join(HERE, "data"), "--work", work,
             "--expected", os.path.join(HERE, "expected.tsv")]
    if args.record:
        extra += ["--record", os.path.abspath(args.record)]
    code, out = run_jvm(jvm_command(classpath, work, extra), work, JVM_DEADLINE_S)

    result = None
    for line in out.splitlines():
        if line.startswith("perfbench:"):
            print(line)
        elif line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    if code != 0 or (result is None and not args.record):
        sys.stderr.write(f"perfbench: JVM exited with {code} and no result; see {work}/jvm.log\n")
        return 1
    if result is not None:
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
