#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source when needed (build.py), then
runs the workload in one JVM with Spark local[min(4, nproc)]. Report lines
start with '#'; the last stdout line is the JSON result with exactly the
keys correct, attempted, failed and metrics. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
Everything the run writes stays under .bench_build/ at the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ["train_pit", "serve_write", "serve_read", "corpus_curate"]
JVM_SECONDS = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    with open(os.path.join(build.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def valid(result, trace):
    if not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        return False
    want = expected_metrics(trace)
    got = result["metrics"]
    return set(got) == set(want) and all(
        got[k]["unit"] == u and isinstance(got[k]["value"], (int, float))
        for k, u in want.items())


def class_archive(classpath, java):
    """The class data sharing archive for this classpath and JDK. The first
    run dumps the classes it loaded into it when it exits; later runs map
    them and start several seconds sooner. An unusable archive only loses
    that: the JVM then loads the classes from the jars."""
    key = hashlib.sha256((classpath + java).encode()).hexdigest()[:16]
    archive = os.path.join(build.WORK, "classes-%s.jsa" % key)
    for old in glob.glob(os.path.join(build.WORK, "classes-*")):
        if old != archive:
            os.remove(old)
    return archive


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = p.parse_args()
    try:
        classpath, java = build.ensure_built()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    tmp = os.path.join(build.WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed young generation: G1 otherwise sizes it from pause times,
    # so where collections fall, and what they promote, would vary
    cmd = [java, "-Xmx3g", "-Xmn512m", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" +
           os.path.join(build.BENCH_DIR, "log4j2.properties")]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    # HotSpot's GC threads' CPU time (see Cpu in Workloads.scala)
    cmd += ["--add-exports", "java.management/sun.management=ALL-UNNAMED"]
    # JVM warnings go to stderr, so stdout carries only the report
    cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    archive = class_archive(classpath, java)
    dump = "%s.%d" % (archive, os.getpid())
    if os.path.exists(archive):
        cmd.append("-XX:SharedArchiveFile=" + archive)
    else:
        cmd.append("-XX:ArchiveClassesAtExit=" + dump)
    cmd += ["-cp", classpath,
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", build.WORK]
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(build.WORK, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=build.REPO, env=env, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(JVM_SECONDS, kill)
    watchdog.start()
    result_line = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                result_line = line
            else:
                print(line, flush=True)
        proc.wait()
        if proc.returncode == 0 and os.path.exists(dump):
            os.replace(dump, archive)
    finally:
        watchdog.cancel()
        if os.path.exists(dump):
            os.remove(dump)
    if timed_out.is_set():
        print("perfbench: run exceeded %d s" % JVM_SECONDS, file=sys.stderr)
        return 3
    if proc.returncode != 0 or result_line is None:
        print("perfbench: workload failed (exit %d)" % proc.returncode,
              file=sys.stderr)
        return 1
    result = json.loads(result_line)
    if not valid(result, a.trace):
        print("perfbench: result does not match BENCHMARK.json",
              file=sys.stderr)
        return 4
    print(result_line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
