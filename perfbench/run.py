"""The graft benchmark: one command, one workload per fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), then runs the named
workload in its own `java -cp` JVM at local[<cores>] -- never inside sbt and
never after another workload in the same JVM. The workload generates its
inputs from the seed, sets up, measures for --seconds, checks every call's
outputs and writes its result; this script prints that result as the last
line of standard output:

    {"correct": true, "attempted": 3, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(and writes the span tree to <build dir>/perfbench/traces/).
Everything the run writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build) of the working directory.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl", "curate")
CHILD_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def run_child(cmd, env):
    """Run the workload JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    try:
        return proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("workload JVM timed out after %ds" % CHILD_TIMEOUT_S, file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    a = parse_args()
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 1
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(build.build_dir(), "perfbench")
    run_dir = os.path.join(out, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_dir = os.path.join(out, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dderby.system.home=" + os.path.join(run_dir, "tmp")]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", repr(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--run-dir", run_dir,
            "--result", result_path,
            "--checksums", os.path.join(build.BENCH_DIR, "checksums.json"),
            "--benchmark", os.path.join(build.ROOT, "BENCHMARK.json"),
            "--trace-out", os.path.join(trace_dir, "%s-seed%d.json" % (a.workload, a.seed))]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    try:
        code = run_child(cmd, env)
        if code != 0 or not os.path.isfile(result_path):
            print("workload JVM failed (exit %d)" % code, file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result, sort_keys=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
