#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 graftbench/run.py --workload csv_etl --seed 7 --seconds 30 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), then runs graftbench.BenchMain in its own JVM with a private run
directory under .bench_build/runs, which it removes afterwards. The last
stdout line is the JSON result: {"correct", "attempted", "failed",
"metrics"}. With --trace 1 the metrics are the per-layer ones, and the span
file goes to .bench_build/traces/<workload>-seed<seed>.json.

--scale tiny and --fault 1 exist for the self-tests (tests/test_bench.py).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("csv_etl", "index_lifecycle", "iterative_ops")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (same list as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--fault", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def main():
    a = parse_args()
    try:
        classes = build.build()
    except Exception as e:  # missing sources, compile error, no JDK
        print("graftbench: build failed: %s" % e, file=sys.stderr)
        return 2
    runs = os.path.join(build.ROOT, ".bench_build", "runs")
    run_dir = os.path.join(runs, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(os.path.join(run_dir, "tmp"))
    # a fixed-size heap with the serial collector: no concurrent GC threads
    # competing with Spark's, and a peak RSS that does not depend on when
    # the heap happened to grow
    jvm = ["java", "-XX:-UsePerfData", "-Xss8m", "-XX:+UseSerialGC",
           "-Xms1g", "-Xmx1g", "-Xmn384m",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for m in ADD_OPENS:
        jvm += ["--add-opens", m + "=ALL-UNNAMED"]
    jvm += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.BenchMain", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--scale", a.scale, "--fault", str(a.fault)]
    if a.trace:
        jvm += ["--trace-out", os.path.join(build.ROOT, ".bench_build", "traces",
                                            "%s-seed%d.json" % (a.workload, a.seed))]
    proc = subprocess.Popen(jvm, cwd=run_dir, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("graftbench: run exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(runs) and not os.listdir(runs):
            os.rmdir(runs)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out)
        print("graftbench: no result line (exit %d)" % proc.returncode, file=sys.stderr)
        return proc.returncode or 4
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
