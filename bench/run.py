"""Run one benchmark workload and print its result.

Builds the program and the benchmark if their sources changed (see
build.py), runs bench.Main for one workload in a fresh JVM with its scratch
files in a private directory under .bench_build/work, and relays its
output. The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1 (which also writes the span file to .bench_build/traces/).

Usage, from the repository root:
  python3 bench/run.py --workload flight_etl|dedup_ingest
      --seed N --seconds S --trace 0|1 [--scale ROWS_OR_DOCS]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["flight_etl", "dedup_ingest"]
# Spark on JDK 17 outside spark-submit needs these (build.sbt has the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", type=int)
    args = ap.parse_args()

    classes = build.build()
    work = os.path.abspath(os.path.join(
        build.BUILD_DIR, "work", "%s-%d" % (args.workload, os.getpid())))
    os.makedirs(os.path.join(work, "tmp"))
    # A fixed, pre-touched heap and the parallel collector keep peak RSS and
    # pass times steady between runs (G1's adaptive sizing swung RSS ~25 %).
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.spark_classpath(), "bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    if args.trace == "1":
        cmd += ["--trace-out", os.path.join(
            build.BUILD_DIR, "traces", "%s-seed%d.json" % (args.workload, args.seed))]
    if args.scale:
        cmd += ["--scale", str(args.scale)]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=None if args.scale else RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        sys.exit("bench: bench.Main exited with %d" % proc.returncode)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit("bench: malformed result line")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
