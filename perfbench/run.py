#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload feature_pipeline --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Builds the engine and the benchmark when the
sources changed (perfbench/build.py), then runs one workload in one JVM
(Spark local[n], n <= 4) and forwards its report. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the run
alternates traced and untraced rounds and reports the per-layer ones.

Exit status: 0 when every output check passed and a result was printed;
1 when a check failed (the result line says "correct": false); 2 when the
run could not be made (no sources, build error, JVM error or timeout) — no
result line is printed then.
"""

import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("feature_pipeline", "online_scoring", "iterative_graph",
             "corpus_dedup")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this kind of run."""
    with open("BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_line(lines, trace):
    """The JVM's last stdout line, checked against the result contract and
    the metrics BENCHMARK.json declares."""
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    if not isinstance(res, dict) or \
            set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        return None
    if set(res["metrics"]) != declared_metrics(trace):
        print("[perfbench] result metrics differ from BENCHMARK.json: "
              f"{sorted(set(res['metrics']) ^ declared_metrics(trace))}",
              file=sys.stderr)
        return None
    return res


def main():
    args = parse_args()
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD_ROOT, "perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" +
           os.path.join(here, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--out", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s; killed",
              file=sys.stderr)
        return 2
    lines = [ln for ln in out.splitlines() if ln.strip()]
    res = result_line(lines, args.trace)
    for ln in lines[:-1] if res else lines:
        print(ln)
    if res is None or proc.returncode not in (0, 1):
        print(f"[perfbench] JVM exited with {proc.returncode} and no "
              "result line", file=sys.stderr)
        return 2
    print(json.dumps(res, separators=(",", ":")))
    return 0 if res["correct"] and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
