"""Benchmark of the transcript ER pipeline.

    python3 erbench/run.py --workload <dedup|link|dedup_hot> --seed N --seconds S --trace 0|1

Builds the pipeline and the bench from source (see build.py), runs one
workload in one JVM (local[4]) and prints one line per call, then, as the
last line, a JSON object with `correct`, `attempted`, `failed` and the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
Exits non-zero, without that line, when the build or the run fails or
any call fails an output check. See erbench/README.md.
"""
import argparse
import json
import math
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dedup", "link", "dedup_hot")
# A run must end within 180 s; the JVM gets what is left after the build.
JVM_TIMEOUT_S = 170
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + [
    arg
    for pkg in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def jvm_command(java, classes, jars, work, main_class):
    """Command and environment that run `main_class` with every scratch
    file (Spark's local dirs, the JVM's temp dir) under `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classes + os.pathsep + os.path.join(jars, "*"), main_class]
    return cmd, env


def expected_metrics(trace):
    """Metric names BENCHMARK.json promises for this mode, if it is there."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_result(result, trace):
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    for name, m in result.get("metrics", {}).items():
        v = m.get("value")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            problems.append(f"metric {name} has no finite value: {v!r}")
    want = expected_metrics(trace)
    if want is not None:
        got = {n: m.get("unit") for n, m in result.get("metrics", {}).items()}
        if got != want:
            problems.append(f"metrics differ from BENCHMARK.json: missing "
                            f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                            f"units {[n for n in want if n in got and got[n] != want[n]]}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        print(f"erbench: build failed: {e}", file=sys.stderr)
        return 1

    work = os.path.join(build.BUILD, f"work-{args.workload}")
    cmd, env = jvm_command(java, classes, jars, work, "graft.erbench.ErBench")
    cmd += ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=build.ROOT, env=env, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            print(out, end="")
            print(f"erbench: run exceeded {JVM_TIMEOUT_S} s; log in {log_path}", file=sys.stderr)
            return 1

    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None or not result.get("correct"):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"erbench: run failed (exit {proc.returncode}); log in {log_path}", file=sys.stderr)
        return 1
    problems = check_result(result, bool(args.trace))
    if problems:
        print("erbench: malformed result: " + "; ".join(problems), file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
