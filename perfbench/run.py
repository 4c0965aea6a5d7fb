#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload kv_snapshot|catalog|kv_hot \\
      --seed N --seconds S --trace 0|1

Builds the program and harness from source on first use (perfbench/build.py),
runs the workload in one JVM, and prints the run's context, its detail
metrics, and, as the last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json, or with
`--trace 1` its per-layer ones. Every run is also kept as a JSON record under
.bench_build/results/ for perfbench/compare.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the benchmark dir
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CHILD_LIMIT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


# Runnable by hand but left out of BENCHMARK.json: see perfbench/README.md.
BY_HAND = ["kv_hot"]

# One AllKeysAssoc tree reduction over kv_snapshot's 102k keys outlasts a
# run (its combine is quadratic in a partition's keys), so it is not probed.
NOT_PROBED = {("kv_snapshot", "mapreduce.run_tree_s")}


def applies(metric, workload):
    """Whether a per-layer metric measures a layer the workload exercises;
    the others read 0 on it."""
    if (workload, metric) in NOT_PROBED:
        return False
    if metric.startswith(("trace.", "jvm.")):
        return True
    return metric.startswith("catalog.") == (workload == "catalog")


def commit():
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_child(cmd, env):
    """Runs the JVM, killing it at the time limit or on SIGTERM/SIGINT."""
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                             start_new_session=True)

    def stop(signum, _frame):
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = child.communicate(timeout=CHILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        sys.exit(f"perfbench: run exceeded {CHILD_LIMIT_S} s")
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
    if child.returncode != 0:
        sys.exit(f"perfbench: run failed with exit code {child.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]] + BY_HAND:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    if a.seconds < 1:
        sys.exit("perfbench: --seconds must be at least 1")

    classes = build.build(BUILD)
    jars = build.spark_jars()
    work = BUILD / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir = BUILD / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss4m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           *[x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-cp", f"{classes}:{jars}/*", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--tables", str(ROOT / "perfbench" / "data" / "sf0.01"),
           "--pins", str(ROOT / "perfbench" / "oracle_pins.json"),
           "--work", str(work), "--out", str(out_dir)]
    env = dict(os.environ, PERFBENCH_COMMIT=commit())
    # Spark would put its scratch files there instead of inside the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    try:
        out = run_child(cmd, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = {}
    for line in out.splitlines():
        if line.startswith('{"perfbench"'):
            rec = json.loads(line)
            lines[rec["perfbench"]] = rec
    if set(lines) != {"context", "detail", "result"}:
        sys.exit("perfbench: the run printed no complete result")
    measured = lines["result"]["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in measured:
            value = measured[m["name"]]["value"]
        elif a.trace and not applies(m["name"], a.workload):
            value = 0.0
        else:
            sys.exit(f"perfbench: metric {m['name']} was not measured")
        if value is None:
            sys.exit(f"perfbench: metric {m['name']} has no value")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    result = {"correct": lines["result"]["correct"],
              "attempted": lines["result"]["attempted"],
              "failed": lines["result"]["failed"], "metrics": metrics}
    context = dict(lines["context"]["context"],
                   source_hash=(BUILD / "classes.stamp").read_text())
    record = {"context": context, "detail": lines["detail"]["metrics"],
              "result": result}
    keep = BUILD / "results" / a.workload / f"trace{a.trace}"
    keep.mkdir(parents=True, exist_ok=True)
    (keep / f"s{a.seed}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json"
     ).write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps({"perfbench": "context", "context": context}))
    print(json.dumps({"perfbench": "detail", "metrics": record["detail"]}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
