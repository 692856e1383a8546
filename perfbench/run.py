#!/usr/bin/env python3
"""Runs one workload of the pipeline benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source on first
use (perfbench/build.py), runs the workload in one JVM, and prints the
named end-to-end metrics with their units, then, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. The full report (host stamp, workload
parameters, spans, every counter) goes to .bench_build/results/.

Exit status: 0 when every correctness check passed; 1 when one failed
(the result line is still printed); 2 when the program cannot be built or
run, without a result line.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no files beside the sources
import build  # noqa: E402

TIMEOUT_S = 170
DRIVER_HEAP = "4g"
# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    try:
        classpath, digest = build.ensure_built()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    results = os.path.join(build.BUILD, "results")
    logs = os.path.join(build.BUILD, "logs")
    tmp = os.path.join(build.BUILD, "tmp")
    for d in (results, logs, tmp):
        os.makedirs(d, exist_ok=True)
    # temp files (native libraries, spill) stay in the checkout; no JVM perf file in /tmp
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(build.BUILD, "work", tag),
              "--out", os.path.join(results, tag + ".json"),
              "--root", ROOT, "--source-digest", digest, "--commit", commit()])
    log_path = os.path.join(logs, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {TIMEOUT_S} s; log in {log_path}")

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"no result line (exit {proc.returncode}); log in {log_path}")
    metrics = result.get("metrics", {})
    if set(metrics) != set(wanted):
        missing = sorted(set(wanted) - set(metrics))
        extra = sorted(set(metrics) - set(wanted))
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, unexpected {extra}")
    for name, unit in wanted.items():
        metrics[name]["unit"] = unit
    for line in lines[:-1]:
        print(line)
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
