#!/usr/bin/env python3
"""Run one workload of graft's benchmark, from the repository root:

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

Builds the program and the harness (perfbench/build.py), runs the harness in
one JVM at local[nproc], and prints the result as the last line of standard
output: {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones. --smoke
runs every workload at toy size, traced and not, and checks that each result
is correct and names every metric of BENCHMARK.json with its unit.
Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import pathlib
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
WORKLOADS = ["bulk_replay", "tail_microbatch"]
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
MARK = "PERFBENCH_RESULT "


def run_jvm(root, classpath, harness_args):
    """Run the harness; echo its output; return (exit code, result lines)."""
    work = root / ".bench_build" / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap keeps G1's sizing decisions out of peak_rss_mb
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main", "--work", str(work)]
    cmd += harness_args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    results = []

    def pump():
        for line in proc.stdout:
            if line.startswith(MARK):
                results.append(line[len(MARK):].strip())
            else:
                sys.stdout.write(line)
                sys.stdout.flush()

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: harness exceeded {RUN_TIMEOUT_S} s; stopping it", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = -1
    reader.join()
    return code, results


def check_result(line, declared):
    """Problems with one result line, given the declared {name: unit}."""
    try:
        r = json.loads(line)
    except ValueError as e:
        return [f"not JSON: {e}"]
    problems = []
    if sorted(r) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(r)}")
        return problems
    if not r["correct"] or r["failed"] != 0:
        problems.append(f"correct={r['correct']} failed={r['failed']} of {r['attempted']}")
    got = {k: v.get("unit") for k, v in r["metrics"].items()}
    if got != declared:
        problems.append(f"metrics/units differ from BENCHMARK.json: {got} vs {declared}")
    nulls = [k for k, v in r["metrics"].items() if not isinstance(v.get("value"), (int, float))]
    if nulls:
        problems.append(f"metrics without a value: {nulls}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required (or --smoke)")

    root = pathlib.Path.cwd().resolve()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    if args.smoke:
        code, results = run_jvm(root, classpath, ["--smoke", "--seed", str(args.seed)])
        spec = json.loads((root / "BENCHMARK.json").read_text())
        declared = [{m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")]
        expected = [(w, t) for w in WORKLOADS for t in (0, 1)]
        bad = [] if code == 0 else [f"harness exited with {code}"]
        if len(results) != len(expected):
            bad.append(f"{len(results)} results for {len(expected)} runs")
        for (w, t), line in zip(expected, results):
            bad += [f"{w} trace={t}: {p}" for p in check_result(line, declared[t])]
        for p in bad:
            print(f"perfbench smoke: {p}")
        print(f"perfbench smoke: {'FAILED' if bad else 'ok'} ({len(results)} runs)")
        return 1 if bad else 0

    code, results = run_jvm(root, classpath, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)])
    if code != 0 or len(results) != 1:
        print(f"perfbench: harness exited with {code} and {len(results)} results", file=sys.stderr)
        return 1
    print(results[0])
    return 0


if __name__ == "__main__":
    sys.exit(main())
