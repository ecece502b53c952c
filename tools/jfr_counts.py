#!/usr/bin/env python3
"""Count what one benchmark run costs the JVM, from a JFR recording.

    python3 tools/jfr_counts.py                     # tail_microbatch, seed 1, 25 s
    python3 tools/jfr_counts.py --workload bulk_replay --seed 2

Builds with perfbench/build.py, then runs one 25 s perfbench/run.py with
JAVA_TOOL_OPTIONS starting a flight recording (settings: tools/jfr_counts.jfc)
in the harness JVM, and prints from the recording:
  - throwables created (jdk.ExceptionStatistics, JVM-wide, caught ones too);
  - thread starts, by thread name with UUIDs and digit runs folded (pools);
  - process starts, by program;
  - GC count and pause time, by cause.
The recording is kept under .bench_build/jfr/. perfbench itself is not
changed: it only inherits the environment.
"""
import argparse
import collections
import json
import os
import pathlib
import re
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources

ROOT = pathlib.Path(__file__).resolve().parent.parent
SETTINGS = ROOT / "tools" / "jfr_counts.jfc"
EVENTS = "jdk.ExceptionStatistics,jdk.ThreadStart,jdk.ProcessStart,jdk.GarbageCollection"
SECONDS = 25  # the run length every recorded count was taken at
TOP = 15      # rows per table


def seconds(iso):
    """An ISO-8601 duration as JFR prints it ("PT0.0137S", "PT1M2.5S")."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", iso or "")
    if not m:
        return 0.0
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def pool(name):
    """A thread name with its UUIDs folded to U and digit runs to N."""
    name = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U", name or "?")
    return re.sub(r"\d+", "N", name)


def counts(jfr_file):
    out = subprocess.run(["jfr", "print", "--json", "--events", EVENTS, str(jfr_file)],
                         check=True, capture_output=True, text=True).stdout
    throwables = 0
    threads = collections.Counter()
    procs = collections.Counter()
    gcs = collections.defaultdict(lambda: [0, 0.0])
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        if e["type"] == "jdk.ExceptionStatistics":
            throwables = max(throwables, v["throwables"])
        elif e["type"] == "jdk.ThreadStart":
            threads[pool((v.get("thread") or {}).get("javaName"))] += 1
        elif e["type"] == "jdk.ProcessStart":
            procs[os.path.basename((v.get("command") or "?").split()[0])] += 1
        elif e["type"] == "jdk.GarbageCollection":
            g = gcs[v.get("cause") or "?"]
            g[0] += 1
            g[1] += seconds(v.get("sumOfPauses"))
    return throwables, threads, procs, gcs


def table(title, rows):
    rows = list(rows)
    print(f"\n{title}")
    for label, *vals in rows[:TOP]:
        print("  " + "  ".join(f"{x:>10}" for x in vals) + f"  {label}")
    if len(rows) > TOP:
        print(f"  ... {len(rows) - TOP} more")


def record(workload, seed, settings):
    """Build, then run one untraced SECONDS-long perfbench run with a flight
    recording (`settings`, a .jfc file) started in the harness JVM through
    JAVA_TOOL_OPTIONS. Prints the run's outcome and returns the harness's
    recording (the largest one written)."""
    subprocess.run([sys.executable, str(ROOT / "perfbench" / "build.py")], cwd=ROOT,
                   check=True, stdout=subprocess.DEVNULL)
    rec = ROOT / ".bench_build" / "jfr" / f"{workload}-seed{seed}-{time.strftime('%Y%m%dT%H%M%S')}"
    rec.mkdir(parents=True)
    # a directory as the file name: each JVM writes its own recording there
    env = dict(os.environ, JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") +
               f" -XX:StartFlightRecording=filename={rec},settings={settings},"
               "dumponexit=true").strip())
    run = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"),
                          "--workload", workload, "--seed", str(seed),
                          "--seconds", str(SECONDS), "--trace", "0"],
                         cwd=ROOT, env=env, capture_output=True, text=True)
    result = (run.stdout.strip().splitlines() or ["{}"])[-1]
    recordings = sorted(rec.glob("*.jfr"), key=lambda p: p.stat().st_size)
    if run.returncode != 0 or not recordings:
        sys.stderr.write(run.stdout[-4000:] + run.stderr[-4000:])
        sys.exit(f"{pathlib.Path(sys.argv[0]).name}: run exited {run.returncode} "
                 f"with {len(recordings)} recordings")
    r = json.loads(result)
    print(f"run: {workload} seed {seed}, correct={r.get('correct')} "
          f"failed={r.get('failed')}; recording {recordings[-1].relative_to(ROOT)}")
    return recordings[-1]


def arguments(description):
    ap = argparse.ArgumentParser(description=description)
    ap.add_argument("--workload", default="tail_microbatch",
                    choices=["bulk_replay", "tail_microbatch"])
    ap.add_argument("--seed", type=int, default=1)
    return ap


def main():
    a = arguments(__doc__.split("\n")[0]).parse_args()
    recording = record(a.workload, a.seed, SETTINGS)
    throwables, threads, procs, gcs = counts(recording)
    print(f"\nthrowables created: {throwables:,}")
    table(f"thread starts: {sum(threads.values()):,}",
          ((k, n) for k, n in threads.most_common()))
    table(f"process starts: {sum(procs.values()):,}",
          ((k, n) for k, n in procs.most_common()))
    table(f"GCs: {sum(g[0] for g in gcs.values()):,}, pauses "
          f"{sum(g[1] for g in gcs.values()):.3f} s  (count, pause s, cause)",
          ((c, g[0], f"{g[1]:.3f}") for c, g in sorted(gcs.items(), key=lambda x: -x[1][1])))


if __name__ == "__main__":
    main()
