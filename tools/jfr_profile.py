#!/usr/bin/env python3
"""Attribute one benchmark run's time to threads and graft code, from a JFR profile.

    python3 tools/jfr_profile.py                          # tail_microbatch, seed 1, 25 s
    python3 tools/jfr_profile.py --workload bulk_replay --seed 2
    python3 tools/jfr_profile.py --match 'Configuration\\.loadProps'
    python3 tools/jfr_profile.py --recording .bench_build/jfr/<run>/<file>.jfr --match ...

Runs one perfbench run the way tools/jfr_counts.py does, with a flight
recording (settings: tools/jfr_profile.jfc) of on-CPU Java samples
(jdk.ExecutionSample) and in-native samples (jdk.NativeMethodSample) every
10 ms, and thread parks of 2 ms or more (jdk.ThreadPark). It prints three
times for each thread group (thread name with UUIDs and digit runs folded)
and for each innermost `graft.` frame of the stack (the graft code that led
to the time; `(no graft frame)` when none is among the 64 innermost frames):
  cpu s     execution samples x 10 ms;
  native s  native-method samples x 10 ms;
  park s    summed thread-park durations.
Rows are ranked by cpu + native time, then by park time.
JFR takes at most a few threads' samples per period, so the sampled times are
estimates; compare runs, not absolute values. --match keeps only the events
with a frame matching the regex, for example the time a method costs and
which graft code reached it. --recording analyses an existing recording
instead of running. `jfr print` output is parsed as a stream: its JSON form
of one run is several hundred MB.
"""
import collections
import re
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
import jfr_counts  # noqa: E402  (same directory)

SETTINGS = jfr_counts.ROOT / "tools" / "jfr_profile.jfc"
EVENTS = "jdk.ExecutionSample,jdk.NativeMethodSample,jdk.ThreadPark"
PERIOD_S = 0.010  # the sample period in jfr_profile.jfc
DEPTH = 64
COLUMNS = {"jdk.ExecutionSample": 0, "jdk.NativeMethodSample": 1, "jdk.ThreadPark": 2}
UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def duration(text):
    """A duration as `jfr print` writes it ("12.3 ms", "1.05 s", "1 m 2 s")."""
    return sum(float(n.replace(",", "")) * UNITS.get(u, 0.0)
               for n, u in re.findall(r"([\d.,]+)\s*([a-z]+)", text))


def frame(line):
    """`graft.lake.IceLite$.$anonfun$statsOf$1(Path) line: 9` -> graft.lake.IceLite.statsOf"""
    m = line.strip().split("(", 1)[0]
    m = re.sub(r"\$anonfun\$(.+?)\$\d+(\$adapted)?$", r"\1", m)
    return m.replace("$.", ".")


def events(recording):
    """(event type, thread name, stack frames innermost first, duration s)
    of each sample and park, parsed from `jfr print` text as it streams."""
    cmd = ["jfr", "print", "--events", EVENTS, "--stack-depth", str(DEPTH), str(recording)]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, bufsize=1 << 20) as p:
        kind, thread, stack, dur, in_stack = None, "?", [], 0.0, False
        for line in p.stdout:
            if in_stack:
                if line.startswith("  ]"):
                    in_stack = False
                elif line.strip() != "...":
                    stack.append(frame(line))
            elif line.startswith("jdk."):
                kind, thread, stack, dur = line.split()[0], "?", [], 0.0
            elif line.startswith("  stackTrace = ["):
                in_stack = True
            elif line.startswith(("  sampledThread = ", "  eventThread = ")):
                m = re.search(r'= "(.*)" \(', line)
                thread = m.group(1) if m else line.split("=", 1)[1].strip()
            elif line.startswith("  duration = "):
                dur = duration(line.split("=", 1)[1])
            elif line.startswith("}") and kind in COLUMNS:
                yield kind, thread, stack, dur
                kind = None
    if p.returncode != 0:
        sys.exit(f"jfr_profile: jfr print exited {p.returncode}")


def profile(recording, match):
    by_thread = collections.defaultdict(lambda: [0.0, 0.0, 0.0])
    by_frame = collections.defaultdict(lambda: [0.0, 0.0, 0.0])
    pattern = re.compile(match) if match else None
    for kind, thread, stack, dur in events(recording):
        if pattern and not any(pattern.search(f) for f in stack):
            continue
        col = COLUMNS[kind]
        t = dur if kind == "jdk.ThreadPark" else PERIOD_S
        owner = next((f for f in stack if f.startswith("graft.")), "(no graft frame)")
        by_thread[jfr_counts.pool(thread)][col] += t
        by_frame[owner][col] += t
    return by_thread, by_frame


def show(title, rows):
    # by sampled work first: idle pools park for minutes and do nothing
    ranked = sorted(rows.items(), key=lambda kv: (-(kv[1][0] + kv[1][1]), -kv[1][2]))
    total = [sum(v[i] for v in rows.values()) for i in range(3)]
    jfr_counts.table(f"{title}  (cpu s, native s, park s; total {total[0]:.2f} / "
                     f"{total[1]:.2f} / {total[2]:.2f})",
                     ((k, *(f"{x:.2f}" for x in v)) for k, v in ranked))


def main():
    ap = jfr_counts.arguments(__doc__.split("\n")[0])
    ap.add_argument("--match", help="keep only events with a frame matching this regex")
    ap.add_argument("--recording", help="analyse this .jfr file instead of running")
    a = ap.parse_args()
    recording = a.recording or jfr_counts.record(a.workload, a.seed, SETTINGS)
    by_thread, by_frame = profile(recording, a.match)
    scope = f" of events through /{a.match}/" if a.match else ""
    show(f"time{scope} by thread group", by_thread)
    show(f"time{scope} by innermost graft frame", by_frame)


if __name__ == "__main__":
    main()
