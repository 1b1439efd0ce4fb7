#!/usr/bin/env python3
"""CPU time per thread group of one perfbench run, over its measured phase.

    python3 tools/threadcpu.py <cdc_drain|cdc_tail> <seed>

Run from the root of a checkout. Starts `python3 perfbench/run.py
--workload <w> --seed <s>` unchanged, finds its perfbench.Main JVM and
samples /proc/<pid>/task/*/stat every 50 ms. The measured phase starts
when its first input appears (cdc_tail: the run's `tail/measured`
directory; cdc_drain: the first measured drain's `wal-m0.jsonl`) and
ends when the last `.feedback` file of the phase last grew, that is at
the final ack. A thread's CPU is its utime + stime at the last sample
inside the phase, less its value at the phase's start (0 for a thread
born later); a thread that exits inside the phase keeps its last
sample. Thread groups go by the kernel's 15-character thread name:

    stream     stream execution thread (planning, commit, the sink's driver part)
    executor   Executor task launch worker (the micro-batch tasks)
    gc         GC Thread, G1 concurrent and refinement threads, VM Thread
    jit        C1/C2 compiler threads
    harness    main, perfbench-feedback, perfbench-wal-gen
    other      everything else (Spark's event loops, RPC, cleaners, ...)

The last stdout lines are one line per group (CPU seconds and µs per
change) and run.py's own JSON line. For cdc_drain the phase spans all
measured drains, the checks between them included (on `main`).
"""
import glob
import json
import os
import re
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".cache", "run")
TICK = os.sysconf("SC_CLK_TCK")

GROUPS = [
    ("stream", re.compile(r"^stream executio")),
    ("executor", re.compile(r"^Executor task l")),
    ("gc", re.compile(r"^(GC Thread|G1 |VM Thread)")),
    ("jit", re.compile(r"^C[12] CompilerThre")),
    ("harness", re.compile(r"^(main|perfbench-)")),
]


def group(name):
    return next((g for g, rx in GROUPS if rx.search(name)), "other")


def children(pid):
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def find_jvm(pid):
    """The perfbench.Main JVM under `pid` (run.py may start sbt first)."""
    for c in children(pid):
        try:
            with open(f"/proc/{c}/cmdline", "rb") as f:
                if b"perfbench.Main" in f.read():
                    return c
        except OSError:
            pass
    return None


def sample(pid):
    """{tid: (name, cpu ticks)} of every live thread of `pid`."""
    out = {}
    for stat in glob.glob(f"/proc/{pid}/task/*/stat"):
        try:
            with open(stat) as f:
                s = f.read()
        except OSError:
            continue  # the thread exited between listing and reading
        name = s[s.index("(") + 1:s.rindex(")")]
        f = s[s.rindex(")") + 2:].split()
        out[int(stat.split("/")[4])] = (name, int(f[11]) + int(f[12]))
    return out


def markers(workload):
    d = os.path.join(WORK, workload)
    if workload == "cdc_tail":
        return os.path.join(d, "tail", "measured"), os.path.join(d, "tail", "measured", "*.feedback")
    return os.path.join(d, "drain", "wal-m0.jsonl"), os.path.join(d, "drain", "wal-m*.feedback")


def main():
    if len(sys.argv) != 3 or sys.argv[1] not in ("cdc_drain", "cdc_tail"):
        sys.exit(__doc__.split("\n\n")[1])
    workload, seed = sys.argv[1], sys.argv[2]
    start_mark, feedback = markers(workload)
    p = subprocess.Popen([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                          "--workload", workload, "--seed", seed],
                         cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    err = []

    def pump():
        for line in p.stderr:
            err.append(line)
            sys.stderr.write(line)
    t = threading.Thread(target=pump, daemon=True)
    t.start()
    jvm = None
    base = None  # sample at the phase's start
    last = {}  # tid -> (name, ticks) at the latest sample inside the phase
    at_end = {}  # `last` as it stood when a feedback file last grew
    sizes = {}
    while p.poll() is None:
        time.sleep(0.05)
        if jvm is None:
            jvm = find_jvm(p.pid)
            # the previous run's work directory goes when the JVM starts
            continue
        s = sample(jvm)
        if base is None:
            if os.path.exists(start_mark):
                base = s
            continue
        last.update(s)
        grew = False
        for fb in glob.glob(feedback):
            try:
                n = os.path.getsize(fb)
            except OSError:
                continue
            if sizes.get(fb) != n:
                sizes[fb], grew = n, True
        if grew:
            at_end = dict(last)
    out = p.stdout.read()
    t.join()
    if p.returncode != 0 or base is None or not at_end:
        sys.stdout.write(out)
        sys.exit(f"threadcpu: run failed or no measured phase seen (exit {p.returncode})")
    m = re.search(r"over (\d+) (?:drains of (\d+) )?changes", "".join(err))
    changes = (int(m.group(1)) * int(m.group(2)) if m and m.group(2) else
               int(m.group(1)) if m else 0)
    by = {}
    for tid, (name, ticks) in at_end.items():
        d = ticks - (base[tid][1] if tid in base else 0)
        g = group(name)
        by[g] = by.get(g, 0) + d
    total = sum(by.values())
    for g in [g for g, _ in GROUPS] + ["other", "total"]:
        ticks = total if g == "total" else by.get(g, 0)
        per = f" {ticks / TICK / changes * 1e6:8.2f} us/change" if changes else ""
        print(f"threadcpu {workload} seed {seed} {g:9s} {ticks:6d} ticks {ticks / TICK:8.2f} s{per}")
    res = [l for l in out.splitlines() if l.startswith("{")]
    print(res[-1] if res else json.dumps({"error": "no result line"}))


if __name__ == "__main__":
    main()
