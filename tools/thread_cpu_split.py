#!/usr/bin/env python3
"""Per-thread CPU split of the measured passes of one perfbench run.

Usage (from the root of a checkout):
    python3 tools/thread_cpu_split.py --workload llm_corpus --seed 3 [--seconds 8]

Runs `perfbench/run.py --trace 0` with the given options, finds the
benchmark JVM (`graftbench.Main`), and reads `/proc/<pid>/task/*/stat`
when the run logs "warmed up" and again when it logs "measured passes
done". The difference in utime + stime per thread, grouped by thread
name, is the CPU of the measured window only: build, set-up and
warm-up passes are outside it. Prints one line per group (seconds and
share) and the window's total; the benchmark's own result line is
printed unchanged at the end.

Groups: JIT compiler threads ("C1/C2 CompilerThre…"), Spark task
threads ("Executor task l…"), the driver (the main thread), GC ("GC Thread…",
"VM Thread"), and everything else by its name with digits stripped.
"""
import argparse
import os
import re
import subprocess
import sys

CLK_TCK = os.sysconf("SC_CLK_TCK")


def find_jvm(parent):
    """pid of the graftbench.Main JVM below `parent`, or None."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if b"graftbench.Main" in cmd and ppid == parent:
            return int(pid)
    return None


def cpu_of(stat_path):
    """(name, utime + stime seconds) from a /proc stat file."""
    with open(stat_path) as f:
        stat = f.read()
    fields = stat[stat.rindex(")") + 2:].split()
    return stat[stat.index("(") + 1:stat.rindex(")")], (int(fields[11]) + int(fields[12])) / CLK_TCK


def thread_cpu(pid):
    """(process cpu seconds, {tid: (name, cpu seconds)} of live threads)."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            threads[tid] = cpu_of(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
    return cpu_of(f"/proc/{pid}/stat")[1], threads


def group(name):
    if name.startswith(("C1 Compiler", "C2 Compiler")):
        return "jit"
    if name.startswith("Executor task"):
        return "spark tasks"
    if name in ("main", "java"):  # HotSpot leaves the main thread's name as "java"
        return "driver (main)"
    if name.startswith("GC Thread") or name == "VM Thread":
        return "gc + vm"
    return re.sub(r"[\d#-]+$", "", name).strip() or name


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", default="8")
    a = ap.parse_args()
    run = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", a.seed,
         "--seconds", a.seconds, "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    start = end = None
    for line in run.stderr:
        if "warmed up" in line:
            jvm = find_jvm(run.pid)
            start = (jvm, thread_cpu(jvm)) if jvm else None
        elif "measured passes done" in line and start:
            end = thread_cpu(start[0])
            passes = line.split("]")[-1].split()[0]
    result = run.stdout.read()
    run.wait()
    if not (start and end):
        sys.exit(f"measured window not seen (exit {run.returncode})")
    (proc0, threads0), (proc1, threads1) = start[1], end
    groups = {}
    for tid, (name, cpu) in threads1.items():
        groups[group(name)] = groups.get(group(name), 0.0) + cpu - threads0.get(tid, (name, 0.0))[1]
    # the process counter keeps the CPU of threads that exited in the window
    groups["threads exited in window"] = proc1 - proc0 - sum(groups.values())
    total = proc1 - proc0
    print(f"{a.workload} seed {a.seed}: {passes} measured passes, {total:.2f} cpu-s "
          f"({total / int(passes):.2f} per pass)")
    for g, cpu in sorted(groups.items(), key=lambda kv: -kv[1]):
        if cpu >= 0.005:
            print(f"  {g:<24} {cpu:7.2f} s  {100 * cpu / total:5.1f}%")
    print(result.strip().splitlines()[-1] if result.strip() else "")


if __name__ == "__main__":
    main()
