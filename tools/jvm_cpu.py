#!/usr/bin/env python3
"""CPU seconds per thread class of a running JVM.

Samples /proc/<pid>/task/*/stat every half second until the JVM exits
(or Ctrl-C), then prints the CPU (user + system) each class of threads
used while sampled:

  jit       C1/C2 compiler threads
  gc        garbage-collector threads (G1, parallel, concurrent marking)
  executor  Spark executor task threads
  main      the thread running the main class
  rest      every other thread (VM thread, Spark's event loops, ...)

A thread's CPU is its last sampled value, so a thread that lived less
than one interval may be missed; the pooled JIT, GC and executor
threads live for the whole run.

Usage:
  python3 tools/jvm_cpu.py <pid>
  python3 tools/jvm_cpu.py <main class>   # e.g. perfbench.Main

Given a main class, it waits for a java process whose command line
names it.
"""
import os
import sys
import time

INTERVAL = 0.5
TICKS = os.sysconf("SC_CLK_TCK")
CLASSES = ("jit", "gc", "executor", "main", "rest")


def classify(name):
    if name.startswith(("C1 Compiler", "C2 Compiler")):
        return "jit"
    if name.startswith(("GC Thread", "G1 ", "GC ")):
        return "gc"
    if name.startswith("Executor task"):
        return "executor"
    # the JVM names every thread it starts; the main thread keeps the
    # launcher's name, as does the launcher thread, which only waits
    if name in ("java", "main"):
        return "main"
    return "rest"


def find_pid(main_class):
    """The first java process whose command line names `main_class`."""
    me = os.getpid()
    while True:
        for p in os.listdir("/proc"):
            if not p.isdigit() or int(p) == me:
                continue
            try:
                with open(f"/proc/{p}/cmdline", "rb") as f:
                    args = f.read().split(b"\0")
            except OSError:
                continue
            if args and args[0].endswith(b"java") and main_class.encode() in args:
                return int(p)
        time.sleep(INTERVAL)


def sample(pid):
    """{tid: (thread name, cpu seconds)} of every live thread of `pid`."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the thread ended between listdir and open
        # comm sits in parentheses and may itself hold spaces or ')'
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[0] is stat field 3 (state): utime and stime are 14 and 15
        out[int(tid)] = (name, (int(fields[11]) + int(fields[12])) / TICKS)
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    arg = sys.argv[1]
    pid = int(arg) if arg.isdigit() else find_pid(arg)
    seen = {}
    try:
        while os.path.exists(f"/proc/{pid}/task"):
            try:
                seen.update(sample(pid))
            except FileNotFoundError:
                break  # the JVM exited mid-sample
            time.sleep(INTERVAL)
    except KeyboardInterrupt:
        pass
    totals = dict.fromkeys(CLASSES, 0.0)
    for name, cpu in seen.values():
        totals[classify(name)] += cpu
    total = sum(totals.values())
    print(f"pid {pid}: {len(seen)} threads, {total:.1f} s CPU")
    for cls in CLASSES:
        share = totals[cls] / total if total else 0.0
        print(f"{cls:9s} {totals[cls]:8.1f} s  {share:6.1%}")


if __name__ == "__main__":
    main()
