"""Where a command's CPU goes, by thread family, read from /proc.

    python3 tools/thread_cpu.py -- COMMAND [ARGS...]

Runs COMMAND and every half second reads utime+stime of each thread of
each descendant process (``/proc/<pid>/task/<tid>/stat``); a thread's
last reading counts.  Prints CPU seconds and shares per family (JIT
compiler, executor task, GC and other JVM threads, Python processes)
on stderr, and the same as JSON on stdout.  Linux only.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")
JVM_FAMILIES = [
    (("C1 CompilerThre", "C2 CompilerThre"), "JIT compiler threads"),
    (("Executor task",), "executor task threads"),
    (("GC Thread", "G1 "), "GC threads"),
]


def _stat(path: str) -> tuple[str, float] | None:
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    end = raw.rindex(")")  # the name is parenthesized, may hold spaces
    fields = raw[end + 2 :].split()
    return raw[raw.index("(") + 1 : end], (int(fields[11]) + int(fields[12])) / TICK


def _family(proc: str, thread: str) -> str:
    if proc != "java":
        return "Python processes" if proc.startswith("python") else proc
    for prefixes, family in JVM_FAMILIES:
        if thread.startswith(prefixes):
            return family
    return "other JVM threads (driver)"


def _sample(pid: int, last: dict) -> None:
    proc = _stat(f"/proc/{pid}/stat")
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return
    for tid in tids:
        got = _stat(f"/proc/{pid}/task/{tid}/stat")
        if proc and got:
            last[(pid, tid)] = (_family(proc[0], got[0]), got[1])
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                for child in fh.read().split():
                    _sample(int(child), last)
        except OSError:
            pass


def main() -> int:
    cmd = sys.argv[2:] if sys.argv[1:2] == ["--"] else sys.argv[1:]
    child = subprocess.Popen(cmd)
    last: dict = {}
    while child.poll() is None:
        _sample(child.pid, last)
        time.sleep(0.5)
    per: dict[str, float] = {}
    for family, cpu in last.values():
        per[family] = per.get(family, 0.0) + cpu
    total = sum(per.values()) or 1.0
    for family, cpu in sorted(per.items(), key=lambda kv: -kv[1]):
        print(f"{family:<28} {cpu:8.1f} s {cpu / total:6.1%}", file=sys.stderr)
    print(json.dumps({k: round(v, 2) for k, v in per.items()}))
    return child.returncode


if __name__ == "__main__":
    sys.exit(main())
