"""Spans, Spark job counts and event-log parsing for the traced run.

Three pieces, all kept in memory until the run ends:

* ``Spans`` records (name, start, end, parent) at the benchmark's own
  boundaries: pass -> query -> call / sink.  Event-log stages are added
  later as children of the call or sink span they ran in.
* ``JobCounter`` reads job, task and failed-task counts from the
  public ``statusTracker()``.  Job ids are sequential and the benchmark
  runs one query at a time, so the jobs a query owns are exactly the
  ids that appeared while it ran -- including the jobs of streaming
  queries, which run under their own job group.
* ``read_event_log`` parses Spark's JSON event log with the stdlib
  ``json`` module: per-stage spans, executor CPU, shuffle bytes written
  and spilled bytes.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Spans:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, name: str, parent: Span | None = None, **attrs) -> Span:
        span = Span(
            len(self.spans), name, parent.id if parent else None,
            time.time(), attrs=attrs,
        )
        self.spans.append(span)
        return span

    @staticmethod
    def close(span: Span) -> Span:
        span.end = time.time()
        return span

    def add_stages(self, stages: list[dict]) -> None:
        """Attach each stage to the innermost call/sink span that was
        open when the stage was submitted."""
        leaves = [s for s in self.spans if s.name in ("call", "sink")]
        for st in stages:
            parent = next(
                (s for s in leaves if s.start <= st["start"] <= s.end), None
            )
            if parent is not None:
                self.spans.append(
                    Span(
                        len(self.spans), f"stage {st['stage_id']}",
                        parent.id, st["start"], st["end"],
                        attrs={"stage_id": st["stage_id"]},
                    )
                )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


class JobCounter:
    """Job/task counts from ``statusTracker()``, by ranges of job ids."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        self.next_job = 0

    def take(self) -> dict[str, int]:
        """Counts for every job started since the previous ``take``."""
        jobs = tasks = failed = 0
        while True:
            info = self.tracker.getJobInfo(self.next_job)
            if info is None:
                break
            self.next_job += 1
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numFailedTasks
                    failed += st.numFailedTasks
        return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per completed stage of every application logged in
    ``log_dir``: span (epoch s), executor CPU s, shuffle MB written, MB
    spilled to disk."""
    done = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stages: dict[int, dict] = {}  # stage ids restart per application

        def stage(sid: int) -> dict:
            return stages.setdefault(
                sid,
                {"stage_id": sid, "start": 0.0, "end": 0.0, "cpu_s": 0.0,
                 "shuffle_mb": 0.0, "spill_mb": 0.0},
            )

        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        st = stage(info["Stage ID"])
                        st["start"] = info["Submission Time"] / 1e3
                        st["end"] = info.get(
                            "Completion Time", info["Submission Time"]
                        ) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stage(ev["Stage ID"])
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["shuffle_mb"] += (
                        m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        / 1e6
                    )
                    st["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
        done += [s for s in stages.values() if s["end"] > 0]
    return done


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def busy_cpu_s() -> float:
    """CPU seconds the machine has spent busy since boot, from
    ``/proc/stat``: user, nice, system, irq and softirq.  Time a virtual
    CPU spent waiting for its host (steal) is a column of its own and is
    not counted."""
    with open("/proc/stat") as fh:
        ticks = [int(t) for t in fh.readline().split()[1:8]]
    user, nice, system, _idle, _iowait, irq, softirq = ticks
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident set size of one process, sampled from /proc."""

    def __init__(self, pid: int, every_s: float = 0.02) -> None:
        self.path = f"/proc/{pid}/status"
        self.every_s = every_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        with open(self.path) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                    return

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.every_s)

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
