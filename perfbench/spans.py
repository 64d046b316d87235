"""Spans, Spark stage metrics and worker memory for the benchmark.

Everything here observes the program from the outside: spans wrap the
benchmark's own calls into the package, each span runs under its own
Spark job group, and the stage metrics of that group are read back
from Spark's status store after the traced pass.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str = ""
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``dump`` writes them once at the end."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        group = f"{self.run_id}/{idx}/{name}"
        sp = Span(name, 0.0, parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id, group=group)
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name, interruptOnCancel=False)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.name, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str) -> None:
        import json

        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "name": s.name, "start": s.start - t0, "end": s.end - t0,
                "parent": s.parent, "run_id": s.run_id, "counts": s.counts,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def wait_for_listeners(sc) -> None:
    """Stage and task metrics reach the status store through Spark's
    asynchronous listener bus; drain it before reading them."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def group_stage_metrics(sc, group: str) -> dict[str, float]:
    """Fold the stage metrics of every job in ``group``.

    ``task_skew`` is max ÷ median task run time of the group's stage
    with the most executor run time (1.0 when that stage ran one task).
    Skipped stages (shuffle output reused) carry no attempt and add
    nothing.
    """
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._gateway.jvm
    job_ids = tracker.getJobIdsForGroup(group)
    out = {"jobs": float(len(job_ids)), "tasks": 0.0, "shuffle_write_bytes": 0.0,
           "task_skew": 1.0}
    heaviest = (-1.0, 1.0)
    seen: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            run_ms = float(sd.executorRunTime())
            if run_ms > heaviest[0]:
                q = sc._gateway.new_array(jvm.double, 2)
                q[0], q[1] = 0.5, 1.0
                summ = store.taskSummary(sid, sd.attemptId(), q)
                skew = 1.0
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    skew = rt.apply(1) / max(rt.apply(0), 1.0)
                heaviest = (run_ms, skew)
    out["task_skew"] = heaviest[1]
    return out


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _python_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
        if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
            return 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRssSampler:
    """Peak resident set (VmHWM) of the Python worker processes that
    Spark forks under this driver, polled from ``/proc`` on a thread."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for pid in descendants(os.getpid()):
            self.peak_kb = max(self.peak_kb, _python_hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "WorkerRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
