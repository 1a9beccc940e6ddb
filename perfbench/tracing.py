"""Spans, Spark status-store profiles and RSS sampling.

Everything here observes the engine from outside: spans wrap calls
into the engine's public entry points, and Spark's own work is read
back from ``statusTracker`` and ``statusStore().lastStageAttempt``
(both work with the UI disabled) using one job group per phase.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; :meth:`write` dumps it as JSON lines.

    A disabled tracer records nothing, so the same workload code runs
    traced and untraced."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "id": idx}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def durations(self, name: str) -> list[float]:
        """Durations of the ``name`` spans inside timed operations."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["op"] is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class SparkProfiler:
    """Per-phase Spark work, read back by job group.

    ``phase(group)`` tags every job started inside it, including the
    AQE stage jobs that run while a plan is constructed.  ``stats``
    waits for the listener bus, then sums the group's jobs, executed
    stages and their task metrics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    @contextmanager
    def phase(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stats(self, *groups: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "exec_cpu_s": 0.0,
               "input_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        seen: set[int] = set()
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                out["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — stage evicted or never submitted
                        continue
                    if st.status().toString() not in ("COMPLETE", "FAILED"):
                        continue  # skipped: its shuffle output was reused
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    out["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    out["input_mb"] += st.inputBytes() / 1e6
                    out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                    out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


class RssSampler:
    """Peak summed RSS of a process tree (the Spark JVM and the Python
    workers it forks), sampled every ``interval_s`` on a thread."""

    def __init__(self, root_pid: int, interval_s: float = 0.2) -> None:
        self.root = root_pid
        self.interval = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        kb = sum(_rss_kb(p) for p in _descendants(self.root))
        self.peak_kb = max(self.peak_kb, kb)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
