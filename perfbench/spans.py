"""In-memory spans and samplers used by the benchmark.

Nothing here changes what the engine runs: spans wrap calls the benchmark
makes into the engine's modules, Spark counts are read back through
``SparkContext.statusTracker()`` under a job group, and two daemon threads
sample the process tree's RSS (always) and the number of running Spark
tasks (traced runs only).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans ``(id, name, start, end, parent, run)`` kept in memory and
    written out once, at the end of the benchmark."""

    def __init__(self):
        self.run_id = ""
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.current(),
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def current(self) -> int | None:
        """Id of the innermost open span."""
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span whose bounds were observed from outside, such as
        the gap between two calls the engine makes back into us."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent,
             "run": self.run_id, "start": start, "end": end}
        )

    def total(self, name: str, run: str | None = None) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (run is None or s["run"] == run)
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------------------------
# Spark counters under a job group
# --------------------------------------------------------------------------


@contextmanager
def job_group(sc, name: str):
    """Tag every job started on this thread inside the block with ``name``."""
    sc.setJobGroup(name, name)
    try:
        yield name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_counts(sc, name: str) -> dict:
    """Jobs, stages that ran, completed and failed tasks of a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(name)
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        stages += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def persisted_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


# --------------------------------------------------------------------------
# samplers
# --------------------------------------------------------------------------


class _Poller(threading.Thread):
    def __init__(self, period_s: float):
        super().__init__(daemon=True)
        self.period_s = period_s
        self._halt = threading.Event()

    def poll(self) -> None:  # pragma: no cover - overridden
        raise NotImplementedError

    def run(self) -> None:
        while not self._halt.is_set():
            self.poll()
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


def _tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # exited between listing and reading
    return pids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants, summed per command
    name.  Each process counts its proportional share (PSS) of pages it
    shares, so forked Python workers and short-lived children forked by
    the JVM are not counted twice."""
    out: dict[str, int] = {}
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            rss = _pss_bytes(pid)
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler(_Poller):
    """Peak resident memory of this process and all its descendants: the
    driver JVM, the PySpark daemon and its Python workers."""

    def __init__(self, period_s: float = 0.1):
        super().__init__(period_s)
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}

    def poll(self) -> None:
        by_command = tree_rss(os.getpid())
        total = sum(by_command.values())
        if total > self.peak:
            self.peak, self.peak_by_command = total, by_command


class SlotSampler(_Poller):
    """Running Spark tasks over time, from the status tracker."""

    def __init__(self, sc, period_s: float = 0.05):
        super().__init__(period_s)
        self._st = sc.statusTracker()
        self.samples: list[tuple[float, int]] = []

    def poll(self) -> None:
        active = 0
        for s in self._st.getActiveStageIds():
            info = self._st.getStageInfo(s)
            if info is not None:
                active += info.numActiveTasks
        self.samples.append((time.perf_counter(), active))

    def occupancy(self, start: float, end: float, cores: int) -> tuple[float, float]:
        """(mean running tasks / cores, seconds with fewer running tasks
        than cores) over ``[start, end]``, each sample held until the next."""
        pts = [(t, a) for t, a in self.samples if start <= t <= end]
        if not pts:
            return 0.0, end - start
        busy = tail = 0.0
        edges = [start] + [t for t, _ in pts[1:]] + [end]
        for (_, a), t0, t1 in zip(pts, edges[:-1], edges[1:]):
            busy += min(a, cores) * (t1 - t0)
            if a < cores:
                tail += t1 - t0
        return busy / (cores * (end - start)), tail
