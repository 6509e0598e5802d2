"""Outside-in measurement: everything here reads the program from the
outside -- the process table, the JVM's management beans, Spark's status
tracker and status store over py4j, and the timings the benchmark takes
around its own calls. Nothing here imports from ``mypipe_spark``.
"""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def pct(values, q: float) -> float:
    """The q-th percentile (linear interpolation); NaN on no samples."""
    return float(np.percentile(values, q)) if len(values) else float("nan")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out[1:]


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs (neither exited nor a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Waits until none of ``pids`` runs any more; returns those still
    running at the timeout."""
    deadline = time.time() + timeout_s
    left = [p for p in pids if _running(p)]
    while left and time.time() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _running(p)]
    return left


def stop_all(pids: list[int], timeout_s: float = 10) -> None:
    """Ends ``pids``: SIGTERM, then SIGKILL to any that outlive
    ``timeout_s``, and waits for every one to be gone. Zombie children
    of this process are reaped."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:  # already gone
                pass
        pids = wait_gone(pids, timeout_s)
        if not pids:
            break
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests (the 8th counter, steal). On a
    shared host it tells a slow run caused by contention from one
    caused by the program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: the Python
    driver, the JVM it launched and the JVM's Python workers."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak_mb`` after
    ``stop``."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / 2**20


def jvm_gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(b.getCollectionTime()) for b in beans)


def group_jobs(spark, group: str) -> set[int]:
    """Ids of the jobs run under a job group. A streaming query runs its
    jobs under its ``runId`` as the job group."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(str(group)))


def jobs_stats(spark, job_ids) -> dict:
    """Jobs and completed tasks of some jobs, from the status tracker
    and the status store. Stages that AQE skipped report their planned
    task count, so only completed stages are counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, tasks=0)
    stage_ids = set()
    for job_id in job_ids:
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        it = store.stageData(int(sid), False, None, False, None).iterator()
        while it.hasNext():
            d = it.next()
            if d.status().toString() == "COMPLETE":
                out["tasks"] += d.numCompleteTasks()
    return out


class Tracer:
    """Spans kept in memory and written out once, when the run ends.
    Spans of one segment or one query call share a ``trace`` id. Time
    spent inside the tracer's own collection calls is summed as
    ``overhead_s``. A disabled tracer records nothing and costs nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0

    def add(self, name: str, trace: str, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        if self.enabled:
            self.spans.append(dict(name=name, trace=trace, parent=parent,
                                   start=start, end=end, **attrs))

    @contextmanager
    def span(self, name: str, trace: str, parent: str | None = None, **attrs):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, trace, start, time.time(), parent, **attrs)

    @contextmanager
    def collecting(self):
        """Wraps a call made only to trace; its time is the overhead."""
        start = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - start

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
