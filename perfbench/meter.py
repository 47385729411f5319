"""Instruments the benchmark applies from outside the engine.

- :class:`Tracer` records one span per call into a layer, with the Spark
  jobs, stages and tasks that call ran (a job group per call, read back
  through ``statusTracker()``). With tracing off it only times calls.
- :class:`RssSampler` samples the summed resident memory of this process
  and every descendant (the JVM and the Python workers it forks).
- :func:`cpu_times`, :func:`steal_share`, :func:`calibrate_ms` and
  :func:`memcpy_gbps` record the machine state; they never gate a run.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Times calls; when ``enabled``, also counts the Spark work of each.

    Jobs launched by the calling thread carry the call's job group. Jobs
    the engine launches from its own helper threads carry no group, so
    the count also takes every ungrouped job that appeared during the
    call: the benchmark is a single closed-loop client, so nothing else
    runs at the same time.
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.tracker = self.sc.statusTracker()
        self.spans: list[dict] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed call; the yielded dict receives its numbers."""
        rec = {"name": name, **attrs}
        if not self.enabled:
            t0 = time.perf_counter()
            yield rec
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            return
        self._seq += 1
        group = f"perfbench-{self._seq}"
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            self.sc._jsc.clearJobGroup()
        # the status store is fed asynchronously: drain the listener bus
        # so every job, stage and task of the call is visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = (set(self.tracker.getJobIdsForGroup(group))
                | (set(self.tracker.getJobIdsForGroup(None)) - before))
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        rec.update(jobs=len(jobs), stages=stages, tasks=tasks)
        self.spans.append(rec)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces: ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    return _descendants(os.getpid())


def tree_rss_bytes() -> dict[str, int]:
    """Resident bytes of this process ("driver"), the JVM ("jvm") and the
    Python workers ("workers")."""
    out = {"driver": 0, "jvm": 0, "workers": 0}
    me = os.getpid()
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except (OSError, IndexError, ValueError):
            continue
        key = "driver" if pid == me else "jvm" if comm == "java" else "workers"
        out[key] += rss
    return out


class RssSampler:
    """Background thread keeping the peak of the summed tree RSS, and the
    split of that peak between driver, JVM and workers."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        split = tree_rss_bytes()
        if sum(split.values()) > self.peak:
            self.peak = sum(split.values())
            self.split = split

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two samples that the host stole."""
    delta = [b - a for a, b in zip(before, after)]
    # user nice system idle iowait irq softirq steal (guest is in user)
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def calibrate_ms(reps: int = 3) -> float:
    """Median time of a fixed single-process CPU task (Python + numpy)."""
    rng = np.random.default_rng(0)
    data = rng.random(2_000_000)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        np.sort(data)
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def memcpy_gbps(mib: int = 64, reps: int = 7) -> float:
    """Memory-copy bandwidth of one process, from the median copy time."""
    src = np.ones(mib << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        times.append(time.perf_counter() - t0)
    return src.nbytes / statistics.median(times) / 1e9


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def empty_task_ms(spark, cores: int, reps: int = 3) -> float:
    """Median time of one empty ``mapInPandas`` job, one task per core."""
    def identity(batches):  # nested, so Spark ships it by value
        yield from batches

    df = spark.range(0, cores, 1, cores).mapInPandas(identity, "id long")
    times = []
    for _ in range(reps + 1):  # the first job warms the Python workers
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times[1:])


def process_age_s() -> float:
    """Seconds since this process started (from ``/proc``)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start / os.sysconf("SC_CLK_TCK")
