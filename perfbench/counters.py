"""Counters read from outside the engine.

``StatusCounters`` reads Spark's own status store
(``sc._jsc.sc().statusStore()``) from the benchmark process. Job and
stage ids are global and monotonic, so a snapshot walks only the jobs
and stages that appeared since the previous snapshot; that includes
jobs the engine submits from its own thread pools. The session must
be built with ``spark.ui.retainedJobs``/``retainedStages`` above the
run's totals, or old entries are evicted and deltas go wrong.

``RssSampler`` sums the resident set of this process and every
descendant (driver JVM, Python workers) from ``/proc``.
"""

from __future__ import annotations

import os
import threading

# Cumulative fields of one snapshot. Times are milliseconds, sizes bytes.
FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_ms",
    "gc_ms",
    "shuffle_read",
    "shuffle_write",
    "spill",
    "input_bytes",
    "input_rows",
)


class StatusCounters:
    """Cumulative job/stage/task totals of one SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._lock = threading.Lock()
        self._last_job = -1
        self._last_stage = -1
        self.totals = dict.fromkeys(FIELDS, 0)
        # (submitted, completed) epoch seconds of every job seen so far
        self.job_times: list[tuple[float, float]] = []
        self.snapshot()  # start from what the context already ran

    def snapshot(self) -> dict[str, int]:
        """Drain the listener bus, fold in new jobs and stages, and
        return a copy of the running totals."""
        with self._lock:
            self._jsc.listenerBus().waitUntilEmpty()
            jobs = self._store.jobsList(None)  # newest first
            newest_job = self._last_job
            for i in range(jobs.size()):
                j = jobs.apply(i)
                jid = j.jobId()
                if jid <= self._last_job:
                    break
                self.totals["jobs"] += 1
                newest_job = max(newest_job, jid)
                sub, end = j.submissionTime(), j.completionTime()
                if sub.isDefined() and end.isDefined():
                    self.job_times.append(
                        (sub.get().getTime() / 1e3, end.get().getTime() / 1e3)
                    )
            self._last_job = newest_job
            stages = self._store.stageList(
                None, False, False, self._no_quantiles, None
            )  # newest first
            newest_stage = self._last_stage
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = s.stageId()
                if sid <= self._last_stage:
                    break
                newest_stage = max(newest_stage, sid)
                t = self.totals
                t["stages"] += 1
                t["tasks"] += s.numCompleteTasks()
                t["executor_ms"] += s.executorRunTime()
                t["gc_ms"] += s.jvmGcTime()
                t["shuffle_read"] += s.shuffleReadBytes()
                t["shuffle_write"] += s.shuffleWriteBytes()
                t["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                t["input_bytes"] += s.inputBytes()
                t["input_rows"] += s.inputRecords()
            self._last_stage = newest_stage
            return dict(self.totals)

    def retained(self) -> tuple[int, float]:
        """(persisted RDD count, MB they hold in memory and on disk)."""
        n = self._sc._jsc.getPersistentRDDs().size()
        infos = self._jsc.getRDDStorageInfo()
        size = sum(r.memSize() + r.diskSize() for r in infos)
        return n, size / 1e6


def delta(after: dict[str, int], before: dict[str, int]) -> dict[str, int]:
    return {k: after[k] - before[k] for k in FIELDS}


def driver_gap_s(jobs: list[tuple[float, float]], start: float, end: float) -> float:
    """Seconds of [start, end] during which no job ran: the time the
    driver spends planning, scheduling and in Python between jobs."""
    busy, edge = 0.0, start
    for lo, hi in sorted(jobs):
        lo, hi = max(lo, edge), min(hi, end)
        if hi > lo:
            busy += hi - lo
            edge = hi
    return (end - start) - busy


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and its descendants."""
    kids = _children()
    todo, out = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root`` and its descendants. Unlike wall time it does not
    count time the host gives to other tenants."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root: int | None = None) -> float:
    """Proportional resident MB of ``root`` (default: this process)
    and its descendants."""
    kb = 0
    for pid in _tree(root):
        try:
            # proportional set size: pages shared by the forked Python
            # workers count once, not once per worker
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return kb / 1e3


class RssSampler:
    """Peak of ``tree_rss_mb`` while active, sampled every ``period`` s."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())

