"""Spans, Spark counters and process facts for the benchmark.

Spans are recorded only from the benchmark's own code, around each call
into a layer of the package: name, start, end, parent span and the id of
the operation (pass, question or query) they belong to. They stay in
memory and are written once, when the run ends. Untraced runs use
``NullTracer``, which records nothing.

Counts come from Spark itself: job ids per job group from the status
tracker, stage metrics (tasks, shuffle, spill, task times, input rows)
from the driver's status store, and bytes/files from walking sink
directories.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans in memory; ``span`` nests through a stack."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.perf_counter(), parent, op))

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        self_t = self.self_times()
        return [dict(asdict(s), self_s=self_t[s.id]) for s in sorted(self.spans, key=lambda s: s.start)]


class NullTracer(Tracer):
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        yield


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# --- Spark counters ------------------------------------------------------------


@contextlib.contextmanager
def job_group(spark, group: str | None):
    """Tag the Spark jobs started inside with ``group``; None tags nothing."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_in_group(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_ids(spark, job_ids) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    out = []
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            out.extend(info.stageIds)
    return out


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_ms_max: float = 0.0  # sum over stages of the slowest task
    task_ms_p50: float = 0.0  # sum over stages of the median task

    def add(self, other: "StageTotals") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def stage_totals(spark, ids) -> StageTotals:
    """Sum the status store's metrics over the given stage ids."""
    out = StageTotals()
    wanted = set(ids)
    if not wanted:
        return out
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    stages = store.stageList(sc._jvm.java.util.ArrayList(), *defaults)
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    it = stages.iterator()
    while it.hasNext():
        st = it.next()
        if st.stageId() not in wanted:
            continue
        out.stages += 1
        out.tasks += st.numTasks()
        out.input_records += st.inputRecords()
        out.shuffle_write_bytes += st.shuffleWriteBytes()
        out.shuffle_read_bytes += st.shuffleReadBytes()
        out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        summary = store.taskSummary(st.stageId(), st.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            out.task_ms_p50 += run.apply(0)
            out.task_ms_max += run.apply(1)
    return out


# --- process and filesystem facts --------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def session_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of every
    process in this process's session: the driver Python, the JVM and its
    Python workers."""
    sid, total = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat(5), counted after the name
            total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes of all regular files, number of parquet data files) under
    ``path``, the figures ``du`` and ``find -name '*.parquet'`` give."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


# A Spark log line at level ERROR: the classic layout
# ("26/01/02 10:00:00 ERROR Logger: msg") or the JSON layout
# ({"ts": ..., "level": "ERROR", ...}).
_ERROR_LINE = re.compile(r'^\S+ \S+ ERROR |"level": ?"ERROR"')


def count_error_lines(log_path: str) -> int:
    if not os.path.exists(log_path):
        return 0
    with open(log_path, errors="replace") as fh:
        return sum(1 for line in fh if _ERROR_LINE.search(line))
