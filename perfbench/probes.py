"""Measurement primitives for the CDC benchmark.

Everything here reads the engine from the outside: process-tree CPU and
RSS from ``/proc``, Spark job and stage counters from the driver's status
store, and spans recorded around the calls the benchmark makes into each
layer.  Nothing in ``binlog_spark`` is imported.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: a traced run's layer self times must sum to the untraced timed wall
#: within this share of it (see ``reconcile``)
RECONCILE_TOLERANCE = 0.25


# ---------------------------------------------------------------- statistics

def median(values: list[float]) -> float:
    return statistics.median(values)


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest percentile that has at least 10 samples beyond it.

    Returns ``(percentile, value)``: with n sorted samples the value is the
    one with exactly 10 above it, at percentile 100 * (n - 10) / n.  With
    20 or fewer samples that percentile is at or below the median, so the
    median is returned as the 50th percentile."""
    if not samples:
        raise ValueError("no samples")
    n = len(samples)
    if n <= 20:
        return 50.0, median(samples)
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def quantile(values: list[float], q: float) -> float:
    """The ``q`` quantile (0 < q < 1) by nearest rank."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(q * len(v)) - 1))]


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union_length(intervals: list[tuple[float, float]],
                 lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ------------------------------------------------------------- /proc sampler

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after "pid (comm)"; comm may itself hold spaces or parens
    return s[s.rfind(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(_children(p))
    return pids


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, resident bytes) of ``root`` and its live descendants.

    CPU counts user+system time of every live process plus the reaped
    children each has waited for (cutime/cstime), so a Spark Python worker
    that exits keeps its CPU in its parent's total."""
    cpu_ticks = rss_pages = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        cpu_ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        rss_pages += int(f[21])
    return cpu_ticks / _TICK, rss_pages * _PAGE


def process_age_s() -> float:
    """Seconds since this process started."""
    f = _stat_fields(os.getpid())
    with open("/proc/uptime") as u:
        uptime = float(u.read().split()[0])
    return uptime - int(f[19]) / _TICK


class ProcSampler:
    """Background sampler of this process tree's resident memory; CPU is
    read on demand (it is a counter, so two reads bound an interval)."""

    def __init__(self, interval: float = 0.1, root: int | None = None):
        self.root = root or os.getpid()
        self.interval = interval
        self._samples: list[tuple[float, int]] = []    # (epoch s, bytes)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-proc-sampler")

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            _, rss = tree_usage(self.root)
            with self._lock:
                self._samples.append((time.time(), rss))

    def cpu_s(self) -> float:
        return tree_usage(self.root)[0]

    def rss_samples(self, windows: list[tuple[float, float]]) -> list[int]:
        """Resident bytes sampled inside any of the (start, end) windows."""
        with self._lock:
            samples = list(self._samples)
        return [rss for t, rss in samples
                if any(a <= t <= b for a, b in windows)]


# ------------------------------------------------------- Spark status store

@dataclass
class Job:
    job_id: int
    group: str | None
    start: float            # epoch seconds
    end: float
    stage_ids: list[int]
    tasks: int


@dataclass
class Stage:
    stage_id: int
    gc_s: float
    shuffle_write: int


def _opt(o):
    return o.get() if o.isDefined() else None


class StatusStore:
    """Jobs and stages from the driver's ``AppStatusStore`` (works with
    ``spark.ui.enabled=false``).  Job times are JVM epoch milliseconds,
    comparable with ``time.time()`` in this process."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()

    def jobs(self, since: float) -> list[Job]:
        """Finished jobs submitted at or after ``since`` (epoch seconds)."""
        seq = self._store.jobsList(self._jvm.java.util.ArrayList())
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is None or done is None:
                continue
            start = sub.getTime() / 1000.0
            if start < since:
                continue
            ids = j.stageIds()
            out.append(Job(j.jobId(), _opt(j.jobGroup()), start,
                           done.getTime() / 1000.0,
                           [ids.apply(k) for k in range(ids.size())],
                           j.numCompletedTasks()))
        return out

    def stages(self) -> dict[int, Stage]:
        seq = self._store.stageList(self._jvm.java.util.ArrayList(), False,
                                    False, self._gw.new_array(
                                        self._jvm.double, 0),
                                    self._jvm.java.util.ArrayList())
        out: dict[int, Stage] = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            prev = out.get(s.stageId())
            st = Stage(s.stageId(), s.jvmGcTime() / 1000.0,
                       s.shuffleWriteBytes())
            if prev is not None:   # retried attempts add up
                st = Stage(st.stage_id, st.gc_s + prev.gc_s,
                           st.shuffle_write + prev.shuffle_write)
            out[st.stage_id] = st
        return out


@dataclass
class JobTotals:
    jobs: int = 0
    tasks: int = 0
    gc_s: float = 0.0
    shuffle_bytes: int = 0


def job_totals(jobs: list[Job], stages: dict[int, Stage]) -> JobTotals:
    """Counts over a set of jobs; a stage shared by two jobs counts once
    (the second job skips it)."""
    t = JobTotals()
    seen: set[int] = set()
    for j in jobs:
        t.jobs += 1
        t.tasks += j.tasks
        for sid in j.stage_ids:
            st = stages.get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            t.gc_s += st.gc_s
            t.shuffle_bytes += st.shuffle_write
    return t


def driver_gap_s(jobs: list[Job], start: float, end: float) -> float:
    """Wall of ``[start, end]`` during which no Spark job was running:
    planning, py4j round trips and Python orchestration on the driver."""
    return (end - start) - union_length([(j.start, j.end) for j in jobs],
                                        start, end)


# ------------------------------------------------------------------ tracing

@dataclass
class Span:
    name: str
    layer: str | None       # None for a grouping span (pass, batch)
    run_id: str
    parent: int | None      # index into Tracer.spans
    start: float = 0.0
    end: float = 0.0
    cpu0: float = 0.0
    cpu1: float = 0.0
    #: index of the span whose work this span recomputes first (a lazy
    #: DataFrame re-executes its upstream layers); its wall, CPU and
    #: shuffle are subtracted to give this span's self cost
    prefix: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        return self.cpu1 - self.cpu0


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Each span sets the Spark job group to its layer name, so jobs can be
    attributed by group; jobs submitted from threads the engine starts
    carry no group and are attributed to the innermost span whose interval
    holds their submission time."""

    def __init__(self, spark, sampler: ProcSampler):
        self._sc = spark.sparkContext
        self._sampler = sampler
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run_id: str, layer: str | None = None,
             prefix: Span | None = None):
        sp = Span(name, layer, run_id,
                  self._stack[-1] if self._stack else None,
                  prefix=None if prefix is None else self.spans.index(prefix))
        self.spans.append(sp)
        idx = len(self.spans) - 1
        prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
        if layer is not None:
            self._sc.setJobGroup(f"{layer}:{idx}", f"{run_id} {name}")
        self._stack.append(idx)
        sp.cpu0, sp.start = self._sampler.cpu_s(), time.time()
        try:
            yield sp
        finally:
            sp.end, sp.cpu1 = time.time(), self._sampler.cpu_s()
            self._stack.pop()
            self._sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def attribute(self, jobs: list[Job]) -> dict[int, list[Job]]:
        """Jobs per span index (layer spans only)."""
        out: dict[int, list[Job]] = {}
        for j in jobs:
            idx = None
            if j.group and ":" in j.group:
                tail = j.group.rsplit(":", 1)[1]
                if tail.isdigit() and int(tail) < len(self.spans):
                    idx = int(tail)
            if idx is None:
                inside = [i for i, s in enumerate(self.spans)
                          if s.layer is not None
                          and s.start <= j.start <= s.end]
                if inside:
                    idx = max(inside, key=lambda i: self.spans[i].start)
            if idx is not None:
                out.setdefault(idx, []).append(j)
        return out

    def to_records(self) -> list[dict]:
        return [{"name": s.name, "layer": s.layer, "run_id": s.run_id,
                 "parent": s.parent, "start": s.start, "end": s.end,
                 "cpu_s": s.cpu, "prefix": s.prefix, **s.counts}
                for s in self.spans]


@dataclass
class LayerCost:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    jobs: int = 0
    shuffle_bytes: int = 0


def layer_costs(tracer: Tracer, jobs: list[Job],
                stages: dict[int, Stage]) -> dict[str, LayerCost]:
    """Self cost per layer: each layer span's wall, CPU and shuffle minus
    those of the prefix span it recomputes.  Job counts are the span's
    own (a recomputed prefix fuses into the same jobs)."""
    by_span = tracer.attribute(jobs)
    raw: dict[int, tuple[float, float, int, int]] = {}
    for i, s in enumerate(tracer.spans):
        if s.layer is None:
            continue
        t = job_totals(by_span.get(i, []), stages)
        raw[i] = (s.wall, s.cpu, t.jobs, t.shuffle_bytes)
    out: dict[str, LayerCost] = {}
    for i, (wall, cpu, nj, shuf) in raw.items():
        s = tracer.spans[i]
        if s.prefix is not None:
            pw, pc, _, ps = raw[s.prefix]
            wall, cpu, shuf = wall - pw, cpu - pc, shuf - ps
        c = out.setdefault(s.layer, LayerCost())
        c.wall_s += wall
        c.cpu_s += cpu
        c.jobs += nj
        c.shuffle_bytes += max(0, shuf)
    return out


def reconcile(self_times: dict[str, float], untraced_wall: float) -> float:
    """Sum of layer self times as a share of the untraced wall; within
    ``RECONCILE_TOLERANCE`` of 1 the layers account for the timed work."""
    return sum(self_times.values()) / untraced_wall
