"""Measurement instruments the benchmark attaches from outside the library.

* :class:`RssSampler` -- peak RSS of this process and all its
  descendants (the Spark JVM and its Python workers), summed and per
  process, read from ``/proc`` on one sampler thread.
* :class:`Tracer` -- in-memory spans (name, start, end, parent, run id).
  Each span tags the Spark jobs it launches with a job group and a job
  description; :meth:`Tracer.collect_spark` then reads per-span task
  counters from the application status store, which Spark keeps even
  with the UI disabled.
* :func:`time_kernel` -- median in-process wall time of a pure-Python
  kernel over a fixed sample.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterator, List, Optional

MB = 1024.0 * 1024.0
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> Dict[int, List[int]]:
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int) -> List[int]:
    """Pids of every live descendant of ``root``."""
    children, out, stack = _children(), [], [root]
    while stack:
        pid = stack.pop()
        kids = children.get(pid, [])
        out.extend(kids)
        stack.extend(kids)
    return out


def _rss_by_kind(root: int) -> Dict[str, int]:
    """Resident bytes of ``root`` and its descendants: summed over the JVM
    (``java`` processes) and over everything else (the Python driver and
    the Python workers), plus ``driver`` (``root`` alone) and ``worker``
    (the largest single non-JVM descendant)."""
    out = {"jvm": 0, "python": 0, "driver": 0, "worker": 0}
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/comm", "rb") as f:
                kind = "jvm" if f.read().strip() == b"java" else "python"
            with open(f"/proc/{pid}/statm", "rb") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:  # exited while we looked
            continue
        out[kind] += rss
        if pid == root:
            out["driver"] = rss
        elif kind == "python":
            out["worker"] = max(out["worker"], rss)
    return out


class RssSampler:
    """Samples process-tree RSS every ``interval`` seconds while entered.
    :meth:`take_peak` returns the largest value seen of each of
    ``total``, ``jvm``, ``python``, ``driver`` and ``worker`` (each peak
    taken on its own) since the previous call, and starts a new window."""

    def __init__(self, interval: float) -> None:
        self.interval = interval
        self.root = os.getpid()
        self.peak = {"total": 0, "jvm": 0, "python": 0, "driver": 0, "worker": 0}
        self.samples = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = _rss_by_kind(self.root)
            rss["total"] = rss["jvm"] + rss["python"]
            with self._lock:
                for k, v in rss.items():
                    self.peak[k] = max(self.peak[k], v)
                self.samples += 1
            self._stop.wait(self.interval)

    def take_peak(self) -> Dict[str, int]:
        with self._lock:
            peak = dict(self.peak)
            self.peak = {k: 0 for k in self.peak}
        return peak

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            if self._thread.is_alive():
                raise RuntimeError("rss sampler thread did not stop")


def cpu_times() -> List[int]:
    """Host-wide jiffies from ``/proc/stat``: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: List[int], after: List[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: noise the run cannot control."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


def time_kernel(fn: Callable[[], object]) -> float:
    """Median wall seconds of ``fn()`` over five calls (after one untimed
    call that fills caches)."""
    fn()
    times = []
    for _ in range(5):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


@dataclass
class Span:
    span_id: int
    name: str
    parent: Optional[int]
    run_id: str
    start: float
    end: float = 0.0
    counts: Dict[str, float] = field(default_factory=dict)
    spark: Dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}-{self.span_id}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


# StageData getter -> (counter, scale to the reported unit)
_STAGE_COUNTERS = {
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / MB),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / MB),
    "diskBytesSpilled": ("spill_mb", 1 / MB),
}
SPARK_COUNTERS = tuple(c for c, _ in _STAGE_COUNTERS.values()) + (
    "peak_exec_mem_mb",
    "jobs",
    "job_s",
)


class Tracer:
    """Spans around calls into the library, kept in memory.

    Jobs launched inside a span carry job group ``<run_id>-<span_id>``
    (and description ``<run_id>-<span_id>:<name>``), so their stages are
    attributed to the innermost open span. Spark counters are exclusive
    to that span; :func:`layer_table` rolls them up per layer name.
    """

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: List[Span] = []
        self._open: List[Span] = []

    def _tag(self, span: Optional[Span]) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, f"{span.group}:{span.name}")

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.span_id if parent else None, self.run_id, time.time())
        self.spans.append(s)
        self._open.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self._tag(parent)

    def collect_spark(self) -> None:
        """Attach status-store counters to every span. Call once, after
        the traced work: the store keeps the last
        ``spark.ui.retainedJobs`` / ``retainedStages`` (1000) entries.

        Jobs are matched to spans by job group; a stage counts for the
        first job that lists it (later jobs that reuse its output only
        skip it), so a job description set by the library does not move
        counters between spans."""
        by_group = {s.group: s for s in self.spans}
        for s in self.spans:
            s.spark = {c: 0.0 for c in SPARK_COUNTERS}
        span_of_job: Dict[int, Span] = {}
        first_job: Dict[int, int] = {}
        intervals: Dict[str, List[tuple]] = {}
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        empty = jvm.java.util.ArrayList()
        jobs = store.jobsList(empty)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            job_id, stage_ids = job.jobId(), job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                first_job[sid] = min(first_job.get(sid, job_id), job_id)
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in by_group:
                continue
            s = span_of_job[job_id] = by_group[group.get()]
            s.spark["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.setdefault(s.group, []).append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
        stages = store.stageList(empty, False, False, self.sc._gateway.new_array(jvm.double, 0), empty)
        for i in range(stages.size()):
            st = stages.apply(i)
            # stages AQE skipped never ran and carry no metrics
            if str(st.status()) != "COMPLETE":
                continue
            s = span_of_job.get(first_job.get(st.stageId()))
            if s is None:
                continue
            for getter, (counter, scale) in _STAGE_COUNTERS.items():
                s.spark[counter] += getattr(st, getter)() * scale
            s.spark["peak_exec_mem_mb"] = max(
                s.spark["peak_exec_mem_mb"], st.peakExecutionMemory() / MB
            )
        for group, iv in intervals.items():
            by_group[group].spark["job_s"] = _covered(iv, by_group[group].start, by_group[group].end)

    def to_json(self) -> List[dict]:
        return [
            {
                "span_id": s.span_id,
                "name": s.name,
                "parent": s.parent,
                "run_id": s.run_id,
                "start": s.start,
                "end": s.end,
                "counts": s.counts,
                "spark": s.spark,
            }
            for s in self.spans
        ]


def _covered(intervals: List[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: List[Span]) -> float:
    """Span duration minus the part its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.span_id]
    return span.wall_s - _covered(kids, span.start, span.end)


def layer_table(spans: List[Span]) -> Dict[str, Dict[str, float]]:
    """Per layer name: wall_s, self_s, the Spark counters (inclusive of
    child spans, as the layer's call caused them) and rows_out."""
    table: Dict[str, Dict[str, float]] = {}
    children: Dict[Optional[int], List[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def inclusive(s: Span) -> Dict[str, float]:
        acc = dict(s.spark)
        for c in children.get(s.span_id, ()):
            for k, v in inclusive(c).items():
                acc[k] = max(acc.get(k, 0.0), v) if k == "peak_exec_mem_mb" else acc.get(k, 0.0) + v
        return acc

    for s in spans:
        row = table.setdefault(s.name, {"wall_s": 0.0, "self_s": 0.0})
        row["wall_s"] += s.wall_s
        row["self_s"] += self_time(s, spans)
        for k, v in inclusive(s).items():
            if k == "peak_exec_mem_mb":
                row[k] = max(row.get(k, 0.0), v)
            else:
                row[k] = row.get(k, 0.0) + v
        for k, v in s.counts.items():
            row[k] = row.get(k, 0.0) + v
    return table
