"""Layer spans measured from outside the library.

A span is (name, start, end) in wall-clock seconds, recorded around a
call into one layer's public function. While spans are recorded the
benchmark touches nothing else: after the traced pass, one snapshot of
Spark's status store gives every job's and stage's interval and
counters, and each is attributed to the span whose window holds its
submission time. Attribution is by time window, not by job group,
because work submitted from helper threads (``group_stream``'s
prefetch pool) does not inherit the caller's job-group properties.

Per span:
  wall_s            end - start
  jvm_busy_s        length of the union of job intervals inside the span
  driver_s          wall_s - jvm_busy_s (Python, py4j, planning, gaps)
  own_busy_s        length of the union of the intervals of the jobs
                    submitted in the span, wherever they end
  jobs, tasks       jobs submitted in the span, and their tasks
  shuffle_write_mb  shuffle bytes written by stages submitted in the span
  spill_mb          memory + disk spill of those stages
  task_cpu_s        executor CPU time of those stages
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager

COUNTERS = (
    "wall_s", "driver_s", "jobs", "tasks",
    "shuffle_write_mb", "spill_mb", "task_cpu_s",
)
COUNTER_UNITS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "task_cpu_s": "s",
}


class Tracer:
    """Collects spans in memory; a disabled tracer records nothing.
    ``self_s`` is the time spent recording, which is all that tracing
    adds to a traced call (the status store is read after the pass)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self.self_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        t0 = time.time()
        self.self_s += time.perf_counter() - c0
        try:
            yield
        finally:
            c1 = time.perf_counter()
            self.spans.append((name, t0, time.time()))
            self.self_s += time.perf_counter() - c1


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(spans, jobs, stages) -> list[dict]:
    """Counters per span. ``jobs`` holds (submit_s, end_s, tasks) and
    ``stages`` holds (submit_s, shuffle_write_bytes, spill_bytes,
    cpu_ns), both from :func:`status_snapshot`."""
    out = []
    for name, lo, hi in spans:
        # the status store keeps whole milliseconds: a job submitted
        # just after ``lo`` may read as just before it
        lo_ms = math.floor(lo * 1000) / 1000
        inside = [j for j in jobs if lo_ms <= j[0] <= hi]
        busy = union_length([(j[0], j[1]) for j in jobs], lo, hi)
        st = [s for s in stages if lo_ms <= s[0] <= hi]
        out.append({
            "name": name,
            "wall_s": hi - lo,
            "jvm_busy_s": busy,
            "driver_s": (hi - lo) - busy,
            # busy time of the jobs counted in this span, unclipped
            "own_busy_s": union_length([(j[0], j[1]) for j in inside],
                                       -math.inf, math.inf),
            "jobs": len(inside),
            "tasks": sum(j[2] for j in inside),
            "shuffle_write_mb": sum(s[1] for s in st) / 1e6,
            "spill_mb": sum(s[2] for s in st) / 1e6,
            "task_cpu_s": sum(s[3] for s in st) / 1e9,
        })
    return out


def reconcile(rows: list[dict]) -> float:
    """Sum over spans of |driver_s + own_busy_s - wall_s|, relative to
    the sum of wall_s. ``driver_s`` is the span's wall time outside any
    job, ``own_busy_s`` the time of the jobs the span's counters
    include: the two add up to the span's wall time only when those
    jobs are exactly the ones that ran during it. A job that outlives
    the span that submitted it, or that runs during a span but was
    submitted outside every span (so no span counts its tasks and
    CPU), opens a gap."""
    wall = sum(r["wall_s"] for r in rows)
    if wall == 0:
        return 0.0
    return sum(abs(r["driver_s"] + r["own_busy_s"] - r["wall_s"]) for r in rows) / wall


def per_call(rows: list[dict]) -> dict[str, dict]:
    """Mean of each counter per call, keyed by span name, with the
    call count under ``calls``."""
    out: dict[str, dict] = {}
    for r in rows:
        acc = out.setdefault(r["name"], {"calls": 0, **dict.fromkeys(COUNTERS, 0.0)})
        acc["calls"] += 1
        for c in COUNTERS:
            acc[c] += r[c]
    for acc in out.values():
        for c in COUNTERS:
            acc[c] /= acc["calls"]
    return out


def _ms(opt) -> float | None:
    """A Scala Option[java.util.Date] as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_snapshot(spark, cap: int) -> tuple[list, list]:
    """All jobs and stages from the status store, after the listener
    bus has delivered every event. Raises when the store holds ``cap``
    jobs or stages: older entries may then have been evicted, and the
    counters would silently undercount."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jl = store.jobsList(None)
    if jl.size() >= cap:
        raise RuntimeError(f"status store reached its cap of {cap} jobs")
    now = time.time()
    jobs = []
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = _ms(j.submissionTime())
        if sub is None:
            continue
        end = _ms(j.completionTime())
        jobs.append((sub, end if end is not None else now, j.numTasks()))
    defaults = [getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
    sl = store.stageList(None, *defaults)
    if sl.size() >= cap:
        raise RuntimeError(f"status store reached its cap of {cap} stages")
    stages = []
    for i in range(sl.size()):
        s = sl.apply(i)
        sub = _ms(s.submissionTime())
        if sub is None:  # skipped stage: its work ran in an earlier job
            continue
        stages.append((
            sub,
            s.shuffleWriteBytes(),
            s.memoryBytesSpilled() + s.diskBytesSpilled(),
            s.executorCpuTime(),
        ))
    return jobs, stages


def summary(values: list[float]) -> dict:
    """Median and the highest of p90/p99/p99.9 that still has at least
    ten samples beyond it, with the sample count."""
    xs = sorted(values)
    n = len(xs)
    out = {"n": n, "p50": percentile(xs, 50)}
    for q in (99.9, 99, 90):
        if n * (100 - q) / 100 >= 10:
            out[f"p{q:g}"] = percentile(xs, q)
            break
    return out


def percentile(sorted_xs: list[float], q: float) -> float:
    """Linear-interpolated percentile of an already sorted list."""
    if not sorted_xs:
        return math.nan
    pos = (len(sorted_xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(sorted_xs) - 1)
    return sorted_xs[lo] + (sorted_xs[hi] - sorted_xs[lo]) * (pos - lo)
