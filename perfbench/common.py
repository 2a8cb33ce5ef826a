"""Shared pieces of the benchmark: the percentile rule, request
timing, spans with self time, Spark job/stage/task counters and the
process environment a run needs.

Nothing here imports pyspark at module level, so the pure logic is
testable without a JVM (see ``test_common.py``).
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: Percentile ladder the tail rule walks, highest first.
LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: A percentile is reported only when at least this many samples lie
#: beyond it.
MIN_BEYOND = 10


# --------------------------------------------------------------------- #
# statistics                                                            #
# --------------------------------------------------------------------- #


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method).
    ``inf`` samples (failed requests) sort last and propagate."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    if s[hi] == math.inf:
        return math.inf if k > lo or s[lo] == math.inf else s[lo]
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``MIN_BEYOND``
    samples beyond it, or None when ``n`` is too small for any."""
    for p in LADDER:
        if n * (1.0 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p
    return None


def summarize(xs: list[float]) -> dict:
    """n, p50 and the tail percentile the sample count supports."""
    out: dict = {"n": len(xs)}
    if not xs:
        return out
    out["p50"] = percentile(xs, 50.0)
    tail = tail_percentile(len(xs))
    if tail is not None:
        out["tail_p"] = tail
        out["tail"] = percentile(xs, tail)
    return out


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mix_p50(by_kind: dict[str, list[float]]) -> float:
    """Median over all requests, each counted at its route's median.
    When one route group ends near the middle of the sorted latencies
    (as the fast routes do in the serve mix), the plain median jumps
    between the groups with each request's scatter; this one reads the
    route the mix puts in the middle."""
    return percentile([median(v) for v in by_kind.values() for _ in v], 50.0)


# --------------------------------------------------------------------- #
# request timing                                                        #
# --------------------------------------------------------------------- #


@dataclass
class OpRecord:
    """One request. Times are seconds from the load generator's start.
    ``ok`` is False for a failed, refused or wrong answer."""

    op_id: int
    kind: str
    sent: float = math.nan
    done: float = math.nan
    ok: bool = False
    detail: str = ""

    @property
    def latency_s(self) -> float:
        """Send to completion. A failed request never meets any
        latency limit."""
        if not self.ok or math.isnan(self.done):
            return math.inf
        return self.done - self.sent


# --------------------------------------------------------------------- #
# spans                                                                 #
# --------------------------------------------------------------------- #


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    thread: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part its children cover. Children
    may overlap each other (work fanned out to threads); the covered
    part is the union of the children clipped to the parent."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {
        s.sid: max(0.0, s.dur - union_length(kids.get(s.sid, [])))
        for s in spans
    }


class Tracer:
    """In-memory span recorder. Parents follow the calling thread's
    open spans; a span may name an explicit parent for work that hops
    threads. Disabled tracers record nothing and cost one branch; so
    does a thread inside ``sampled(False)``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def sampled(self, on: bool):
        """Record the calling thread's spans only if ``on``, so one run
        can trace some ops and leave the others untraced."""
        prev = getattr(self._local, "off", False)
        self._local.off = not on
        try:
            yield
        finally:
            self._local.off = prev

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled or getattr(self._local, "off", False):
            yield None
            return
        st = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(
            sid,
            name,
            time.perf_counter(),
            parent=parent if parent is not None else (st[-1] if st else None),
            thread=threading.get_ident(),
            attrs=attrs,
        )
        st.append(sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        def wrapped(*a, **k):
            with tracer.span(label):
                return fn(*a, **k)

        wrapped.__wrapped__ = fn
        wrapped.__name__ = getattr(fn, "__name__", attr)
        setattr(owner, attr, wrapped)

    def by_name(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "start": round(s.start, 6),
                            "end": round(s.end, 6),
                            "parent": s.parent,
                            "thread": s.thread,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        },
                        default=str,
                    )
                    + "\n"
                )


# --------------------------------------------------------------------- #
# Spark counters                                                        #
# --------------------------------------------------------------------- #


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group, read from
    Spark's public status tracker."""
    tr = sc.statusTracker()
    jobs = tr.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = tr.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tr.getStageInfo(s)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed": failed}


def catalyst_phases_ms(df) -> dict[str, float]:
    """analysis / optimization / planning wall of a DataFrame's query
    execution, from ``QueryExecution.tracker()``."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --------------------------------------------------------------------- #
# process environment                                                   #
# --------------------------------------------------------------------- #


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(workload: str) -> str:
    """Keep every byte a run writes inside the checkout and make the
    repo importable by Spark's Python workers. Returns the run's work
    dir (wiped first, so each run starts from the same state)."""
    import shutil
    import sys

    os.chdir(ROOT)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    work = os.path.join(WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    return work


def start_spark():
    """The program's own session factory at local[nproc]."""
    from ballcone_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{nproc()}]")


def stop_spark(spark) -> None:
    """Stop the session, then close the gateway JVM's stdin (its exit
    signal) and wait until that process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
