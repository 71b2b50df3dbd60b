"""In-memory span tracer for the traced benchmark run.

A span is one call of a wrapped public function, or one benchmark op. It
records its name, its parent span, its wall interval and the Spark jobs
submitted while it was the innermost open span: each span sets its own
Spark job group (``spark.jobGroup.id``) and restores the parent's on exit.

After the run, :meth:`Tracer.report` joins the spans with the job records
of the status store (submission/completion times, stages, tasks) and the
SQL executions of ``SQLAppStatusStore`` (shuffle bytes, scan rows). Only
the traced run installs wrappers; untraced runs execute unmodified code.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import re
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)
    timed: bool = True  # opened during the benchmark's timed phase


def covered(lo: float, hi: float, ivs) -> float:
    """Length of [lo, hi] covered by the union of the intervals ``ivs``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in ivs if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def uncovered(span: tuple[float, float], ivs) -> float:
    """Span duration minus the part of it the intervals ``ivs`` cover:
    self time with the child spans as ``ivs``, gap time with the span's
    job intervals."""
    return (span[1] - span[0]) - covered(span[0], span[1], ivs)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.timed = False  # set by the benchmark around its timed phase

    # --- recording --------------------------------------------------------

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def begin(self, name: str) -> int:
        o0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(
            Span(name, self._stack[-1] if self._stack else None, time.time(),
                 timed=self.timed)
        )
        self._stack.append(sid)
        sc = self._sc()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", f"perfbench-{sid}")
        self.overhead_s += time.perf_counter() - o0
        return sid

    def end(self, sid: int) -> None:
        t1 = time.time()
        o0 = time.perf_counter()
        span = self.spans[sid]
        span.t1 = t1
        self._stack.pop()
        sc = self._sc()
        if sc is not None:
            span.jobs = list(sc.statusTracker().getJobIdsForGroup(f"perfbench-{sid}"))
            parent = f"perfbench-{self._stack[-1]}" if self._stack else None
            sc.setLocalProperty("spark.jobGroup.id", parent)
        self.overhead_s += time.perf_counter() - o0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield self.spans[sid]
        finally:
            self.end(sid)

    def wrapped(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sid)

        return wrapper

    def wrap_module(self, module, prefix: str) -> None:
        """Wrap the public functions defined in ``module``, everywhere the
        package holds a reference to them (``from x import f`` bindings
        included), as spans named ``<prefix>.<function>``. The wrappers
        keep the original's name and module, so cloudpickle still ships a
        wrapped function by reference and workers run the original."""
        for n, f in list(vars(module).items()):
            if not n.startswith("_") and inspect.isfunction(f) and f.__module__ == module.__name__:
                self._rebind(f, self.wrapped(f, f"{prefix}.{n}"))

    def wrap_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.wrapped(getattr(cls, attr), name))

    @staticmethod
    def _rebind(orig, wrapper) -> None:
        pkg = orig.__module__.split(".")[0]
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == pkg or mname.startswith(pkg + ".")):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, wrapper)

    # --- reporting --------------------------------------------------------

    def report(self, spark) -> dict[str, dict[str, float]]:
        """Per span name, aggregated (see :func:`aggregate_spans`), joined
        with the session's job and SQL records."""
        return aggregate_spans(self.spans, job_records(spark), sql_by_job(spark))


def aggregate_spans(spans: list[Span], jobs: dict[int, dict],
                    sql: dict[int, dict]) -> dict[str, dict[str, float]]:
    """Per span name, over the spans opened in the timed phase: ``calls``; ``s`` (wall time of the outermost calls: a
    call nested in a span of the same name is not counted again);
    ``self_s``; ``jobs`` (inclusive of child spans); ``gap_s`` (wall time
    with none of those jobs running); ``shuffle_bytes`` and ``scan_rows``
    of their SQL executions. ``spark`` holds totals over every traced job.

    ``jobs`` maps job id to ``iv`` (start, end), ``stages``, ``tasks`` and
    ``failed_tasks``; ``sql`` maps job id to SQL metrics."""
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)

    def subtree(i):
        stack, out = [i], []
        while stack:
            j = stack.pop()
            out.append(j)
            stack.extend(kids.get(j, []))
        return out

    agg: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        if not s.timed:
            continue
        p, nested = s.parent, False
        while p is not None:
            if spans[p].name == s.name:
                nested = True
                break
            p = spans[p].parent
        if nested:
            continue
        own_jobs = sorted({j for k in subtree(i) for j in spans[k].jobs})
        a = agg.setdefault(
            s.name,
            dict(calls=0, s=0.0, self_s=0.0, jobs=0, gap_s=0.0,
                 shuffle_bytes=0, scan_rows=0),
        )
        a["calls"] += 1
        a["s"] += s.t1 - s.t0
        a["self_s"] += uncovered(
            (s.t0, s.t1), [(spans[c].t0, spans[c].t1) for c in kids.get(i, [])]
        )
        a["jobs"] += len(own_jobs)
        a["gap_s"] += uncovered((s.t0, s.t1), [jobs[j]["iv"] for j in own_jobs if j in jobs])
        for j in own_jobs:
            m = sql.get(j)
            if m:
                a["shuffle_bytes"] += m["shuffle_bytes"]
                a["scan_rows"] += m["scan_rows"]
    traced = {j for s in spans if s.timed for j in s.jobs}
    rec = [jobs[j] for j in traced if j in jobs]
    agg["spark"] = dict(
        jobs=len(traced),
        stages=sum(r["stages"] for r in rec),
        tasks=sum(r["tasks"] for r in rec),
        failed_tasks=sum(r["failed_tasks"] for r in rec),
        job_s=sum(r["iv"][1] - r["iv"][0] for r in rec),
    )
    return agg


def job_records(spark) -> dict[int, dict]:
    """Job id → wall interval (epoch s), stage, task and failed-task counts,
    from the application status store (works with the UI disabled)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out: dict[int, dict] = {}
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty():
            continue
        t0 = sub.get().getTime() / 1000.0
        t1 = done.get().getTime() / 1000.0 if not done.isEmpty() else t0
        out[j.jobId()] = dict(
            iv=(t0, t1),
            stages=j.stageIds().size(),
            tasks=j.numTasks(),
            failed_tasks=j.numFailedTasks(),
        )
    return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _first_bytes(s: str) -> int:
    m = re.search(r"([\d.,]+)\s*(TiB|GiB|MiB|KiB|B)\b", s)
    return int(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]) if m else 0


def _count(s: str) -> int:
    m = re.search(r"[\d,]+", s)
    return int(m.group(0).replace(",", "")) if m else 0


def sql_by_job(spark) -> dict[int, dict]:
    """Job id → shuffle bytes written and scan output rows of the SQL
    execution that ran it (each execution is charged to its lowest job id,
    so an execution's metrics count once)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[int, dict] = {}
    execs = store.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        job_ids = []
        jit = ex.jobs().keysIterator()
        while jit.hasNext():
            job_ids.append(int(jit.next()))
        if not job_ids:
            continue
        vals = {}
        mit = store.executionMetrics(ex.executionId()).iterator()
        while mit.hasNext():
            kv = mit.next()
            vals[kv._1()] = kv._2()
        shuffle = scan = 0
        nit = store.planGraph(ex.executionId()).allNodes().iterator()
        while nit.hasNext():
            node = nit.next()
            name = node.name()
            mi = node.metrics().iterator()
            while mi.hasNext():
                met = mi.next()
                v = vals.get(met.accumulatorId())
                if v is None:
                    continue
                if name == "Exchange" and met.name() == "shuffle bytes written":
                    shuffle += _first_bytes(v)
                elif name.startswith("Scan") and met.name() == "number of output rows":
                    scan += _count(v)
        out[min(job_ids)] = dict(shuffle_bytes=shuffle, scan_rows=scan)
    return out
