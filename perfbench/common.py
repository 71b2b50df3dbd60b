"""Shared plumbing for the benchmark workloads: where a run keeps its
files, the Spark session it measures, statistics and the result line.

Everything a run writes lives under ``<checkout>/.bench_build/perfbench``
(or ``$CARGO_TARGET_DIR/perfbench``), so a run leaves the rest of the
checkout untouched.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: JVM heap for the measured session. Small on purpose: the host is shared,
#: and every workload's working set is a few hundred MB at most.
DRIVER_MEMORY = "3g"


def work_root() -> str:
    build = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, build, "perfbench")


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


class RunDirs:
    """Per-process scratch tree, removed by :meth:`cleanup`."""

    def __init__(self, workload: str):
        self.root = os.path.join(work_root(), f"run-{workload}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "spark-local")
        self.warehouse = os.path.join(self.root, "spark-warehouse")
        self.data = os.path.join(self.root, "data")
        self.jvm_tmp = os.path.join(self.root, "jvm-tmp")
        for d in (self.tmp, self.local, self.warehouse, self.data, self.jvm_tmp):
            os.makedirs(d)

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def prepare_env(dirs: RunDirs) -> None:
    """Environment the engine and its Python workers need; must run before
    the first pyspark import so the JVM and the workers inherit it."""
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpus())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = dirs.local
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs.warehouse
    os.environ["TMPDIR"] = dirs.tmp
    tempfile.tempdir = None
    # Python workers import the package (DV merges ship engine functions)
    # and this directory (sweep.py ships a function by reference)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.join(ROOT, "perfbench"), os.environ.get("PYTHONPATH")) if p
    )
    # java.io.tmpdir keeps the JVM's scratch inside the checkout; the
    # retention limits only keep job and SQL records around for the traced
    # run's attribution and do not change how anything executes
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={dirs.jvm_tmp} "
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        "--conf spark.sql.ui.retainedExecutions=100000 "
        "pyspark-shell"
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launched JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def retained_mb(spark) -> float:
    """JVM heap in use after a full GC plus this process's peak RSS, MB."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        used.append(rt.totalMemory() - rt.freeMemory())
    py_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    return (min(used) + py_peak) / (1 << 20)


def local_write_bytes(spark) -> int:
    """Shuffle bytes written plus bytes spilled to disk, summed over every
    stage the session has run (from the status store; works with the UI
    off)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    quantiles = getattr(store, "stageList$default$4")()
    total = 0
    it = store.stageList(None, False, False, quantiles, None).iterator()
    while it.hasNext():
        st = it.next()
        total += st.shuffleWriteBytes() + st.diskBytesSpilled()
    return total


def listing(path: str) -> dict[str, int]:
    """File path -> size for every file under ``path``; a file removed
    while the walk runs is skipped."""
    out = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def dir_bytes(path: str, pred=None) -> tuple[int, int]:
    """(files, bytes) under ``path``; ``pred(relpath)`` filters files."""
    sizes = [n for p, n in listing(path).items()
             if pred is None or pred(os.path.relpath(p, path))]
    return len(sizes), sum(sizes)


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: the mean of the order
    statistics, each weighted by the chance that it is the median of a
    fresh sample, i.e. by the Beta((n+1)/2, (n+1)/2) mass over
    [(i-1)/n, i/n]. Unlike the sample median it does not jump when the
    middle of a small sample falls in a gap between two kinds of op."""
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    log_norm = math.lgamma(2 * a) - 2 * math.lgamma(a)
    steps = 200  # midpoint rule per interval; the density is smooth
    h = 1 / (n * steps)
    weights = []
    for i in range(n):
        ts = (i / n + (k + 0.5) * h for k in range(steps))
        weights.append(h * sum(math.exp(log_norm + (a - 1) * math.log(t * (1 - t))) for t in ts))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the result object as the last line of stdout."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()


def log(msg: str) -> None:
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def testdata(sf: str = "0.1") -> str:
    """Path of the synthetic TPC-H-like tables at scale ``sf``, generated
    once per checkout by the repo's own ``tools/gen_testdata.py``."""
    out_root = os.path.join(work_root(), "testdata")
    path = os.path.join(out_root, f"sf{sf}")
    if os.path.exists(os.path.join(path, ".complete")):
        return path
    tmp_root = os.path.join(work_root(), f"testdata.tmp-{os.getpid()}")
    shutil.rmtree(tmp_root, ignore_errors=True)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import gen_testdata
    finally:
        sys.path.pop(0)
    made = gen_testdata.generate(tmp_root, float(sf), seed=42)
    open(os.path.join(made, ".complete"), "w").close()
    os.makedirs(out_root, exist_ok=True)
    try:
        os.rename(made, path)
    except OSError:  # another run finished first; its copy is identical
        pass
    shutil.rmtree(tmp_root, ignore_errors=True)
    return path


class Op:
    """One timed operation. ``write_s`` / ``read_s`` split its latency into
    the committing part and the reading part where the workload has both."""

    __slots__ = ("kind", "s", "ok", "cause", "write_s", "read_s", "out")

    def __init__(self, kind: str):
        self.kind = kind
        self.s = 0.0
        self.ok = True
        self.cause = ""
        self.write_s = None
        self.read_s = None
        self.out = None

    def fail(self, cause: str) -> None:
        self.ok = False
        self.cause = self.cause or cause


class Bench:
    """What one run of one workload measures: set-up phases, the timed
    ops, and (traced runs only) the span tracer. ``t0`` is the
    ``perf_counter`` reading at process start."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 dirs: RunDirs, t0: float):
        self.t0 = t0
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.dirs = dirs
        self.tracer = None
        if trace:
            from tracer import Tracer

            self.tracer = Tracer()
        self.ops: list[Op] = []
        self.phases: dict[str, float] = {}
        self.setup_s = 0.0
        self.run_s = 0.0
        self.values: dict[str, float] = {}  # workload-specific metrics
        self.spark = None

    # --- set-up -------------------------------------------------------------

    def start_session(self):
        from wrtd_etl_spark import session

        if self.tracer is not None:
            install_wrappers(self.tracer)
        t = time.perf_counter()
        self.spark = session.get_spark(f"perfbench-{self.workload}")
        self.phases["session"] = time.perf_counter() - t
        return self.spark

    @contextlib.contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    # --- timed phase ----------------------------------------------------------

    @contextlib.contextmanager
    def timed(self):
        self.setup_s = time.perf_counter() - self.t0
        if self.tracer is not None:
            self.tracer.timed = True
        t = time.perf_counter()
        try:
            yield
        finally:
            self.run_s = time.perf_counter() - t
            if self.tracer is not None:
                self.tracer.timed = False

    def op(self, kind: str, fn, span: str | None = None) -> Op:
        """Run ``fn(op)`` as one op; an exception marks it failed."""
        op = Op(kind)
        t = time.perf_counter()
        try:
            with self.span(span or f"op.{kind}"):
                op.out = fn(op)
        except Exception as e:  # the run goes on; the op counts as failed
            op.fail(f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}")
        op.s = time.perf_counter() - t
        self.ops.append(op)
        return op


#: Modules whose public functions the traced run wraps, with span prefixes.
TRACED_MODULES = {
    "wrtd_etl_spark.session": "session",
    "wrtd_etl_spark.catalog": "catalog",
    "wrtd_etl_spark.sinks": "sinks",
    "wrtd_etl_spark.pipeline": "pipeline",
    "wrtd_etl_spark.sources.html_page": "sources.html_page",
    "wrtd_etl_spark.sources.json_ingest": "sources.json_ingest",
    "wrtd_etl_spark.sources.versioned": "sources.versioned",
    "wrtd_etl_spark.sources.versioned_sql": "sources.versioned_sql",
    "wrtd_etl_spark.operators.upsert": "operators.upsert",
    "wrtd_etl_spark.streaming.outbox": "streaming.outbox",
    "wrtd_etl_spark.streaming.cursor": "streaming.cursor",
}


def install_wrappers(tracer) -> None:
    import importlib

    for mod_name, prefix in TRACED_MODULES.items():
        tracer.wrap_module(importlib.import_module(mod_name), prefix)
    from wrtd_etl_spark.pipeline import ReplayWarehouse

    for m in ("load_replay", "data_message", "drain_messages", "analytics", "table"):
        tracer.wrap_method(ReplayWarehouse, m, f"pipeline.{m}")
