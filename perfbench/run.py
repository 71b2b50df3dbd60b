"""Benchmark entry point.

    python3 perfbench/run.py --workload <replay_etl|lake_dml|query_sweep>
                             --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the engine in this checkout, checks its outputs
outside the timed phase, and prints one JSON object as the last line of
stdout: the end-to-end metrics with ``--trace 0``, the per-layer metrics
(from a run whose public engine functions are wrapped in spans) with
``--trace 1``. Details and the reasons behind each workload are in
``perfbench/README.md``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("replay_etl", "lake_dml", "query_sweep")

SQL_WRITE = ("merge_cow", "merge_dv", "update_cow", "update_dv", "delete_cow",
             "delete_dv", "insert", "overwrite", "optimize", "vacuum")
SQL_READ = ("select", "select_as_of", "table_changes")
GROUPS = ("plans.replay", "plans.testdata", "dedup", "similarity", "functions",
          "multimodal", "streaming")

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "write_s": "s",
    "read_s": "s",
    "space_amp": "ratio",
    "mem_retained_mb": "MB",
}


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf in ("s", "self_s", "gap_s", "job_s", "warmup_s", "fixture_s",
                "run_s", "overhead_s"):
        return "s"
    if leaf.endswith("bytes") or leaf == "bytes_written":
        return "B"
    if leaf in ("write_amp", "fail_ratio"):
        return "ratio"
    return "count"


PER_LAYER_NAMES = (
    [f"pipeline.load_replay.{m}" for m in ("s", "self_s", "jobs", "gap_s")]
    + [f"pipeline.data_message.{m}" for m in ("s", "self_s", "jobs", "gap_s")]
    + ["pipeline.drain_messages.s", "pipeline.drain_messages.jobs",
       "pipeline.render_embeds.s",
       "operators.upsert.upsert_parquet.s", "operators.upsert.upsert_parquet.jobs",
       "sinks.append.s", "sinks.append.jobs",
       "sinks.append_partitioned.s", "sinks.append_partitioned.jobs",
       "warehouse.files", "warehouse.bytes"]
    + [f"sql.{k}.{m}" for k in SQL_WRITE + SQL_READ for m in ("s", "jobs")]
    + [f"sql.{k}.gap_s" for k in SQL_WRITE]
    + ["sources.versioned_sql.self_s",
       "lake.bytes_written", "lake.write_amp", "lake.files_live",
       "lake.dv_rows_live", "lake.manifest_bytes"]
    + [f"{g}.{m}" for g in GROUPS for m in ("s", "jobs", "gap_s", "shuffle_bytes", "scan_rows")]
    + ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
       "spark.job_s",
       "session.get_spark.s", "setup.warmup_s", "setup.fixture_s",
       "trace.run_s", "trace.overhead_s", "fail_ratio"]
)
PER_LAYER = {n: _unit(n) for n in PER_LAYER_NAMES}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _end_to_end(bench) -> dict:
    ops = bench.ops
    vals = {
        "setup_s": bench.setup_s,
        "run_s": bench.run_s,
        "op_p50_s": common.hd_median([o.s for o in ops]),
        # totals, not medians: a median over ten different statement kinds
        # jumps between kinds from run to run
        "write_s": sum(o.write_s or 0.0 for o in ops),
        "read_s": sum(o.read_s or 0.0 for o in ops),
        "space_amp": bench.values["space_amp"],
        "mem_retained_mb": bench.values["mem_retained_mb"],
    }
    return {k: (vals[k], u) for k, u in END_TO_END.items()}


def _per_layer(bench, report: dict) -> dict:
    vals = {n: 0.0 for n in PER_LAYER}
    for name in PER_LAYER:
        span, _, field = name.rpartition(".")
        if name == "sources.versioned_sql.self_s":  # the one entry point's span
            span = "sources.versioned_sql.versioned_sql"
        if span in report and field in report[span]:
            vals[name] = report[span][field]
    vals["session.get_spark.s"] = bench.phases.get("session", 0.0)
    vals["setup.warmup_s"] = bench.phases.get("warmup", 0.0)
    vals["setup.fixture_s"] = bench.phases.get("fixture", 0.0)
    vals["trace.run_s"] = bench.run_s
    vals["trace.overhead_s"] = bench.tracer.overhead_s
    vals["fail_ratio"] = sum(not o.ok for o in bench.ops) / len(bench.ops)
    for k, v in bench.values.items():
        if k in vals:
            vals[k] = v
    return {k: (vals[k], u) for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(common.ROOT, "wrtd_etl_spark")):
        common.log(f"no engine package under {common.ROOT}; nothing to measure")
        return 2
    if args.seconds < 1:
        common.log("--seconds must be at least 1")
        return 2
    dirs = common.RunDirs(args.workload)
    common.prepare_env(dirs)
    bench = common.Bench(args.workload, args.seed, args.seconds, bool(args.trace), dirs, _T0)
    import importlib

    module = importlib.import_module(
        {"replay_etl": "replay", "lake_dml": "lake", "query_sweep": "sweep"}[args.workload]
    )
    try:
        module.run(bench)
        report = None
        if bench.tracer is not None:
            report = bench.tracer.report(bench.spark)
    finally:
        if bench.spark is not None:
            common.stop_spark(bench.spark)
        dirs.cleanup()

    common.log("op latencies (s): " + " ".join(f"{o.kind}={o.s:.3f}" for o in bench.ops))
    failed = [o for o in bench.ops if not o.ok]
    for o in failed:
        common.log(f"FAILED {o.kind}: {o.cause}")
    common.log(
        f"{args.workload} seed={args.seed}: {len(bench.ops)} ops, {len(failed)} failed, "
        f"setup {bench.setup_s:.2f}s, run {bench.run_s:.2f}s, phases "
        + json.dumps({k: round(v, 3) for k, v in bench.phases.items()})
    )
    if report is not None:
        out = os.path.join(common.work_root(), f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        common.log(f"span report written to {out}")
        metrics = _per_layer(bench, report)
    else:
        metrics = _end_to_end(bench)
    common.emit(not failed, len(bench.ops), len(failed), metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
