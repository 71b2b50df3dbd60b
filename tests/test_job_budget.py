"""Spark-job budgets for the versioned commit paths.

The lake-lifecycle bench tail is dominated by a ~0.25-0.3 s-per-job
scheduling floor, not data (OPTIMIZATION_r13/r14 profiling), so the r13/r14
optimization rounds fused the per-commit probe/gate jobs — dup-ambiguity
checks, auto-prune ranges and point-membership key lists now ride the same
action via ``observe()`` + one capped distinct collect. These tests pin the
fused job COUNTS with a ``setJobGroup`` + ``statusTracker`` listener so a
refactor that quietly re-splits a probe into extra jobs fails loudly.

Budgets are the counts measured after the r14 fusion (r13 values in
comments); they are ceilings, not exact pins, so an extra adaptive stage
retry doesn't flake the suite.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from wrtd_etl_spark.sources.versioned import (
    add_unique_constraint,
    compact,
    delete_where,
    history,
    merge_into,
    reorg_purge,
    replace_where,
    update_where,
    write_snapshot,
)
from wrtd_etl_spark.sources.versioned_sql import versioned_sql

from .conftest import SF_CORRECT


def _count_jobs(spark, fn):
    gid = f"budget_{uuid.uuid4().hex[:8]}"
    sc = spark.sparkContext
    sc.setJobGroup(gid, "job-budget test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    cust = spark.read.parquet(os.path.join(SF_CORRECT, "customer.parquet"))
    return cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )


def test_write_snapshot_is_one_job(spark, base, tmp_path):
    t = str(tmp_path / "t")
    assert _count_jobs(spark, lambda: write_snapshot(base, t, stats_cols=["k"])) <= 1
    assert (
        _count_jobs(
            spark,
            lambda: write_snapshot(
                base.withColumn("k", F.col("k") + 500_000),
                t,
                mode="append",
                stats_cols=["k"],
            ),
        )
        <= 1
    )


def test_merge_commit_job_budget(spark, base, tmp_path):
    t = str(tmp_path / "t")
    write_snapshot(base, t, stats_cols=["k"])
    src = base.filter("k % 100 = 0").withColumn("bal", F.col("bal") + 1)
    # r13: 8 jobs (probe agg + distinct collect + blooms + rewrite chain)
    assert _count_jobs(spark, lambda: merge_into(spark, t, src, ["k"])) <= 5
    # r13: 13 jobs — the DV path additionally paid per-segment DV pulls
    src2 = src.withColumn("bal", F.col("bal") + 2)
    assert (
        _count_jobs(
            spark, lambda: merge_into(spark, t, src2, ["k"], strategy="dv")
        )
        <= 6
    )
    cdc = src.withColumn(
        "op", F.when(F.col("k") % 200 == 0, "D").otherwise("U")
    )
    assert (
        _count_jobs(
            spark,
            lambda: merge_into(
                spark,
                t,
                cdc,
                ["k"],
                delete_when=F.col("op") == "D",
                source_meta_cols=["op"],
                strategy="dv",
            ),
        )
        <= 8
    )
    # insert-only merge: matched rows stay in place, new keys insert
    fresh = base.filter("k % 97 = 0").withColumn(
        "k", F.col("k") + F.when(F.col("k") % 2 == 0, 0).otherwise(5_000_000)
    )
    assert (
        _count_jobs(
            spark,
            lambda: merge_into(
                spark, t, fresh, ["k"], when_matched="keep", strategy="dv"
            ),
        )
        <= 10
    )


def test_update_delete_job_budget(spark, base, tmp_path):
    t = str(tmp_path / "t")
    write_snapshot(base, t, stats_cols=["k"])
    assert (
        _count_jobs(
            spark,
            lambda: update_where(
                spark, t, F.col("k") % 111 == 0, {"bal": F.col("bal") + 1}
            ),
        )
        <= 2
    )
    # r13: 3 jobs (DV position pull + probe + count)
    assert (
        _count_jobs(
            spark,
            lambda: delete_where(spark, t, F.col("k") % 113 == 0, strategy="dv"),
        )
        <= 1
    )
    # the candidates carry the vector above: it filters as plan
    # literals, so no broadcast job for the positions (was 2)
    assert (
        _count_jobs(spark, lambda: delete_where(spark, t, F.col("k") % 117 == 0))
        <= 1
    )
    assert (
        _count_jobs(
            spark,
            lambda: update_where(
                spark,
                t,
                F.col("k") % 119 == 0,
                {"bal": F.col("bal") - 1},
                strategy="dv",
            ),
        )
        <= 2
    )
    slice_ = F.col("k") <= 100
    assert (
        _count_jobs(
            spark,
            lambda: replace_where(
                spark,
                t,
                slice_,
                base.filter(slice_).withColumn("bal", F.col("bal") * 2),
            ),
        )
        <= 2
    )
    # a SQL aggregate over a vectored table: a native scan with the
    # vector as plan literals, no Python DataSource or position job
    delete_where(spark, t, F.col("k") % 121 == 0, strategy="dv")
    agg = "SELECT count(*) AS n, sum(bal) AS b FROM t"
    assert (
        _count_jobs(
            spark, lambda: versioned_sql(spark, agg, tables={"t": t}).collect()
        )
        <= 2
    )
    # maintenance on the same table: REORG PURGE of that DV delete
    # (replace_where above rewrote the earlier vectored files), then a
    # full OPTIMIZE of a freshly vectored table, each recording Delta's
    # OPTIMIZE operationMetrics (both were 2 jobs while the positions
    # were a broadcast of executor-parsed sidecars)
    optimize_metrics = {"numRemovedFiles", "numAddedFiles"}
    assert _count_jobs(spark, lambda: reorg_purge(spark, t)) <= 1
    assert optimize_metrics <= set(history(t)[0]["metrics"])
    delete_where(spark, t, F.col("k") % 123 == 0, strategy="dv")
    assert _count_jobs(spark, lambda: compact(spark, t, target_files=1)) <= 1
    assert optimize_metrics <= set(history(t)[0]["metrics"])


def test_pure_insert_merge_job_budget(spark, base, tmp_path):
    """All source keys prune away -> no candidate files -> the merge is
    pure insert and must skip the vestigial anti-join/union against the
    RDD-backed empty probe frame (r14: was 6 jobs with a SortMergeJoin
    of the source against a provably-empty relation)."""
    t = str(tmp_path / "t")
    write_snapshot(base, t, stats_cols=["k"])
    src = base.filter("k % 50 = 0").withColumn("k", F.col("k") + 5_000_000)
    assert _count_jobs(spark, lambda: merge_into(spark, t, src, ["k"])) <= 3


def test_unique_gated_append_job_budget(spark, base, tmp_path):
    t = str(tmp_path / "t")
    write_snapshot(base, t, stats_cols=["k"])
    add_unique_constraint(spark, t, "pk", ["k"])
    fresh = base.withColumn("k", F.col("k") + 1_000_000)
    # r13: 7 jobs (dup agg + distinct collect + bloom jobs + write)
    assert (
        _count_jobs(
            spark,
            lambda: write_snapshot(fresh, t, mode="append", stats_cols=["k"]),
        )
        <= 4
    )


def test_replay_pipeline_job_budget(spark, tmp_path):
    """One replay through the paper's pipeline, into a warehouse that
    already holds a history replay (re-delivered in the same batch, so
    the idempotency anti-join skips it). ``data_message`` collects its ten
    frames on worker threads: counting at least ten jobs in the caller's
    job group proves the threads inherit it."""
    from wrtd_etl_spark.pipeline import ReplayWarehouse

    from .test_pipeline_e2e import _doc, _page

    wh = ReplayWarehouse(spark, str(tmp_path / "wh"))

    def batch(*numbers):
        return (
            spark.createDataFrame(
                [(n, _page(n)) for n in numbers], "replay_number long, html string"
            ),
            spark.createDataFrame(
                [(n, _doc(n)) for n in numbers], "replay_number long, body string"
            ),
        )

    wh.load_replay(*batch(1))
    wh.data_message(1)
    wh.drain_messages()
    html, body = batch(2, 1)
    load = _count_jobs(spark, lambda: wh.load_replay(html, body))
    message = _count_jobs(spark, lambda: wh.data_message(2))
    drain = _count_jobs(spark, lambda: wh.drain_messages())
    # before staging the batch once, schema'd reads, shuffle-free row ids
    # and the JVM-built outbox rows: 30, 43 and 4 jobs (perfbench trace);
    # 12 and 34 before the upserts read the table with the update schema
    assert load <= 11
    assert 10 <= message <= 33
    assert drain <= 2
