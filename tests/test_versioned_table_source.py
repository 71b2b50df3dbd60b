"""Batch DataSource + SQL surface for versioned tables
(sources/versioned_table.py): read ≡ read_snapshot incl. time travel,
schema evolution and stats pruning; versioned tables joinable from
plain spark.sql."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wrtd_etl_spark.sources.versioned import (
    delete_where,
    read_snapshot,
    write_snapshot,
)
from wrtd_etl_spark.sources.versioned_table import (
    VersionedTableReader,
    read_versioned,
    register_versioned_view,
)


def _tuples(df):
    return sorted(tuple(r) for r in df.collect())


def test_format_read_equals_read_snapshot_incl_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        t,
        layout_by=["k"],
        layout_files=4,
    )
    write_snapshot(
        spark.range(100, 120).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        t,
        mode="append",
    )
    delete_where(spark, t, F.col("k") % 10 == 3)
    for v in (None, 0, 1, 2):
        got = read_versioned(spark, t, version=v)
        want = read_snapshot(spark, t, version=v)
        assert got.schema == want.schema
        assert _tuples(got) == _tuples(want)
    # TIMESTAMP AS OF through the option surface
    import json
    import os

    with open(os.path.join(t, "_manifests", "v1.json")) as f:
        ts1 = json.load(f)["committed_at"]
    got = read_versioned(spark, t, as_of=ts1 + 1e-3)
    assert _tuples(got) == _tuples(read_snapshot(spark, t, version=1))


def test_format_read_resolves_schema_evolution(spark, tmp_path):
    """Renamed + widened segments resolve through the alias map exactly
    like read_snapshot — per segment, driver-resolved."""
    t = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1, 10)], "k long, amt int"), t)
    write_snapshot(
        spark.createDataFrame([(2, 2**40)], "k long, amount long"),
        t,
        mode="append",
        renames={"amt": "amount"},
    )
    got = read_versioned(spark, t)
    assert dict(got.dtypes) == {"k": "bigint", "amount": "bigint"}
    assert _tuples(got) == [(1, 10), (2, 2**40)]
    # the pinned historical schema survives through the format, too
    v0 = read_versioned(spark, t, version=0)
    assert dict(v0.dtypes) == {"k": "bigint", "amt": "int"}


def test_format_read_prunes_partitions_by_stats(spark, tmp_path):
    """skip_filter reaches plan time: the reader plans strictly fewer
    InputPartitions on a clustered table, and results equal the
    post-filter read."""
    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ),
        t,
        layout_by=["k"],
        layout_files=8,
    )

    class Opts(dict):
        pass

    full = VersionedTableReader(Opts(path=t))
    pruned = VersionedTableReader(
        Opts(path=t, skip_filter='{"k": [0, 99]}')
    )
    n_full, n_pruned = len(full.partitions()), len(pruned.partitions())
    assert n_full == 8 and n_pruned < n_full / 2
    got = read_versioned(spark, t, skip_filter={"k": (0, 99)}).filter(
        F.col("k") <= 99
    )
    want = read_snapshot(spark, t).filter(F.col("k") <= 99)
    assert _tuples(got) == _tuples(want)


def test_registered_view_joins_in_plain_sql(spark, tmp_path):
    """The SQL surface: versioned tables participate in spark.sql joins;
    the view stays pinned when the table advances."""
    dim, fact = str(tmp_path / "dim"), str(tmp_path / "fact")
    write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, name string"
        ),
        dim,
    )
    write_snapshot(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (2, 5.0), (9, 1.0)], "k long, amt double"
        ),
        fact,
    )
    register_versioned_view(spark, "dim_v", dim)
    register_versioned_view(spark, "fact_v", fact)
    got = {
        (r.name, r.total)
        for r in spark.sql(
            """
            SELECT d.name, SUM(f.amt) AS total
            FROM fact_v f JOIN dim_v d USING (k)
            GROUP BY d.name
            """
        ).collect()
    }
    assert got == {("a", 10.0), ("b", 25.0)}
    # a later commit does NOT move the registered view (reader isolation)
    write_snapshot(
        spark.createDataFrame([(4, "d")], "k long, name string"),
        dim,
        mode="append",
    )
    assert spark.sql("SELECT COUNT(*) n FROM dim_v").collect()[0].n == 3


def test_arrow_unsupported_type_fails_before_any_job(spark, tmp_path):
    """The format reader hands Spark Arrow batches and nothing else, so
    a column type Arrow cannot carry (a year-month interval: parquet
    stores it) fails when the reader is built on the driver — the same
    error class the executors would hit, but before any job starts.
    The native parquet read of ``read_snapshot`` is unaffected."""
    import uuid

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.sql(
            "SELECT id AS k, make_ym_interval(1, CAST(id AS INT)) AS ym "
            "FROM range(4)"
        ),
        t,
    )
    assert read_snapshot(spark, t).count() == 4
    sc = spark.sparkContext
    gid = f"arrow_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, "arrow-unsupported read")
    try:
        with pytest.raises(
            Exception, match="UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION"
        ):
            read_versioned(spark, t).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(gid) == []


def test_format_option_validation(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot(spark.range(3).withColumnRenamed("id", "v"), t)
    with pytest.raises(Exception, match="version or as_of"):
        (
            spark.read.format("versioned_table")
            .option("path", t)
            .option("version", "0")
            .option("as_of", "1.0")
            .load()
        )


def test_catalyst_filter_pushdown_prunes_files(spark, tmp_path):
    """With spark.sql.python.filterPushdown.enabled, a PLAIN .filter on
    a format read reaches the manifest: range-shaped conjuncts tighten
    the reader's per-column bounds, partitions shrink, and Spark still
    re-applies every filter (pruning-only pushdown)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        LessThan,
    )

    from wrtd_etl_spark.sources.versioned_table import (
        VersionedTablePushdownReader,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        ),
        t,
        layout_by=["k"],
        layout_files=8,
    )
    r = VersionedTablePushdownReader({"path": t})
    flt = [
        GreaterThanOrEqual(("k",), 100),
        LessThan(("k",), 200),
        IsNotNull(("v",)),  # not range-shaped: ignored for pruning
        EqualTo(("zz",), 1),  # unknown column: ignored
    ]
    remaining = list(r.pushFilters(flt))
    assert remaining == flt  # everything handed back for re-evaluation
    assert r.skip_filter["k"] == (100, 200)
    assert len(r.partitions()) < 8 / 2
    # IN derives [min, max]
    r2 = VersionedTablePushdownReader({"path": t})
    list(r2.pushFilters([In(("k",), (5, 17, 9))]))
    assert r2.skip_filter["k"] == (5, 17)

    # end-to-end on a conf-enabled session: results exact
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = read_versioned(spark, t).filter(
            (F.col("k") >= 100) & (F.col("k") < 200)
        )
        assert sorted(row.k for row in got.collect()) == list(
            range(100, 200)
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_format_write_batch_modes_and_stats(spark, tmp_path):
    """df.write.format("versioned_table"): executor tasks stage parquet,
    the driver runs the shared manifest-commit protocol — append and
    overwrite modes, stats_cols recorded for skip pruning, history and
    time travel intact."""
    from wrtd_etl_spark.sources.versioned import (
        files_for_read,
        history,
        latest_version,
    )
    from wrtd_etl_spark.sources.versioned_table import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    (
        df.write.format("versioned_table")
        .option("path", t)
        .option("stats_cols", '["k"]')
        .mode("append")
        .save()
    )
    assert latest_version(t) == 0
    (
        df.write.format("versioned_table")
        .option("path", t)
        .option("stats_cols", '["k"]')
        .mode("append")
        .save()
    )
    assert read_snapshot(spark, t).count() == 200
    kept, total = files_for_read(t, skip_filter={"k": (0, 5)})
    assert total > 1 and len(kept) < total  # executor stats usable
    (
        spark.range(5)
        .select(F.col("id").alias("k"), F.lit(0).alias("v"))
        .write.format("versioned_table")
        .option("path", t)
        .mode("overwrite")
        .save()
    )
    assert read_snapshot(spark, t).count() == 5
    assert [h["mode"] for h in history(t)] == ["overwrite", "append", "append"]
    assert read_snapshot(spark, t, version=1).count() == 200  # time travel


def test_format_stream_write_exactly_once(spark, tmp_path):
    """df.writeStream.format("versioned_table"): one append version per
    micro-batch, batch-id ledger in the manifest extra; a replayed
    commit for the same batch id is a no-op."""
    from pyspark.sql.types import StructType

    from wrtd_etl_spark.sources.versioned import (
        history,
        latest_version,
        manifest_info,
    )
    from wrtd_etl_spark.sources.versioned_table import (
        VersionedTableDataSource,
        VersionedTableStreamWriter,
    )

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "tbl")
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    spark.range(50).select(F.col("id").alias("k")).write.parquet(
        src + "/b1"
    )
    stream = spark.readStream.schema("k long").parquet(src + "/*")

    def run():
        q = (
            stream.writeStream.format("versioned_table")
            .option("path", t)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert read_snapshot(spark, t).count() == 50
    assert manifest_info(t)["extra"]["batch_id"] == 0
    spark.range(50, 80).select(F.col("id").alias("k")).write.parquet(
        src + "/b2"
    )
    run()
    assert read_snapshot(spark, t).count() == 80
    assert [h["mode"] for h in history(t)] == ["append", "overwrite"]
    # replay: drive commit() again with the SAME batch id — no version
    w = VersionedTableStreamWriter(
        {"path": t}, StructType.fromJson(
            manifest_info(t)["schema"]
        ), False,
    )
    msgs = [w.write(iter([b]))
            for b in spark.range(3).select(F.col("id").alias("k"))
            .toArrow().to_batches()]
    v_before = latest_version(t)
    w.commit(msgs, manifest_info(t)["extra"]["batch_id"])
    assert latest_version(t) == v_before  # ledger no-op
    assert read_snapshot(spark, t).count() == 80
