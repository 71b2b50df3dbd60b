"""Data-quality suite (operators/quality.py): violation counting on
deliberately dirty data, single-scan plan shape, fail-fast gate."""

from __future__ import annotations

import pytest

from wrtd_etl_spark.operators.quality import (
    accepted_values,
    assert_checks,
    foreign_key,
    in_range,
    matches,
    not_null,
    run_checks,
    unique,
)


def _dirty(spark):
    rows = [
        (1, "A", 10.0, "a@x.io"),
        (1, "A", -5.0, "b@x.io"),   # dup id, negative value
        (2, "Z", 50.0, "nope"),     # bad status, bad email
        (None, "B", 20.0, None),    # null id, null email
    ]
    return spark.createDataFrame(rows, "id long, status string, v double, email string")


def test_run_checks_counts_violations(spark):
    df = _dirty(spark)
    ref = spark.createDataFrame([(1,)], "k long")
    report = {
        r.check: (r.violations, r.total, r.passed)
        for r in run_checks(
            df,
            [
                not_null("id"),
                accepted_values("status", ["A", "B"]),
                in_range("v", lo=0.0),
                matches("email", r"^[^@]+@[^@]+$"),
                unique(["id"]),
                foreign_key("id", ref, "k"),
            ],
        ).collect()
    }
    assert report["not_null(id)"] == (1, 4, False)
    assert report["accepted_values(status)"] == (1, 4, False)
    assert report["in_range(v)"] == (1, 4, False)
    # bad email + NULL email both violate the pattern check
    assert report["matches(email)"] == (2, 4, False)
    # both rows of the duplicated id count as violations
    assert report["unique(id)"] == (2, 4, False)
    # id=2 has no reference row; NULL id is excluded from FK by convention
    assert report["foreign_key(id)"] == (1, 4, False)


def test_row_checks_are_single_scan(spark):
    df = _dirty(spark)
    plan = (
        run_checks(
            df,
            [not_null("id"), in_range("v", lo=0.0), accepted_values("status", ["A"])],
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ") <= 1, plan


def test_assert_checks_gate(spark):
    df = _dirty(spark)
    clean = df.filter("id = 1 and v > 0")
    # passing gate returns the report
    report = assert_checks(clean, [not_null("id"), in_range("v", lo=0.0)])
    assert all(r.passed for r in report.collect())
    with pytest.raises(ValueError, match=r"not_null\(id\): 1/4"):
        assert_checks(df, [not_null("id")])


def test_violating_rows_tags_every_failure(spark):
    from wrtd_etl_spark.operators.quality import violating_rows

    df = _dirty(spark)
    ref = spark.createDataFrame([(1,)], "k long")
    bad = violating_rows(
        df,
        [not_null("id"), in_range("v", lo=0.0), unique(["id"]),
         foreign_key("id", ref, "k")],
    ).collect()
    tags = {(r.id, r["__violation"]) for r in bad}
    assert (None, "not_null(id)") in tags
    assert (1, "in_range(v)") in tags
    assert sum(1 for i, t in tags if t == "unique(id)") == 1  # both rows id=1
    assert sum(1 for r in bad if r["__violation"] == "unique(id)") == 2
    assert (2, "foreign_key(id)") in tags


def test_write_gate_refuses_dirty_batch_and_quarantines(spark, tmp_path):
    """write_snapshot(checks=...): a dirty batch must NOT commit any
    version; its violating rows land in a Spark-readable quarantine
    (itself a versioned table); a clean batch commits unchanged."""
    from wrtd_etl_spark.sources.versioned import (
        QualityGateViolation,
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    gate = [not_null("id"), in_range("v", lo=0.0)]
    clean = _dirty(spark).filter("id = 1 and v > 0")
    assert write_snapshot(clean, t, checks=gate) == 0
    assert read_snapshot(spark, t).count() == 1

    with pytest.raises(QualityGateViolation, match="quarantined"):
        write_snapshot(_dirty(spark), t, mode="append", checks=gate)
    # no version advanced, table contents untouched
    assert latest_version(t) == 0
    assert read_snapshot(spark, t).count() == 1
    # the quarantine holds the tagged rows and is itself versioned
    q = read_snapshot(spark, t + "__quarantine")
    rows = {(r.id, r["__violation"]) for r in q.collect()}
    assert (None, "not_null(id)") in rows
    assert (1, "in_range(v)") in rows
    # a second dirty batch APPENDS to the quarantine
    with pytest.raises(QualityGateViolation):
        write_snapshot(_dirty(spark), t, mode="append", checks=gate)
    assert latest_version(t + "__quarantine") == 1


def test_quality_gate_registry_query_counts_match_plants(spark):
    """The registry entry's quarantine counts equal the planted
    violation counts computed directly from the table."""
    from wrtd_etl_spark.catalog import load_table
    from wrtd_etl_spark.plans import REGISTRY
    from wrtd_etl_spark.plans import testdata_queries  # noqa: F401

    from .conftest import SF_SMOKE

    got = {
        r["__violation"]: r.n_rows
        for r in REGISTRY["quality_gate_quarantine"].fn(spark, SF_SMOKE).collect()
    }
    cust = load_table(spark, SF_SMOKE, "customer")
    import pyspark.sql.functions as F

    n_null = cust.filter(F.col("c_custkey") % 97 == 0).count()
    n_low = cust.filter(
        (F.col("c_acctbal") < -999.0) & ~(F.col("c_custkey") % 97 == 0)
    ).count() + cust.filter(
        (F.col("c_acctbal") < -999.0) & (F.col("c_custkey") % 97 == 0)
    ).count()
    assert got.get("not_null(c_custkey)", 0) == n_null
    assert got.get("in_range(c_acctbal)", 0) == n_low
    assert n_null > 0  # the plant is non-vacuous at this SF


# --------------------------------------------------------------------------
# Persisted CHECK constraints (Delta ADD CONSTRAINT semantics)
# --------------------------------------------------------------------------


def test_add_constraint_validates_existing_data_then_gates_writes(
    spark, tmp_path
):
    """A constraint lands only if the current snapshot satisfies it;
    from then on every append is gated automatically (no checks= at the
    call site) with violations quarantined."""
    from pyspark.sql import functions as F

    from wrtd_etl_spark.sources.versioned import (
        QualityGateViolation,
        add_check_constraint,
        check_constraints,
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), t
    )
    with pytest.raises(ValueError, match="existing data"):
        add_check_constraint(spark, t, "v_big", "v > 15")
    add_check_constraint(spark, t, "v_pos", "v > 0")
    assert check_constraints(t) == {"v_pos": "v > 0"}

    with pytest.raises(QualityGateViolation, match="v_pos"):
        write_snapshot(
            spark.createDataFrame([(3, -5)], "k long, v long"),
            t,
            mode="append",
        )
    assert latest_version(t) == 1  # refused: nothing committed
    # the bad row is quarantined like an explicit checks= gate
    q = read_snapshot(spark, t + "__quarantine")
    assert [(r.k, r.v) for r in q.collect()] == [(3, -5)]
    # clean rows (and NULLs — SQL CHECK semantics) still land
    write_snapshot(
        spark.createDataFrame([(3, None), (4, 4)], "k long, v long"),
        t,
        mode="append",
    )
    assert read_snapshot(spark, t).count() == 4


def test_constraint_gates_rewrites_and_survives_maintenance(
    spark, tmp_path
):
    """UPDATE/MERGE output is enforced too, and the constraint set rides
    through compact and rollback."""
    from pyspark.sql import functions as F

    from wrtd_etl_spark.sources.versioned import (
        QualityGateViolation,
        add_check_constraint,
        check_constraints,
        compact,
        latest_version,
        merge_into,
        rollback,
        update_where,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), t
    )
    add_check_constraint(spark, t, "v_pos", "v > 0")
    before = latest_version(t)
    with pytest.raises(QualityGateViolation, match="v_pos"):
        update_where(spark, t, F.col("k") == 1, {"v": F.lit(-1)})
    assert latest_version(t) == before
    with pytest.raises(QualityGateViolation, match="v_pos"):
        merge_into(
            spark,
            t,
            spark.createDataFrame([(9, -9)], "k long, v long"),
            ["k"],
            prune=None,
        )
    assert latest_version(t) == before
    update_where(spark, t, F.col("k") == 1, {"v": F.lit(99)})  # clean: ok

    compact(spark, t, target_files=1)
    assert check_constraints(t) == {"v_pos": "v > 0"}
    rollback(t, before)
    assert check_constraints(t) == {"v_pos": "v > 0"}


def test_row_check_counts_each_written_row_once(spark, tmp_path):
    """A clustered write whose bounds are known up front (caller-passed
    ``layout_bounds``, or manifest stats for a rewrite) runs the plan for
    range sampling and again for the write: the reported counts must be
    those of the written rows, not of both passes."""
    from pyspark.sql import functions as F

    from wrtd_etl_spark.sources.versioned import (
        QualityGateViolation,
        add_check_constraint,
        update_where,
        write_snapshot,
    )

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 142, 9).otherwise(0).alias("v"),
    )
    t = str(tmp_path / "tbl")
    with pytest.raises(QualityGateViolation, match=r"in_range\(v\): 142/1000;"):
        write_snapshot(
            df,
            t,
            layout_by=["k"],
            layout_files=4,
            layout_bounds=[(0.0, 999.0)],
            checks=[in_range("v", 0, 5)],
        )
    write_snapshot(df.withColumn("v", F.lit(0)), t, layout_by=["k"], layout_files=4)
    add_check_constraint(spark, t, "v_ok", "v <= 5")
    # a Column predicate derives no file prune: all 1000 rows rewrite
    with pytest.raises(QualityGateViolation, match="v_ok: 142/1000$"):
        update_where(spark, t, F.col("k") < 142, {"v": F.lit(9)})


def test_drop_constraint_reopens_writes(spark, tmp_path):
    from wrtd_etl_spark.sources.versioned import (
        add_check_constraint,
        check_constraints,
        drop_check_constraint,
        read_snapshot,
        write_snapshot,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1, 10)], "k long, v long"), t)
    add_check_constraint(spark, t, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="already exists"):
        add_check_constraint(spark, t, "v_pos", "v > 1")
    drop_check_constraint(t, "v_pos")
    assert check_constraints(t) == {}
    write_snapshot(
        spark.createDataFrame([(2, -2)], "k long, v long"), t, mode="append"
    )
    assert read_snapshot(spark, t).count() == 2
    with pytest.raises(ValueError, match="no constraint"):
        drop_check_constraint(t, "nope")


def test_datasource_write_gated_by_persisted_constraint(spark, tmp_path):
    """The format writer stages parquet executor-side; the persisted
    constraint gate scans the staged files and refuses the COMMIT — the
    table pointer never moves."""
    from wrtd_etl_spark.sources.versioned import (
        add_check_constraint,
        latest_version,
        write_snapshot,
    )
    from wrtd_etl_spark.sources.versioned_table import (
        VersionedTableDataSource,
    )

    spark.dataSource.register(VersionedTableDataSource)
    t = str(tmp_path / "tbl")
    write_snapshot(spark.createDataFrame([(1, 10)], "k long, v long"), t)
    add_check_constraint(spark, t, "v_pos", "v > 0")
    v = latest_version(t)
    bad = spark.createDataFrame([(2, -2)], "k long, v long")
    with pytest.raises(Exception, match="v_pos"):
        (
            bad.write.format("versioned_table")
            .mode("append")
            .option("path", t)
            .save()
        )
    assert latest_version(t) == v
