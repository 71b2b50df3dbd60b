"""SQL SELECT + time travel through versioned_sql (VERDICT r11 ask #1):
the READ half of the SQL surface. References to versioned tables —
including Delta's `t VERSION AS OF n` / `t TIMESTAMP AS OF '...'`
pins — rewrite to snapshot-pinned temp views (register_versioned_view,
a native parquet scan of the pinned files) and the statement runs through
spark.sql, so the reference's string-SQL read surface (reference
queries.py:4-74) works against versioned tables with time travel."""

from __future__ import annotations

import time

import pytest

from wrtd_etl_spark.sources.versioned import (
    read_snapshot,
    update_where,
    write_snapshot,
)
from wrtd_etl_spark.sources.versioned_sql import (
    versioned_sql,
    versioned_sql_script,
)
from pyspark.sql import functions as F


def _seed(spark, t):
    write_snapshot(
        spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(8)],
            "k long, v string, x double",
        ),
        t,
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_select_latest_equals_read_snapshot(spark, tmp_path, monkeypatch):
    """SQL view == read_snapshot == DataSource, also once a deletion
    vector rides the table: as plan literals and, with the literal cap
    at 0, as the executor-parsed anti-join."""
    import wrtd_etl_spark.sources.versioned as V
    from wrtd_etl_spark.sources.versioned import delete_where
    from wrtd_etl_spark.sources.versioned_table import read_versioned

    t = str(tmp_path / "t")
    _seed(spark, t)
    update_where(spark, t, F.col("k") >= 5, {"v": F.lit("upd")})
    sql = "SELECT k, v, x FROM t WHERE k > 2"

    def same():
        got = versioned_sql(spark, sql, tables={"t": t})
        want = read_snapshot(spark, t).filter("k > 2").select("k", "v", "x")
        via_fmt = read_versioned(spark, t).filter("k > 2")
        assert _rows(got) == _rows(want) == _rows(via_fmt)
        return _rows(got)

    same()
    delete_where(spark, t, F.col("k").isin(3, 6), strategy="dv")
    assert {r[0] for r in same()} == {4, 5, 7}
    monkeypatch.setattr(V, "DV_LITERAL_POSITIONS", 0)
    same()


def test_select_where_prunes_files(spark, tmp_path):
    """A SELECT reading one versioned table scans only the files whose
    manifest stats admit its top-level WHERE; a WHERE over derived
    columns (FROM subquery) prunes nothing."""
    import os

    from wrtd_etl_spark.sources.versioned import files_for_read

    t = str(tmp_path / "t")
    write_snapshot(
        spark.range(800).select(F.col("id").alias("k")),
        t,
        layout_by=["k"],
        layout_files=8,
    )
    kept, total = files_for_read(t, skip_filter={"k": (100, 180)})
    assert total == 8 and 0 < len(kept) < 8

    def names(df):
        return sorted(os.path.basename(f) for f in df.inputFiles())

    got = versioned_sql(
        spark, "SELECT k FROM t WHERE k BETWEEN 100 AND 180", tables={"t": t}
    )
    assert names(got) == sorted(os.path.basename(f) for f in kept)
    assert sorted(r.k for r in got.collect()) == list(range(100, 181))
    shifted = versioned_sql(
        spark,
        "SELECT k FROM (SELECT k - 400 AS k FROM t) s "
        "WHERE k BETWEEN 100 AND 180",
        tables={"t": t},
    )
    assert len(names(shifted)) == 8
    assert sorted(r.k for r in shifted.collect()) == list(range(100, 181))
    # beside another relation the WHERE may name the other side's
    # column: after a LEFT SEMI/ANTI join only s's k is in scope, and
    # pruning t by it would lose j=500's match. Any join reads all of
    # t's files (an inner join too, though its t.k bound would be sound).
    spark.createDataFrame(
        [(150, 500), (150, 900)], "k long, j long"
    ).createOrReplaceTempView("src")
    for join, col, want in (
        ("LEFT SEMI JOIN", "k", [500]),
        ("LEFT ANTI JOIN", "k", [900]),
        ("JOIN", "s.k", [500]),
    ):
        got = versioned_sql(
            spark,
            f"SELECT s.j FROM src s {join} t ON s.j = t.k "
            f"WHERE {col} BETWEEN 100 AND 180",
            tables={"t": t},
        )
        assert [r.j for r in got.collect()] == want
        assert len(names(got)) == 8


def test_select_version_as_of_equals_pinned_snapshot(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    update_where(spark, t, F.col("k") >= 5, {"v": F.lit("upd")})
    got = versioned_sql(
        spark, "SELECT k, v FROM t VERSION AS OF 0", tables={"t": t}
    )
    want = read_snapshot(spark, t, version=0).select("k", "v")
    assert _rows(got) == _rows(want)
    assert ("upd" not in {r.v for r in got.collect()})


def test_select_timestamp_as_of(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    time.sleep(0.05)
    import datetime as dt

    cut = dt.datetime.now(dt.timezone.utc).isoformat()
    time.sleep(0.05)
    update_where(spark, t, F.col("k") >= 5, {"v": F.lit("upd")})
    got = versioned_sql(
        spark,
        f"SELECT v FROM t TIMESTAMP AS OF '{cut}'",
        tables={"t": t},
    )
    assert "upd" not in {r.v for r in got.collect()}


def test_unaliased_pin_keeps_table_name_scope(spark, tmp_path):
    """Delta keeps `t.col` resolving after `FROM t VERSION AS OF n` —
    the rewriter must re-alias the pinned view back to the bare name."""
    t = str(tmp_path / "t")
    _seed(spark, t)
    got = versioned_sql(
        spark,
        "SELECT t.k, t.v FROM t VERSION AS OF 0 WHERE t.k = 3",
        tables={"t": t},
    )
    assert _rows(got) == {(3, "v3")}


def test_join_two_versions_of_same_table(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    update_where(spark, t, F.col("k") >= 6, {"v": F.lit("upd")})
    got = versioned_sql(
        spark,
        """SELECT a.k, a.v AS old_v, b.v AS new_v
           FROM t VERSION AS OF 0 AS a JOIN t AS b ON a.k = b.k
           WHERE a.v <> b.v""",
        tables={"t": t},
    )
    assert _rows(got) == {(6, "v6", "upd"), (7, "v7", "upd")}


def test_with_cte_over_pin_and_ordinary_view(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    update_where(spark, t, F.col("k") < 4, {"x": F.col("x") + 100})
    spark.createDataFrame([(3, "dim3")], "k long, label string")\
        .createOrReplaceTempView("plain_dim")
    got = versioned_sql(
        spark,
        """WITH old AS (SELECT k, x FROM t VERSION AS OF 0)
           SELECT old.k, plain_dim.label, t.x - old.x AS dx
           FROM old JOIN t ON old.k = t.k
           JOIN plain_dim ON plain_dim.k = old.k""",
        tables={"t": t},
    )
    assert _rows(got) == {(3, "dim3", 100.0)}


def test_pin_text_inside_string_literal_is_data(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    got = versioned_sql(
        spark,
        "SELECT count(*) AS n FROM t WHERE v = 't VERSION AS OF 1'",
        tables={"t": t},
    )
    assert got.head().n == 0


def test_insert_select_from_pinned_version(spark, tmp_path):
    t = str(tmp_path / "t")
    t2 = str(tmp_path / "t2")
    _seed(spark, t)
    update_where(spark, t, F.lit(True), {"v": F.lit("now")})
    versioned_sql_script(
        spark,
        """CREATE TABLE t2 AS SELECT k, v FROM t VERSION AS OF 0
             WHERE k < 2;
           INSERT INTO t2 SELECT k, v FROM t WHERE k = 7;""",
        tables={"t": t, "t2": t2},
    )
    assert _rows(read_snapshot(spark, t2)) == {
        (0, "v0"),
        (1, "v1"),
        (7, "now"),
    }


def test_script_mixes_dml_and_select(spark, tmp_path):
    """The migration-file shape: CREATE → MERGE → SELECT check."""
    t = str(tmp_path / "t")
    _seed(spark, t)
    src = spark.createDataFrame(
        [(1, "m", 9.0), (99, "new", 9.9)], "k long, v string, x double"
    )
    src.createOrReplaceTempView("sel_src")
    res = versioned_sql_script(
        spark,
        """MERGE INTO t USING sel_src AS s ON t.k = s.k
             WHEN MATCHED THEN UPDATE SET v = s.v
             WHEN NOT MATCHED THEN INSERT *;
           SELECT count(*) AS n,
                  sum(CASE WHEN v = 'm' THEN 1 ELSE 0 END) AS merged
           FROM t;""",
        tables={"t": t},
    )
    row = res[-1].head()
    assert (row.n, row.merged) == (9, 1)


def test_select_version_pin_per_statement_advances(spark, tmp_path):
    """A script's SELECT resolves 'latest' at ITS OWN point in the
    lineage — later statements see earlier commits."""
    t = str(tmp_path / "t")
    _seed(spark, t)
    res = versioned_sql_script(
        spark,
        """SELECT count(*) AS n FROM t;
           INSERT INTO t VALUES (100, 'x', 1.0D);
           SELECT count(*) AS n FROM t;""",
        tables={"t": t},
    )
    assert res[0].head().n == 8 and res[2].head().n == 9


def test_unknown_table_name_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown versioned table"):
        versioned_sql(
            spark, "SELECT * FROM nope VERSION AS OF 0", tables={}
        )


def test_bad_version_literal_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    _seed(spark, t)
    with pytest.raises(ValueError, match="quoted timestamp"):
        versioned_sql(
            spark, "SELECT * FROM t TIMESTAMP AS OF 5", tables={"t": t}
        )


def test_table_changes_tvf_in_select(spark, tmp_path):
    """Delta's CDF TVF shape: table_changes('t', from [, to]) is a
    relation — filterable, joinable, usable in CTEs; range is the
    engine's (from, to] contract; the TVF text inside a string literal
    stays data."""
    from wrtd_etl_spark.sources.versioned import table_changes

    t = str(tmp_path / "t")
    _seed(spark, t)  # v0: k 0..7
    update_where(spark, t, F.col("k") < 2, {"v": F.lit("upd")})  # v1
    write_snapshot(
        spark.createDataFrame([(50, "new", 0.0)], "k long, v string, x double"),
        t,
        mode="append",
    )  # v2

    got = versioned_sql(
        spark,
        """SELECT k, v, _change_type AS ct
           FROM table_changes('t', 0) ORDER BY k, ct""",
        tables={"t": t},
    )
    want = (
        table_changes(spark, t, 0)
        .select("k", "v", F.col("_change_type").alias("ct"))
        .orderBy("k", "ct")
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    # bounded range (0, 1]: only the update's delete+insert pair
    got1 = versioned_sql(
        spark,
        """SELECT _change_type AS ct, count(*) AS n
           FROM table_changes('t', 0, 1) GROUP BY _change_type""",
        tables={"t": t},
    )
    assert {(r.ct, r.n) for r in got1.collect()} == {
        ("insert", 2),
        ("delete", 2),
    }
    # joinable with a pinned snapshot in the same statement
    got2 = versioned_sql(
        spark,
        """SELECT c.k FROM table_changes('t', 1, 2) c
           JOIN t VERSION AS OF 0 AS o ON c.k = o.k""",
        tables={"t": t},
    )
    assert got2.count() == 0  # v2 appended k=50, absent from v0
    # TVF text inside a literal is data
    n = versioned_sql(
        spark,
        "SELECT count(*) AS n FROM t WHERE v = \"table_changes('t', 0)\"",
        tables={"t": t},
    ).head().n
    assert n == 0


def test_changed_rows_since_tvf(spark, tmp_path):
    """The cv-pruned incremental read as a TVF: SQL result ≡ the
    Python API, joins with the live table, bounded ranges work."""
    from wrtd_etl_spark.sources.versioned import changed_rows_since

    t = str(tmp_path / "t")
    _seed(spark, t)  # v0
    update_where(spark, t, F.col("k") < 2, {"v": F.lit("u1")})  # v1
    update_where(spark, t, F.col("k") == 5, {"v": F.lit("u2")})  # v2

    got = versioned_sql(
        spark,
        """SELECT k, v, _commit_version AS cv
           FROM changed_rows_since('t', 0)""",
        tables={"t": t},
    )
    want = changed_rows_since(spark, t, 0).select(
        "k", "v", F.col("_commit_version").alias("cv")
    )
    assert _rows(got) == _rows(want)
    assert {(r.k, r.cv) for r in got.collect()} == {
        (0, 1), (1, 1), (5, 2),
    }
    # bounded (0, 1]: only the first update's rows
    got1 = versioned_sql(
        spark,
        "SELECT k FROM changed_rows_since('t', 0, 1)",
        tables={"t": t},
    )
    assert {r.k for r in got1.collect()} == {0, 1}


def test_select_restores_session_view_namespace(spark, tmp_path):
    """ADVICE r12: the read rewriter must not leak its temp views — a
    user temp view sharing a versioned table's name is restored after
    the statement (the rewrite pins the VERSIONED snapshot while it
    runs), and the per-pin __vsql_* views are dropped."""
    t = str(tmp_path / "tbl")
    _seed(spark, t)
    # user's own temp view under the same bare name
    spark.range(3).selectExpr("id AS z").createOrReplaceTempView("vst")
    pre = {
        v.name
        for v in spark.catalog.listTables()
        if v.name.startswith("__vsql_")
    }  # other suites' fixtures may legitimately own __vsql_* views
    try:
        df = versioned_sql(
            spark,
            "SELECT COUNT(*) AS n FROM vst VERSION AS OF 0, vst",
            tables={"vst": t},
        )
        # the statement itself resolved the VERSIONED table (8x8 rows)
        assert df.collect()[0].n == 64
        # ... and the user's view survives the statement untouched
        assert {r.z for r in spark.table("vst").collect()} == {0, 1, 2}
        # no NEW __vsql_* pin/CDF views left behind by the statement
        leaked = [
            v.name
            for v in spark.catalog.listTables()
            if v.name.startswith("__vsql_") and v.name not in pre
        ]
        assert leaked == []
    finally:
        spark.catalog.dropTempView("vst")
