"""Merge-on-read DELETE via deletion vectors (Delta's DV feature): a
point-delete records (file, row_index) positions in an immutable
sidecar and commits METADATA ONLY — cost proportional to the deleted
rows, not to the touched files' bytes. The r7 sharded-manifest layer
carries the vectors inside segment details; reads anti-join them
(zero plan change for tables without DVs); ``compact`` materializes.

Contract pinned here:
* dv delete == cow delete row-for-row, moves zero data files;
* vectors COMPOSE (second delete unions positions) and survive
  appends, pruned reads, time travel (old versions see pre-delete);
* every read surface honors them: read_snapshot (plain + pruned +
  evolved), the batch DataSource, SQL views, logical table_changes,
  and the streaming change feed — which emits EXACTLY the newly
  deleted positions for a dv commit and never re-deletes vectored
  rows when a rewrite later removes the file;
* CoW rewrites / merges over DV'd files never resurrect deleted rows,
  and compact sheds the vectors;
* the UNIQUE interlock holds both directions (the raw-file existence
  probe would see deleted keys);
* vacuum sweeps orphaned dv sidecars, keeps referenced ones; clones
  hardlink them.
"""

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

import wrtd_etl_spark.sources.versioned as V
from wrtd_etl_spark.sources.versioned import (
    add_unique_constraint,
    clone_table,
    compact,
    delete_where,
    describe_table,
    history,
    merge_into,
    read_snapshot,
    table_changes,
    update_where,
    vacuum,
    write_snapshot,
)


def _data_files(t):
    return set(glob.glob(os.path.join(t, "data", "*", "*.parquet")))


def _base(spark, t, n=1000, parts=6):
    df = spark.createDataFrame(
        [(i, i % 7) for i in range(n)], "k long, g long"
    ).repartition(parts)
    write_snapshot(df, t, stats_cols=["k"])
    return df


def test_dv_delete_equals_cow_moves_no_files(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _base(spark, t)
    before = _data_files(t)
    v = delete_where(spark, t, F.col("k") < 100, strategy="dv")
    assert _data_files(t) == before  # zero data movement
    assert history(t)[0]["mode"] == "delete_dv"
    assert sorted(r.k for r in read_snapshot(spark, t).collect()) == list(
        range(100, 1000)
    )
    assert read_snapshot(spark, t, version=v - 1).count() == 1000
    assert describe_table(t)["dv_rows"] == 100
    # NULL-predicate rows are KEPT (SQL delete semantics)
    t2 = str(tmp_path / "t2")
    write_snapshot(
        spark.createDataFrame([(1, None), (2, 5)], "k long, g long"), t2
    )
    delete_where(spark, t2, F.col("g") > 1, strategy="dv")
    assert sorted(r.k for r in read_snapshot(spark, t2).collect()) == [1]


def test_dv_composes_and_prunes(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _base(spark, t)
    delete_where(
        spark, t, F.col("k") < 100, prune={"k": (None, 99)}, strategy="dv"
    )
    delete_where(
        spark, t, F.col("k") >= 950, prune={"k": (950, None)}, strategy="dv"
    )
    got = sorted(r.k for r in read_snapshot(spark, t).collect())
    assert got == list(range(100, 950))
    assert describe_table(t)["dv_rows"] == 150
    # stats-pruned read still applies the vectors
    pruned = read_snapshot(spark, t, skip_filter={"k": (None, 120)})
    assert sorted(
        r.k for r in pruned.filter(F.col("k") <= 120).collect()
    ) == list(range(100, 121))


def test_dv_survives_append_and_cow_never_resurrects(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _base(spark, t)
    delete_where(spark, t, F.col("k") < 50, strategy="dv")
    write_snapshot(
        spark.createDataFrame([(2000, 0)], "k long, g long"), t, mode="append"
    )
    assert read_snapshot(spark, t).count() == 951
    # CoW delete over the same (DV'd) files must not resurrect rows
    delete_where(spark, t, F.col("k") < 100, strategy="cow")
    assert sorted(r.k for r in read_snapshot(spark, t).collect()) == list(
        range(100, 1000)
    ) + [2000]
    # ... and merge/update read through the vectors too
    t3 = str(tmp_path / "t3")
    _base(spark, t3, n=100, parts=2)
    delete_where(spark, t3, F.col("k") == 7, strategy="dv")
    merge_into(
        spark,
        t3,
        spark.createDataFrame([(7, 777)], "k long, g long"),
        keys=["k"],
    )  # k=7 was deleted: this is an INSERT, not an update
    rows = {r.k: r.g for r in read_snapshot(spark, t3).collect()}
    assert rows[7] == 777 and len(rows) == 100
    update_where(spark, t3, F.col("k") == 8, {"g": F.lit(888)})
    assert {
        r.g for r in read_snapshot(spark, t3).filter(F.col("k") == 8).collect()
    } == {888}


def test_compact_materializes_and_sheds_vectors(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _base(spark, t)
    delete_where(spark, t, F.col("k") % 10 == 0, strategy="dv")
    compact(spark, t, target_files=2)
    d = describe_table(t)
    assert d["dv_rows"] == 0
    got = sorted(r.k for r in read_snapshot(spark, t).collect())
    assert got == [i for i in range(1000) if i % 10 != 0]


def test_auto_strategy_and_caps(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "tbl")
    _base(spark, t)
    before = _data_files(t)
    # small delete: auto takes the dv path
    delete_where(spark, t, F.col("k") == 5, strategy="auto")
    assert _data_files(t) == before
    assert history(t)[0]["mode"] == "delete_dv"
    # over the position cap: auto falls back to CoW, dv raises
    monkeypatch.setattr(V, "DV_MAX_POSITIONS", 10)
    delete_where(spark, t, F.col("k") < 200, strategy="auto")
    assert history(t)[0]["mode"] == "delete"
    with pytest.raises(ValueError, match="DV_MAX_POSITIONS"):
        delete_where(spark, t, F.col("k") < 400, strategy="dv")
    assert sorted(r.k for r in read_snapshot(spark, t).collect()) == list(
        range(200, 1000)
    )


def test_point_pruned_dv_erasure(spark, tmp_path, monkeypatch):
    """The GDPR shape: erase a few scattered keys via bloom point
    pruning + deletion vectors — only files whose sketch admits a key
    are SCANNED (counted via the candidate split), zero files are
    rewritten, and the rows are gone."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"u{i}") for i in range(4000)], "k long, s string"
    ).repartition(8)
    write_snapshot(df, t, bloom_cols=["k"])
    keys = [17, 1017, 3999]
    scanned = []
    real = V._dv_candidate_scan

    def counting(spark_, table_, manifest_, rewrite_segs):
        scanned.extend(f for s in rewrite_segs for f in s["files"])
        return real(spark_, table_, manifest_, rewrite_segs)

    monkeypatch.setattr(V, "_dv_candidate_scan", counting)
    before = _data_files(t)
    delete_where(
        spark,
        t,
        F.col("k").isin(keys),
        point={"k": keys},
        strategy="dv",
    )
    assert _data_files(t) == before  # metadata-only
    assert 0 < len(scanned) < 8  # bloom pruning kept files out of scan
    got = read_snapshot(spark, t, point_filter={"k": keys}).filter(
        F.col("k").isin(keys)
    )
    assert got.count() == 0
    assert read_snapshot(spark, t).count() == 3997
    # update_where accepts point pruning too
    update_where(
        spark,
        t,
        F.col("k") == 500,
        {"s": F.lit("anon")},
        point={"k": [500]},
        strategy="dv",
    )
    assert [
        r.s
        for r in read_snapshot(spark, t).filter(F.col("k") == 500).collect()
    ] == ["anon"]


def test_maybe_compact_purges_heavy_vectors(spark, tmp_path):
    """Maintenance trigger: past dv_rows_max the next maybe_compact
    materializes survivors and sheds the vectors (Delta's REORG PURGE
    shape); below it, no rewrite fires."""
    from wrtd_etl_spark.sources.versioned import maybe_compact

    t = str(tmp_path / "tbl")
    _base(spark, t, n=500, parts=3)
    delete_where(spark, t, F.col("k") < 200, strategy="dv")
    assert (
        maybe_compact(spark, t, max_files=64, dv_rows_max=1000) is None
    )
    v = maybe_compact(spark, t, max_files=64, dv_rows_max=100)
    assert v is not None and describe_table(t)["dv_rows"] == 0
    assert read_snapshot(spark, t).count() == 300


def test_unique_interlock_both_directions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _base(spark, t, n=50, parts=2)
    add_unique_constraint(spark, t, "pk", ["k"])
    with pytest.raises(ValueError, match="UNIQUE"):
        delete_where(spark, t, F.col("k") == 1, strategy="dv")
    # auto degrades to CoW silently
    delete_where(spark, t, F.col("k") == 1, strategy="auto")
    assert history(t)[0]["mode"] == "delete"
    t2 = str(tmp_path / "t2")
    _base(spark, t2, n=50, parts=2)
    delete_where(spark, t2, F.col("k") == 1, strategy="dv")
    with pytest.raises(ValueError, match="deletion vectors"):
        add_unique_constraint(spark, t2, "pk", ["k"])
    compact(spark, t2, target_files=1)
    add_unique_constraint(spark, t2, "pk", ["k"])  # clean after compact


def test_update_dv_merge_on_read(spark, tmp_path):
    """MoR UPDATE: one commit = positions into the vectors + updated
    rows as a fresh segment; equals the CoW update row-for-row, moves
    none of the original files, composes with prior vectors, and the
    change feed sees delta-deletes + inserts."""
    from wrtd_etl_spark.sources.versioned_stream import (
        VersionedChangesDataSource,
    )

    t = str(tmp_path / "tbl")
    _base(spark, t, n=400, parts=3)
    before = _data_files(t)
    delete_where(spark, t, F.col("k") < 10, strategy="dv")  # v1
    update_where(
        spark, t, F.col("k") % 50 == 0, {"g": F.lit(999)}, strategy="dv"
    )  # v2
    assert history(t)[0]["mode"] == "update_dv"
    assert before <= _data_files(t)  # originals untouched, one new seg
    rows = {r.k: r.g for r in read_snapshot(spark, t).collect()}
    assert len(rows) == 390  # ks 0-9 deleted (incl. k=0 — deleted wins)
    for k in (50, 100, 150, 200, 250, 300, 350):
        assert rows[k] == 999
    assert rows[51] == 51 % 7
    # time travel: v1 still has the pre-update values
    old = {
        r.k: r.g
        for r in read_snapshot(spark, t, version=1).collect()
    }
    assert old[50] == 50 % 7
    # equals a CoW update of a twin table
    t2 = str(tmp_path / "t2")
    _base(spark, t2, n=400, parts=3)
    delete_where(spark, t2, F.col("k") < 10, strategy="cow")
    update_where(
        spark, t2, F.col("k") % 50 == 0, {"g": F.lit(999)}, strategy="cow"
    )
    assert rows == {r.k: r.g for r in read_snapshot(spark, t2).collect()}
    # repeat MoR update over the SAME rows: prior updated rows live in
    # the new segment; the vectors must not resurrect the originals
    update_where(
        spark, t, F.col("k") % 50 == 0, {"g": F.lit(-1)}, strategy="dv"
    )
    rows = {r.k: r.g for r in read_snapshot(spark, t).collect()}
    assert len(rows) == 390 and rows[50] == -1 and rows[350] == -1
    # stream fold across dv delete + two MoR updates ≡ live snapshot
    spark.dataSource.register(VersionedChangesDataSource)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    (
        spark.readStream.format("versioned_changes")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)
    ins = got.filter(F.col("_change_type") == "insert")
    dels = got.filter(F.col("_change_type") == "delete")
    assert ins.count() - dels.count() == 390
    # the fold by (k) max-version state equals the snapshot
    # within one commit a key can have BOTH a delete (old image) and an
    # insert (new image) — the insert wins at the same version
    last = (
        got.withColumn(
            "__is_del", (F.col("_change_type") == "delete").cast("int")
        )
        .groupBy("k")
        .agg(
            F.max_by(
                F.struct("__is_del", "g"),
                F.struct("_commit_version", 1 - F.col("__is_del")),
            ).alias("s")
        )
        .filter(F.col("s.__is_del") == 0)
        .select("k", F.col("s.g").alias("g"))
    )
    assert {r.k: r.g for r in last.collect()} == rows


def test_logical_cdc_and_stream_row_accurate(spark, tmp_path):
    """table_changes sees dv deletes; the change-feed stream emits
    EXACTLY the newly-deleted rows for a dv commit, and a later CoW
    rewrite of the file does not re-delete vectored rows."""
    from wrtd_etl_spark.sources.versioned_stream import (
        VersionedChangesDataSource,
    )

    t = str(tmp_path / "tbl")
    _base(spark, t, n=200, parts=2)
    delete_where(spark, t, F.col("k") < 20, strategy="dv")  # v1: dv
    delete_where(spark, t, F.col("k") < 30, strategy="dv")  # v2: dv grows
    delete_where(spark, t, F.col("k") < 40, strategy="cow")  # v3: rewrite
    ch = table_changes(spark, t, 0, 2)
    assert (
        ch.filter(F.col("_change_type") == "delete").count() == 30
    )
    spark.dataSource.register(VersionedChangesDataSource)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    (
        spark.readStream.format("versioned_changes")
        .option("path", t)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = spark.read.parquet(out)
    dels = got.filter(F.col("_change_type") == "delete")
    # v1 deletes ks 0-19; v2 deletes ks 20-29 (the DELTA only — the
    # grown vector never re-deletes v1's rows); v3 is a CoW rewrite:
    # per the physical contract it emits the removed files' LIVE rows
    # as deletes (200 - 30 already-vectored = 170, proving the vectored
    # rows are NOT double-deleted) paired with the survivors' inserts,
    # which cancel under a fold
    by_v = {
        r["_commit_version"]: r["n"]
        for r in dels.groupBy("_commit_version")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by_v == {1: 20, 2: 10, 3: 170}
    assert sorted(
        r.k for r in dels.filter(F.col("_commit_version") == 2).collect()
    ) == list(range(20, 30))
    assert (
        dels.filter(
            (F.col("_commit_version") == 3) & (F.col("k") < 30)
        ).count()
        == 0
    )
    # fold check: inserts minus deletes == live rows
    live = got.filter(F.col("_change_type") == "insert").count() - dels.count()
    assert live == read_snapshot(spark, t).count()


def test_datasource_and_sql_view_honor_vectors(spark, tmp_path, monkeypatch):
    """Every read surface agrees on a vectored table, with the vectors as
    plan literals (small) and as the executor-parsed anti-join (literal
    cap 0): the DataSource, read_snapshot, SQL views (bare, WHERE-pruned,
    VERSION AS OF) and the change feed of a commit that grew them."""
    from wrtd_etl_spark.sources.versioned_sql import versioned_sql
    from wrtd_etl_spark.sources.versioned_table import (
        VersionedTableDataSource,
        register_versioned_view,
    )

    t = str(tmp_path / "tbl")
    _base(spark, t, n=300, parts=3)
    delete_where(spark, t, F.col("k") % 3 == 0, strategy="dv")  # v1
    delete_where(spark, t, F.col("k") % 5 == 0, strategy="dv")  # v2
    spark.dataSource.register(VersionedTableDataSource)
    via_fmt = (
        spark.read.format("versioned_table").option("path", t).load()
    )
    want = sorted(i for i in range(300) if i % 3 and i % 5)

    def keys(sql):
        return sorted(r.k for r in versioned_sql(spark, sql, tables={"t": t}).collect())

    assert sorted(r.k for r in via_fmt.collect()) == want
    for literal_cap in (V.DV_LITERAL_POSITIONS, 0):
        monkeypatch.setattr(V, "DV_LITERAL_POSITIONS", literal_cap)
        assert sorted(r.k for r in read_snapshot(spark, t).collect()) == want
        view = register_versioned_view(spark, "dvt", t)
        assert sorted(
            r.k for r in spark.sql("SELECT k FROM dvt").collect()
        ) == want
        plan = view._jdf.queryExecution().executedPlan().toString()
        assert ("Pandas" in plan) == (literal_cap == 0), plan
        assert "Python" not in plan, plan
        assert keys("SELECT k FROM t WHERE k BETWEEN 50 AND 99") == [
            k for k in want if 50 <= k <= 99
        ]
        assert keys("SELECT k FROM t VERSION AS OF 1") == [
            i for i in range(300) if i % 3
        ]
        fed = versioned_sql(
            spark,
            "SELECT _change_type, k FROM table_changes('t', 1, 2)",
            tables={"t": t},
        )
        assert sorted(tuple(r) for r in fed.collect()) == [
            ("delete", i) for i in range(300) if i % 5 == 0 and i % 3
        ]


def test_dv_literal_filter_is_flat_at_the_cap(spark, monkeypatch):
    """At the literal cap, spread one position per file over as many
    files as the cap allows, the literal vector is still one flat
    expression: it plans, and drops (or takes) exactly the (file,
    position) pairs, not a position that belongs to another file."""
    n = V.DV_LITERAL_POSITIONS
    monkeypatch.setattr(
        V,
        "_dv_literal_positions",
        lambda table, dv_map: {f"f{i}": [i] for i in range(n)},
    )
    # per file f<i>: row i is vectored, row i+1 is another file's position
    df = spark.range(n).selectExpr(
        "concat('f', id) AS b", "explode(array(id, id + 1)) AS p"
    )

    def kept(**kw):
        out = V._dv_filter(spark, "", df, {"x": {}}, base="b", pos="p", **kw)
        return out.selectExpr("count(*)", "sum(p - cast(substr(b, 2) AS long))")

    assert tuple(kept().first()) == (n, n)
    assert tuple(kept(take=True).first()) == (n, 0)


def test_vacuum_sweeps_orphan_dv_keeps_referenced(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _base(spark, t, n=100, parts=2)
    delete_where(spark, t, F.col("k") < 10, strategy="dv")
    live_refs = {
        f
        for f in os.listdir(os.path.join(t, "_manifests"))
        if f.startswith("dv-")
    }
    assert live_refs
    orphan = V._write_dv_sidecar(t, {"data/x/p.parquet": [1, 2]})
    old = time.time() - 7200
    for f in os.listdir(os.path.join(t, "_manifests")):
        p = os.path.join(t, "_manifests", f)
        os.utime(p, (old, old))
    vacuum(t, keep_last=1, tmp_age_s=3600)
    left = {
        f
        for f in os.listdir(os.path.join(t, "_manifests"))
        if f.startswith("dv-")
    }
    assert orphan not in left and live_refs <= left
    # clone carries the vectors (hardlinked sidecars)
    c = str(tmp_path / "clone")
    clone_table(t, c)
    assert read_snapshot(spark, c).count() == 90
    assert describe_table(c)["dv_rows"] == 10


def test_physical_cdc_dv_accurate(spark, tmp_path):
    """r8: table_changes_physical emits deletion-vector POSITION DELTAS
    (the stream source's new-minus-old logic, batch-side) — a dv
    commit's deletes surface row-exactly, an update_dv commit's paired
    insert segment no longer double-counts, and a later rewrite of a
    DV'd file excludes the already-vectored positions from its
    file-removal deletes. Fold(physical) == fold(stream feed) ==
    final snapshot."""
    from collections import Counter

    from wrtd_etl_spark.sources.versioned import table_changes_physical

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, 0) for i in range(200)], "k long, val long"
    ).repartition(2)
    write_snapshot(df, t, stats_cols=["k"])
    delete_where(spark, t, F.col("k") < 20, strategy="dv")  # v1
    delete_where(spark, t, F.col("k") < 30, strategy="dv")  # v2 grows
    update_where(  # v3: vectors grow + fresh insert segment
        spark, t, F.col("k") >= 190, {"val": F.lit(5)}, strategy="dv"
    )
    delete_where(spark, t, F.col("k") < 40, strategy="cow")  # v4 rewrite
    phys = table_changes_physical(spark, t, -1)
    dels = phys.filter(F.col("_change_type") == "delete")
    by_v = {
        r["_commit_version"]: r["n"]
        for r in dels.groupBy("_commit_version")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # v1: 20 dv deletes; v2: DELTA of 10; v3: 10 old-value deletes
    # (update_dv); v4: CoW removal of the shadowed file emits live rows
    # only (200 - 30 vectored - 10 updated-away + the rewrite also
    # removes the v3 insert file? no — v4 pruned to k<40 only rewrites
    # the base file) — assert the dv versions exactly, and the fold
    assert by_v[1] == 20 and by_v[2] == 10 and by_v[3] == 10
    assert sorted(
        r.k for r in dels.filter(F.col("_commit_version") == 2).collect()
    ) == list(range(20, 30))
    assert sorted(
        r.k for r in dels.filter(F.col("_commit_version") == 3).collect()
    ) == list(range(190, 200))
    # no double-delete: every vectored row deleted exactly once
    fold = Counter()
    for r in phys.collect():
        fold[(r.k, r.val)] += 1 if r._change_type == "insert" else -1
    assert all(n in (0, 1) for n in fold.values())
    final = sorted(x for x, n in fold.items() if n > 0)
    snap = sorted(
        (r.k, r.val) for r in read_snapshot(spark, t).collect()
    )
    assert final == snap
    # physical fold == logical fold over the same dv-heavy range
    logi = table_changes(spark, t, 0, 3)
    lfold = Counter()
    for r in logi.collect():
        lfold[(r.k, r.val)] += 1 if r._change_type == "insert" else -1
    pfold = Counter()
    for r in table_changes_physical(spark, t, 0, 3).collect():
        pfold[(r.k, r.val)] += 1 if r._change_type == "insert" else -1
    assert {x for x, n in pfold.items() if n > 0} == {
        x for x, n in lfold.items() if n > 0
    }
    assert {x for x, n in pfold.items() if n < 0} == {
        x for x, n in lfold.items() if n < 0
    }
