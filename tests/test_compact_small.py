"""Incremental bin-packing compaction
(sources/versioned.compact_small_files): only the small-file tail is
rewritten; well-sized files carry by reference."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wrtd_etl_spark.sources.versioned import (
    compact_small_files,
    files_for_read,
    history,
    latest_version,
    manifest_info,
    read_snapshot,
    write_snapshot,
)


def _rows(spark, t, **kw):
    return sorted((r.k, r.v) for r in read_snapshot(spark, t, **kw).collect())


def _mk(spark, t, big_rows=20000, tails=6):
    """One deliberately large file + several tiny append files."""
    write_snapshot(
        spark.createDataFrame(
            [(i, "base") for i in range(big_rows)], "k long, v string"
        ).coalesce(1),
        t,
        stats_cols=["k"],
    )
    for i in range(tails):
        write_snapshot(
            spark.createDataFrame(
                [(big_rows + i, "tail")], "k long, v string"
            ),
            t,
            mode="append",
        )


def test_small_files_fold_big_file_untouched(spark, tmp_path):
    t = str(tmp_path / "tbl")
    _mk(spark, t)
    before, _ = files_for_read(t)
    sizes = {f: os.path.getsize(os.path.join(t, f)) for f in before}
    big = max(sizes, key=sizes.get)
    want = _rows(spark, t)
    v = compact_small_files(
        spark, t, small_bytes=sizes[big], target_bytes=1 << 30
    )
    assert v == latest_version(t)
    assert manifest_info(t)["mode"] == "compact"
    after, _ = files_for_read(t)
    assert big in after  # the well-sized file carried BY REFERENCE
    assert len(after) == 2  # big + one packed tail file
    assert _rows(spark, t) == want  # rows bit-identical
    # time travel still reads the pre-compact layout
    assert _rows(spark, t, version=v - 1) == want
    # idempotence: one remaining small file -> nothing to pack
    assert (
        compact_small_files(
            spark, t, small_bytes=sizes[big], target_bytes=1 << 30
        )
        is None
    )


def test_small_compact_recovers_pruning_on_clustered_table(spark, tmp_path):
    """The packed tail re-clusters along the recorded layout, so
    skip_filter pruning keeps working after maintenance."""
    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20000)], "k long, v string"
        ),
        t,
        layout_by=["k"],
        layout_files=4,
    )
    for i in range(5):
        write_snapshot(
            spark.createDataFrame(
                [(30000 + i, "tail")], "k long, v string"
            ),
            t,
            mode="append",
        )
    files, _ = files_for_read(t)
    big = sorted(
        os.path.getsize(os.path.join(t, f)) for f in files
    )[-4]
    v = compact_small_files(spark, t, small_bytes=big, target_bytes=1 << 30)
    assert v is not None
    # a range read over the tail keys touches few files
    kept, total = files_for_read(t, skip_filter={"k": (30000, 30010)})
    assert total >= 5 and len(kept) <= 2
    assert read_snapshot(spark, t).count() == 20005


def test_small_compact_rebases_over_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """A pure layout rewrite commutes with any append: the racing
    append's rows survive AND the pack commits."""
    import wrtd_etl_spark.sources.versioned as V

    t = str(tmp_path / "tbl")
    _mk(spark, t, big_rows=5000, tails=4)
    real = V._rewrite_segment
    state = {"done": False}

    def hooked(*a, **k):
        if not state["done"]:
            state["done"] = True
            write_snapshot(
                spark.createDataFrame([(99999, "racer")], "k long, v string"),
                t,
                mode="append",
            )
        return real(*a, **k)

    monkeypatch.setattr(V, "_rewrite_segment", hooked)
    v = compact_small_files(spark, t, small_bytes=1 << 20, target_bytes=1 << 30)
    assert v is not None
    got = _rows(spark, t)
    assert (99999, "racer") in got
    assert len(got) == 5000 + 4 + 1


def test_small_compact_keeps_properties_set_during_rewrite(
    spark, tmp_path, monkeypatch
):
    """ALTER ... SET TBLPROPERTIES commits as a zero-segment append, so a
    rewrite rebases over it; the rebased commit must carry the new
    properties forward instead of restoring its base's."""
    import wrtd_etl_spark.sources.versioned as V

    t = str(tmp_path / "tbl")
    for i in range(3):
        write_snapshot(
            spark.createDataFrame([(i, "a")], "k long, v string").coalesce(1),
            t,
            mode="append" if i else "overwrite",
        )
    real = V._rewrite_segment

    def hooked(*a, **k):
        out = real(*a, **k)
        V.set_table_properties(t, {"owner": "ops"})
        return out

    monkeypatch.setattr(V, "_rewrite_segment", hooked)
    assert compact_small_files(spark, t) is not None
    assert manifest_info(t)["mode"] == "compact"
    assert V.table_properties(t)["owner"] == "ops"


def test_sink_inline_incremental_compaction(spark, tmp_path):
    """The streaming append sink's auto-compaction can bin-pack instead
    of rewriting the table."""
    from wrtd_etl_spark.streaming.versioned_sink import (
        make_versioned_append_sink,
    )

    t = str(tmp_path / "tbl")
    sink = make_versioned_append_sink(
        t,
        stats_cols=["k"],
        compact_above=4,
        compact_small_bytes=1 << 20,
    )
    for i in range(8):
        sink(
            spark.createDataFrame([(i, f"b{i}")], "k long, v string"),
            i,
        )
    assert [m["mode"] for m in history(t)][0] in ("append", "compact")
    assert any(m["mode"] == "compact" for m in history(t))
    files, _ = files_for_read(t)
    assert len(files) <= 4
    assert read_snapshot(spark, t).count() == 8


def test_sink_honors_table_maintenance_policy(spark, tmp_path):
    """r12: a sink created with NO thresholds maintains a table that
    declares its own maintain.* properties — one policy, every writer;
    a table without properties stays untouched (the pre-r12 no-op)."""
    from wrtd_etl_spark.sources.versioned import (
        files_for_read,
        read_snapshot,
        set_table_properties,
        write_snapshot,
    )
    from wrtd_etl_spark.streaming.versioned_sink import (
        make_versioned_append_sink,
    )

    t = str(tmp_path / "t")
    write_snapshot(
        spark.createDataFrame([(0, "seed")], "k long, v string"), t
    )
    set_table_properties(
        t, {"maintain.max_files": "3", "maintain.target_files": "1"}
    )
    sink = make_versioned_append_sink(t)  # no thresholds passed
    for i in range(1, 5):
        sink(
            spark.createDataFrame([(i, f"b{i}")], "k long, v string"), i
        )
    # policy fired: file count folded back under the threshold
    assert len(files_for_read(t)[0]) <= 3
    assert {r.k for r in read_snapshot(spark, t).collect()} == set(range(5))

    # a property-less table is never touched by the no-threshold sink
    t2 = str(tmp_path / "t2")
    sink2 = make_versioned_append_sink(t2)
    for i in range(8):
        sink2(
            spark.createDataFrame([(i, "x")], "k long, v string"), i
        )
    assert len(files_for_read(t2)[0]) == 8
