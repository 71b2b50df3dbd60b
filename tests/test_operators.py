"""Operator-level unit tests: skew salting, upsert, null-safe anti-join."""

from __future__ import annotations

from pyspark.sql import functions as F

from wrtd_etl_spark.catalog import load_table
from wrtd_etl_spark.operators.joins import null_safe_anti_join
from wrtd_etl_spark.operators.skew import salted_count, salted_join
from wrtd_etl_spark.operators.upsert import upsert_by_key

from .conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    customer = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    plain = {
        (r.event_id, r.c_name)
        for r in events.join(customer, "user_id").collect()
    }
    salted = {
        (r.event_id, r.c_name)
        for r in salted_join(events, customer, "user_id", n_salts=8).collect()
    }
    assert salted == plain


def test_salted_count_equals_plain_count(spark):
    events = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r.event_type, r["count"])
        for r in events.groupBy("event_type").count().collect()
    }
    salted = {
        (r.event_type, r.cnt)
        for r in salted_count(events, "event_type", n_salts=8).collect()
    }
    assert salted == plain


def test_null_safe_anti_join_null_semantics(spark):
    left = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    right_clean = spark.createDataFrame([(2,), (3,)], "k long")
    right_null = spark.createDataFrame([(2,), (None,)], "k long")
    # SQL NOT IN: NULL left keys never qualify
    got = {r.k for r in null_safe_anti_join(left, right_clean, "k", "k").collect()}
    assert got == {1}
    # SQL NOT IN: any NULL on the right empties the result
    assert null_safe_anti_join(left, right_null, "k", "k").count() == 0


def test_upsert_insert_and_update(spark):
    current = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    got = {(r.k, r.v) for r in upsert_by_key(current, updates, "k").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_approx_sketches_within_bounds(spark):
    from wrtd_etl_spark.plans import REGISTRY
    import wrtd_etl_spark.plans.testdata_queries  # noqa: F401

    li = load_table(spark, SF_SMOKE, "lineitem")
    exact = {
        (r.l_returnflag): (r.n, r.med)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("med"),
        )
        .collect()
    }
    approx = REGISTRY["approx_sketches"].fn(spark, SF_SMOKE).collect()
    for r in approx:
        n, med = exact[r.returnflag]
        assert abs(r.approx_parts - n) / n < 0.05
        assert abs(r.approx_median - med) / med < 0.05


def test_partitioned_layout_prunes(spark, tmp_path):
    """append_partitioned's bucket layout must show PartitionFilters in the
    physical plan for a key-filtered read (the per-replay query pattern)."""
    import io, contextlib
    from wrtd_etl_spark import sinks

    events = load_table(spark, SF_SMOKE, "events").limit(1000)
    path = str(tmp_path / "ev")
    sinks.append_partitioned(events, path, "user_id", buckets=8)

    raw = spark.read.parquet(path)
    filtered = raw.filter(
        F.col("__bucket") == F.pmod(F.hash(F.lit(7)), F.lit(8))
    ).filter(F.col("user_id") == 7)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "__bucket" in plan
    # correctness: bucket-filtered read returns exactly the key's rows
    expect = events.filter(F.col("user_id") == 7).count()
    assert filtered.count() == expect


def test_distributed_cumsum_matches_naive_window(spark):
    """Two-pass prefix sum == the single-task global window, on an order
    where buckets are range-monotone in the key."""
    from pyspark.sql import Window

    from wrtd_etl_spark.operators.prefix_sum import distributed_cumsum

    df = (
        spark.range(1000)
        .select(
            F.col("id"),
            ((F.col("id") * 2654435761) % 4294967296).alias("k"),
            (F.col("id") % 7 + 1).alias("v"),
        )
        .withColumn("b", F.floor(F.col("k") / (4294967296 // 16)).cast("long"))
    )
    got = {
        (r.id, r.cum)
        for r in distributed_cumsum(
            df, "v", order_cols=["k", "id"], bucket_col="b", out_col="cum"
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = {(r.id, r.cum) for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_distributed_cumsum_mixed_sign_values(spark):
    """Bucket totals must be a true sum, not max-of-running-sum — the two
    only coincide for non-negative values. Mixed-sign input is the
    regression case."""
    from pyspark.sql import Window

    from wrtd_etl_spark.operators.prefix_sum import distributed_cumsum

    df = (
        spark.range(500)
        .select(
            F.col("id"),
            ((F.col("id") * 2654435761) % 4294967296).alias("k"),
            (F.col("id") % 9 - 4).alias("v"),  # values in [-4, 4]
        )
        .withColumn("b", F.floor(F.col("k") / (4294967296 // 8)).cast("long"))
    )
    got = {
        (r.id, r.cum)
        for r in distributed_cumsum(
            df, "v", order_cols=["k", "id"], bucket_col="b", out_col="cum"
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = {(r.id, r.cum) for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_distributed_cumsum_plan_partitions_the_fact_window(spark):
    """The fact-table window must be partitioned by the bucket (the whole
    point: no single-task global sort of the facts)."""
    from wrtd_etl_spark.operators.prefix_sum import distributed_cumsum

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("b"), F.lit(1).alias("v")
    )
    plan = distributed_cumsum(
        df, "v", order_cols=["id"], bucket_col="b", out_col="cum"
    )._jdf.queryExecution().executedPlan().toString()
    assert "partitionBy=[b" in plan.replace("#", "@").replace("bL", "b") or (
        "hashpartitioning(b" in plan
    )


def test_delete_by_key_round_trip(spark, tmp_path):
    """CRUD completion: upsert then delete, swap-persisted — survivors are
    exactly the non-deleted keys and a re-read sees the swap."""
    from wrtd_etl_spark.operators.upsert import delete_parquet, upsert_parquet

    p = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(i, f"name{i}") for i in range(20)], "id long, name string"
    )
    upsert_parquet(spark, p, base, "id")
    doomed = spark.createDataFrame([(3,), (7,), (11,), (999,)], "id long")
    delete_parquet(spark, p, doomed, "id")
    back = spark.read.parquet(p)
    assert sorted(r.id for r in back.collect()) == sorted(
        set(range(20)) - {3, 7, 11}
    )


def test_upsert_crash_between_renames_recovers_old_table(spark, tmp_path):
    """Crash window #1: table renamed aside, replacement not yet published.
    The pre-crash table must survive and the next upsert must see it."""
    import os

    from wrtd_etl_spark.operators.upsert import upsert_parquet

    p = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, name string"
    )
    upsert_parquet(spark, p, base, "id")
    # simulate the crash state: aside-rename done, publish never happened,
    # plus an orphaned tmp write dir
    os.rename(p, f"{p}.__old")
    os.makedirs(f"{p}.__tmp_deadbeef")
    upd = spark.createDataFrame([(3, "NEW"), (99, "ins")], "id long, name string")
    upsert_parquet(spark, p, upd, "id")
    got = {(r.id, r.name) for r in spark.read.parquet(p).collect()}
    want = {(i, f"v{i}") for i in range(10) if i != 3} | {(3, "NEW"), (99, "ins")}
    assert got == want
    assert not os.path.exists(f"{p}.__old")
    assert not os.path.exists(f"{p}.__tmp_deadbeef")


def test_upsert_crash_before_old_cleanup_keeps_new_table(spark, tmp_path):
    """Crash window #2: new table published, stale aside copy not deleted.
    Recovery must keep the NEW table and drop the stale one."""
    import os
    import shutil

    from wrtd_etl_spark.operators.upsert import upsert_parquet

    p = str(tmp_path / "dim")
    v1 = spark.createDataFrame([(1, "old")], "id long, name string")
    upsert_parquet(spark, p, v1, "id")
    shutil.copytree(p, f"{p}.__old")  # stale pre-swap copy left behind
    v2 = spark.createDataFrame([(1, "new")], "id long, name string")
    upsert_parquet(spark, p, v2, "id")
    assert [(r.id, r.name) for r in spark.read.parquet(p).collect()] == [(1, "new")]
    assert not os.path.exists(f"{p}.__old")


def test_upsert_rejects_column_mismatch(spark, tmp_path):
    """The table is read with the updates' schema, so an update frame
    with a column the table lacks, or lacking one it has, must raise
    before anything is written."""
    import pytest

    from wrtd_etl_spark.operators.upsert import upsert_parquet

    p = str(tmp_path / "dim")
    base = spark.createDataFrame([(1, "a")], "id long, name string")
    upsert_parquet(spark, p, base, "id")
    for schema in ("id long, name string, extra long", "id long"):
        upd = spark.createDataFrame([], schema)
        with pytest.raises(ValueError, match="upsert columns differ"):
            upsert_parquet(spark, p, upd, "id")
    assert [(r.id, r.name) for r in spark.read.parquet(p).collect()] == [
        (1, "a")
    ]


def test_upsert_injected_crash_never_loses_table(spark, tmp_path, monkeypatch):
    """Kill the swap at the publish rename (the exact step the old
    rmtree-then-rename protocol died on with the table already deleted):
    the original table must still be fully readable after recovery."""
    import os

    from wrtd_etl_spark.operators import upsert as up

    p = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(5)], "id long, val long"
    )
    up.upsert_parquet(spark, p, base, "id")

    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # first = aside, second = publish
            raise OSError("injected crash at publish")
        real_rename(src, dst)

    monkeypatch.setattr(up.os, "rename", crashing_rename)
    upd = spark.createDataFrame([(0, 999)], "id long, val long")
    try:
        up.upsert_parquet(spark, p, upd, "id")
    except OSError:
        pass
    monkeypatch.setattr(up.os, "rename", real_rename)
    # recovery is automatic on the next entry; the retried upsert lands
    up.upsert_parquet(spark, p, upd, "id")
    got = {(r.id, r.val) for r in spark.read.parquet(p).collect()}
    assert got == {(0, 999), (1, 10), (2, 20), (3, 30), (4, 40)}


class TestExactPercentileDisc:
    """Distributed bounded-memory selection must equal percentile_disc
    bit-for-bit (operators/percentile.py)."""

    def _truth(self, df, col, p, groups):
        return {
            tuple(r[g] for g in groups): r["t"]
            for r in df.groupBy(*groups)
            .agg(
                F.expr(
                    f"percentile_disc({p}) WITHIN GROUP (ORDER BY {col})"
                ).alias("t")
            )
            .collect()
        }

    def _mine(self, df, col, p, groups, **kw):
        from wrtd_etl_spark.operators.percentile import exact_percentile_disc

        return {
            tuple(r[g] for g in groups): r[col]
            for r in exact_percentile_disc(df, col, p, groups, **kw).collect()
        }

    def test_matches_builtin_with_forced_iterations(self, spark):
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        for p in (0.0, 0.01, 0.5, 0.99, 1.0):
            # bracket_limit far below group size forces the narrowing loop
            assert self._mine(
                li, "l_extendedprice", p, ["l_returnflag"], bracket_limit=100
            ) == self._truth(li, "l_extendedprice", p, ["l_returnflag"]), p

    def test_duplicate_heavy_and_tiny_groups(self, spark):
        import random

        random.seed(7)
        rows = (
            [("a", float(random.choice([1, 2, 3]))) for _ in range(2000)]
            + [("b", 42.0)]
            + [("c", float(i)) for i in range(10)]
        )
        df = spark.createDataFrame(rows, "g string, x double")
        for p in (0.25, 0.5, 0.99):
            assert self._mine(df, "x", p, ["g"], bracket_limit=50) == self._truth(
                df, "x", p, ["g"]
            ), p

    def test_integer_column(self, spark):
        df = spark.createDataFrame([(1, i % 100) for i in range(5000)], "g int, x int")
        assert self._mine(df, "x", 0.95, ["g"], bracket_limit=64) == self._truth(
            df, "x", 0.95, ["g"]
        )


class TestAsOfVariants:
    """Forward direction + tolerance must match a brute-force inequality
    join (the quadratic reference the operator exists to avoid)."""

    def _data(self, spark):
        left = spark.createDataFrame(
            [(1, 10.0, "a"), (1, 25.0, "b"), (2, 5.0, "c"), (3, 7.0, "d")],
            "k int, lt double, tag string",
        )
        right = spark.createDataFrame(
            [(1, 8.0, 100), (1, 25.0, 200), (1, 30.0, 300), (2, 9.0, 400)],
            "k int, rt double, pay int",
        )
        return left, right

    def test_forward_matches_brute_force(self, spark):
        from wrtd_etl_spark.operators.asof import as_of_join

        left, right = self._data(spark)
        got = {
            (r.k, r.lt): r.pay
            for r in as_of_join(
                left, right, "k", "lt", "rt", ["pay"], direction="forward"
            ).collect()
        }
        # brute force: earliest right with rt >= lt per (k, lt)
        rrows = [(r.k, r.rt, r.pay) for r in right.collect()]
        for r in left.collect():
            cands = [(rt, pay) for k, rt, pay in rrows if k == r.k and rt >= r.lt]
            want = min(cands)[1] if cands else None
            assert got[(r.k, r.lt)] == want, (r.k, r.lt)

    def test_backward_tolerance_nulls_stale_matches(self, spark):
        from wrtd_etl_spark.operators.asof import as_of_join

        left, right = self._data(spark)
        got = {
            (r.k, r.lt): r.pay
            for r in as_of_join(
                left, right, "k", "lt", "rt", ["pay"], tolerance_s=3.0
            ).collect()
        }
        rrows = [(r.k, r.rt, r.pay) for r in right.collect()]
        for r in left.collect():
            cands = [(rt, pay) for k, rt, pay in rrows if k == r.k and rt <= r.lt]
            want = max(cands)[1] if cands and r.lt - max(cands)[0] <= 3.0 else None
            assert got[(r.k, r.lt)] == want, (r.k, r.lt)

    def test_forward_tolerance(self, spark):
        from wrtd_etl_spark.operators.asof import as_of_join

        left, right = self._data(spark)
        got = {
            (r.k, r.lt): r.pay
            for r in as_of_join(
                left, right, "k", "lt", "rt", ["pay"],
                direction="forward", tolerance_s=5.0,
            ).collect()
        }
        rrows = [(r.k, r.rt, r.pay) for r in right.collect()]
        for r in left.collect():
            cands = [(rt, pay) for k, rt, pay in rrows if k == r.k and rt >= r.lt]
            want = min(cands)[1] if cands and min(cands)[0] - r.lt <= 5.0 else None
            assert got[(r.k, r.lt)] == want, (r.k, r.lt)


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """After write_zordered, each output file covers a compact
    hyper-rectangle: the mean per-file min/max span of BOTH interleaved
    columns must be far below the span a hash-shuffled layout leaves
    (which is ~the full domain in every file)."""
    import pyarrow.parquet as pq

    from wrtd_etl_spark.operators.zorder import write_zordered

    from .conftest import SF_CORRECT

    orders = load_table(spark, SF_CORRECT, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def mean_file_spans(path: str) -> tuple[float, float]:
        import glob
        import os

        spans_c, spans_p = [], []
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.read_metadata(f)
            if md.num_rows == 0:
                continue
            cols = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            lo_c = min(
                md.row_group(g).column(cols["o_custkey"]).statistics.min
                for g in range(md.num_row_groups)
            )
            hi_c = max(
                md.row_group(g).column(cols["o_custkey"]).statistics.max
                for g in range(md.num_row_groups)
            )
            lo_p = min(
                md.row_group(g).column(cols["o_totalprice"]).statistics.min
                for g in range(md.num_row_groups)
            )
            hi_p = max(
                md.row_group(g).column(cols["o_totalprice"]).statistics.max
                for g in range(md.num_row_groups)
            )
            spans_c.append(hi_c - lo_c)
            spans_p.append(hi_p - lo_p)
        return sum(spans_c) / len(spans_c), sum(spans_p) / len(spans_p)

    zpath, hpath, spath = (
        str(tmp_path / "z"),
        str(tmp_path / "h"),
        str(tmp_path / "s"),
    )
    write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=64)
    orders.repartition(64).write.parquet(hpath)  # the layout-free baseline
    # the 1-D baseline: perfect on its own column, no clustering on the other
    (
        orders.repartitionByRange(64, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.parquet(spath)
    )

    zc, zp = mean_file_spans(zpath)
    hc, hp = mean_file_spans(hpath)
    _, sp = mean_file_spans(spath)
    # every hash file spans ~the whole domain; z-files must be several
    # times narrower on BOTH dimensions at once
    assert zc < hc / 3, (zc, hc)
    assert zp < hp / 3, (zp, hp)
    # and the curve must beat a single-column sort on the OTHER dimension
    # (which a 1-D layout cannot cluster at all)
    assert zp < sp / 3, (zp, sp)
    # nothing lost or duplicated by the layout pass
    assert (
        spark.read.parquet(zpath).count() == orders.count()
    )


def test_gapfill_locf_semantics(spark):
    """Carry-forward fill: every gap day exists, carries the latest
    earlier value, and each key's scaffold spans exactly its own
    [first, last] observation — no cross-key leakage, no leading NULLs."""
    import datetime as dt

    from wrtd_etl_spark.operators.gapfill import gapfill_daily

    d = dt.date
    daily = spark.createDataFrame(
        [
            ("a", d(2024, 1, 1), 10.0),
            ("a", d(2024, 1, 4), 40.0),
            ("b", d(2024, 2, 1), 1.0),
        ],
        "k string, day date, v double",
    )
    rows = {
        (r.k, r.day): r
        for r in gapfill_daily(daily, "k", "day", ["v"]).collect()
    }
    assert set(rows) == {
        ("a", d(2024, 1, 1)),
        ("a", d(2024, 1, 2)),
        ("a", d(2024, 1, 3)),
        ("a", d(2024, 1, 4)),
        ("b", d(2024, 2, 1)),
    }
    assert rows[("a", d(2024, 1, 2))].v == 10.0  # carried forward
    assert rows[("a", d(2024, 1, 3))].v == 10.0
    assert rows[("a", d(2024, 1, 4))].v == 40.0  # real observation wins
    assert rows[("a", d(2024, 1, 2))].was_gap is True
    assert rows[("a", d(2024, 1, 1))].was_gap is False
    assert rows[("b", d(2024, 2, 1))].v == 1.0  # b never sees a's values


def test_rollup_merge_equals_full_recompute(spark):
    """Maintained rollup == full recomputation, for any batch split and
    for groups appearing in only one side — the mergeability contract of
    incremental aggregate maintenance."""
    from wrtd_etl_spark.operators.rollup_merge import (
        aggregate_batch,
        merge_rollup,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderstatus", "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    keys = ["o_orderstatus", "o_orderpriority"]
    metrics = {
        "n": ("count", "o_orderkey"),
        "total": ("sum", "o_totalprice"),
        "lo": ("min", "o_totalprice"),
        "hi": ("max", "o_totalprice"),
    }
    want = {
        tuple(r[k] for k in keys): (r.n, r.total, r.lo, r.hi)
        for r in aggregate_batch(orders, keys, metrics).collect()
    }
    # split so some groups exist in only one batch (status F is rare in
    # the high-key half); fold three deltas into an empty-start rollup
    cuts = [
        orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)
    ]
    rollup = aggregate_batch(cuts[0], keys, metrics)
    for c in cuts[1:]:
        rollup = merge_rollup(
            rollup, aggregate_batch(c, keys, metrics), keys, metrics
        )
    got = {
        tuple(r[k] for k in keys): (r.n, r.total, r.lo, r.hi)
        for r in rollup.collect()
    }
    assert set(got) == set(want)
    for k, (n, total, lo, hi) in want.items():
        gn, gtotal, glo, ghi = got[k]
        assert gn == n and glo == lo and ghi == hi
        assert abs(gtotal - total) < 1e-6 * max(1.0, abs(total))


def test_rollup_merge_disjoint_and_empty_sides(spark):
    """Groups present in only one side pass through unchanged; an empty
    delta is the identity."""
    from wrtd_etl_spark.operators.rollup_merge import (
        aggregate_batch,
        merge_rollup,
    )

    a = spark.createDataFrame([("x", 1.0), ("x", 3.0)], "k string, v double")
    b = spark.createDataFrame([("y", 5.0)], "k string, v double")
    metrics = {"n": ("count", "v"), "s": ("sum", "v"),
               "lo": ("min", "v"), "hi": ("max", "v")}
    ra = aggregate_batch(a, ["k"], metrics)
    rb = aggregate_batch(b, ["k"], metrics)
    merged = {r.k: (r.n, r.s, r.lo, r.hi)
              for r in merge_rollup(ra, rb, ["k"], metrics).collect()}
    assert merged == {"x": (2, 4.0, 1.0, 3.0), "y": (1, 5.0, 5.0, 5.0)}
    empty = aggregate_batch(
        spark.createDataFrame([], "k string, v double"), ["k"], metrics
    )
    ident = {r.k: (r.n, r.s, r.lo, r.hi)
             for r in merge_rollup(ra, empty, ["k"], metrics).collect()}
    assert ident == {"x": (2, 4.0, 1.0, 3.0)}


def test_rollup_merge_and_retract_null_group_keys(spark):
    """SQL GROUP BY treats all NULL keys as ONE group, but a plain
    equi-join never matches NULL = NULL — merge must combine the
    NULL-key old and delta rows into one row (not two), and retract
    must actually find and shrink the NULL-key group (the advisor's
    silent-no-retract drift)."""
    from wrtd_etl_spark.operators.rollup_merge import (
        aggregate_batch,
        merge_rollup,
        retract_rollup,
    )

    schema = "k string, v long"
    metrics = {"rows": ("rows", "v"), "s": ("sum", "v")}
    old = aggregate_batch(
        spark.createDataFrame([(None, 10), (None, 20), ("x", 1)], schema),
        ["k"], metrics,
    )
    delta = aggregate_batch(
        spark.createDataFrame([(None, 5), ("y", 7)], schema), ["k"], metrics
    )
    merged = {r.k: (r.rows, r.s)
              for r in merge_rollup(old, delta, ["k"], metrics).collect()}
    # one NULL-key row, components combined — a rebuild's answer
    assert merged == {None: (3, 35), "x": (1, 1), "y": (1, 7)}

    dels = aggregate_batch(
        spark.createDataFrame([(None, 10), (None, 5)], schema),
        ["k"], metrics,
    )
    rolled = merge_rollup(old, delta, ["k"], metrics)
    after = {r.k: (r.rows, r.s)
             for r in retract_rollup(rolled, dels, ["k"], metrics).collect()}
    assert after == {None: (1, 20), "x": (1, 1), "y": (1, 7)}
    # group death: retracting the last NULL-key rows drops the group
    dead = aggregate_batch(
        spark.createDataFrame([(None, 20)], schema), ["k"], metrics
    )
    gone = {r.k for r in retract_rollup(
        spark.createDataFrame([(None, 1, 20), ("x", 1, 1)],
                              "k string, rows long, s bigint"),
        dead, ["k"], metrics).collect()}
    assert gone == {"x"}


def test_heavy_hitters_exact_vs_naive_on_skewed_data(spark):
    """Sketch+verify must equal the naive groupBy answer exactly — on a
    skewed distribution spread across many partitions, including an item
    sitting just UNDER the threshold."""
    import pyspark.sql.functions as F

    from wrtd_etl_spark.operators.heavy_hitters import heavy_hitters

    n = 10_000
    # id%97 spreads values; value distribution: one giant (40%), one at
    # ~2%, a sub-threshold one at ~0.9%, long uniform tail
    df = (
        spark.range(n)
        .repartition(16)
        .select(
            F.when(F.col("id") % 10 < 4, F.lit("giant"))
            .when(F.col("id") % 50 == 4, F.lit("mid"))      # 2%
            .when(F.col("id") % 1000 < 9, F.lit("under"))   # 0.9%
            .otherwise(F.concat(F.lit("t"), (F.col("id") % 997)))
            .alias("v")
        )
    )
    got = {r.v: r.cnt for r in heavy_hitters(df, "v", phi=0.01).collect()}
    naive = {
        r.v: r["count"]
        for r in df.groupBy("v").count().collect()
        if r["count"] >= -(-n // 100)  # ceil(0.01 * n)
    }
    assert got == naive
    assert "giant" in got and "mid" in got and "under" not in got


def test_heavy_hitters_null_and_phi_validation(spark):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from wrtd_etl_spark.operators.heavy_hitters import heavy_hitters

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], ["v"]
    )
    got = {r.v: r.cnt for r in heavy_hitters(df, "v", phi=0.5).collect()}
    assert got == {"a": 2}  # NULLs excluded from both counts and total
    with _pytest.raises(ValueError):
        heavy_hitters(df, "v", phi=0.0)


def test_table_digest_order_invariant_and_change_sensitive(spark):
    from wrtd_etl_spark.operators.diff import table_digest

    df = spark.range(1000).selectExpr("id", "id % 7 as g", "cast(id * 1.5 as double) as v")
    d1 = table_digest(df)
    d2 = table_digest(df.repartition(13).sortWithinPartitions("g"))
    assert d1 == d2  # partitioning/order free
    d3 = table_digest(df.withColumn("v", F.when(F.col("id") == 500, 0.0).otherwise(F.col("v"))))
    assert d3 != d1  # single-row change flips the digest
    d4 = table_digest(df.filter("id <> 500"))
    assert d4 != d1 and d4["n"] == 999


def test_table_diff_empty_on_identical_inputs(spark):
    from wrtd_etl_spark.operators.diff import table_diff

    df = spark.range(100).selectExpr("id", "id % 3 as s")
    assert table_diff(df, df.repartition(7), ["id"]).count() == 0
    # NULL-valued tracked columns compare null-safely (no phantom change)
    n = spark.createDataFrame([(1, None), (2, "x")], "id long, s string")
    assert table_diff(n, n, ["id"]).count() == 0


def test_rollup_merge_distinct_sketch_folds_across_batches(spark):
    """Incremental distinct counting: HLL sketch components folded over
    3 date-split batches must estimate the same distinct-customer count
    per priority as a one-shot aggregation — and both within 2% of the
    exact answer."""
    from wrtd_etl_spark.catalog import load_table
    from wrtd_etl_spark.operators.rollup_merge import (
        aggregate_batch,
        estimate_distinct,
        merge_rollup,
    )
    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderpriority").alias("g"),
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
    ).cache()
    metrics = {"cust_sketch": ("distinct", "o_custkey")}
    days = sorted(r.d for r in orders.select("d").distinct().collect())
    cuts = [days[len(days) // 3], days[2 * len(days) // 3]]
    batches = [
        orders.filter(F.col("d") <= F.lit(cuts[0])),
        orders.filter((F.col("d") > F.lit(cuts[0])) & (F.col("d") <= F.lit(cuts[1]))),
        orders.filter(F.col("d") > F.lit(cuts[1])),
    ]
    rollup = aggregate_batch(batches[0], ["g"], metrics)
    for b in batches[1:]:
        rollup = merge_rollup(rollup, aggregate_batch(b, ["g"], metrics), ["g"], metrics)
    folded = {
        r.g: r.est
        for r in rollup.select(
            "g", estimate_distinct(F.col("cust_sketch")).alias("est")
        ).collect()
    }
    oneshot = {
        r.g: r.est
        for r in aggregate_batch(orders, ["g"], metrics)
        .select("g", estimate_distinct(F.col("cust_sketch")).alias("est"))
        .collect()
    }
    exact = {
        r.g: r.n
        for r in orders.groupBy("g").agg(F.countDistinct("o_custkey").alias("n")).collect()
    }
    assert set(folded) == set(exact)
    for g, n in exact.items():
        assert abs(folded[g] - n) <= max(2, 0.02 * n), (g, folded[g], n)
        assert abs(oneshot[g] - n) <= max(2, 0.02 * n), (g, oneshot[g], n)


def test_zorder_key_constant_dimension_clamps_instead_of_null(spark):
    """A constant dimension (min == max) must hit the degenerate-span
    guard on BOTH bounds paths: Column bounds used to divide by zero and
    yield NULL z-keys (ADVICE r3), diverging from the literal-bounds
    clamp."""
    from wrtd_etl_spark.operators.zorder import zorder_key

    df = spark.range(8).select(
        F.lit(5.0).alias("c"), F.col("id").cast("double").alias("v")
    )
    b = df.agg(
        F.min("c").alias("lo1"),
        F.max("c").alias("hi1"),
        F.min("v").alias("lo2"),
        F.max("v").alias("hi2"),
    )
    z_col = zorder_key(
        [F.col("c"), F.col("v")],
        [(F.col("lo1"), F.col("hi1")), (F.col("lo2"), F.col("hi2"))],
    )
    got = {
        r.v: r.z
        for r in df.crossJoin(F.broadcast(b)).select("v", z_col.alias("z")).collect()
    }
    assert all(z is not None for z in got.values())
    # and agrees with the (already-guarded) literal-bounds path
    z_lit = zorder_key([F.col("c"), F.col("v")], [(5.0, 5.0), (0.0, 7.0)])
    want = {r.v: r.z for r in df.select("v", z_lit.alias("z")).collect()}
    assert got == want


def test_heavy_hitters_exact_phi_boundary(spark):
    """An item whose count sits EXACTLY on phi*n must be returned:
    phi=0.01, n=300 → threshold 3, but ceil-of-double gave
    ceil(3.0000000000000004) = 4 (ADVICE r3). The integer-rational
    comparison has no such 1-ulp boundary."""
    from wrtd_etl_spark.operators.heavy_hitters import heavy_hitters

    vals = ["a"] * 3 + [f"x{i}" for i in range(297)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {r.v: r.cnt for r in heavy_hitters(df, "v", phi=0.01).collect()}
    assert got.get("a") == 3
    assert all(v == "a" for v in got)


def test_mixture_report_includes_zero_kept_sources(spark):
    """A source whose sampling fraction keeps zero documents must still
    appear in the report (n_docs_kept = 0) — silently dropping the
    worst-affected source defeats the report's contract (ADVICE r3)."""
    from wrtd_etl_spark.operators.mixture import mixture_report

    # doc_ids 1..5 all have Knuth-hash uniforms >= 0.09, so frac=0.002
    # deterministically keeps none of them
    rows = [(i, "rare", "w " * 10) for i in range(1, 6)] + [
        (100 + i, "bulk", "w " * 10) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    w = F.when(F.col("source") == "rare", F.lit(0.001)).otherwise(F.lit(0.999))
    rep = {r.source: r for r in mixture_report(df, w, 100).collect()}
    assert set(rep) == {"rare", "bulk"}
    assert rep["rare"].n_docs_kept == 0
    assert rep["rare"].n_tokens_kept == 0
    assert rep["rare"].frac < 0.01 and rep["rare"].shortfall == 0.0
    assert rep["bulk"].n_docs_kept > 0
