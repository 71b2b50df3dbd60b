"""Streaming read of the versioned change feed
(sources/versioned_stream.py): offsets are versions, micro-batches are
commit-range file diffs, checkpoint restart resumes exactly-once."""

from __future__ import annotations

from pyspark.sql import functions as F

from wrtd_etl_spark.sources.versioned import (
    table_changes,
    update_where,
    write_snapshot,
)
from wrtd_etl_spark.sources.versioned_stream import read_changes_stream


def _feed(rows):
    from collections import Counter

    return Counter(tuple(r) for r in rows)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _drain(spark, table, checkpoint, starting_version=-1, **opts):
    rows = []

    def sink(batch, _bid):
        rows.extend(batch.collect())

    q = (
        read_changes_stream(spark, table, starting_version, **opts)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return rows


def test_streamed_appends_equal_batch_changes(spark, tmp_path, monkeypatch):
    """The streaming and batch change feeds read one change plan: over
    appends, a copy-on-write update, a growing deletion vector, a
    compaction, a rename and a defaulted new column they deliver the
    same rows version by version (plain, stats-pruned, compactions
    skipped); past an expired horizon the stream delivers the horizon
    snapshot as inserts; and planning an append opens only the new
    segment's sidecar."""
    import wrtd_etl_spark.sources.versioned as V
    from wrtd_etl_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 5), t)
    for lo in (5, 10, 15):
        write_snapshot(_df(spark, lo, lo + 5), t, mode="append")
    got = _drain(spark, t, str(tmp_path / "ck"))
    streamed = sorted(
        (r.k, r.v, r._change_type) for r in got
    )
    batch = table_changes(spark, t, 0, 3).withColumn(
        "_commit_version", F.lit(None)
    )
    expected = sorted(
        (r.k, r.v, r._change_type) for r in batch.collect()
    )
    # startingVersion=-1 also streams version 0's snapshot as inserts
    v0 = sorted((k, k * 10, "insert") for k in range(5))
    assert streamed == sorted(v0 + expected)
    # commit metadata rides along
    assert {r._commit_mode for r in got} == {"overwrite", "append"}
    assert {r._commit_version for r in got} == {0, 1, 2, 3}

    # every commit kind, one file per write to keep the feeds small
    t = str(tmp_path / "kinds")
    write_snapshot(_df(spark, 0, 10).coalesce(1), t)  # v0
    write_snapshot(_df(spark, 10, 20).coalesce(1), t, mode="append")  # v1
    write_snapshot(_df(spark, 20, 30).coalesce(1), t, mode="append")  # v2
    update_where(spark, t, F.col("k") < 3, {"v": F.col("v") + 1})  # v3
    V.delete_where(spark, t, F.col("k") == 21, strategy="dv")  # v4
    V.delete_where(spark, t, F.col("k") == 22, strategy="dv")  # v5 grows
    V.compact(spark, t)  # v6
    V.alter_rename_column(t, "v", "val")  # v7
    V.alter_add_column(spark, t, "d", "int", default=7)  # v8
    feeds = {}
    for name, opts in (
        ("plain", {}),
        ("pruned", {"skip_filter": {"k": (0, 9)}}),
        ("no_compact", {"skip_compactions": True}),
    ):
        streamed = _drain(spark, t, str(tmp_path / name), **opts)
        batch = V.table_changes_physical(spark, t, -1, **opts).collect()
        if name == "pruned":
            # skip_filter is an over-approximation (the stream also
            # prunes row groups): compare under the real predicate
            assert len(streamed) < sum(feeds["plain"].values())
            streamed = [r for r in streamed if r.k <= 9]
            batch = [r for r in batch if r.k <= 9]
        feeds[name] = _feed(streamed)
        assert feeds[name] == _feed(batch), name
    assert sorted(k for k in feeds["plain"] if k[4] in (4, 5)) == [
        (21, 210, 7, "delete", 4, "delete_dv"),
        (22, 220, 7, "delete", 5, "delete_dv"),
    ]

    write_snapshot(  # v9
        _df(spark, 40, 42).withColumnRenamed("v", "val").coalesce(1),
        t,
        mode="append",
    )
    V.expire_history(t, keep_last=2)
    got = _drain(spark, t, str(tmp_path / "horizon"))
    snap = V.read_snapshot(spark, t, version=8).collect()
    assert _feed(r for r in got if r._commit_version == 8) == _feed(
        tuple(r) + ("insert", 8, "append") for r in snap
    )
    assert sorted(r.k for r in got if r._commit_version == 9) == [40, 41]

    t20 = str(tmp_path / "t20")
    for i in range(20):
        write_snapshot(
            _df(spark, i, i + 1).coalesce(1),
            t20,
            mode="overwrite" if i == 0 else "append",
        )
    new = set(V.files_for_read(t20, 19)[0]) - set(V.files_for_read(t20, 18)[0])
    real = V._resolve_seg
    opened = []

    def counting(table, seg):
        if V._is_seg_head(seg):
            opened.append(seg["ref"])
        return real(table, seg)

    monkeypatch.setattr(V, "_resolve_seg", counting)
    reader = VersionedChangesStreamReader({"path": t20})
    assert opened == []
    parts = reader.partitions({"version": 18}, {"version": 19})
    assert len(opened) == 1
    assert {p.file for p in parts} == new and len(parts) == len(new)


def test_stream_fold_reproduces_snapshot_across_update(spark, tmp_path):
    """delete+insert multiset fold of the feed == the latest snapshot,
    including a copy-on-write UPDATE commit (rewritten-but-unchanged
    rows appear as paired delete+insert and cancel)."""
    from wrtd_etl_spark.sources.versioned import read_snapshot

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 20), t)
    write_snapshot(_df(spark, 20, 25), t, mode="append")
    update_where(spark, t, F.col("k") < 3, {"v": F.col("v") + 1})
    got = _drain(spark, t, str(tmp_path / "ck"))
    from collections import Counter

    fold = Counter()
    for r in got:
        fold[(r.k, r.v)] += 1 if r._change_type == "insert" else -1
    final = sorted(k for k, n in fold.items() if n > 0)
    assert all(n in (0, 1) for n in fold.values())
    snap = sorted((r.k, r.v) for r in read_snapshot(spark, t).collect())
    assert final == snap


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    write_snapshot(_df(spark, 0, 5), t)
    first = _drain(spark, t, ck)
    assert len(first) == 5
    # no new commits: restart delivers nothing
    assert _drain(spark, t, ck) == []
    # two more commits: restart delivers exactly their rows, once
    write_snapshot(_df(spark, 5, 8), t, mode="append")
    write_snapshot(_df(spark, 8, 10), t, mode="append")
    third = _drain(spark, t, ck)
    assert sorted(r.k for r in third) == list(range(5, 10))
    assert {r._commit_version for r in third} == {1, 2}


def test_starting_version_latest_skips_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 100), t)
    write_snapshot(_df(spark, 100, 101), t, mode="append")
    got = _drain(
        spark, t, str(tmp_path / "ck"), starting_version="latest"
    )
    assert got == []  # nothing after stream start
    write_snapshot(_df(spark, 101, 103), t, mode="append")
    got = _drain(spark, t, str(tmp_path / "ck"), starting_version="latest")
    assert sorted(r.k for r in got) == [101, 102]


def test_feed_driven_text_index_refresh_e2e(spark, tmp_path):
    """The text-index refresher subscribed to the corpus feed: two
    corpus commits stream in, the index folds each exactly once, search
    equals a from-scratch rebuild; re-running the (checkpointed) stream
    with no new commits touches nothing."""
    from wrtd_etl_spark.catalog import load_table
    from wrtd_etl_spark.operators.text_index import (
        build_text_index_from,
        search_text_index,
    )
    from wrtd_etl_spark.sources.versioned import latest_version
    from wrtd_etl_spark.streaming.feed_refresh import (
        run_text_index_refresh_stream,
    )

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    src, idx, rebuilt = (
        str(tmp_path / n) for n in ("docs", "idx", "idx2")
    )
    ck = str(tmp_path / "ck")
    write_snapshot(docs.filter(F.col("doc_id") < 200), src)
    build_text_index_from(spark, src, idx)
    write_snapshot(
        docs.filter(F.col("doc_id").between(200, 400)), src, mode="append"
    )
    write_snapshot(
        docs.filter(F.col("doc_id") > 400), src, mode="append"
    )
    run_text_index_refresh_stream(spark, src, idx, ck)
    assert latest_version(idx) >= 1
    build_text_index_from(spark, src, rebuilt)
    terms = ["data", "model", "the"]
    got = sorted(
        (r.doc_id, r.score)
        for r in search_text_index(spark, idx, terms, k=10).collect()
    )
    ref = sorted(
        (r.doc_id, r.score)
        for r in search_text_index(spark, rebuilt, terms, k=10).collect()
    )
    assert got == ref
    # replayed run: no new commits -> no new index version
    v_before = latest_version(idx)
    run_text_index_refresh_stream(spark, src, idx, ck)
    assert latest_version(idx) == v_before


def test_feed_driven_rollup_refresh_e2e(spark, tmp_path):
    from wrtd_etl_spark.operators.rollup_merge import aggregate_batch
    from wrtd_etl_spark.sources.versioned import read_snapshot
    from wrtd_etl_spark.streaming.feed_refresh import (
        run_rollup_refresh_stream,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    ck = str(tmp_path / "ck")
    keys, metrics = ["g"], {"n": ("count", "x"), "total": ("sum", "x")}
    write_snapshot(
        spark.createDataFrame([("a", 1), ("b", 3)], "g string, x long"), src
    )
    run_rollup_refresh_stream(spark, view, src, ck, keys, metrics)
    write_snapshot(
        spark.createDataFrame([("a", 5), ("c", 7)], "g string, x long"),
        src,
        mode="append",
    )
    run_rollup_refresh_stream(spark, view, src, ck, keys, metrics)
    got = {
        r.g: (r.n, r.total) for r in read_snapshot(spark, view).collect()
    }
    want = {
        r.g: (r.n, r.total)
        for r in aggregate_batch(
            read_snapshot(spark, src), keys, metrics
        ).collect()
    }
    assert got == want == {"a": (2, 6), "b": (1, 3), "c": (1, 7)}


def test_versioned_changes_stream_query_truth_model(spark):
    """The registry's rows-only entry: per-commit-version insert counts
    equal the per-batch row counts of the three modulo slices."""
    from wrtd_etl_spark.catalog import load_table
    from wrtd_etl_spark.plans import REGISTRY
    from wrtd_etl_spark.plans import testdata_queries  # noqa: F401 (registers)

    from .conftest import SF_SMOKE

    got = {
        r.commit_version: r.n_inserts
        for r in REGISTRY["versioned_changes_stream"].fn(spark, SF_SMOKE).collect()
    }
    orders = load_table(spark, SF_SMOKE, "orders")
    want = {
        v: orders.filter(F.col("o_orderkey") % 3 == v).count()
        for v in range(3)
    }
    assert got == want


def test_stream_handles_renamed_and_added_columns(spark, tmp_path):
    """Change-feed stream over an EVOLVED table: files written under a
    historical column name resolve through the alias map, files
    predating an added column NULL-pad — per-partition col_map does at
    the stream layer what _read_segments does for batch."""
    t = str(tmp_path / "tbl")
    write_snapshot(
        spark.createDataFrame([(1, 10)], "k long, old_name long"), t
    )
    write_snapshot(
        spark.createDataFrame([(2, 20)], "k long, v long"),
        t,
        mode="append",
        renames={"old_name": "v"},
    )
    write_snapshot(
        spark.createDataFrame([(3, 30, "x")], "k long, v long, extra string"),
        t,
        mode="append",
    )
    got = sorted(
        (r.k, r.v, r.extra, r._commit_version)
        for r in _drain(spark, t, str(tmp_path / "ck"))
    )
    assert got == [
        (1, 10, None, 0),   # historical name re-labelled, extra NULL-padded
        (2, 20, None, 1),
        (3, 30, "x", 2),
    ]


def test_feed_refresh_fires_on_initial_snapshot_only(spark, tmp_path):
    """A source whose ONLY commit is its initial snapshot must still
    trigger the first fold: offsets are exclusive-start, so the
    refreshers subscribe from -1 (0 would wait forever for a second
    commit)."""
    from wrtd_etl_spark.sources.versioned import read_snapshot
    from wrtd_etl_spark.streaming.feed_refresh import (
        run_rollup_refresh_stream,
    )

    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    write_snapshot(
        spark.createDataFrame([("a", 2), ("a", 3)], "g string, x long"), src
    )
    run_rollup_refresh_stream(
        spark, view, src, str(tmp_path / "ck"), ["g"],
        {"n": ("count", "x"), "total": ("sum", "x")},
    )
    got = {r.g: (r.n, r.total) for r in read_snapshot(spark, view).collect()}
    assert got == {"a": (2, 5)}


def test_feed_driven_ann_index_refresh_e2e(spark, tmp_path):
    """ANN delete-maintenance via the change feed: an append folds in,
    then a corpus delete triggers a rebuild through the SAME stream
    subscription — the refreshed index never returns erased ids."""
    from wrtd_etl_spark.catalog import load_table
    from wrtd_etl_spark.similarity.index_store import (
        sq8_query,
        write_ann_index_from,
    )
    from wrtd_etl_spark.sources.versioned import delete_where
    from wrtd_etl_spark.streaming.feed_refresh import (
        run_ann_index_refresh_stream,
    )

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    ck = str(tmp_path / "ck")
    write_snapshot(emb.filter(F.col("vec_id") < 300), corpus)
    write_ann_index_from(spark, corpus, idx, "sq8")
    write_snapshot(
        emb.filter(F.col("vec_id") >= 300), corpus, mode="append"
    )
    run_ann_index_refresh_stream(spark, corpus, idx, ck)
    from wrtd_etl_spark.sources.versioned import manifest_info

    assert manifest_info(idx)["extra"]["source_version"] == 1
    erased = [
        r.vec_id for r in emb.filter(F.col("vec_id") % 5 == 2).collect()
    ]
    delete_where(spark, corpus, F.col("vec_id") % 5 == 2)
    run_ann_index_refresh_stream(spark, corpus, idx, ck)
    assert manifest_info(idx)["extra"]["source_version"] == 2
    probes = emb.filter(
        (F.col("vec_id") < 20) & (F.col("vec_id") % 5 != 2)
    )
    got = sq8_query(spark, idx, probes, k=5).collect()
    assert got and not set(r.neighbor_id for r in got) & set(erased)


def test_stream_skip_filter_prunes_partitions(spark, tmp_path):
    """A filtered subscriber of a clustered table plans strictly fewer
    InputPartitions (manifest stats, no data I/O) and its folded rows
    equal the unpruned feed post-filter."""
    from wrtd_etl_spark.sources.versioned_stream import (
        VersionedChangesStreamReader,
    )

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 500), t, layout_by=["k"], layout_files=8)
    write_snapshot(
        _df(spark, 500, 1000), t, mode="append",
        layout_by=["k"], layout_files=8,
    )

    full = VersionedChangesStreamReader({"path": t})
    pruned = VersionedChangesStreamReader(
        {"path": t, "skip_filter": '{"k": [0, 49]}'}
    )
    lo, hi = {"version": -1}, {"version": 1}
    n_full = len(full.partitions(lo, hi))
    n_pruned = len(pruned.partitions(lo, hi))
    assert n_full == 16 and n_pruned < n_full / 2

    rows = []

    def sink(batch, _bid):
        rows.extend(batch.collect())

    q = (
        read_changes_stream(spark, t, -1, skip_filter={"k": (0, 49)})
        .filter(F.col("k") <= 49)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted((r.k, r.v, r._change_type) for r in rows) == [
        (k, k * 10, "insert") for k in range(50)
    ]


def test_bounded_catchup_max_versions_per_batch(spark, tmp_path):
    """r8: maxVersionsPerBatch bounds backlog catch-up. A 20-version
    history drains across MULTIPLE capped batches (one per availableNow
    run, the feed_refresh drive shape) instead of one giant batch; the
    offset ledger stays exactly-once (row-identical to an unbounded
    drain, no dup, no gap), and a RESTART resumes the cap from the
    checkpoint offset, not from startingVersion."""
    import json
    import os

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), t)  # v0
    for i in range(1, 20):  # v1..v19: 19 appends
        write_snapshot(
            _df(spark, i * 10, i * 10 + 10), t, mode="append"
        )
    ck = str(tmp_path / "ck")
    rows: list = []
    runs = 0

    def drain_once():
        got: list = []

        def sink(batch, _bid):
            got.extend(batch.collect())

        q = (
            read_changes_stream(spark, t, max_versions_per_batch=4)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    from wrtd_etl_spark.sources.versioned_stream import read_changes_stream  # noqa: F811

    while runs < 20:
        got = drain_once()
        runs += 1
        if not got:
            break
        rows.extend(got)
    # the capped drain took multiple runs/batches, each advancing <= 4
    # versions (offsets dir records every planned batch end)
    odir = os.path.join(ck, "offsets")
    ends = []
    batch_files = sorted(
        (f for f in os.listdir(odir) if f.isdigit()), key=int
    )
    for f in batch_files:
        with open(os.path.join(odir, f)) as fh:
            last = fh.read().strip().splitlines()[-1]
        ends.append(json.loads(last)["version"])
    assert len(ends) > 1, ends
    deltas = [b - a for a, b in zip([-1] + ends, ends)]
    assert all(d <= 4 for d in deltas), deltas
    assert ends[-1] == 19
    # exactly-once: the append-only feed is exactly the 200 base rows,
    # no dup, no gap
    keys = sorted(r.k for r in rows)
    assert keys == list(range(200))
    # restart case: new appends + a FRESH reader on the same checkpoint
    # (AcceptsLatestSeenOffset ping anchors the cap at the checkpoint)
    for i in range(20, 27):  # v20..v26
        write_snapshot(
            _df(spark, i * 10, i * 10 + 10), t, mode="append"
        )
    got = drain_once()
    assert got  # progressed
    latest_f = sorted(
        (f for f in os.listdir(odir) if f.isdigit()), key=int
    )[-1]
    with open(os.path.join(odir, latest_f)) as fh:
        last_end = json.loads(fh.read().strip().splitlines()[-1])["version"]
    assert last_end <= 23  # 19 + 4, capped from the CHECKPOINT offset
    vs = {r["_commit_version"] for r in got}
    assert max(vs) <= 23 and min(vs) == 20


def test_run_feed_driven_drains_capped_backlog_in_one_call(spark, tmp_path):
    """r9: the drain loop lives INSIDE run_feed_driven — a backlogged
    capped refresher folds the WHOLE history in ONE call (per-pass
    offset deltas <= cap), and a second call triggers nothing new."""
    from wrtd_etl_spark.sources.versioned_stream import (
        checkpoint_last_offset,
    )
    from wrtd_etl_spark.streaming.feed_refresh import run_feed_driven

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), t)
    for i in range(1, 12):
        write_snapshot(_df(spark, i * 10, i * 10 + 10), t, mode="append")
    ck = str(tmp_path / "ck")
    fired: list = []
    run_feed_driven(
        spark,
        t,
        ck,
        lambda: fired.append(1),
        starting_version=-1,
        max_versions_per_batch=5,
    )
    # drained to the tip in ONE call: 12 versions / cap 5 → 3 passes
    assert checkpoint_last_offset(ck) == 11
    assert len(fired) == 3
    # per-pass offset deltas <= cap (read every committed offset file)
    import json as _json
    import os

    odir = os.path.join(ck, "offsets")
    offs = [
        _json.loads(
            open(os.path.join(odir, f)).read().strip().splitlines()[-1]
        )["version"]
        for f in sorted(
            (f for f in os.listdir(odir) if f.isdigit()), key=int
        )
    ]
    deltas = [b - a for a, b in zip([-1] + offs, offs)]
    assert all(d <= 5 for d in deltas)
    # already drained: second call fires nothing, offset unchanged
    run_feed_driven(
        spark, t, ck, lambda: fired.append(1), max_versions_per_batch=5
    )
    assert len(fired) == 3 and checkpoint_last_offset(ck) == 11


def test_drain_changes_bounded_recovery_loop(spark, tmp_path):
    """r8: drain_changes folds a deep backlog through a capped
    subscriber in bounded bites — every pass <= cap versions, the union
    of delivered rows is exactly-once, and the loop stops on its own."""
    from wrtd_etl_spark.sources.versioned_stream import drain_changes

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 10), t)
    for i in range(1, 12):
        write_snapshot(_df(spark, i * 10, i * 10 + 10), t, mode="append")
    rows: list = []

    def sink(batch, _bid):
        rows.extend(batch.collect())

    runs = drain_changes(
        spark,
        t,
        sink,
        str(tmp_path / "ck"),
        max_versions_per_batch=5,
    )
    # 12 versions / cap 5 → 3 delivering passes + 1 no-progress probe
    assert runs == 4
    assert sorted(r.k for r in rows) == list(range(120))
    # already drained: one probe pass, nothing delivered
    n0 = len(rows)
    assert drain_changes(
        spark, t, sink, str(tmp_path / "ck"), max_versions_per_batch=5
    ) == 1
    assert len(rows) == n0


def test_skip_compactions_emits_no_churn(spark, tmp_path):
    """r9 (Delta CDF parity): ``skipCompactions`` subscribers get NO
    events for carry-only rewrite commits — append → compact → append
    delivers exactly the appended rows, and the fold equals the default
    subscriber's (which still receives the cancellable churn)."""
    from wrtd_etl_spark.sources.versioned import (
        compact,
        table_changes_physical,
    )
    from wrtd_etl_spark.sources.versioned_stream import read_changes_stream

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, 0, 50), t)
    write_snapshot(_df(spark, 50, 80), t, mode="append")
    compact(spark, t)  # v2: pure churn
    write_snapshot(_df(spark, 80, 90), t, mode="append")

    def drain(**kw):
        rows = []

        def sink(batch, _bid):
            rows.extend(batch.collect())

        q = (
            read_changes_stream(spark, t, -1, **kw)
            .writeStream.foreachBatch(sink)
            .option(
                "checkpointLocation",
                str(tmp_path / f"ck{len(kw)}"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    skipped = drain(skip_compactions=True)
    assert {r._commit_version for r in skipped} == {0, 1, 3}
    assert sorted(r.k for r in skipped) == list(range(90))  # inserts only
    assert all(r._change_type == "insert" for r in skipped)
    noisy = drain()
    assert 2 in {r._commit_version for r in noisy}  # default keeps churn
    # batch twin
    phys = table_changes_physical(spark, t, -1, skip_compactions=True)
    assert {r._commit_version for r in phys.collect()} == {0, 1, 3}
    assert phys.count() == 90
