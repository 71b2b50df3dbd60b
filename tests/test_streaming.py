"""Streaming layer tests: differential where oracles exist, property
tests for the stateful/side-effecting pieces."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wrtd_etl_spark.plans import REGISTRY
from wrtd_etl_spark.plans import streaming_queries  # noqa: F401 (registers)

from .conftest import SF_SMOKE, compare_to_oracle

_ORACLE = [
    "stream_event_counts",
    "cursor_incremental",
    "cursor_cold_start",
    "lookback_window",
    "stream_interval_join",
    "stream_windowed_counts",
    "stream_session_windows",
    "stream_trending_types",
]


@pytest.mark.parametrize("name", _ORACLE)
def test_streaming_query_matches_oracle(spark, name):
    compare_to_oracle(spark, REGISTRY[name], SF_SMOKE)


def test_suppression_semantics(spark):
    """Chain semantics: windows reset on FIRED alerts only."""
    from wrtd_etl_spark.streaming.suppression import suppress_alerts

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: alerts at 0h, 4h, 9h, 12h, 18h → fire at 0h, 9h, 18h
        (1, base, "error"),
        (1, base + dt.timedelta(hours=4), "error"),
        (1, base + dt.timedelta(hours=9), "error"),
        (1, base + dt.timedelta(hours=12), "error"),
        (1, base + dt.timedelta(hours=18), "error"),
        # user 2: single alert
        (2, base, "error"),
        # non-alert events are ignored
        (1, base + dt.timedelta(hours=5), "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string"
    )
    got = {
        (r.user_id, r.ts, r.alert_rank)
        for r in suppress_alerts(df, hours=8.0).collect()
    }
    assert got == {
        (1, base, 1),
        (1, base + dt.timedelta(hours=9), 2),
        (1, base + dt.timedelta(hours=18), 3),
        (2, base, 1),
    }


def test_outbox_at_least_once_and_null_inclusive(spark):
    from wrtd_etl_spark.streaming.outbox import drain_outbox, make_outbox, unposted

    payload = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    outbox = make_outbox(payload, "k")
    # posted starts NULL → the null-inclusive poll must see all rows
    assert unposted(outbox).count() == 3

    sent: list = []
    after = drain_outbox(outbox, "k", send=lambda rows: sent.extend(rows))
    assert len(sent) == 3  # send happened before the flip (at-least-once)
    assert unposted(after).count() == 0
    assert after.filter(F.col("posted")).count() == 3

    # idempotent re-drain: nothing to send, state unchanged
    sent2: list = []
    again = drain_outbox(after, "k", send=lambda rows: sent2.extend(rows))
    assert sent2 == []
    assert again.filter(F.col("posted")).count() == 3


def test_cursor_cold_start_yields_exactly_newest(spark):
    from wrtd_etl_spark.catalog import load_table
    from wrtd_etl_spark.plans.streaming_queries import cursor_cold_start

    events = load_table(spark, SF_SMOKE, "events")
    newest = events.agg(F.max("event_id")).collect()[0][0]
    got = cursor_cold_start(spark, SF_SMOKE).collect()
    assert len(got) == 1 and got[0].event_id == newest


def test_idempotency_guard(spark):
    from wrtd_etl_spark.streaming.cursor import dedup_against_processed

    incoming = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    processed = spark.createDataFrame([(2,), (9,)], "id long")
    got = sorted(r.id for r in dedup_against_processed(incoming, processed, "id").collect())
    assert got == [1, 3]


def test_state_partitions_sizes_directory_sources(tmp_path, monkeypatch):
    """A directory source (a parquet dataset) is sized by the files under
    it, not by the directory inode. Spark-free: sparse files stand in for
    200 MB of data, and a stub carries the executor parallelism."""
    from types import SimpleNamespace

    from wrtd_etl_spark.streaming.dedup import state_partitions_for

    monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
    (tmp_path / "ds" / "day=1").mkdir(parents=True)
    for rel in ("ds/part-0.parquet", "ds/day=1/part-1.parquet"):
        with open(tmp_path / rel, "wb") as f:
            f.truncate(100 * 1024 * 1024)
    stub = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))
    assert state_partitions_for(stub, str(tmp_path / "ds")) == 4
    assert state_partitions_for(stub, str(tmp_path / "ds" / "part-0.parquet")) == 2
    assert state_partitions_for(stub, str(tmp_path / "missing")) == 2
