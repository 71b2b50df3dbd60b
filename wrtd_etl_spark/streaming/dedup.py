"""Streaming dedup with state (T4).

Reference: bot/botrun.py:279-289 — clip dedup via a SQLite seen-set scanned
per poll. Spark shape: ``dropDuplicates`` on the natural key with a
watermark bounding the state store (the reference's last-10 scan is an
unbounded-state bug at scale; the watermark is the fix, noted divergence).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, ts normalized to TIMESTAMP.

    ``events.ts`` has shipped both as TIMESTAMP(NANOS) (read as raw int64
    via nanosAsLong) and as TIMESTAMP(MICROS); peek the batch reader's
    resolved dtype and adapt, mirroring catalog.load_table's guard.
    """
    from ..session import configure

    configure(spark)
    batch_ts = dict(
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .dtypes
    )["ts"]
    nanos_as_long = batch_ts == "bigint"
    ts_type = T.LongType() if nanos_as_long else T.TimestampNTZType()
    # FileStreamSource wants a directory; select the one table via glob
    raw = (
        spark.readStream.schema(_events_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # keep LTZ here: watermarks require TIMESTAMP, not TIMESTAMP_NTZ
    # (session TZ is pinned UTC so wall-clock values are unchanged)
    if nanos_as_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def state_partitions_for(spark: SparkSession, *paths: str) -> int:
    """Scale-adaptive stateful-shuffle width (guide §2: derive the
    partitioning from input size, never a constant tuned for one host).

    Every state-store instance pays per-micro-batch commit-file I/O
    regardless of data — a stream-stream join runs FOUR stores per
    partition — so width is provisioned at ~64 MB of source per
    partition (floor 2 so eviction/flush batches still parallelize,
    ceiling 4× the executor parallelism so a huge backlog cannot plan
    an absurd width; the interesting scale knob is the env override).
    Measured at sf0.1 (2 MB source): 8 → 2 partitions cut the interval
    join 2.4 → 1.8 s, while 16 cost 4.2 s — the fixed per-store cost is
    linear in width. ``SPARK_GRAFT_STATE_PARTITIONS`` still wins when
    set: on a real cluster the operator pins the width to the cluster's
    shuffle width because state-partition count is sticky in the
    checkpoint across restarts."""
    import os

    env = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    if env:
        return int(env)

    def size(path: str) -> int:
        # a directory source (a parquet dataset) is the sum of its files;
        # getsize() of the directory itself is its inode size (~4 KB)
        try:
            if not os.path.isdir(path):
                return os.path.getsize(path)
            with os.scandir(path) as entries:
                return sum(size(e.path) for e in entries)
        except OSError:
            return 0

    nbytes = sum(size(p) for p in paths)
    per = 64 * 1024 * 1024
    return max(
        2,
        min(-(-nbytes // per), 4 * spark.sparkContext.defaultParallelism),
    )


def run_available_now(
    result: DataFrame,
    spark: SparkSession,
    mode: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming frame to completion (availableNow) via a memory
    sink and hand back the materialized batch result.

    ``state_partitions`` sizes the stream's state store: the stateful-
    operator partition count is pinned from ``spark.sql.shuffle.partitions``
    at the FIRST micro-batch and is sticky in the checkpoint, so it is a
    provisioning decision exactly as on a real cluster. Callers size it
    from their source via :func:`state_partitions_for`; the default is
    the ``SPARK_GRAFT_STATE_PARTITIONS`` env var, else 8 (the pre-r14
    constant, kept for callers with no size hint).
    """
    import os

    if state_partitions is None:
        state_partitions = int(os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "8"))
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark.conf.set(key, str(state_partitions))
    try:
        q = (
            result.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    return spark.table(name)


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked dropDuplicates on event_id, then per-type counts.

    State shape at scale: one entry per event_id inside the watermark
    horizon; the 10-minute watermark bounds it (the reference keeps state
    forever — SQLite grows unboundedly)."""
    import os

    events = read_events_stream(spark, sf_dir)
    deduped = events.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    counts = deduped.groupBy("event_type").agg(F.count("*").alias("cnt"))
    return run_available_now(
        counts,
        spark,
        "complete",
        state_partitions_for(spark, os.path.join(sf_dir, "events.parquet")),
    ).orderBy("event_type")
