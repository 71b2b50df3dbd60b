"""Sinks (SURVEY.md §2.2, K1-K8).

The reference writes via psycopg2 ``executemany`` with a fresh autocommit
connection per statement (functions.py:56-70) — here every write is one
job against an immutable columnar table:

* K1/K2  append          → ``write.mode('append').parquet``
* K3/K5  upsert/update   → operators.upsert (anti-join ∪ + atomic swap)
* K4     outbox insert   → streaming.outbox.make_outbox + append
* K6     webhook send    → streaming.outbox.drain_outbox (at-least-once,
                           like the reference's send-then-flag order)
* K7     state write     → the same upsert primitive on a small state table
* K8     console         → ``df.show()`` (debug only)

Scale notes: fact tables are written partitioned by a bucket of their key
(``partitionBy``) so per-key queries prune partitions; writers never
collect.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import default_parallelism

#: number of hash buckets used when partitioning fact tables by key
DEFAULT_BUCKETS = 64


def append(df: DataFrame, path: str) -> None:
    """K1/K2: batch append."""
    df.write.mode("append").parquet(path)


def append_partitioned(
    df: DataFrame, path: str, key: str, buckets: int = DEFAULT_BUCKETS
) -> None:
    """K1 at scale: append with a hash-bucket partition column on the query
    key, so ``WHERE key = n`` prunes to one directory (partition pruning —
    the layout SURVEY §4.2 calls for)."""
    df.withColumn("__bucket", F.pmod(F.hash(F.col(key)), F.lit(buckets))).write.mode(
        "append"
    ).partitionBy("__bucket").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = DEFAULT_BUCKETS,
    sort: bool = True,
) -> None:
    """K1 co-location path: hash-bucketed (+ sorted) table layout.

    The 100 TB join strategy the directory-partition layout above cannot
    give: ``bucketBy`` records the hash partitioning in the catalog, so
    every downstream equi-join or aggregation on ``key`` between
    co-bucketed tables reads pre-shuffled (and pre-sorted) data and runs
    WITHOUT an Exchange — the nightly fact build pays the shuffle once at
    write time instead of every query paying it at read time
    (tests/test_plan_shape.py proves the exchange-free plan).
    """
    writer = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)


def show(df: DataFrame, n: int = 20) -> None:
    """K8: console sink (debug)."""
    df.show(n, truncate=False)


# --- JDBC (S4 / K1-jdbc) ----------------------------------------------------
# The reference's primary store is Postgres; a cluster deployment would use
# these. Round-trip-tested against the embedded Derby driver that ships
# with the PySpark distribution (tests/test_fetch_jdbc.py).


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:  # pragma: no cover - exercised via the Derby round-trip test
    """S4: ``spark.read.jdbc`` replacement for psycopg2 SELECTs
    (functions.py:43-76).

    A bare JDBC read is ONE task pulling the whole table through one
    connection — the classic single-executor bottleneck. For big tables
    pass ``partition_column`` (a roughly-uniform numeric key) + bounds +
    ``num_partitions``: Spark then issues one range-bounded query per
    partition and the scan parallelizes across executors.
    """
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound "
                "(Spark issues one range-bounded query per partition)"
            )
        return spark.read.jdbc(
            url,
            table,
            column=partition_column,
            lowerBound=lower_bound,
            upperBound=upper_bound,
            numPartitions=num_partitions or default_parallelism(),
            properties=properties or {},
        )
    return spark.read.jdbc(url, table, properties=properties or {})


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append",
    properties: dict | None = None,
) -> None:  # pragma: no cover - needs a live database + driver jar
    """K1 via JDBC: replaces the reference's executemany loop — one
    distributed write instead of row-at-a-time inserts."""
    df.write.jdbc(url, table, mode=mode, properties=properties or {})


# --------------------------------------------------------------------------
# Text format surface (CSV / JSON lines)
# --------------------------------------------------------------------------


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV with header; timestamps ISO-8601 so a schema'd read round-trips."""
    (
        df.write.mode(mode)
        .option("header", "true")
        .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema'd CSV read — NEVER inferSchema in a pipeline path (schema
    inference is an extra full scan and silently drifts with the data;
    SURVEY §1.2's explicit-schema rule)."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )


#: default JSON/CSV timestamp format truncates to milliseconds — force
#: full microsecond precision so event-time round-trips losslessly
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines (one doc per row) — the interchange format of document
    pipelines; nested structs/arrays survive, unlike CSV."""
    df.write.mode(mode).option("timestampNTZFormat", _TS_FMT).json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """Schema'd JSON-lines read (same no-inference rule as read_csv)."""
    return spark.read.schema(schema).option("timestampNTZFormat", _TS_FMT).json(path)


def read_jsonl_permissive(
    spark: SparkSession, path: str, schema, corrupt_col: str = "_corrupt_record"
) -> DataFrame:
    """JSON-lines read that QUARANTINES malformed rows instead of failing
    the job or silently nulling them — at 100 TB a crawl batch always
    contains garbage, and FAILFAST-ing a thousand-executor job on row one
    billion is not an option. Malformed rows land intact in
    ``corrupt_col`` (select it to route them to a dead-letter table);
    well-formed rows parse normally.
    """
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("timestampNTZFormat", _TS_FMT)
        .json(path)
    )


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read across schema versions (``mergeSchema``): columns added
    by newer pipeline versions appear as NULL in old files instead of
    breaking the read — the append-only schema-evolution contract. Off by
    default in Spark because footer-merging costs one pass over file
    metadata; that price is right when a table spans schema versions."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC — the second columnar format (zlib by default, predicate
    pushdown + column pruning like parquet); the interchange format for
    Hive-ecosystem consumers."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC read (self-describing schema, no inference pass needed)."""
    return spark.read.orc(path)
