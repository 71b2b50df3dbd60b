"""``query_sweep`` workload: one pass, in seed-permuted order, over a pinned
list of registry queries at sf0.1 that commit to no versioned table.

One op is one ``fn(spark, sf_dir).collect()``, timed once per process
after a session-level warm-up (queries that memoize would read as cache
hits if repeated). Each query is in exactly one group, named after the
package layer its work runs in; the traced run reports shuffle bytes,
scan rows, jobs and driver-side gaps per group.

The list is a fixed sample of the 108 non-committing registry queries,
not all of them: the whole set takes 110-190 s at local[4], far more than
one benchmark run may take. It holds one to three queries per group,
favouring the groups' cheaper members; the pass takes about 6 s at
local[4] on an idle 4-core host.

An op's ``write_s`` is the query function itself, ``fn(spark, sf_dir)``:
planning, plus the eager jobs some queries run there (a streaming query's
micro-batches, committed to its checkpoint and state store); its
``read_s`` is the ``collect()``. The run's ``space_amp`` is the bytes the
timed queries wrote to local disk (shuffle files, spills) over the bytes
of the input tables.

Outputs are checked after the timed phase: an order-insensitive hash
against DuckDB running the registry's ``oracle_sql`` on the same files,
or a non-empty result where the query has no oracle.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

import pandas as pd  # module level: the warm-up UDFs' type hints name it

#: query -> the group (package layer) its work runs in
PINNED = {
    "fs_cutlets": "plans.replay",
    "fs_survivors": "plans.replay",
    "pricing_summary": "plans.testdata",
    "event_funnel": "plans.testdata",
    "topk_orders_per_segment": "plans.testdata",
    "dedup_exact_groups": "dedup",
    "ann_filtered_topk": "similarity",
    "pii_redaction": "functions",
    "multimodal_meta": "multimodal",
    "cursor_incremental": "streaming",
    "stream_windowed_counts": "streaming",
}

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canonical_hash(columns, rows) -> str:
    """Order-insensitive hash of a result: each row as its values sorted
    by column name and stringified, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(str(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\x1e".join(lines).encode()).hexdigest()


#: Registry query outside the pinned list that the warm-up runs: a join,
#: an aggregate, a window and a sort over the sf0.1 tables, so that
#: whichever pinned query comes first does not pay their first use (1-2 s
#: on a busy 4-core host).
WARM_QUERIES = ("top_customers",)


def _warm_up(spark, sf: str) -> None:
    """Session-level first-use costs: JVM and codegen, the Python worker
    pool with its pandas/pyarrow imports, Arrow UDF serialization, higher
    order functions, the streaming micro-batch machinery, and the engine's
    common relational plan shapes."""
    from pyspark.sql import functions as F

    from wrtd_etl_spark.plans import REGISTRY
    from wrtd_etl_spark.streaming.dedup import run_available_now

    spark.read.parquet(os.path.join(sf, "nation.parquet")).count()
    for name in WARM_QUERIES:
        REGISTRY[name].fn(spark, sf).collect()
    # one worker per core, each importing pandas/numpy/pyarrow; an RDD job,
    # so adaptive execution cannot coalesce it to fewer tasks
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).mapPartitions(_preload).count()

    @F.pandas_udf("long")
    def _wu(s: pd.Series) -> pd.Series:
        return s

    spark.range(64).repartition(n).select(_wu("id")).count()

    @F.pandas_udf("array<long>")
    def _wa(s: pd.Series) -> pd.Series:
        return s

    arr = F.transform(F.sequence(F.lit(0), F.lit(3)), lambda i: i + F.col("id"))
    spark.range(64).select(F.sum(F.size(_wa(arr)))).count()
    rate = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    run_available_now(rate.groupBy("value").count(), spark, "complete", state_partitions=2)


def _preload(_):
    import numpy  # noqa: F401
    import pyarrow  # noqa: F401

    yield 1


def oracle_hashes(sf: str, names) -> dict[str, str]:
    import duckdb

    from wrtd_etl_spark.plans import REGISTRY

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf, t)}.parquet')"
            )
        out = {}
        for name in names:
            sql = REGISTRY[name].oracle
            if sql is not None:
                res = con.execute(sql)
                out[name] = canonical_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def run(bench) -> None:
    import common

    spark = bench.start_session()
    import __spark_entry__  # noqa: F401  (registers every query family)
    from wrtd_etl_spark.plans import REGISTRY

    sf = common.testdata("0.1")
    with bench.phase("warmup"):
        _warm_up(spark, sf)
    names = list(PINNED)
    random.Random(bench.seed).shuffle(names)
    results = []
    spilled = common.local_write_bytes(spark)
    with bench.timed():
        for name in names:
            def go(op, fn=REGISTRY[name].fn):
                t = time.perf_counter()
                df = fn(spark, sf)
                t1 = time.perf_counter()
                rows = df.collect()
                op.write_s, op.read_s = t1 - t, time.perf_counter() - t1
                return df.columns, rows

            results.append((name, bench.op(name, go, span=PINNED[name])))
    spilled = common.local_write_bytes(spark) - spilled
    bench.values["space_amp"] = spilled / common.dir_bytes(sf)[1]
    bench.values["mem_retained_mb"] = common.retained_mb(spark)

    with bench.phase("oracle"):
        want = oracle_hashes(sf, names)
    for name, op in results:
        if not op.ok:
            continue
        columns, rows = op.out
        if name in want:
            if canonical_hash(columns, rows) != want[name]:
                op.fail(f"result hash differs from the DuckDB oracle ({len(rows)} rows)")
        elif not rows:
            op.fail("empty result")
