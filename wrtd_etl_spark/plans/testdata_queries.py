"""Reference-analog queries over the driver's testdata (FIXTURES.md §C).

Each query re-expresses one operator cluster from the reference
(SURVEY.md §2) on the TPC-H-ish tables, with a DuckDB oracle. Reference
citations are to files under /root/reference.

Determinism rules (so the oracle value-hash matches):
* every computed column is aliased identically on both sides;
* double SUM/AVG is order-dependent in the last bits (and double→DECIMAL
  casts round differently per engine), so money aggregates go through an
  exact integer path: per-row FLOOR(x*10000 + 0.5) (pure IEEE ops — bit-
  identical on any engine) → exact BIGINT sum → one double division at the
  end (deterministic);
* per-row doubles are returned raw (no ROUND) — same bits both engines;
* double→int uses FLOOR (Spark CAST truncates, DuckDB CAST rounds);
* every LIMIT has a total deterministic ORDER BY (the reference's
  rank-tie truncation, queries.py:16-17, is documented divergence —
  SURVEY.md §4.3.2);
* dense_rank is cast to BIGINT (SQL engines return BIGINT, Spark int).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.joins import (
    broadcast_dim_join,
    double_role_dim_join,
    lookup_map_join,
    null_safe_anti_join,
)
from ..operators.upsert import upsert_by_key
from ..operators.windows import dense_rank_top_k
from .registry import register

# --------------------------------------------------------------------------
# A1 + O1 — grouped counts/sums ordered by keys
# (reference: queries.py:4-8 "vehicles by (name,type)"; widened to the
# classic pricing-summary shape so it doubles as the bench headline query)
# --------------------------------------------------------------------------


def _dsum(expr, alias: str):
    """Order-independent sum of a double expression (see module docstring)."""
    return (F.sum(F.floor(expr * 10000 + 0.5)) / F.lit(10000.0)).alias(alias)


_DSUM_SQL = "SUM(CAST(FLOOR(({expr}) * 10000 + 0.5) AS BIGINT)) / 10000.0"


@register(
    "pricing_summary",
    f"""
    SELECT l_returnflag AS returnflag,
           l_linestatus AS linestatus,
           {_DSUM_SQL.format(expr="l_quantity")}      AS sum_qty,
           {_DSUM_SQL.format(expr="l_extendedprice")} AS sum_base_price,
           {_DSUM_SQL.format(expr="l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {_DSUM_SQL.format(expr="l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           ({_DSUM_SQL.format(expr="l_quantity")}) / COUNT(*)      AS avg_qty,
           ({_DSUM_SQL.format(expr="l_extendedprice")}) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY returnflag, linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation with filter pushdown (A1 analog, queries.py:4-8)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            (
                F.sum(F.floor(F.col("l_quantity") * 10000 + 0.5))
                / F.lit(10000.0)
                / F.count("*")
            ).alias("avg_qty"),
            (
                F.sum(F.floor(F.col("l_extendedprice") * 10000 + 0.5))
                / F.lit(10000.0)
                / F.count("*")
            ).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("returnflag", "linestatus")
    )


# --------------------------------------------------------------------------
# W1 + O2 + J1 + A2 — "cutlets": join dim, grouped count, global dense_rank,
# top-5 (reference: queries.py:11-17)
# --------------------------------------------------------------------------

_TOP_CUSTOMERS_ORACLE = """
    WITH agg AS (
        SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS order_cnt
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        {where}
        GROUP BY c.c_custkey, c.c_name
    ), ranked AS (
        SELECT c_custkey, c_name, order_cnt,
               DENSE_RANK() OVER (ORDER BY order_cnt DESC) AS rnk
        FROM agg
    )
    SELECT c_custkey, c_name, order_cnt, rnk
    FROM ranked ORDER BY rnk, c_custkey LIMIT 5
"""


def _top_customers(spark: SparkSession, sf_dir: str, status: str | None) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    if status is not None:
        orders = orders.filter(F.col("o_orderstatus") == status)
    joined = broadcast_dim_join(orders, customer, "o_custkey", "c_custkey").select(
        "c_custkey", "c_name", "o_orderkey"
    )
    return dense_rank_top_k(
        joined,
        ["c_custkey", "c_name"],
        F.count("o_orderkey"),
        "order_cnt",
        k=5,
        tiebreaker="c_custkey",
    )


@register("top_customers", _TOP_CUSTOMERS_ORACLE.format(where=""))
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 by grouped count w/ global dense_rank (queries.py:11-17)."""
    return _top_customers(spark, sf_dir, None)


@register(
    "top_customers_filtered",
    _TOP_CUSTOMERS_ORACLE.format(where="WHERE o.o_orderstatus = 'F'"),
)
def top_customers_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same with a boolean-ish filter — the "tks" variant (queries.py:20-26)."""
    return _top_customers(spark, sf_dir, "F")


# --------------------------------------------------------------------------
# O3 / O4 + J3 — first/last event with a left-joined dimension
# (reference: queries.py:29-44 first-blood / last-hit)
# --------------------------------------------------------------------------

_EVENT_EDGE_ORACLE = """
    SELECT e.event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           e.event_type,
           c.c_name AS user_name,
           e.value AS value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    ORDER BY e.ts {dir}, e.event_id LIMIT 1
"""


def _event_edge(spark: SparkSession, sf_dir: str, last: bool) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    joined = broadcast_dim_join(events, customer, "user_id", "c_custkey", how="left")
    # asc() is NULLS FIRST in Spark but the oracle's plain ASC is NULLS
    # LAST in DuckDB — pin NULLS LAST so a NULL ts can't flip the LIMIT 1.
    order = [
        F.col("ts").desc_nulls_last() if last else F.col("ts").asc_nulls_last(),
        F.col("event_id"),
    ]
    return (
        joined.orderBy(*order)
        .limit(1)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "event_type",
            F.col("c_name").alias("user_name"),
            F.col("value").alias("value"),
        )
    )


@register("first_event", _EVENT_EDGE_ORACLE.format(dir="ASC"))
def first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event by ts with left-joined dim (queries.py:29-35)."""
    return _event_edge(spark, sf_dir, last=False)


@register("last_event", _EVENT_EDGE_ORACLE.format(dir="DESC"))
def last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last event by ts (queries.py:38-44)."""
    return _event_edge(spark, sf_dir, last=True)


# --------------------------------------------------------------------------
# O5 — NULLS-LAST max (reference: queries.py:47-53 `ORDER BY distance IS
# NULL, distance DESC LIMIT 1`). events.value has no NULLs in the testdata,
# so a NULL-able column is derived identically on both sides.
# --------------------------------------------------------------------------


@register(
    "max_value_nulls_last",
    """
    SELECT event_id, event_type, val
    FROM (
        SELECT event_id, event_type,
               CASE WHEN event_type = 'error' THEN NULL ELSE value END AS val
        FROM events
    )
    ORDER BY val DESC NULLS LAST, event_id LIMIT 1
    """,
)
def max_value_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLS-LAST descending top-1 (queries.py:52-53 idiom)."""
    events = load_table(spark, sf_dir, "events")
    with_val = events.withColumn(
        "val",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value")),
    )
    return (
        with_val.orderBy(F.col("val").desc_nulls_last(), F.col("event_id"))
        .limit(1)
        .select("event_id", "event_type", "val")
    )


# --------------------------------------------------------------------------
# J4 — anti-join via uncorrelated NOT IN (reference: queries.py:56-59
# "survivors"). The subquery is deliberately unfiltered (SURVEY §4.3.1) —
# preserved: outer side filtered by segment, inner side scans all events.
# --------------------------------------------------------------------------


@register(
    "inactive_customers",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey NOT IN (SELECT user_id FROM events)
    """,
)
def inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN anti-join with null-aware semantics (queries.py:56-59)."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    filtered = customer.filter(F.col("c_mktsegment") == "BUILDING")
    return null_safe_anti_join(filtered, events, "c_custkey", "user_id").select(
        "c_custkey", "c_name"
    )


# --------------------------------------------------------------------------
# A3 — grouped count keyed by a CASE-mapped label (reference:
# queries.py:62-74 survivors-by-side)
# --------------------------------------------------------------------------

_SIDE_CASE_SQL = """CASE WHEN c_nationkey < 5 THEN 'EAST'
                 WHEN c_nationkey < 10 THEN 'WEST'
                 WHEN c_nationkey < 15 THEN 'GUER'
                 ELSE 'CIV' END"""


@register(
    "inactive_by_side",
    f"""
    SELECT {_SIDE_CASE_SQL} AS side, COUNT(*) AS cnt
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey NOT IN (SELECT user_id FROM events)
    GROUP BY side
    ORDER BY cnt DESC, side
    """,
)
def inactive_by_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-keyed grouped count over the anti-join (queries.py:62-74)."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    filtered = customer.filter(F.col("c_mktsegment") == "BUILDING")
    inactive = null_safe_anti_join(filtered, events, "c_custkey", "user_id")
    side = (
        F.when(F.col("c_nationkey") < 5, "EAST")
        .when(F.col("c_nationkey") < 10, "WEST")
        .when(F.col("c_nationkey") < 15, "GUER")
        .otherwise("CIV")
    )
    return (
        inactive.groupBy(side.alias("side"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "side")
    )


# --------------------------------------------------------------------------
# J3 at scale — the same dimension joined twice under two roles
# (reference: queries.py:31-32 killer/victim double left join on d_players;
# here: nation as supplier-nation and customer-nation, TPC-H Q7 shape)
# --------------------------------------------------------------------------


@register(
    "nation_pair_revenue",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)) * 10000 + 0.5) AS BIGINT)) / 10000.0 AS revenue,
           COUNT(*) AS cnt
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey  = c.c_custkey
    JOIN supplier s  ON l.l_suppkey  = s.s_suppkey
    LEFT JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    LEFT JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation
    """,
)
def nation_pair_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-playing dimension joined twice with aliases (queries.py:31-32)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    fact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), F.col("o_custkey") == customer.c_custkey)
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
    )
    both = double_role_dim_join(
        fact,
        nation,
        roles=[
            ("sn", "s_nationkey", [("n_name", "supp_nation")]),
            ("cn", "c_nationkey", [("n_name", "cust_nation")]),
        ],
        dim_key="n_nationkey",
        how="left",
    )
    return both.groupBy("supp_nation", "cust_nation").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count("*").alias("cnt"),
    )


# --------------------------------------------------------------------------
# A5 — grouped collect (reference: functions.py:223-231 vehicles grouped
# into {type: [...]}) — represented as a sorted joined string so the
# oracle hash is order-independent inside the group.
# --------------------------------------------------------------------------


@register(
    "status_collect",
    """
    SELECT l_returnflag AS returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
    FROM lineitem GROUP BY l_returnflag ORDER BY returnflag
    """,
)
def status_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-collect into a deterministic list (functions.py:223-231)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",").alias(
                "statuses"
            )
        )
        .orderBy("returnflag")
    )


# --------------------------------------------------------------------------
# A4/A6 — max-watermark scan (reference: functions.py:19-26 latest posted
# replay via ORDER BY ... DESC LIMIT 1 ≅ MAX)
# --------------------------------------------------------------------------


@register(
    "latest_order",
    "SELECT MAX(o_orderkey) AS max_orderkey FROM orders WHERE o_orderstatus = 'F'",
)
def latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit MAX via filtered aggregate (functions.py:19-26)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderstatus") == "F").agg(
        F.max("o_orderkey").alias("max_orderkey")
    )


# --------------------------------------------------------------------------
# J6 — literal-map lookup preserving unmatched keys (reference:
# functions.py:208-231 type→display-name with passthrough)
# --------------------------------------------------------------------------

_EVENT_TYPE_DISPLAY = {
    "click": "Click",
    "view": "View",
    "purchase": "Purchase",
    "signup": "Signup",
    # 'error' deliberately unmapped → passes through (coalesce fallback)
}


@register(
    "event_type_display",
    """
    SELECT CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
                WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Signup'
                ELSE event_type END AS display,
           COUNT(*) AS cnt
    FROM events GROUP BY display ORDER BY display
    """,
)
def event_type_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map lookup w/ passthrough, no shuffle, no UDF (functions.py:208-231)."""
    events = load_table(spark, sf_dir, "events")
    mapped = lookup_map_join(events, "event_type", _EVENT_TYPE_DISPLAY, "display")
    return mapped.groupBy("display").agg(F.count("*").alias("cnt")).orderBy("display")


# --------------------------------------------------------------------------
# F1/F2/F7/F11/F13 — scalar-function surface (reference: functions.py:155,
# 203, 101-119, 166; queries.py:29)
# --------------------------------------------------------------------------


@register(
    "scalar_functions",
    r"""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d') AS date_str,
           strftime(ts, '%H:%M:%S') AS time_str,
           CAST(strptime(strftime(ts, '%d.%m.%Y'), '%d.%m.%Y') AS DATE) AS parsed_date,
           CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_val,
           replace(props, '"', '') AS props_clean,
           CAST(FLOOR(value) AS INTEGER) AS value_int
    FROM events WHERE event_id < 100
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_date/date_format/regexp_extract/quote-strip/casts (F1-F13)."""
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("event_id") < 100).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("date_str"),
        F.date_format("ts", "HH:mm:ss").alias("time_str"),
        # round-trip through the reference's 'DD.MM.YYYY' format (functions.py:155)
        F.to_date(F.date_format("ts", "dd.MM.yyyy"), "dd.MM.yyyy").alias(
            "parsed_date"
        ),
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("long").alias("k_val"),
        F.regexp_replace("props", '"', "").alias("props_clean"),
        F.floor("value").cast("int").alias("value_int"),
    )


# --------------------------------------------------------------------------
# K3 — upsert (reference: functions.py:178-183 ON CONFLICT DO UPDATE on the
# d_players dimension). The update set is derived deterministically so an
# SQL oracle exists for the merged result.
# --------------------------------------------------------------------------


@register(
    "dim_upsert",
    """
    SELECT c_custkey,
           CASE WHEN c_custkey < 50 THEN 'renamed_' || c_custkey ELSE c_name END AS c_name,
           CASE WHEN c_custkey < 50 THEN c_acctbal + 100 ELSE c_acctbal END AS acctbal
    FROM customer
    """,
)
def dim_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert as anti-join + union (functions.py:178-183)."""
    customer = load_table(spark, sf_dir, "customer")
    updates = customer.filter(F.col("c_custkey") < 50).withColumns(
        {
            "c_name": F.concat(F.lit("renamed_"), F.col("c_custkey").cast("string")),
            "c_acctbal": F.col("c_acctbal") + 100,
        }
    )
    merged = upsert_by_key(customer, updates, "c_custkey")
    return merged.select("c_custkey", "c_name", F.col("c_acctbal").alias("acctbal"))


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Phase-1 end-to-end slice (SURVEY.md §7.1): the "cutlets" shape —
    filter → broadcast join → grouped count → global dense_rank → top-5."""
    return top_customers(spark, sf_dir)


# --------------------------------------------------------------------------
# Beyond-parity relational surface (free from Spark; exposed + graded so a
# reference user gets a superset: distinct aggs, ROLLUP, set operations)
# --------------------------------------------------------------------------


@register(
    "distinct_parts_rollup",
    """
    SELECT l_returnflag AS returnflag,
           l_linestatus AS linestatus,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def distinct_parts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation over a ROLLUP lattice (superset surface —
    grouping-set NULL indicator rows must match the SQL oracle's)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count("*").alias("cnt"),
    )


@register(
    "segment_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT user_id FROM events
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / UNION / EXCEPT with SQL set semantics (distinct rows).

    SQL chains set ops left-to-right at equal precedence EXCEPT that
    INTERSECT binds tighter: ((A ∩ B) ∪ C) \\ D — mirrored explicitly.
    """
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    b = events.select(F.col("user_id").alias("c_custkey"))
    c = customer.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey")
    )
    d = events.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("c_custkey")
    )
    # subtract == SQL EXCEPT (distinct): removes EVERY occurrence of a row
    # present in d. exceptAll would remove only one occurrence per match,
    # which diverges when a row reaches the union from both branches.
    return a.intersect(b).union(c).distinct().subtract(d)


# --------------------------------------------------------------------------
# Time-series operators Spark lacks natively: as-of join, sessionization
# (guide "Common OLAP patterns"; core training-pipeline time ops)
# --------------------------------------------------------------------------


@register(
    "asof_latest_order",
    """
    WITH r AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS last_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           r.last_orderkey
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event gets the most recent order (at or before its
    ts) of the same customer — composed via union + carry-forward window
    (operators/asof.py); DuckDB's native ASOF JOIN is the oracle."""
    from ..operators.asof import as_of_join

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    joined = as_of_join(
        events, orders, key="user_id", left_time="ts", right_time="ots",
        payload_cols=["last_orderkey"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "last_orderkey",
    )


@register(
    "event_sessions",
    """
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM ordered
    ), sessioned AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           date_diff('second', MIN(ts), MAX(ts)) AS duration_s
    FROM sessioned
    GROUP BY user_id, session_id
    """,
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap detection (30 min) + running session ids +
    per-session rollup — the batch twin of session_window streaming.
    The lag-gap construction lives in operators/sessionize.py, where the
    truncation-vs-boundary semantics are pinned by a sub-second fixture."""
    from ..operators.sessionize import sessionize

    events = load_table(spark, sf_dir, "events")
    sessioned = sessionize(
        events, key="user_id", ts_col="ts",
        order_tiebreak="event_id", gap_seconds=1800,
    )
    return sessioned.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        (
            F.max("ts").cast("timestamp").cast("long")
            - F.min("ts").cast("timestamp").cast("long")
        ).alias("duration_s"),
    )


@register(
    "status_pivot",
    f"""
    SELECT l_returnflag AS returnflag,
           {_DSUM_SQL.format(expr="CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END")} AS qty_O,
           {_DSUM_SQL.format(expr="CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END")} AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY returnflag
    """,
)
def status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per linestatus value (conditional-aggregation
    oracle — SQL's spelling of the same plan Catalyst builds for pivot)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") * 10000 + 0.5)
    return (
        li.withColumn("__q", qty)
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .pivot("l_linestatus", ["O", "F"])
        .agg((F.sum(F.when(F.lit(True), F.col("__q")).otherwise(0)) / F.lit(10000.0)))
        .withColumnsRenamed({"O": "qty_O", "F": "qty_F"})
        .orderBy("returnflag")
    )


@register("approx_sketches", None)  # sketch algorithms engine-specific
def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, quantile sketch) — the
    at-scale substitutes for exact distinct/percentile; error bounds are
    asserted vs exact values in tests/test_operators.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.count("*").alias("cnt"),
    )


@register(
    "range_join_sessions",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts >= p.ts
     AND c.ts < p.ts + INTERVAL 2 HOURS
    """,
)
def range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join: clicks within 2 hours after a
    purchase by the same user — bucketized equi-join construction
    (operators/range_join.py); the oracle is the plain inequality join."""
    from ..operators.range_join import range_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    joined = range_join(
        clicks, purchases, key="user_id", point_time="ts",
        start_col="start_ts", end_col="end_ts",
        bucket_seconds=2 * 3600,
    )
    return joined.select("click_id", "purchase_id")


@register(
    "topk_orders_per_segment",
    """
    WITH ranked AS (
        SELECT c.c_mktsegment AS segment, o.o_orderkey,
               o.o_totalprice AS totalprice,
               ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment, o_orderkey, totalprice, rn
    FROM ranked WHERE rn <= 3
    """,
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group: partitioned window + row_number <= K — the
    partitioned counterpart of the reference's global dense_rank (W1),
    which is the shape that scales (per-group parallel, no single
    partition)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = broadcast_dim_join(orders, customer, "o_custkey", "c_custkey").select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
    )
    w = Window.partitionBy("segment").orderBy(
        F.desc("totalprice"), F.asc("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "price_outliers",
    """
    WITH p AS (
        SELECT l_returnflag, quantile_disc(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag AS l_returnflag,
           COUNT(*) AS n_outliers,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum,
           MAX(p99) AS p99
    FROM lineitem l JOIN p USING (l_returnflag)
    WHERE l.l_extendedprice > p99
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-percentile outlier detection: rows above the per-group p99 of
    l_extendedprice (count + exact-integer cents sum).

    percentile_disc picks an ACTUAL data value (no interpolation), so the
    threshold is bit-identical across engines — interpolated percentiles
    diverge in float math. The threshold comes from
    :func:`~wrtd_etl_spark.operators.percentile.exact_percentile_disc`:
    the same exact value as ``percentile_disc`` (differential-tested),
    but via iterative bracket-narrowing selection with bounded memory —
    the built-in's aggregate buffer holds every group value, which at
    100 TB IS the dataset. Thresholds broadcast back over the fact scan,
    map-side-combined aggregate.
    """
    from ..operators.percentile import exact_percentile_disc

    li = load_table(spark, sf_dir, "lineitem")
    p = exact_percentile_disc(
        li, "l_extendedprice", 0.99, ["l_returnflag"]
    ).withColumnRenamed("l_extendedprice", "p99")
    return (
        li.join(F.broadcast(p), "l_returnflag")
        .filter(F.col("l_extendedprice") > F.col("p99"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_outliers"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("cents_sum"),
            F.max("p99").alias("p99"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "shipping_priority",
    f"""
    SELECT l.l_orderkey AS orderkey,
           {_DSUM_SQL.format(expr="l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           o.o_orderdate AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > DATE '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderkey LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → two fact equi-joins →
    grouped revenue → top-10.

    Plan intent at 100 TB: the filtered customer side broadcasts into
    orders (dim-sized after the segment filter), orders⋈lineitem shuffles
    on orderkey (both facts — the one unavoidable exchange), date filters
    push down to both parquet scans, and the top-10 is TakeOrdered, never
    a global sort. Deterministic ties via orderkey."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("date")
    )
    return (
        li.join(
            o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .groupBy(
            li["l_orderkey"].alias("orderkey"),
            o["o_orderdate"].alias("orderdate"),
            o["o_orderpriority"].alias("orderpriority"),
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


@register(
    "rolling_revenue",
    f"""
    WITH daily AS (
        SELECT o_orderdate AS d,
               {_DSUM_SQL.format(expr="o_totalprice")} AS day_rev
        FROM orders GROUP BY o_orderdate
    )
    SELECT d, day_rev,
           CAST(SUM(CAST(FLOOR(day_rev * 10000 + 0.5) AS BIGINT))
                OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) / 10000.0 AS rev_7d
    FROM daily ORDER BY d
    """,
)
def rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME-spec analytics (rowsBetween): 7-day moving revenue
    over the daily aggregate — the frame-bounded running-window shape the
    reference never uses (SURVEY §2.6) and a training-data-rate dashboard
    does. Window is ABOVE a day-level aggregate (bounded rows), never over
    the raw fact table; the quantized-cents sum keeps the running total
    bit-identical cross-engine."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        _dsum(F.col("o_totalprice"), "day_rev")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (
        daily.withColumn(
            "rev_7d",
            (
                F.sum(F.floor(F.col("day_rev") * 10000 + 0.5).cast("long")).over(w)
                / F.lit(10000.0)
            ),
        )
        .orderBy("d")
    )


def _zorder_oracle() -> str:
    # the 16 interleave terms per dimension, dims at even/odd bit slots
    t1 = " | ".join(f"(((l1 >> {i}) & 1) << {i * 2})" for i in range(8))
    t2 = " | ".join(f"(((l2 >> {i}) & 1) << {i * 2 + 1})" for i in range(8))
    # CASE guard = zorder_key's degenerate-span rule (constant dimension)
    lvl = (
        "LEAST(CAST(FLOOR(LEAST(GREATEST((CAST({e} AS DOUBLE) - {lo})"
        " / (CASE WHEN {hi} <> {lo} THEN {hi} - {lo} ELSE 1.0 END),"
        " 0.0), 1.0) * 256.0) AS BIGINT), 255)"
    )
    return f"""
    WITH b AS (
        SELECT CAST(MIN(o_custkey) AS DOUBLE) AS lo1,
               CAST(MAX(o_custkey) AS DOUBLE) AS hi1,
               MIN(o_totalprice) AS lo2, MAX(o_totalprice) AS hi2
        FROM orders
    ), l AS (
        SELECT o_custkey, o_totalprice,
               {lvl.format(e="o_custkey", lo="lo1", hi="hi1")} AS l1,
               {lvl.format(e="o_totalprice", lo="lo2", hi="hi2")} AS l2
        FROM orders, b
    ), z AS (
        SELECT o_custkey, o_totalprice, (({t1}) | ({t2})) >> 8 AS z_bucket
        FROM l
    )
    SELECT z_bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
    FROM z GROUP BY z_bucket
    """


@register("zorder_layout", _zorder_oracle())
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout report over orders: per curve-bucket row
    count and min/max spans of BOTH interleaved dimensions
    (operators/zorder.py — the Delta/Iceberg ``OPTIMIZE ZORDER BY``
    technique). Narrow per-bucket spans on both columns are exactly what
    makes parquet min/max stats prune multi-dimensional predicates after
    :func:`write_zordered` lays files out along the curve.

    Bounds come from the same one-row MIN/MAX aggregate in both engines
    (broadcast 1-row anchor on the Spark side), so the quantization —
    and therefore every bucket assignment — is bit-identical
    cross-engine. The layout effect itself (files covering compact
    hyper-rectangles) is pinned by the row-group-stats pytest."""
    from ..operators.zorder import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    b = orders.agg(
        F.min("o_custkey").cast("double").alias("lo1"),
        F.max("o_custkey").cast("double").alias("hi1"),
        F.min("o_totalprice").alias("lo2"),
        F.max("o_totalprice").alias("hi2"),
    )
    z = zorder_key(
        [F.col("o_custkey"), F.col("o_totalprice")],
        [(F.col("lo1"), F.col("hi1")), (F.col("lo2"), F.col("hi2"))],
    )
    return (
        orders.crossJoin(F.broadcast(b))
        .select(
            "o_custkey",
            "o_totalprice",
            F.shiftright(z, 8).alias("z_bucket"),
        )
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "daily_gapfill",
    f"""
    WITH daily AS (
        SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS d,
               {_DSUM_SQL.format(expr="o_totalprice")} AS rev
        FROM orders GROUP BY k, d
    ), span AS (
        SELECT k, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY k
    ), scaffold AS (
        SELECT k, UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
        FROM span
    ), j AS (
        SELECT s.k, s.d, daily.rev FROM scaffold s
        LEFT JOIN daily ON s.k = daily.k AND s.d = daily.d
    )
    SELECT k, d,
           LAST_VALUE(rev IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING
           ) AS rev,
           rev IS NULL AS was_gap
    FROM j
    """,
)
def daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gapless per-priority daily revenue with carry-forward fill
    (operators/gapfill.py — the TimescaleDB ``time_bucket_gapfill`` +
    ``locf`` idiom). The gap-fill scaffold and window run over the
    (key × day) AGGREGATE, never the order facts; the fill window
    partitions by key (bounded per-key state, plan-shape-rule clean)."""
    from ..operators.gapfill import gapfill_daily

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("k"),
        F.to_date("o_orderdate").alias("d"),
    ).agg(_dsum(F.col("o_totalprice"), "rev"))
    return gapfill_daily(daily, "k", "d", ["rev"])


@register(
    "scd2_orders",
    """
    WITH log AS (
        SELECT o_custkey AS custkey, o_orderstatus AS status,
               CAST(o_orderdate AS DATE) AS d, o_orderkey AS k
        FROM orders
    ), marked AS (
        SELECT custkey, status, d, k,
               LAG(status) OVER w AS prev,
               ROW_NUMBER() OVER w AS rn
        FROM log WINDOW w AS (PARTITION BY custkey ORDER BY d, k)
    ), cp AS (
        SELECT * FROM marked
        WHERE rn = 1 OR prev IS DISTINCT FROM status
    )
    SELECT custkey, status, d AS valid_from,
           LEAD(d) OVER w2 AS valid_to,
           LEAD(d) OVER w2 IS NULL AS is_current
    FROM cp WINDOW w2 AS (PARTITION BY custkey ORDER BY d, k)
    """,
)
def scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each customer's order status
    (operators/scd2.py): consecutive equal statuses collapse into one
    validity interval, the open interval is the current value. Replaces
    the reference's last-value-only ``ON CONFLICT`` upsert
    (functions.py:178-183) with queryable history. One keyed shuffle;
    both windows share the (custkey, d, k) sort so the exchange is
    reused."""
    from ..operators.scd2 import scd2_from_changelog

    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    return scd2_from_changelog(
        log, ["custkey"], ["d", "k"], ["status"]
    ).select("custkey", "status", "valid_from", "valid_to", "is_current")


@register(
    "column_profile",
    """
    SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR),
           CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR)
    FROM orders
    """,
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift guard (operators/profile.py): per-column nulls /
    exact distincts / min-max over orders in ONE scan (single agg +
    expression unpivot — the DuckDB SUMMARIZE shape without per-column
    rescans). The reference has no equivalent; its schema drift
    surfaces as crashed polls (main.py bare except)."""
    from ..operators.profile import profile_columns

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.to_date("o_orderdate")
    )
    return profile_columns(
        orders,
        ["o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"],
    )


@register(
    "event_funnel",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t_1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
        SELECT s1.user_id, t_1, MIN(e.ts) AS t_2
        FROM s1 LEFT JOIN events e
          ON e.user_id = s1.user_id AND e.event_type = 'click'
         AND e.ts > s1.t_1
        GROUP BY s1.user_id, t_1
    ), s3 AS (
        SELECT s2.user_id, t_1, t_2, MIN(e.ts) AS t_3
        FROM s2 LEFT JOIN events e
          ON e.user_id = s2.user_id AND e.event_type = 'purchase'
         AND e.ts > s2.t_2
        GROUP BY s2.user_id, t_1, t_2
    )
    SELECT user_id, t_1, t_2, t_3,
           CAST(t_1 IS NOT NULL AS BIGINT) + CAST(t_2 IS NOT NULL AS BIGINT)
           + CAST(t_3 IS NOT NULL AS BIGINT) AS steps_completed
    FROM s3
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user (operators/funnel.py):
    first click strictly after first view, first purchase strictly after
    that click. All stages keyed on user_id (one reused partitioning);
    each stage scans only its type-filtered slice."""
    from ..operators.funnel import funnel

    events = load_table(spark, sf_dir, "events")
    return funnel(events, ["view", "click", "purchase"])


@register(
    "price_histogram",
    """
    WITH c AS (
        SELECT CASE
                 WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN 0
                 WHEN CAST(o_totalprice AS DOUBLE) >= 600000.0 THEN 21
                 ELSE CAST(FLOOR(
                     (CAST(o_totalprice AS DOUBLE) - 0.0)
                     / ((600000.0 - 0.0) / 20)) AS BIGINT) + 1
               END AS bucket,
               COUNT(*) AS n
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY bucket
    ), s AS (
        SELECT UNNEST(generate_series(1, 20)) AS bucket
    )
    SELECT CAST(COALESCE(s.bucket, c.bucket) AS BIGINT) AS bucket,
           COALESCE(n, 0) AS n
    FROM s FULL JOIN c ON s.bucket = c.bucket
    """,
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width order-price histogram (operators/histogram.py):
    width_bucket in the scan stage, only 20 partial counts shuffle;
    zero-count buckets kept dense via a range scaffold, SQL-standard
    under/overflow buckets preserved. Fixed literal bounds so edges are
    stable across incremental batches."""
    from ..operators.histogram import equi_width_histogram

    orders = load_table(spark, sf_dir, "orders")
    return equi_width_histogram(
        orders, "o_totalprice", 20, bounds=(0.0, 600000.0)
    ).select("bucket", "n")


@register(
    "order_cube",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS cnt,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_priority
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE lattice with GROUPING indicators (completes the
    grouping-set surface beyond distinct_parts_rollup's ROLLUP): the
    indicator columns disambiguate a real NULL group from a subtotal
    row — the standard BI-tool contract. One Expand + one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # grouping() must name the raw grouping column (aliases are
            # lateral references the analyzer rejects) — alias after
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "cnt",
            "g_status",
            "g_priority",
        )
    )


@register(
    "price_deciles",
    """
    WITH t AS (
        SELECT o_orderpriority AS priority, o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT decile,
           COUNT(*) AS n,
           COUNT(DISTINCT priority) AS n_priorities,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM t GROUP BY decile
    """,
)
def price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile summary of order prices WITHOUT a single-partition
    global window: the global row index comes from the two-pass
    distributed prefix sum (operators/prefix_sum.py) over a price-range
    bucketing, and NTILE(10)'s exact bucket-size rule (first n%10
    buckets get the extra row) is reproduced arithmetically from
    (index, total). The DuckDB oracle uses the real NTILE — the match
    pins the arithmetic. Tie-break (price, orderkey) makes the
    assignment deterministic cross-engine."""
    from ..operators.prefix_sum import distributed_cumsum

    orders = load_table(spark, sf_dir, "orders")
    t = orders.select(
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
        "o_orderkey",
        F.lit(1).alias("__one"),
        F.floor(F.col("o_totalprice") / 30000).alias("__pb"),
    )
    idx = distributed_cumsum(
        t, "__one", ["o_totalprice", "o_orderkey"], "__pb", out_col="__idx"
    )
    total = orders.groupBy().agg(F.count(F.lit(1)).alias("__n"))
    k = 10
    q, r = F.col("__n") / k, F.col("__n") % k  # floor-div applied below
    qf = F.floor(q)
    cut = (qf + 1) * r  # rows in the first r (fat) buckets
    i0 = F.col("__idx") - 1
    decile = (
        F.when(i0 < cut, F.floor(i0 / (qf + 1)))
        .otherwise(r + F.floor((i0 - cut) / qf))
        + 1
    ).cast("long")
    with_decile = idx.join(F.broadcast(total)).withColumn("decile", decile)
    return with_decile.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("priority").alias("n_priorities"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "events_asof_status",
    """
    WITH log AS (
        SELECT o_custkey AS custkey, o_orderstatus AS status,
               CAST(o_orderdate AS DATE) AS d, o_orderkey AS k
        FROM orders
    ), marked AS (
        SELECT custkey, status, d, k,
               LAG(status) OVER w AS prev, ROW_NUMBER() OVER w AS rn
        FROM log WINDOW w AS (PARTITION BY custkey ORDER BY d, k)
    ), cp AS (
        SELECT * FROM marked WHERE rn = 1 OR prev IS DISTINCT FROM status
    ), dim AS (
        SELECT custkey, status, d AS valid_from,
               LEAD(d) OVER w2 AS valid_to
        FROM cp WINDOW w2 AS (PARTITION BY custkey ORDER BY d, k)
    )
    SELECT e.event_id, e.user_id, dim.status AS status_at_event
    FROM events e LEFT JOIN dim
      ON e.user_id = dim.custkey
     AND CAST(e.ts AS DATE) >= dim.valid_from
     AND (dim.valid_to IS NULL OR CAST(e.ts AS DATE) < dim.valid_to)
    """,
)
def events_asof_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join (operators/scd2.temporal_dim_join): each
    event picks the order-status VERSION valid at its time from the
    SCD2 history — the AS OF read the reference's last-value-only
    upsert cannot answer. Keyed equi-join + interval filter; per-key
    fan-out is the version count, never |facts| x |dim|."""
    from ..operators.scd2 import scd2_from_changelog, temporal_dim_join

    orders = load_table(spark, sf_dir, "orders")
    log = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.to_date("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    dim = scd2_from_changelog(log, ["custkey"], ["d", "k"], ["status"])
    events = load_table(spark, sf_dir, "events")
    return temporal_dim_join(
        events, dim, "user_id", "custkey", F.to_date("ts")
    ).select(
        "event_id",
        "user_id",
        F.col("status").alias("status_at_event"),
    )


@register(
    "dq_orders",
    """
    SELECT 'not_null(o_custkey)' AS check,
           COUNT(*) - COUNT(o_custkey) AS violations,
           COUNT(*) AS total,
           COUNT(*) - COUNT(o_custkey) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'accepted_values(o_orderstatus)',
           SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END),
           COUNT(*),
           SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) = 0
    FROM orders
    UNION ALL
    SELECT 'in_range(o_totalprice)',
           SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END),
           COUNT(*),
           SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           COALESCE((SELECT SUM(n) FROM (
               SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
               HAVING COUNT(*) > 1)), 0),
           COUNT(*),
           COALESCE((SELECT SUM(n) FROM (
               SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
               HAVING COUNT(*) > 1)), 0) = 0
    FROM orders
    UNION ALL
    SELECT 'foreign_key(o_custkey)',
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)),
           COUNT(*),
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) = 0
    FROM orders
    """,
)
def dq_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report (operators/quality.py, the
    deequ-style suite the reference's bare-except ingest never had):
    all row-predicate checks fold into ONE scan; uniqueness is one
    keyed agg; the FK check is one broadcast anti-join."""
    from ..operators.quality import (
        accepted_values,
        foreign_key,
        in_range,
        not_null,
        run_checks,
        unique,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return run_checks(
        orders,
        [
            not_null("o_custkey"),
            accepted_values("o_orderstatus", ["F", "O", "P"]),
            in_range("o_totalprice", lo=0),
            unique(["o_orderkey"]),
            foreign_key("o_custkey", customer, "c_custkey"),
        ],
    )


@register(
    "orders_reconcile",
    """
    WITH a AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 5 <> 0
    ), b AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
                  OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                THEN 'changed' END AS change
    FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE CASE WHEN a.o_orderkey IS NULL THEN 'added'
               WHEN b.o_orderkey IS NULL THEN 'removed'
               WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice
                 OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
               THEN 'changed' END IS NOT NULL
    """,
)
def orders_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table reconciliation (operators/diff.table_diff): the
    migration-verification primitive — emits only added/removed/changed
    keys from a co-partitioned full outer join; the empty result is the
    equality proof. The two sides are deterministic derivations of
    orders (dropped keys + doubled prices) so the FULL JOIN SQL is an
    exact oracle."""
    from ..operators.diff import table_diff

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") * 2
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return table_diff(a, b, ["o_orderkey"])


@register(
    "lineitem_unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric, value
    FROM (
        SELECT l_orderkey, l_linenumber,
               l_quantity, l_discount, l_tax
        FROM lineitem WHERE l_orderkey % 100 = 0
    ) UNPIVOT (value FOR metric IN (l_quantity, l_discount, l_tax))
    """,
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (the inverse of status_pivot's PIVOT): wide metric
    columns to (metric, value) rows via the built-in ``unpivot`` — a
    scan-stage Expand, no shuffle at all."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    )


@register(
    "priority_price_windows",
    """
    SELECT o_orderkey,
           o_orderpriority AS priority,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd,
           o_totalprice - LAG(o_totalprice) OVER w AS delta_prev
    FROM orders
    WHERE o_orderkey % 20 = 0
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def priority_price_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window battery per priority partition: percent_rank,
    cume_dist, and lag-delta over one shared (partition, order) spec —
    one exchange + one sort serves all three (the window-reuse shape
    the plan tests pin for scd2). Both ranks are exact IEEE fractions
    of integer counts, so they hash-match cross-engine."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 20 == 0
    )
    return orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w)).alias(
            "delta_prev"
        ),
    )


@register(
    "props_json_stats",
    """
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
                    THEN 1 ELSE 0 END) AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured querying: JSON-path extraction from the events
    ``props`` string column (get_json_object — evaluated in the scan
    stage, JVM-side, so the JSON never reaches Python) feeding a
    grouped aggregate. Extraction-failure rows are counted, not
    dropped (the tolerant-scan contract)."""
    events = load_table(spark, sf_dir, "events")
    raw = F.get_json_object("props", "$.k")
    k = raw.cast("long")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        # missing = key absent PRE-cast (a non-numeric value is a cast
        # failure, not a missing key — pinned to the oracle's semantics)
        F.sum(F.when(raw.isNull(), 1).otherwise(0)).alias("n_missing"),
    )


@register(
    "order_line_arrays",
    """
    WITH lines AS (
        SELECT l_orderkey,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               l_linenumber
        FROM lineitem WHERE l_orderkey % 50 = 0
    ), arrs AS (
        SELECT l_orderkey,
               list(cents ORDER BY l_linenumber) AS arr
        FROM lines GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(arr) AS n_lines,
           list_aggregate(arr, 'sum') AS total_cents,
           list_aggregate(arr, 'max') AS max_cents,
           len(list_filter(arr, x -> x > 5000000)) AS n_big,
           list_aggregate(list_transform(arr, x -> x * 2), 'sum')
               AS doubled_cents
    FROM arrs
    """,
)
def order_line_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function battery over per-order price arrays
    (transform / filter / aggregate / array_max — the HOF surface that
    keeps array logic JVM-side instead of exploding + reshuffling):
    integer cents via the exact-sum idiom so every metric is
    bit-identical to DuckDB's list_* twins."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    arrs = (
        li.select("l_orderkey", cents.alias("cents"), "l_linenumber")
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "cents"))
            ).alias("pairs")
        )
        .select(
            "l_orderkey",
            F.transform(F.col("pairs"), lambda p: p["cents"]).alias("arr"),
        )
    )
    zero = F.lit(0).cast("long")
    return arrs.select(
        "l_orderkey",
        F.size("arr").cast("long").alias("n_lines"),
        F.aggregate("arr", zero, lambda a, x: a + x).alias("total_cents"),
        F.array_max("arr").alias("max_cents"),
        F.size(F.filter("arr", lambda x: x > 5000000)).cast("long").alias(
            "n_big"
        ),
        F.aggregate(
            F.transform("arr", lambda x: x * 2), zero, lambda a, x: a + x
        ).alias("doubled_cents"),
    )


@register(
    "calendar_revenue",
    f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
           COUNT(*) AS n_orders,
           {_DSUM_SQL.format(expr="o_totalprice")} AS revenue
    FROM orders
    GROUP BY yr, qtr, dow
    """,
)
def calendar_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-dimension rollup (year / quarter / day-of-week). The
    cross-engine trap is pinned explicitly: Spark ``dayofweek`` is
    1-7 Sunday-first, DuckDB's is 0-6 Sunday-first — the oracle adds 1
    rather than either side silently disagreeing. Revenue uses the
    exact-integer sum idiom (module docstring)."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "d", F.to_date("o_orderdate")
    )
    return orders.groupBy(
        F.year("d").cast("long").alias("yr"),
        F.quarter("d").cast("long").alias("qtr"),
        F.dayofweek("d").cast("long").alias("dow"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum(F.col("o_totalprice"), "revenue"),
    )


@register(
    "event_anomaly",
    r"""
    WITH b AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, day
    ), w AS (
        SELECT event_type, day, cents,
               COUNT(*) OVER tw AS n,
               SUM(cents) OVER tw AS s,
               SUM(cents * cents) OVER tw AS ss
        FROM b
        WINDOW tw AS (
            PARTITION BY event_type ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
        )
    )
    SELECT event_type, day, cents,
           CAST(n AS BIGINT) AS n,
           (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
               AS zscore
    FROM w
    WHERE n >= 3
      AND CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
          > CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
    ORDER BY event_type, day
    """,
)
def event_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over daily per-type value
    totals — the monitoring primitive a pipeline alerts on. Trailing
    7-bucket mean/std come from INTEGER window sums (the exact-sum cents
    idiom lifted into sum/sum-of-squares), so mean, variance, and the
    z-score are fixed-order IEEE expressions over integers — bit-equal
    cross-engine, no stddev_samp (whose accumulation order is
    engine-internal). Degenerate windows (n<3 or zero variance) are
    filtered, not NaN-propagated. Integer headroom: the 7-row window
    SUM(cents*cents) stays in int64 while a bucket's cents stay under
    ~1.1e9 (7*(1.1e9)^2 ~= 8.5e18 < 2^63; about $11M/day/type). Past
    that, DuckDB promotes SUM(BIGINT) to HUGEINT while Spark wraps (or
    raises under ANSI), so the engines diverge — aggregate at a finer
    grain first, or compute ss in DECIMAL on both sides.

    Scale shape: one partial-agg groupBy collapses events to
    |types|x|days| buckets; the window runs over THAT, partitioned by
    type — never a window over raw facts."""
    events = load_table(spark, sf_dir, "events")
    b = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    w = b.select(
        "event_type",
        "day",
        "cents",
        F.count(F.lit(1)).over(tw).alias("n"),
        F.sum("cents").over(tw).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(tw).alias("ss"),
    )
    n, s, ss = (F.col(c).cast("double") for c in ("n", "s", "ss"))
    cents = F.col("cents").cast("double")
    var = (n * ss - s * s) / (n * (n - F.lit(1.0)))
    return (
        w.filter(
            (F.col("n") >= 3) & (n * ss > s * s)
        )
        .select(
            "event_type",
            "day",
            "cents",
            F.col("n").cast("long").alias("n"),
            ((cents - s / n) / F.sqrt(var)).alias("zscore"),
        )
    )


# --------------------------------------------------------------------------
# L83/L84 — MERGE INTO and copy-on-write UPDATE on versioned tables
# (reference: functions.py:178-183 ON CONFLICT DO UPDATE scaled to a
# single-commit lake merge; bot/botrun.py:163-167 UPDATE ... SET).
# Each query materializes a real versioned table in a temp dir so the
# ORACLE checks the actual commit path, not an in-memory simulation.
# --------------------------------------------------------------------------


@register(
    "dim_merge",
    """
    SELECT c_custkey,
           CASE WHEN c_custkey < 50 THEN 'renamed_' || c_custkey ELSE c_name END AS c_name,
           CASE WHEN c_custkey < 50 THEN c_acctbal + 100 ELSE c_acctbal END AS acctbal
    FROM customer
    WHERE c_custkey < 50 OR c_custkey >= 60
    UNION ALL
    SELECT c_custkey + 1000000 AS c_custkey,
           'new_' || c_custkey AS c_name,
           0.0 AS acctbal
    FROM customer WHERE c_custkey < 20
    """,
)
def dim_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General MERGE INTO (sources/versioned.merge_into): ONE atomic
    commit applies matched-update (keys < 50: rename + acctbal+100),
    matched-delete (keys 50-59), and not-matched-insert (20 fresh keys
    at +1e6) to a z-ordered versioned dimension; the result is the
    post-merge snapshot. Auto-pruning derives the rewrite set from the
    source's key range via manifest stats."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import merge_into, read_snapshot, write_snapshot

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_dim_merge_"), "dim")
    write_snapshot(customer, t, layout_by=["c_custkey"], layout_files=4)
    upd = customer.filter(F.col("c_custkey") < 50).select(
        "c_custkey",
        F.concat(F.lit("renamed_"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("U").alias("op"),
    )
    dels = customer.filter(F.col("c_custkey").between(50, 59)).select(
        "c_custkey", "c_name", "c_acctbal", F.lit("D").alias("op")
    )
    ins = customer.filter(F.col("c_custkey") < 20).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("U").alias("op"),
    )
    merge_into(
        spark,
        t,
        upd.unionByName(dels).unionByName(ins),
        ["c_custkey"],
        delete_when=F.col("op") == "D",
    )
    return read_snapshot(spark, t).select(
        "c_custkey", "c_name", F.col("c_acctbal").alias("acctbal")
    )


@register(
    "update_where_cow",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'DELINQUENT' ELSE c_mktsegment END AS segment,
           c_acctbal
    FROM customer
    """,
)
def update_where_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE (sources/versioned.update_where): flag every
    negative-balance customer, rewriting only the acctbal-clustered files
    whose [min,max] can hold negatives (prune=(None, 0)); the rest of
    the table carries by reference. NULL-predicate rows keep their
    segment (SQL semantics)."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import read_snapshot, update_where, write_snapshot

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_update_where_"), "dim")
    write_snapshot(customer, t, layout_by=["c_acctbal"], layout_files=4)
    update_where(
        spark,
        t,
        F.col("c_acctbal") < 0,
        {"c_mktsegment": F.lit("DELINQUENT")},
        prune={"c_acctbal": (None, 0.0)},
    )
    return read_snapshot(spark, t).select(
        "c_custkey", F.col("c_mktsegment").alias("segment"), "c_acctbal"
    )


@register(
    "point_lookup_bloom",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey IN (3, 411, 777, 1021, 1400)
    """,
)
def point_lookup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned point lookup (sources/bloom.py + versioned
    point_filter): orders land hash-scattered by customer across 8
    files — every file's o_orderkey [min,max] spans the whole table, so
    range stats prune NOTHING — then a 5-key membership lookup reads
    only the files whose per-file bloom sketch can contain one of the
    keys. The ``key IN (...)`` shape that turns a CDC probe on a 100-TB
    unclustered table into a handful of file reads."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import read_snapshot, write_snapshot

    keys = [3, 411, 777, 1021, 1400]
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_bloom_"), "orders")
    write_snapshot(
        orders.repartition(8, "o_custkey"),
        t,
        stats_cols=["o_orderkey"],
        bloom_cols=["o_orderkey"],
    )
    return read_snapshot(
        spark, t, point_filter={"o_orderkey": keys}
    ).filter(F.col("o_orderkey").isin(keys))


@register(
    "backfill_replace_where",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey < 1000 OR o_orderkey >= 1400
    UNION ALL
    SELECT o_orderkey, 'R' AS o_orderstatus, 0.0 AS o_totalprice
    FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 1400
    """,
)
def backfill_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic partial overwrite (sources/versioned.replace_where —
    Delta's replaceWhere): recompute ONE key slice (orderkeys
    [1000, 1400): status 'R', totalprice zeroed) and swap it in as a
    single commit; stats pruning rewrites only the clustered files that
    can hold the slice, the rest carry by reference. The backfill idiom
    — readers never see a half-replaced table."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        read_snapshot,
        replace_where,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_replace_"), "orders")
    write_snapshot(orders, t, layout_by=["o_orderkey"], layout_files=6)
    pred = (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 1400)
    replacement = orders.filter(pred).select(
        "o_orderkey",
        F.lit("R").alias("o_orderstatus"),
        F.lit(0.0).alias("o_totalprice"),
    )
    replace_where(
        spark,
        t,
        pred,
        replacement,
        prune={"o_orderkey": (1000, 1399)},
    )
    return read_snapshot(spark, t)


@register("versioned_changes_stream", None)  # streaming side effects: rows-only
def versioned_changes_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed STREAM (sources/versioned_stream.read_changes_stream):
    three order batches commit as versions of a temp table; the stream
    folds each commit range exactly once through its checkpoint; the
    result is per-commit-version insert counts — which must equal the
    per-batch row counts (the truth model pytest pins; rows-only here
    because offsets/checkpoints have no SQL analog)."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import write_snapshot
    from ..sources.versioned_stream import read_changes_stream

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = _tf.mkdtemp(prefix="wrtd_changes_stream_")
    t = _os.path.join(root, "tbl")
    for i in range(3):
        write_snapshot(
            orders.filter(F.col("o_orderkey") % 3 == i),
            t,
            mode="append" if i else "overwrite",
        )
    counts: dict[int, int] = {}

    def sink(batch, _bid):
        for r in batch.groupBy("_commit_version").count().collect():
            counts[r["_commit_version"]] = (
                counts.get(r["_commit_version"], 0) + r["count"]
            )

    q = (
        read_changes_stream(spark, t)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", _os.path.join(root, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.createDataFrame(
        sorted((int(v), int(n)) for v, n in counts.items()),
        "commit_version long, n_inserts long",
    )


@register("quality_gate_quarantine", None)  # side-effecting commit gate
def quality_gate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time DQ gate (L86): a customer batch with planted NULL keys
    and out-of-range balances is REFUSED at commit (no version appears)
    and its violating rows land, tagged per check, in the versioned
    quarantine table — returned here. Truth model in
    tests/test_quality.py; rows-only because the gate's refusal is a
    side effect with no SQL analog."""
    import os as _os
    import tempfile as _tf

    from ..operators.quality import in_range, not_null
    from ..sources.versioned import (
        QualityGateViolation,
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    dirty = customer.withColumn(
        "c_custkey",
        F.when(F.col("c_custkey") % 97 == 0, F.lit(None)).otherwise(
            F.col("c_custkey")
        ),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_dq_gate_"), "dim")
    checks = [not_null("c_custkey"), in_range("c_acctbal", lo=-999.0)]
    try:
        write_snapshot(dirty, t, checks=checks)
        # clean input (e.g. the empty-table robustness battery): the
        # commit lands and there is no quarantine — empty result
        return spark.createDataFrame([], "__violation string, n_rows long")
    except QualityGateViolation:
        pass
    assert latest_version(t) is None  # the dirty commit never landed
    q = read_snapshot(spark, t + "__quarantine")
    return q.groupBy("__violation").agg(
        F.count(F.lit(1)).alias("n_rows")
    ).orderBy("__violation")


@register(
    "versioned_sql_surface",
    """
    SELECT r.r_name AS region_name,
           COUNT(*) AS n_nations,
           MIN(n.n_name) AS first_nation
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def versioned_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface of versioned tables (sources/versioned_table.py): the
    nation dimension commits as a versioned table, a LATER commit adds
    junk rows, and the query joins the version-0 PINNED view from plain
    ``spark.sql`` — proving view time travel (the view is
    ``read_snapshot``'s native parquet scan of the pinned version's
    files, no Python DataSource in the plan) and that registered views
    participate in SQL joins (the reference's sql_to_db consumer
    surface, functions.py:43-76, over the lake layer)."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import write_snapshot
    from ..sources.versioned_table import register_versioned_view

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_vsql_"), "nation_v")
    write_snapshot(nation, t)
    # junk commit the pinned view must NOT see
    write_snapshot(
        nation.limit(3).withColumn(
            "n_nationkey", F.col("n_nationkey") + 1000
        ),
        t,
        mode="append",
    )
    register_versioned_view(spark, "__vsql_nation", t, version=0)
    region.createOrReplaceTempView("__vsql_region")
    return spark.sql(
        """
        SELECT r.r_name AS region_name,
               COUNT(*) AS n_nations,
               MIN(n.n_name) AS first_nation
        FROM __vsql_nation n
        JOIN __vsql_region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@register(
    "stream_merge_upsert",
    """
    WITH last AS (
        SELECT o_custkey AS k,
               arg_max(o_orderstatus, o_orderkey) AS v
        FROM orders GROUP BY o_custkey
    )
    SELECT k, v FROM last WHERE v <> 'F'
    """,
)
def stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming UPSERT sink
    (streaming/versioned_sink.make_versioned_merge_sink): three
    orderkey-ordered CDC batches fold into a versioned dimension, each
    as ONE atomic merge_into commit — status 'F' rows are deletes,
    everything else upserts, and within a batch the highest orderkey is
    the key's final word. The surviving state is exactly DuckDB's
    arg_max-per-customer with 'F' keys absent — the reference's poll
    loop (cursor fetch -> ON CONFLICT DO UPDATE, functions.py:178-183)
    as a lake-scale stream."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import read_snapshot
    from ..streaming.versioned_sink import make_versioned_merge_sink

    log = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderstatus").alias("v"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderstatus") == "F", "D").otherwise("U").alias("op"),
    )
    cuts = [
        r[0]
        for r in log.selectExpr(
            "percentile_approx(seq, array(0.33, 0.66), 10000) AS c"
        )
        .selectExpr("explode(c)")
        .collect()
    ]
    if len(cuts) < 2 or cuts[0] is None:
        # empty CDC log: no batch ever commits, the dimension is empty
        return spark.createDataFrame([], "k long, v string")
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_merge_stream_"), "dim")
    sink = make_versioned_merge_sink(
        t,
        ["k"],
        delete_when=F.col("op") == "D",
        order_by=["seq"],
        source_meta_cols=("seq", "op"),
    )
    batches = [
        log.filter(F.col("seq") <= cuts[0]),
        log.filter((F.col("seq") > cuts[0]) & (F.col("seq") <= cuts[1])),
        log.filter(F.col("seq") > cuts[1]),
    ]
    for i, b in enumerate(batches):
        sink(b, i)
    return read_snapshot(spark, t).select("k", "v")


@register(
    "unique_gate_ingest",
    """
    SELECT c_custkey AS k, c_name AS name FROM customer
    UNION ALL
    SELECT c_custkey + 1000000 AS k, 'copy_' || c_custkey AS name
    FROM customer WHERE c_custkey < 100
    """,
)
def unique_gate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enforced UNIQUE constraint
    (sources/versioned.add_unique_constraint): a primary-keyed ingest
    table refuses the batch that re-sends existing keys (the probe
    point-prunes candidate files via stats+blooms) and accepts the
    batch of genuinely new keys — so the final snapshot is exactly
    base ∪ fresh, duplicates impossible by construction. The guarantee
    the reference leans on Postgres PKs for (create_tables.sql FKs/PKs),
    enforced at lake scale."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        UniqueConstraintViolation,
        add_unique_constraint,
        read_snapshot,
        write_snapshot,
    )

    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_name").alias("name")
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_unique_"), "dim")
    write_snapshot(
        customer, t, stats_cols=["k"], bloom_cols=["k"]
    )
    add_unique_constraint(spark, t, "pk", ["k"])
    dup = customer.filter(F.col("k") < 100)
    try:
        write_snapshot(dup, t, mode="append")
    except UniqueConstraintViolation:
        pass  # the gate did its job; a silent accept would dup rows
    fresh = dup.select(
        (F.col("k") + 1_000_000).alias("k"),
        F.concat(F.lit("copy_"), F.col("k").cast("string")).alias("name"),
    )
    write_snapshot(fresh, t, mode="append")
    return read_snapshot(spark, t)


@register(
    "delete_dv_mor",
    """
    SELECT o_orderkey AS k, o_totalprice AS price
    FROM orders
    WHERE NOT (o_totalprice < 50000 OR o_orderkey % 97 = 0)
    """,
)
def delete_dv_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors
    (sources/versioned.delete_where(strategy='dv')): two successive DV
    deletes — a range slice, then a scattered modulo set — commit
    metadata only (zero data files move; the second vector UNIONS into
    the first), and the snapshot read anti-joins the positions. The
    oracle is DuckDB applying the same two predicates to orders — a
    full row-level equality, not just counts."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import delete_where, read_snapshot, write_snapshot

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_dv_"), "tbl")
    write_snapshot(orders.repartition(8), t, stats_cols=["k", "price"])
    delete_where(
        spark,
        t,
        F.col("price") < 50000,
        prune={"price": (None, 49999.999)},
        strategy="dv",
    )
    delete_where(spark, t, F.col("k") % 97 == 0, strategy="dv")
    return read_snapshot(spark, t)


@register(
    "identity_ingest",
    """
    WITH n AS (SELECT COUNT(*) + 3 AS n FROM orders)
    SELECT CAST(n AS BIGINT)             AS n_rows,
           CAST(1 AS BIGINT)             AS min_pk,
           CAST(n AS BIGINT)             AS max_pk,
           CAST(n AS BIGINT)             AS distinct_pk,
           CAST(n * (n + 1) / 2 AS BIGINT) AS sum_pk
    FROM n
    """,
)
def identity_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED AS IDENTITY (sources/versioned.add_identity_column):
    the reference's Postgres ``serial`` surrogate key
    (create_tables.sql:3) — contiguous distributed assignment, which
    ``monotonically_increasing_id`` does not give. Orders ingest in two
    appends plus a MERGE that updates 2 rows and INSERTS 3 new keys
    (the not-matched-insert minting path); the snapshot's id set must
    be EXACTLY dense 1..N — pinned cross-engine through its invariants
    (count / min / max / distinct / arithmetic-series sum), which is
    the strongest oracle an engine-specific assignment ORDER admits."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        add_identity_column,
        merge_into,
        read_snapshot,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_ident_"), "tbl")
    write_snapshot(orders.limit(0), t)
    add_identity_column(t, "pk")
    write_snapshot(orders.filter(F.col("k") % 2 == 0), t, mode="append")
    write_snapshot(orders.filter(F.col("k") % 2 == 1), t, mode="append")
    src = spark.createDataFrame(
        [(1, 0.0), (2, 0.0), (-1, 1.0), (-2, 2.0), (-3, 3.0)],
        "k long, price double",
    )
    merge_into(spark, t, src, keys=["k"])
    return read_snapshot(spark, t).agg(
        F.count("*").alias("n_rows"),
        F.min("pk").alias("min_pk"),
        F.max("pk").alias("max_pk"),
        F.countDistinct("pk").alias("distinct_pk"),
        F.sum("pk").alias("sum_pk"),
    )


@register(
    "generated_column_ingest",
    """
    SELECT o_orderkey AS k, o_totalprice AS price,
           CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS price_band
    FROM orders
    """,
)
def generated_column_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS column
    (sources/versioned.add_generated_column): the first half of orders
    materializes price_band explicitly; after declaring it generated,
    the second half is ingested WITHOUT the column and the write path
    computes it — the final snapshot equals DuckDB deriving the band
    over all of orders, proving supplied and computed values agree."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        add_generated_column,
        read_snapshot,
        write_snapshot,
    )

    band = "CAST(FLOOR(price / 1000) AS BIGINT)"
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_gen_"), "tbl")
    write_snapshot(
        orders.filter(F.col("k") % 2 == 0).withColumn(
            "price_band", F.expr(band)
        ),
        t,
    )
    add_generated_column(spark, t, "price_band", band)
    write_snapshot(
        orders.filter(F.col("k") % 2 == 1),  # band omitted: computed
        t,
        mode="append",
    )
    return read_snapshot(spark, t)


@register(
    "merge_dv_mor",
    """
    SELECT k, price FROM (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey <= 100 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 113 <> 112
        UNION ALL
        SELECT o_orderkey + 5000000 AS k, 1.0 AS price
        FROM orders WHERE o_orderkey <= 50
    )
    """,
)
def merge_dv_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE via deletion vectors
    (sources/versioned.merge_into(strategy='dv') — the reference's K3
    ``INSERT .. ON CONFLICT DO UPDATE`` upsert, functions.py:178-183,
    as the CDC plan a 100-TB table wants): ONE atomic ``merge_dv``
    commit puts the matched rows' positions into each file's deletion
    vector (zero existing data files move) and lands the updated
    images (keys <= 100: price+10), the scattered modulo-113 deletes,
    and 50 fresh inserts as a single small segment. The oracle is
    DuckDB computing the same post-merge state from orders — full
    row-level equality."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import merge_into, read_snapshot, write_snapshot

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_mdv_"), "tbl")
    write_snapshot(orders.repartition(8), t, stats_cols=["k"])
    upd = orders.filter(F.col("k") <= 100).select(
        "k", (F.col("price") + 10.0).alias("price"), F.lit("U").alias("op")
    )
    dels = orders.filter(F.col("k") % 113 == 112).select(
        "k", "price", F.lit("D").alias("op")
    )
    ins = orders.filter(F.col("k") <= 50).select(
        (F.col("k") + 5_000_000).alias("k"),
        F.lit(1.0).alias("price"),
        F.lit("U").alias("op"),
    )
    merge_into(
        spark,
        t,
        upd.unionByName(dels).unionByName(ins),
        ["k"],
        delete_when=F.col("op") == "D",
        source_meta_cols=["op"],
        strategy="dv",
    )
    return read_snapshot(spark, t)


@register(
    "cdc_rewrite_fold",
    """
    WITH sub AS (
        SELECT o_orderkey AS k, o_totalprice AS price
        FROM orders WHERE o_orderkey % 3 = 0
    ),
    v0 AS (SELECT * FROM sub),
    final AS (
        SELECT k,
               CASE WHEN k BETWEEN 1 AND 50 THEN price + 5.0
                    ELSE price END AS price
        FROM sub WHERE k % 89 <> 0
        UNION ALL
        SELECT * FROM (
            VALUES (CAST(-1 AS BIGINT), 1.0), (CAST(-2 AS BIGINT), 2.0),
                   (CAST(-3 AS BIGINT), 3.0)
        ) AS t(k, price)
    )
    SELECT k, price, 'insert' AS change
    FROM (SELECT * FROM final EXCEPT SELECT * FROM v0)
    UNION ALL
    SELECT k, price, 'delete' AS change
    FROM (SELECT * FROM v0 EXCEPT SELECT * FROM final)
    """,
)
def cdc_rewrite_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-tracking keyed CDC across rewrites (r9 flagship,
    sources/versioned.table_changes → _table_changes_keyed): the
    lineage snapshot → DV delete(k%89) → COMPACT → CoW MERGE (update
    keys 1..50, insert 3 fresh) crosses a full compaction, which used
    to force the exceptAll double-snapshot fallback; with manifest row
    lineage (per-file ``row_base``+offset, materialized ``__row_id``
    through rewrites) the diff joins on the STABLE ROW ID over changed
    segments only — compaction churn cancels by id. The emitted change
    set equals DuckDB's value-level symmetric diff between the two
    endpoint states (exact here because every commit in the range is
    id-preserving), row for row."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        compact,
        delete_where,
        merge_into,
        table_changes,
        write_snapshot,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("price"),
        )
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_cdc_"), "tbl")
    write_snapshot(orders.repartition(4), t, stats_cols=["k"])
    delete_where(spark, t, F.col("k") % 89 == 0, strategy="dv")
    compact(spark, t)
    upd = orders.filter((F.col("k") >= 1) & (F.col("k") <= 50)).select(
        "k", (F.col("price") + 5.0).alias("price")
    )
    ins = spark.createDataFrame(
        [(-1, 1.0), (-2, 2.0), (-3, 3.0)], "k long, price double"
    )
    merge_into(spark, t, upd.unionByName(ins), keys=["k"])
    return table_changes(spark, t, 0).withColumnRenamed(
        "_change_type", "change"
    )


@register(
    "recluster_maintenance",
    """
    SELECT o_orderkey AS k, o_totalprice AS price
    FROM orders
    """,
)
def recluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-clustering (sources/versioned.recluster, the r9
    liquid-clustering maintenance shape): a Z-clustered base ingests
    two well-sized but UNclustered appends — the case size-based
    bin-packing can never repair — and maintenance folds exactly those
    files back into the curve from METADATA-ONLY victim choice (each
    file's stats-box volume vs the ideal per-file share of the key
    space), carrying every well-clustered base file by reference. The
    oracle is DuckDB over all of orders: maintenance must be
    row-invisible — full row-level equality after the rewrite. File
    carry, pruning restoration, and the empty keyed CDC delta are
    pinned in tests/test_recluster.py."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import read_snapshot, recluster, write_snapshot

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_recl_"), "tbl")
    write_snapshot(
        orders.filter(F.col("k") % 2 == 0),
        t,
        layout_by=["k"],
        layout_files=4,
    )
    for rem in (1, 3):
        write_snapshot(
            orders.filter(F.col("k") % 4 == rem).coalesce(1),
            t,
            mode="append",
        )
    recluster(spark, t)
    return read_snapshot(spark, t)


@register(
    "commit_version_audit",
    """
    SELECT k, price,
           CASE WHEN k >= 5000000                THEN CAST(3 AS BIGINT)
                WHEN k <= 100                    THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END       AS cv
    FROM (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey <= 100 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 5000000 AS k, 1.0 AS price
        FROM orders WHERE o_orderkey <= 50
    )
    """,
)
def commit_version_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row commit versions (r9 — sources/versioned.ROW_CV_COL): the
    lineage snapshot(v0) → CoW UPDATE keys<=100 (v1) → DV DELETE
    k%97=0 (v2) → MERGE insert 50 fresh keys (v3) must leave every row
    reporting the version that last SET its values: updated rows 1,
    inserts 3, everything else 0 — the DV delete and the merge's
    untouched carries bump nobody. The oracle derives the same (k,
    price, cv) triples from orders with CASE arithmetic — full
    row-level equality, so a single mis-stamped carry fails the hash.
    The maintenance half (compact/recluster/purge never bump) is
    pinned in tests/test_commit_versions.py."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        delete_where,
        merge_into,
        read_snapshot,
        update_where,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_cv_"), "tbl")
    write_snapshot(orders.repartition(8), t, stats_cols=["k"])
    update_where(
        spark,
        t,
        F.col("k") <= 100,
        {"price": F.col("price") + 10.0},
        prune={"k": (None, 100)},
    )
    delete_where(spark, t, F.col("k") % 97 == 0, strategy="dv")
    ins = orders.filter(F.col("k") <= 50).select(
        (F.col("k") + 5_000_000).alias("k"), F.lit(1.0).alias("price")
    )
    merge_into(spark, t, ins, keys=["k"])
    return read_snapshot(spark, t, with_commit_versions=True).select(
        "k", "price", F.col("_commit_version").alias("cv")
    )


@register(
    "incremental_sync_cv",
    """
    SELECT o_orderkey + 10000000 AS k, o_totalprice AS price,
           CAST(1 AS BIGINT) AS cv
    FROM orders WHERE o_orderkey <= 5000
    """,
)
def incremental_sync_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-segment incremental sync (r10 — sources/versioned.
    changed_rows_since + per-file ``cvs`` stats): a clustered base
    load (v0) takes a late-arriving high-key batch (v1) and then a
    COMPACTION (v2) that folds everything into ONE segment whose head
    cv is the rewrite's version — the exact shape that used to force
    a full segment rescan. ``changed_rows_since(since=0)`` must
    recover exactly the appended rows with their original commit
    version 1 — and because the re-clustering isolates the disjoint
    high keys into their own file(s), the sync actually SKIPS the
    old-row files via their recorded carried-cv ranges (plus the
    pushed ``__row_cv`` row-group predicate inside survivors;
    inputFiles/plan proofs in tests/test_commit_versions.py). The
    oracle recomputes the expected delta straight from orders."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        changed_rows_since,
        compact,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_sync_"), "tbl")
    write_snapshot(orders, t, layout_by=["k"], layout_files=4)
    late = orders.filter(F.col("k") <= 5000).select(
        (F.col("k") + 10_000_000).alias("k"), "price"
    )
    write_snapshot(late.coalesce(1), t, mode="append")
    compact(spark, t)
    return changed_rows_since(spark, t, since_version=0).select(
        "k", "price", F.col("_commit_version").alias("cv")
    )


@register(
    "default_column_backfill",
    """
    SELECT o_orderkey AS k, o_totalprice AS price,
           CAST(CASE WHEN o_orderkey <= 2000 THEN 9.0 ELSE 0.5 END
                AS DOUBLE) AS score
    FROM orders
    """,
)
def default_column_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column DEFAULTs (r10 — sources/versioned.alter_add_column
    ``default=``, Iceberg v3's initial-default): the base load (v0)
    predates the column; a metadata-only ALTER (v1) declares it with
    default 0.5 — zero bytes rewritten — and a CoW UPDATE (v2) sets an
    explicit 9.0 on the low keys. Every surface must agree: pre-ALTER
    rows read the default, updated rows their explicit value. The
    oracle derives the same triples from orders with CASE arithmetic;
    the CDC no-churn half (carried rows pad with the default, not
    NULL) is pinned in tests/test_column_defaults.py."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        alter_add_column,
        read_snapshot,
        update_where,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_dflt_"), "tbl")
    write_snapshot(orders.repartition(4), t, stats_cols=["k"])
    alter_add_column(spark, t, "score", "double", default=0.5)
    update_where(
        spark,
        t,
        F.col("k") <= 2000,
        {"score": F.lit(9.0)},
        prune={"k": (None, 2000)},
    )
    return read_snapshot(spark, t)


@register(
    "rollup_cdc_fold",
    """
    SELECT o_orderstatus AS status,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n,
           CAST(FLOOR(SUM(FLOOR(o_totalprice * 100 + 0.5))) AS BIGINT)
               AS cents
    FROM (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey <= 200 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE o_orderkey % 101 <> 0
    )
    GROUP BY o_orderstatus
    """,
)
def rollup_cdc_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retractable CDC-fold materialized rollup (r9 —
    operators/materialized.refresh_rollup_incremental(retract=True) +
    operators/rollup_merge.retract_rollup): a count/sum rollup over
    orders is built once, then the source takes a DV DELETE (k%101=0),
    a CoW UPDATE (+1.0 on keys <= 200), and a COMPACTION — a range no
    delta-files fold can express. The refresh folds the row-tracking
    change feed: deletes subtract exactly, updates retract the old
    image and merge the new, the compaction folds to nothing. The
    oracle recomputes the same rollup from scratch in DuckDB — the
    integer-cents sum makes float retraction exact cross-engine. The
    maintained view must equal it row for row."""
    import os as _os
    import tempfile as _tf

    from ..operators.materialized import refresh_rollup_incremental
    from ..sources.versioned import (
        compact,
        delete_where,
        read_snapshot,
        update_where,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    base = _os.path.join(_tf.mkdtemp(prefix="wrtd_mvf_"), "")
    src, view = base + "src", base + "view"
    write_snapshot(orders.repartition(8), src, stats_cols=["k"])
    metrics = {"n": ("count", "k"), "cents": ("sum", "cents")}
    refresh_rollup_incremental(
        spark, view, src, ["status"], metrics, retract=True
    )
    delete_where(spark, src, F.col("k") % 101 == 0, strategy="dv")
    update_where(
        spark,
        src,
        F.col("k") <= 200,
        {"cents": F.col("cents") + 100},
        prune={"k": (None, 200)},
    )
    compact(spark, src)
    _, action = refresh_rollup_incremental(
        spark, view, src, ["status"], metrics, retract=True
    )
    assert action == "cdc_fold", action  # the fold path, not a rebuild
    return read_snapshot(spark, view).select(
        "status", "n", F.col("cents").cast("long").alias("cents")
    )


@register(
    "sql_dml_merge",
    """
    SELECT c_custkey,
           CASE WHEN c_custkey < 50 THEN 'renamed_' || c_custkey
                ELSE c_name END AS c_name,
           CASE WHEN c_custkey < 50 THEN c_acctbal + 100
                ELSE c_acctbal END AS acctbal,
           'active' AS status
    FROM customer
    WHERE (c_custkey < 50 OR c_custkey >= 60)
      AND c_custkey NOT BETWEEN 90 AND 99
    UNION ALL
    SELECT c_custkey + 1000000 AS c_custkey,
           'new_' || c_custkey AS c_name,
           0.0 AS acctbal,
           'new' AS status
    FROM customer WHERE c_custkey < 20
    """,
)
def sql_dml_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DML front-end (r11 — sources/versioned_sql.versioned_sql):
    the dim_merge lifecycle driven PURELY through SQL strings — the
    first surface a Delta user touches, and the reference's own upsert
    shape (reference functions.py:178-183 is INSERT ... ON CONFLICT DO
    UPDATE SQL). ALTER ADD COLUMN DEFAULT, a three-clause MERGE
    (matched-update, matched-delete via source op flag, not-matched-
    insert), an expression UPDATE, and a DELETE each parse on the
    driver and route to the audited Python implementations — zero new
    write paths, so every scale property (auto key pruning, CoW/DV
    choice, broadcast) is inherited, not re-proven."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import read_snapshot, write_snapshot
    from ..sources.versioned_sql import versioned_sql

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_sql_dml_"), "dim")
    write_snapshot(customer, t, layout_by=["c_custkey"], layout_files=4)
    versioned_sql(
        spark,
        "ALTER TABLE dim ADD COLUMN status string DEFAULT 'active'",
        tables={"dim": t},
    )
    upd = customer.filter(F.col("c_custkey") < 50).select(
        "c_custkey",
        F.concat(F.lit("renamed_"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("U").alias("op"),
    )
    dels = customer.filter(F.col("c_custkey").between(50, 59)).select(
        "c_custkey", "c_name", "c_acctbal", F.lit("D").alias("op")
    )
    ins = customer.filter(F.col("c_custkey") < 20).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("U").alias("op"),
    )
    upd.unionByName(dels).unionByName(ins).createOrReplaceTempView(
        "sql_dml_merge_src"
    )
    versioned_sql(
        spark,
        """MERGE INTO dim t USING (
             SELECT c_custkey, c_name, c_acctbal, op FROM sql_dml_merge_src
           ) s ON t.c_custkey = s.c_custkey
           WHEN MATCHED AND s.op = 'D' THEN DELETE
           WHEN MATCHED THEN UPDATE SET c_name = s.c_name,
                                        c_acctbal = s.c_acctbal
           WHEN NOT MATCHED THEN INSERT *""",
        tables={"dim": t},
    )
    # inserted rows postdate the column, so their status is physically
    # NULL (initial-default semantics) — stamp them through SQL UPDATE
    versioned_sql(
        spark,
        "UPDATE dim SET status = 'new' WHERE c_custkey >= 1000000",
        tables={"dim": t},
    )
    versioned_sql(
        spark,
        "DELETE FROM dim WHERE c_custkey BETWEEN 90 AND 99",
        tables={"dim": t},
    )
    return read_snapshot(spark, t).select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").alias("acctbal"),
        "status",
    )


@register(
    "sync_changes_delta",
    """
    SELECT o_orderkey AS k,
           o_totalprice + 10.0 AS price,
           'upsert' AS change
    FROM orders WHERE o_orderkey <= 200 AND o_orderkey % 101 <> 0
    UNION ALL
    SELECT o_orderkey + 5000000 AS k, 1.0 AS price, 'upsert' AS change
    FROM orders WHERE o_orderkey <= 50
    UNION ALL
    SELECT o_orderkey AS k, CAST(NULL AS DOUBLE) AS price,
           'delete' AS change
    FROM orders WHERE o_orderkey % 101 = 0
    """,
)
def sync_changes_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call incremental sync WITH deletes (r11 —
    sources/versioned.sync_changes, VERDICT r10 ask #5): an
    update→DV-delete→merge-insert→compact lineage syncs from the base
    version in one call returning (upserts, deleted keys) — upserts
    via the three-grain cv-pruned scan, deletes netted from the
    manifest-planned physical feed by one delta-sized key exceptAll
    (the compaction's carry churn is invisible to both sides). The
    oracle recomputes the exact delta straight from orders; a key both
    updated and deleted (k=101·n ≤ 200) must surface ONLY as a
    delete."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import (
        delete_where,
        merge_into,
        sync_changes,
        update_where,
        write_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_sync_delta_"), "tbl")
    write_snapshot(orders.repartition(8), t, stats_cols=["k"])  # v0
    update_where(
        spark,
        t,
        F.col("k") <= 200,
        {"price": F.col("price") + 10.0},
        prune={"k": (None, 200)},
    )  # v1
    delete_where(spark, t, F.col("k") % 101 == 0, strategy="dv")  # v2
    ins = orders.filter(F.col("k") <= 50).select(
        (F.col("k") + 5_000_000).alias("k"), F.lit(1.0).alias("price")
    )
    merge_into(spark, t, ins, keys=["k"])  # v3
    from ..sources.versioned import compact

    compact(spark, t)  # v4: carry churn must stay invisible
    upserts, deleted = sync_changes(spark, t, 0, keys=["k"])
    return upserts.select(
        "k", "price", F.lit("upsert").alias("change")
    ).unionByName(
        deleted.select(
            "k",
            F.lit(None).cast("double").alias("price"),
            F.lit("delete").alias("change"),
        )
    )


@register(
    "sql_time_travel_read",
    """
    WITH old_snap AS (
      SELECT c_custkey, c_acctbal FROM customer
    ),
    new_snap AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 50.0
                  ELSE c_acctbal END AS c_acctbal
      FROM customer
      WHERE c_custkey NOT BETWEEN 30 AND 39
      UNION ALL
      SELECT c_custkey + 500000 AS c_custkey, 1.0 AS c_acctbal
      FROM customer WHERE c_custkey < 10
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN n.c_custkey IS NULL THEN 'deleted'
                WHEN o.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS change,
           o.c_acctbal AS old_bal,
           n.c_acctbal AS new_bal
    FROM old_snap o FULL OUTER JOIN new_snap n
      ON o.c_custkey = n.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal <> n.c_acctbal
    """,
)
def sql_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SELECT + time travel (r12 — the READ half of the SQL
    front-end, VERDICT r11 ask #1): a write lineage driven through SQL
    DML, then ONE SQL statement diffs two pinned versions —
    ``FROM dim VERSION AS OF 0 FULL OUTER JOIN dim VERSION AS OF 3`` —
    the audit query every lake user writes first. The INSERT's SELECT
    body itself reads ``VERSION AS OF 0`` (the rewriter covers DML
    bodies too). References rewrite to snapshot-pinned temp views
    (versioned_table.register_versioned_view — native parquet scans of
    the pinned files); the reference's whole read surface is SQL strings
    (reference queries.py:4-74)."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import write_snapshot
    from ..sources.versioned_sql import versioned_sql, versioned_sql_script

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_sql_tt_"), "dim")
    write_snapshot(customer, t, layout_by=["c_custkey"], layout_files=4)
    versioned_sql_script(
        spark,
        """UPDATE dim SET c_acctbal = c_acctbal + 50.0
             WHERE c_custkey % 7 = 0;
           DELETE FROM dim WHERE c_custkey BETWEEN 30 AND 39;
           INSERT INTO dim
             SELECT c_custkey + 500000 AS c_custkey,
                    'late_' || CAST(c_custkey AS STRING) AS c_name,
                    CAST(1.0 AS DOUBLE) AS c_acctbal
             FROM dim VERSION AS OF 0 WHERE c_custkey < 10;""",
        tables={"dim": t},
    )
    return versioned_sql(
        spark,
        """SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
                  CASE WHEN n.c_custkey IS NULL THEN 'deleted'
                       WHEN o.c_custkey IS NULL THEN 'inserted'
                       ELSE 'updated' END AS change,
                  o.c_acctbal AS old_bal,
                  n.c_acctbal AS new_bal
           FROM dim VERSION AS OF 0 AS o
           FULL OUTER JOIN dim VERSION AS OF 3 AS n
             ON o.c_custkey = n.c_custkey
           WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
              OR o.c_acctbal <> n.c_acctbal""",
        tables={"dim": t},
    )


@register(
    "temporal_widen_read",
    """
    WITH oldp AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS d
      FROM orders WHERE o_orderkey <= 2000
    ),
    newp AS (
      SELECT o_orderkey AS k,
             CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)
               + (o_orderkey % 24) * INTERVAL 1 HOUR AS d
      FROM orders WHERE o_orderkey BETWEEN 2001 AND 3000
    )
    SELECT k, d FROM (SELECT * FROM oldp UNION ALL SELECT * FROM newp)
    WHERE d >= TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def temporal_widen_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date -> timestamp_ntz widening lifecycle (r12 — VERDICT r11
    missing #4): a DATE-typed table widens through the SQL ALTER
    surface, a second encoding appends non-midnight timestamps, and one
    read crosses both encodings with a stats range bound — old rows
    surface as midnight wall times (deterministic on the Arrow and JVM
    paths alike), and the midnight-extension comparison canon keeps the
    date-shaped file stats from semantically pruning the boundary file.
    The real predicate re-applies below, so the skip_filter is pure
    I/O-pruning — the contract every pruned read in this engine keeps."""
    import datetime as _dt
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import read_snapshot, write_snapshot
    from ..sources.versioned_sql import versioned_sql

    orders = load_table(spark, sf_dir, "orders")
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_twiden_"), "t")
    write_snapshot(
        orders.filter(F.col("o_orderkey") <= 2000).select(
            F.col("o_orderkey").alias("k"),
            F.to_date("o_orderdate").alias("d"),
        ),
        t,
        stats_cols=["d"],
    )
    versioned_sql(
        spark,
        "ALTER TABLE t ALTER COLUMN d TYPE timestamp_ntz",
        tables={"t": t},
    )
    write_snapshot(
        orders.filter(F.col("o_orderkey").between(2001, 3000)).select(
            F.col("o_orderkey").alias("k"),
            F.expr(
                "timestampadd(HOUR, CAST(o_orderkey % 24 AS INT), "
                "CAST(to_date(o_orderdate) AS TIMESTAMP_NTZ))"
            ).alias("d"),
        ),
        t,
        mode="append",
        stats_cols=["d"],
    )
    bound = _dt.datetime(1996, 1, 1)
    return (
        read_snapshot(spark, t, skip_filter={"d": (bound, None)})
        .filter(F.col("d") >= F.lit(bound))
        .select("k", "d")
    )


@register(
    "copy_into_ingest",
    """
    SELECT r_regionkey, r_name, n_nationkey, n_name
    FROM region JOIN nation ON n_regionkey = r_regionkey
    """,
)
def copy_into_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY INTO (r12 — sources/copy_into.py): idempotent name-ledgered
    bulk ingest of two landing files into two versioned tables, each
    COPY re-run immediately (the crash/retry shape, reference
    botrun.py's fetch-then-load) — the oracle's row count proves the
    re-runs ingested NOTHING twice, and the final read goes through the
    SQL SELECT router joining both tables."""
    import os as _os
    import tempfile as _tf

    from ..sources.copy_into import copy_into
    from ..sources.versioned_sql import versioned_sql

    base = _os.path.join(_tf.mkdtemp(prefix="wrtd_copy_"), "")
    tr, tn = base + "region", base + "nation"
    for tbl, src in ((tr, "region"), (tn, "nation")):
        path = _os.path.join(sf_dir, f"{src}.parquet")
        copy_into(spark, tbl, path)
        again = copy_into(spark, tbl, path)  # idempotent retry: no-op
        assert again is None, f"retry re-ingested {src}"
    return versioned_sql(
        spark,
        """SELECT r_regionkey, r_name, n_nationkey, n_name
           FROM region JOIN nation ON n_regionkey = r_regionkey""",
        tables={"region": tr, "nation": tn},
    )


@register(
    "sql_cdf_read",
    """
    SELECT c_custkey AS k, c_acctbal AS bal, 'delete' AS ct
    FROM customer
    WHERE c_custkey BETWEEN 20 AND 29 OR c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey AS k, c_acctbal + 10.0 AS bal, 'insert' AS ct
    FROM customer
    WHERE c_custkey % 5 = 0 AND c_custkey NOT BETWEEN 20 AND 29
    """,
)
def sql_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed through SQL (r12): Delta's ``table_changes`` TVF —
    one UPDATE + one DELETE lineage, then a single SQL statement reads
    the net row-level diff of the whole range. The oracle reconstructs
    the exact delete/insert pairs from the raw table, so a mis-folded
    carry, a resurrected delete, or a wrong-side value breaks the hash.
    The TVF rewrites to a temp view over the audited
    :func:`~.versioned.table_changes` (keyed row-id diff over only the
    endpoint-changed segments — O(changed rows) at 100 TB)."""
    import os as _os
    import tempfile as _tf

    from ..sources.versioned import delete_where, update_where, write_snapshot
    from ..sources.versioned_sql import versioned_sql

    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    )
    t = _os.path.join(_tf.mkdtemp(prefix="wrtd_cdf_"), "t")
    write_snapshot(customer, t, stats_cols=["k"])
    update_where(
        spark, t, F.col("k") % 5 == 0, {"bal": F.col("bal") + 10.0}
    )
    delete_where(spark, t, F.col("k").between(20, 29))
    return versioned_sql(
        spark,
        "SELECT k, bal, _change_type AS ct FROM table_changes('t', 0)",
        tables={"t": t},
    )


@register(
    "convert_adopt_read",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def convert_adopt_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERT TO VERSIONED (r12): zero-copy adoption of an existing
    parquet directory — the onboarding path for a corpus that already
    exists. The nation file HARDLINKS into a fresh directory (no data
    copied), converts in place with stats, and one SQL SELECT reads it
    back — the hash proves adoption is byte-faithful."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from ..sources.versioned import convert_to_versioned
    from ..sources.versioned_sql import versioned_sql

    d = _os.path.join(_tf.mkdtemp(prefix="wrtd_convert_"), "t")
    _os.makedirs(d)
    src = _os.path.join(sf_dir, "nation.parquet")
    dst = _os.path.join(d, "nation.parquet")
    try:
        _os.link(src, dst)
    except OSError:
        _sh.copy2(src, dst)  # cross-device fallback
    convert_to_versioned(spark, d, stats_cols=["n_nationkey"])
    return versioned_sql(
        spark,
        "SELECT n_nationkey, n_name, n_regionkey FROM t",
        tables={"t": d},
    )
