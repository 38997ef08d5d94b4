"""Relational query surface (SURVEY.md §2.2): TPC-H shapes, the SQL-surface
queries (joins, aggregations, windows, sorts, set operations, scalar
functions), file-format sources and the shuffle-engineering scale patterns.

The reference implements zero relational operators — its consumers query
change records procedurally (`wal/TableRecord.java:20-24`). In this engine
the whole Spark SQL surface is the consumer API, and this module declares
the part of the inventory that exercises it.

Exactness convention: monetary doubles are cast to exact decimals *before*
any arithmetic (`DEC(c)`), summed exactly, and cast to double at the end —
the resulting bits match DuckDB's regardless of execution order. Per-row
double arithmetic (deterministic IEEE) is allowed in outputs. Double-typed
aggregates are only used where every addend is integer-valued or the
aggregate is order-insensitive (MIN/MAX/COUNT); array-valued outputs are
serialized to comma-joined strings so the harness canonicalizer can hash
them. Approximate operators (HLL, quantile sketch) emit the EXACT value plus
a BOOLEAN asserting the sketch landed within its error bound; moment
statistics sum exact-decimal moments and combine them in double with an
identical expression shape on both engines.

Source/sink coverage: each ``source_*`` query WRITES a fixture table to the
format under /tmp and READS it back with an explicit schema before
aggregating, so the scan, the sink and the format's type round-trip are all
on the verified path. Avro is environment-blocked: spark-avro is an
external package. Scale patterns are pure physical rewrites, each verified
against the straightforward formulation's oracle.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from postgresql_cdc_spark.operators.layout import z_sql
from postgresql_cdc_spark.operators.skew import salted_agg, write_bucketed
from postgresql_cdc_spark.plans.common import (
    D,
    DEC,
    EV,
    ONE_MINUS,
    ONE_PLUS,
    SESSIONIZED_EVENTS_CTE,
    T,
    TOKS,
    roundtrip_dir,
    sessionized_events,
)
from postgresql_cdc_spark.plans.registry import register


# ---------------------------------------------------------------------------
# TPC-H-shaped analytics
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))
                    * (1.00::DECIMAL(3,2) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan filter + hash agg with exact-decimal sums.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            D(F.sum(DEC("l_quantity"))).alias("sum_qty"),
            D(F.sum(DEC("l_extendedprice"))).alias("sum_base_price"),
            D(F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount"))).alias("sum_disc_price"),
            D(
                F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount") * ONE_PLUS("l_tax"))
            ).alias("sum_charge"),
            (D(F.sum(DEC("l_quantity"))) / cnt).alias("avg_qty"),
            (D(F.sum(DEC("l_extendedprice"))) / cnt).alias("avg_price"),
            (D(F.sum(F.col("l_discount").cast("decimal(4,2)"))) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: 3-way join + agg + top-k; customer side broadcasts.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = T(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(D(F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    """
    SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM region JOIN nation   ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders   ON o_custkey   = c_custkey
                JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY r_name, n_name
    """,
    doc="TPC-H Q5 shape: 5-way star join; dims broadcast, fact shuffles once.",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = T(spark, sf_dir, "lineitem")
    dim = F.broadcast(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
            F.broadcast(r), n.n_regionkey == r.r_regionkey
        )
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(dim, o.o_custkey == dim.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            D(F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure pushed-down filter + global agg (no shuffle of data, partial aggs only).",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            D(F.sum(DEC("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, top 20.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(D(F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Join flavors
# ---------------------------------------------------------------------------


@register(
    "join_semi_customers_with_final_orders",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    doc="left-semi join (EXISTS).",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti_customers_without_pending_orders",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
    doc="left-anti join (NOT EXISTS).",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_outer_order_counts",
    """
    SELECT c_custkey,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 0) AS DOUBLE) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
    doc="left-outer join preserving order-less customers + null-safe agg.",
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            D(F.coalesce(F.sum(DEC("o_totalprice", 14, 2)), F.lit(0))).alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------


@register(
    "agg_rollup_region_nation",
    """
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS sum_acctbal
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP hierarchy subtotals.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            D(F.sum(DEC("c_acctbal", 14, 2))).alias("sum_acctbal"),
        )
    )


@register(
    "agg_cube_flag_status",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over two low-cardinality dims.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), D(F.sum(DEC("l_quantity"))).alias("sum_qty")
    )


@register(
    "agg_grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
    doc="explicit GROUPING SETS via Spark SQL.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    T(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "agg_distinct_parts_per_flag",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="multi distinct-aggregate (expand + two-phase agg).",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders) t
    WHERE rk <= 3
    """,
    doc="top-k per group via ROW_NUMBER (load-bearing pattern for CDC upsert).",
)
def window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "window_running_spend",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
    doc="running decimal sum per customer (exact, order made deterministic by key tiebreak).",
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        D(F.sum(DEC("o_totalprice", 14, 2)).over(w)).alias("running_spend"),
    )


@register(
    "window_order_gap_days",
    """
    SELECT o_custkey, o_orderkey,
           date_diff('day',
                     lag(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey),
                     o_orderdate) AS gap_days
    FROM orders
    """,
    doc="LAG: days since the customer's previous order.",
)
def window_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lag(F.col("o_orderdate").cast("date")).over(w)
        ).alias("gap_days"),
    )


# ---------------------------------------------------------------------------
# Sorts / set ops / scalar functions
# ---------------------------------------------------------------------------


@register(
    "sort_topn_lineitems",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           CAST(CAST(l_extendedprice AS DECIMAL(12,4))
                * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS net
    FROM lineitem
    ORDER BY net DESC, l_orderkey, l_linenumber
    LIMIT 15
    """,
    doc="global top-N (TakeOrderedAndProject — no full sort).",
)
def sort_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    return (
        l.select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            D(DEC("l_extendedprice") * ONE_MINUS("l_discount")).alias("net"),
        )
        .orderBy(F.desc("net"), "l_orderkey", "l_linenumber")
        .limit(15)
    )


_SETOP_A = "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_SETOP_B = "SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000"


def _setop_frames(spark, sf_dir):
    a = (
        T(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    b = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a, b


@register(
    "setop_union",
    f"SELECT c_custkey FROM ({_SETOP_A} UNION {_SETOP_B}) t",
    doc="UNION DISTINCT.",
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_frames(spark, sf_dir)
    return a.union(b).distinct()


@register(
    "setop_intersect",
    f"SELECT c_custkey FROM ({_SETOP_A} INTERSECT {_SETOP_B}) t",
    doc="INTERSECT.",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_frames(spark, sf_dir)
    return a.intersect(b)


@register(
    "setop_except",
    f"SELECT c_custkey FROM ({_SETOP_A} EXCEPT {_SETOP_B}) t",
    doc="EXCEPT DISTINCT.",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _setop_frames(spark, sf_dir)
    return a.exceptAll(b).distinct()


@register(
    "scalar_string_funcs",
    """
    SELECT p_brand,
           COUNT(*) AS n,
           CAST(SUM(length(p_name)) AS BIGINT) AS total_name_len,
           COUNT(DISTINCT upper(p_type)) AS n_types,
           MIN(substr(p_name, 1, 5)) AS min_prefix,
           CAST(SUM(CASE WHEN p_name LIKE '%a%' THEN 1 ELSE 0 END) AS BIGINT) AS n_with_a
    FROM part
    GROUP BY p_brand
    """,
    doc="string scalar functions inside codegen (length/upper/substr/LIKE).",
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("p_name")).alias("total_name_len"),
        F.countDistinct(F.upper("p_type")).alias("n_types"),
        F.min(F.substring("p_name", 1, 5)).alias("min_prefix"),
        F.sum(F.when(F.col("p_name").like("%a%"), 1).otherwise(0)).alias("n_with_a"),
    )


@register(
    "scalar_date_funcs",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2
    """,
    doc="date part extraction + agg.",
)
def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("order_year"), F.month("o_orderdate").alias("order_month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        D(F.sum(DEC("o_totalprice", 14, 2))).alias("total"),
    )


@register(
    "json_events_extract",
    r"""
    SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) % 10 AS k_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
    doc="JSON column: Spark from_json vs oracle regexp ground truth.",
)
def json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir)
    parsed = e.select(
        F.from_json("props", "k INT").getField("k").alias("k"), F.col("value")
    )
    return parsed.groupBy((F.col("k") % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        D(F.sum(DEC("value", 12, 2))).alias("sum_value"),
    )


@register(
    "q4_priority_count",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS semijoin + priority count.",
)
def q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = T(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q12_late_priority_class",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE date_diff('day', o_orderdate, l_shipdate) > 90
    GROUP BY l_linestatus
    """,
    doc="TPC-H Q12 shape: late shipments classified by order priority "
        "(two-way conditional agg after join).",
)
def q12_late_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(
            F.datediff(F.col("l_shipdate").cast("date"),
                       F.col("o_orderdate").cast("date")) > 90
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    """
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(12,4))
                              * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))
                         END) AS DOUBLE) * 100.0
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS promo_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: promo revenue share (conditional decimal sums, "
        "one double division at the end).",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    l = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    net = DEC("l_extendedprice") * ONE_MINUS("l_discount")
    # No forced broadcast: part is unfiltered and scales with the fact tables,
    # so a hard F.broadcast OOMs at 100x where AQE would pick SMJ; at small SF
    # AQE still chooses broadcast-hash from the runtime size.
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (
                D(F.sum(F.when(F.col("p_type") == "PROMO", net))) * 100.0
                / D(F.sum(net))
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q17_small_qty_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (SELECT CAST(0.2 AS DOUBLE) * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-H Q17 shape: correlated scalar subquery (per-part avg quantity). "
        "l_quantity is integer-valued so the double AVG is order-exact.",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Brand filter first, broadcast into lineitem, THEN compute the correlated
    # per-part average over only the surviving rows: the window-style agg sees
    # ~1/25th of lineitem instead of all of it, and both the groupBy and the
    # self-join hash on l_partkey so the exchange is reused.
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    # p is pre-filtered to one brand (~1/25 of part) — small enough that AQE
    # broadcasts it from runtime stats; no forced broadcast (see q14 note).
    lb = l.join(p, l.l_partkey == p.p_partkey)
    per_part = lb.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_q")
    )
    return (
        lb.join(per_part, lb.l_partkey == per_part.pk)
        .where(F.col("l_quantity") < F.lit(0.2).cast("double") * F.col("avg_q"))
        .agg(
            (D(F.sum(DEC("l_extendedprice"))) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q18_large_volume_orders",
    """
    SELECT c_custkey, o_orderkey, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 250)
    GROUP BY c_custkey, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape: HAVING-derived IN-subquery semijoin + top-N.",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One pass over lineitem computes per-order quantity; the >250 filter
    # leaves a tiny set, which then BROADCASTS into orders and again into
    # customer. Never re-joins lineitem (the oracle's re-aggregation of the
    # joined fact collapses to the already-computed per-order sum), and never
    # broadcasts the big customer table — the small derived side ships instead.
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    # heavy_orders is the per-order aggregate AFTER the >250 filter — a tiny
    # derived set (not the lineitem fact), hence safe to broadcast.
    heavy_orders = (
        l.groupBy("l_orderkey")
        .agg(F.sum(DEC("l_quantity")).alias("sq"))
        .where(F.col("sq") > 250)
    )
    small = o.join(
        F.broadcast(heavy_orders), o.o_orderkey == heavy_orders.l_orderkey
    ).select(
        "o_custkey", "o_orderkey", "o_totalprice", D(F.col("sq")).alias("total_qty")
    )
    return (
        c.join(F.broadcast(small), F.col("c_custkey") == small.o_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_disjunctive_filter",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_type = 'PROMO' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunction of conjunctive ranges — exercises OR "
        "predicate pushdown / CNF conversion across a join.",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    l = T(spark, sf_dir, "lineitem")
    # No forced broadcast of the unfiltered part table (see q14 note).
    j = l.join(p, l.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(cond).agg(
        D(F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q22_idle_rich_customers",
    """
    WITH thresh AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS ab
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_bal
    FROM customer c, thresh
    WHERE c.c_acctbal > thresh.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22 shape: scalar subquery threshold (exact-decimal mean) + "
        "NOT EXISTS anti-join. The fixture gives every customer at least one "
        "order, so the anti-join targets *pending* orders to stay non-trivial.",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    pos = c.where(F.col("c_acctbal") > 0.0)
    thresh = pos.agg(
        (D(F.sum(DEC("c_acctbal", 14, 2))) / F.count(F.lit(1))).alias("ab")
    )
    return (
        c.join(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            D(F.sum(DEC("c_acctbal", 14, 2))).alias("total_bal"),
        )
    )


@register(
    "scalar_math_funcs",
    """
    SELECT l_returnflag,
           MIN(round(sqrt(l_quantity), 6)) AS min_sqrt_qty,
           MAX(round(sqrt(l_extendedprice), 6)) AS max_sqrt_price,
           MAX(abs(l_discount - 0.05)) AS max_abs_disc,
           CAST(SUM(CAST(floor(l_extendedprice / 1000.0) AS BIGINT)) AS BIGINT)
             AS sum_floor_k,
           CAST(SUM(CAST(ceil(l_tax * 100.0) AS BIGINT)) AS BIGINT) AS sum_ceil_tax,
           MIN(l_orderkey % 97) AS min_mod,
           MAX(greatest(l_discount, l_tax)) AS max_rate,
           MIN(least(l_discount, l_tax)) AS min_rate
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Math scalar functions in codegen: sqrt/abs/floor/ceil/mod/greatest/"
        "least. Aggregates are order-insensitive (MIN/MAX) or integer-exact "
        "sums, so doubles hash identically across engines.",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.min(F.round(F.sqrt("l_quantity"), 6)).alias("min_sqrt_qty"),
        F.max(F.round(F.sqrt("l_extendedprice"), 6)).alias("max_sqrt_price"),
        F.max(F.abs(F.col("l_discount") - 0.05)).alias("max_abs_disc"),
        F.sum(F.floor(F.col("l_extendedprice") / 1000.0).cast("long"))
        .cast("long").alias("sum_floor_k"),
        F.sum(F.ceil(F.col("l_tax") * 100.0).cast("long"))
        .cast("long").alias("sum_ceil_tax"),
        F.min(F.col("l_orderkey") % 97).alias("min_mod"),
        F.max(F.greatest("l_discount", "l_tax")).alias("max_rate"),
        F.min(F.least("l_discount", "l_tax")).alias("min_rate"),
    )


@register(
    "scalar_array_struct_funcs",
    """
    SELECT p_partkey,
           3 AS arr_len,
           p_size * 2 AS second_elem,
           list_contains([p_size, p_size * 2, 7], 7) AS has_seven,
           array_to_string(list_transform(
               list_sort([p_size, p_size * 2, 7]), x -> CAST(x AS VARCHAR)), ',')
             AS sorted_csv,
           array_to_string(list_transform(
               list_reverse_sort([p_size, p_size * 2, 7]), x -> CAST(x AS VARCHAR)), ',')
             AS desc_csv,
           p_size + p_size * 2 + 7 AS arr_sum,
           p_brand AS s_brand, p_size AS s_size
    FROM part
    """,
    doc="Array + struct scalar surface: construction, element access, "
        "contains, sort asc/desc, HOF fold, struct field access. The oracle "
        "states the expected VALUES directly (struct/map layouts differ "
        "across engines; their contents must not). Arrays serialize to CSV "
        "strings for the hash gate.",
)
def scalar_array_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    arr = F.array(
        F.col("p_size"), F.col("p_size") * 2, F.lit(7)
    )
    st = F.struct(F.col("p_brand").alias("brand"), F.col("p_size").alias("size"))
    return p.select(
        "p_partkey",
        F.size(arr).alias("arr_len"),
        F.element_at(arr, 2).alias("second_elem"),
        F.array_contains(arr, 7).alias("has_seven"),
        F.array_join(F.array_sort(arr).cast("array<string>"), ",").alias("sorted_csv"),
        F.array_join(
            F.reverse(F.array_sort(arr)).cast("array<string>"), ","
        ).alias("desc_csv"),
        F.aggregate(arr, F.lit(0), lambda a, x: a + x).alias("arr_sum"),
        st.getField("brand").alias("s_brand"),
        st.getField("size").alias("s_size"),
    )


@register(
    "window_rank_funcs",
    """
    SELECT o_custkey, o_orderkey,
           DENSE_RANK()   OVER w AS drk,
           CAST(PERCENT_RANK() OVER w AS DOUBLE) AS prk,
           NTILE(4)       OVER w AS quartile,
           FIRST_VALUE(o_orderkey) OVER w AS first_ok,
           LEAD(o_orderkey) OVER w AS next_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Ranking-window surface: dense_rank / percent_rank / ntile / "
        "first_value / lead with a deterministic tie-broken frame.",
)
def window_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drk"),
        F.percent_rank().over(w).cast("double").alias("prk"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
    )


@register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               l_extendedprice, l_discount
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    )
    GROUP BY supp_nation, cust_nation, o_year
    """,
    doc="TPC-H Q7 shape: bidirectional nation-pair shipping volume by year. "
        "Fact tables shuffle once on orderkey; the nation-filtered customer "
        "and supplier maps broadcast.",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = F.col("n_name").isin("NATION_3", "NATION_7")
    cmap = F.broadcast(
        T(spark, sf_dir, "customer")
        .join(F.broadcast(n.where(pair)), F.col("c_nationkey") == n.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    smap = F.broadcast(
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(n.where(pair)), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    j = (
        l.join(smap, l.l_suppkey == smap.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(cmap, o.o_custkey == cmap.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            D(F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))
                    - CAST(p_retailprice AS DECIMAL(12,2))
                      * CAST(l_quantity AS DECIMAL(12,4)) * 0.10::DECIMAL(3,2))
                AS DOUBLE) AS profit
    FROM (
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               l_extendedprice, l_discount, p_retailprice, l_quantity
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape: profit by supplier nation and order year for parts "
        "matching a name pattern (supply cost modeled as 10% of retail price "
        "— the fixture has no partsupp). Part filter broadcasts into the "
        "fact; one orderkey shuffle.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    p = T(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    smap = F.broadcast(
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    profit_term = (
        DEC("l_extendedprice") * ONE_MINUS("l_discount")
        - DEC("p_retailprice", 12, 2) * DEC("l_quantity")
        * F.lit("0.10").cast("decimal(3,2)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(smap, l.l_suppkey == smap.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(D(F.sum(profit_term)).alias("profit"))
    )


@register(
    "q20_part_shippers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,4))) > 40
    )
    """,
    doc="TPC-H Q20 shape: suppliers who shipped a large volume of any PROMO "
        "part — IN-subquery over a grouped HAVING, realized as semijoin on "
        "the aggregated (supplier, part) set.",
)
def q20_part_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = T(spark, sf_dir, "supplier")
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    heavy = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(DEC("l_quantity")).alias("sq"))
        .where(F.col("sq") > 40)
        .select("l_suppkey")
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "q21_last_shippers",
    """
    WITH marked AS (
        SELECT l_suppkey, l_orderkey, l_shipdate,
               MAX(l_shipdate) OVER (PARTITION BY l_orderkey) AS max_ship,
               COUNT(DISTINCT l_suppkey) OVER (PARTITION BY l_orderkey) AS n_supp
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier JOIN (
        SELECT DISTINCT l_suppkey, l_orderkey FROM marked
        WHERE l_shipdate = max_ship AND n_supp > 1
    ) ON s_suppkey = l_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    doc="TPC-H Q21 shape: suppliers who shipped LAST in multi-supplier "
        "finished orders — the correlated MAX and EXISTS subqueries collapse "
        "into two window functions over one orderkey partition.",
)
def q21_last_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = T(spark, sf_dir, "supplier")
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    w = Window.partitionBy("l_orderkey")
    marked = (
        l.join(o.select("o_orderkey"), l.l_orderkey == F.col("o_orderkey"), "left_semi")
        .select(
            "l_suppkey", "l_orderkey", "l_shipdate",
            F.max("l_shipdate").over(w).alias("max_ship"),
            F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        )
        .where((F.col("l_shipdate") == F.col("max_ship")) & (F.col("n_supp") > 1))
        .select("l_suppkey", "l_orderkey")
        .distinct()
    )
    return (
        marked.join(F.broadcast(s), marked.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@register(
    "join_range_buckets",
    """
    WITH buckets(bucket_name, b_start, b_end) AS (VALUES
        ('1996Q1', TIMESTAMP '1996-01-01 00:00:00', TIMESTAMP '1996-04-01 00:00:00'),
        ('1996Q2', TIMESTAMP '1996-04-01 00:00:00', TIMESTAMP '1996-07-01 00:00:00'),
        ('1996Q3', TIMESTAMP '1996-07-01 00:00:00', TIMESTAMP '1996-10-01 00:00:00'),
        ('1996Q4', TIMESTAMP '1996-10-01 00:00:00', TIMESTAMP '1997-01-01 00:00:00'))
    SELECT bucket_name, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM orders JOIN buckets
      ON o_orderdate >= b_start AND o_orderdate < b_end
    GROUP BY bucket_name
    """,
    doc="Non-equi (theta/range) join: orders against a tiny interval "
        "dimension on a BETWEEN-style predicate — broadcast nested-loop "
        "join, the correct physical plan when one side is literal-small.",
)
def join_range_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    rows = [
        ("1996Q1", "1996-01-01 00:00:00", "1996-04-01 00:00:00"),
        ("1996Q2", "1996-04-01 00:00:00", "1996-07-01 00:00:00"),
        ("1996Q3", "1996-07-01 00:00:00", "1996-10-01 00:00:00"),
        ("1996Q4", "1996-10-01 00:00:00", "1997-01-01 00:00:00"),
    ]
    b = spark.createDataFrame(
        rows, "bucket_name string, b_start string, b_end string"
    ).select(
        "bucket_name",
        F.col("b_start").cast("timestamp").alias("b_start"),
        F.col("b_end").cast("timestamp").alias("b_end"),
    )
    return (
        o.join(
            F.broadcast(b),
            (o.o_orderdate >= F.col("b_start")) & (o.o_orderdate < F.col("b_end")),
        )
        .groupBy("bucket_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            D(F.sum(DEC("o_totalprice", 14, 2))).alias("total_value"),
        )
    )


@register(
    "window_range_frame",
    """
    SELECT o_orderkey, o_custkey, cents,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY cents
                          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
             AS n_within_100,
           CAST(SUM(cents) OVER (PARTITION BY o_custkey ORDER BY cents
                                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cents_within_100
    FROM (SELECT o_orderkey, o_custkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          FROM orders)
    """,
    doc="RANGE window frame (value-based, not row-based): per customer, how "
        "many of their orders fall within $100 below each order's value. "
        "Order key is exact integer cents so frame bounds agree bit-for-bit.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        (DEC("o_totalprice", 12, 2) * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("cents")
        .rangeBetween(-10000, Window.currentRow)
    )
    return o.select(
        "o_orderkey", "o_custkey", "cents",
        F.count(F.lit(1)).over(w).alias("n_within_100"),
        F.sum("cents").over(w).cast("long").alias("cents_within_100"),
    )


@register(
    "agg_approx_sketches",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts_exact,
           TRUE AS hll_within_5pct,
           CAST(quantile_cont(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT), 0.5)
                AS DOUBLE) AS median_cents,
           TRUE AS quantile_within_2pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Sketch aggregates with bounded-error gates: HyperLogLog "
        "approx_count_distinct and the quantile sketch each run alongside "
        "their exact twin; the query emits the exact value plus a boolean "
        "asserting the sketch landed within its error bound (oracle expects "
        "literal TRUE, so sketch drift fails the hash gate).",
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_partkey",
        (DEC("l_extendedprice", 12, 2) * 100).cast("long").alias("cents"),
    )
    g = l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts_exact"),
        F.approx_count_distinct("l_partkey").alias("__hll"),
        F.expr("percentile(cents, 0.5)").alias("median_cents"),
        F.expr("approx_percentile(cents, 0.5)").alias("__apct"),
    )
    return g.select(
        "l_returnflag",
        "n_parts_exact",
        (
            F.abs(F.col("__hll") - F.col("n_parts_exact"))
            <= 0.05 * F.col("n_parts_exact")
        ).alias("hll_within_5pct"),
        "median_cents",
        (
            F.abs(F.col("__apct") - F.col("median_cents"))
            <= 0.02 * F.col("median_cents")
        ).alias("quantile_within_2pct"),
    )


@register(
    "scalar_stats_funcs",
    """
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               -- DECIMAL(19,4) forces int128 storage in DuckDB so the
               -- product doesn't overflow the int64 decimal fast path;
               -- values are identical to Spark's (12,4)x(12,4) products.
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                        * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,4))
                        * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(19,4))
                        * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round(sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))), 9) AS stddev_qty,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 9) AS corr_qty_price
    FROM m
    """,
    doc="Statistical aggregates (sample stddev, Pearson corr) from exact "
        "decimal moments: Σx/Σx²/Σxy accumulate exactly, the closed-form "
        "combination runs in double with identical expression shape on both "
        "engines, rounded to 9 dp to absorb the 1-ulp decimal->double cast difference between engines on >2^53 scaled values. (The "
        "builtin stddev/corr are order-sensitive; a unit test checks they "
        "agree with these to float tolerance.)",
)
def scalar_stats_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    qd, pd_ = DEC("l_quantity"), DEC("l_extendedprice")
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        D(F.sum(qd)).alias("sx"),
        D(F.sum(qd * qd)).alias("sxx"),
        D(F.sum(pd_)).alias("sy"),
        D(F.sum(pd_ * pd_)).alias("syy"),
        D(F.sum(qd * pd_)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    return m.select(
        "l_returnflag",
        "n",
        F.round(
            F.sqrt((nd * F.col("sxx") - F.col("sx") * F.col("sx"))
                   / (nd * (nd - F.lit(1.0)))), 9).alias("stddev_qty"),
        F.round(
            (nd * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.sqrt(nd * F.col("sxx") - F.col("sx") * F.col("sx"))
               * F.sqrt(nd * F.col("syy") - F.col("sy") * F.col("sy"))),
            9).alias("corr_qty_price"),
    )


@register(
    "agg_percentile_disc",
    """
    SELECT l_returnflag,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50_qty,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_qty,
           percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)
             AS p99_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="ANSI discrete percentiles (PERCENTILE_DISC WITHIN GROUP): the "
        "returned value is an actual data element (smallest value whose "
        "cumulative distribution >= p), so doubles compare exactly across "
        "engines — no interpolation formula to disagree on. Exact "
        "percentiles inherently buffer the group (SortAggregate); the "
        "bounded-memory scale path is approx_percentile, gated in "
        "agg_approx_sketches.",
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
        .alias("p50_qty"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)")
        .alias("p90_qty"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice)")
        .alias("p99_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_pivot_linestatus",
    """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F_cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)))
                FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS F_qty,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O_cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)))
                FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS O_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="PIVOT (long-to-wide): per return flag, one column pair per line "
        "status, with the pivot values enumerated explicitly — on a real "
        "cluster an unenumerated pivot first runs a distinct scan to collect "
        "them, an avoidable job. Plans as ONE hash aggregate with "
        "conditional aggregation buffers (exactly the FILTER-clause twin the "
        "oracle runs); quantities route through exact decimals per the DEC "
        "convention.",
)
def agg_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            D(F.sum(DEC("l_quantity"))).alias("qty"),
        )
    )
    return out.select(
        "l_returnflag",
        F.col("F_cnt"), F.col("F_qty"), F.col("O_cnt"), F.col("O_qty"),
    )


@register(
    "agg_unpivot_measures",
    """
    WITH u AS (
        SELECT l_returnflag, 'l_quantity' AS measure,
               CAST(l_quantity AS DECIMAL(14,4)) AS v FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_extendedprice',
               CAST(l_extendedprice AS DECIMAL(14,4)) FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_discount',
               CAST(l_discount AS DECIMAL(14,4)) FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_tax',
               CAST(l_tax AS DECIMAL(14,4)) FROM lineitem
    )
    SELECT l_returnflag, measure, COUNT(*) AS n,
           CAST(SUM(v) AS DOUBLE) AS total
    FROM u GROUP BY l_returnflag, measure
    """,
    doc="UNPIVOT (wide-to-long, pivot's inverse): four measure columns melt "
        "into (measure, value) rows via the native unpivot operator — a "
        "per-row Expand projection, NO extra scan, where the oracle's "
        "UNION-ALL formulation reads the table four times (Spark's unpivot "
        "is the operator a metrics-catalog export runs at scale). Exact "
        "decimal sums; one hash aggregate after the expand.",
)
def agg_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.select(
        "l_returnflag",
        *[F.col(c).cast("decimal(14,4)").alias(c) for c in measures],
    ).unpivot(
        ids=["l_returnflag"], values=measures,
        variableColumnName="measure", valueColumnName="v",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").cast("double").alias("total"),
    )


@register(
    "q2_min_cost_supplier",
    """
    WITH regional AS (
        SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice,
               s.s_acctbal, s.s_name, n.n_name
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT DISTINCT rg.s_acctbal, rg.s_name, rg.n_name,
           p.p_partkey, p.p_brand, rg.l_extendedprice AS min_price
    FROM part p JOIN regional rg ON rg.l_partkey = p.p_partkey
    WHERE p.p_size = 15
      AND rg.l_extendedprice = (
          SELECT MIN(r2.l_extendedprice) FROM regional r2
          WHERE r2.l_partkey = p.p_partkey)
    ORDER BY rg.s_acctbal DESC, rg.s_name, rg.n_name, p.p_partkey, min_price
    LIMIT 100
    """,
    doc="TPC-H Q2 shape: per-part correlated MIN subquery — cheapest European "
        "offer per size-15 part (lineitem stands in for partsupp). Spark "
        "plan: groupBy-min per part, joined back (no per-row subquery); "
        "doubles compare for equality because both engines read the same "
        "parquet bits and never do arithmetic on them.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = T(spark, sf_dir, "part").where(F.col("p_size") == 15).select(
        "p_partkey", "p_brand"
    )
    # supplier -> nation -> region is dimension-sized: broadcast the map.
    smap = F.broadcast(
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    # regional feeds BOTH the per-part MIN and the final equality join; the
    # branches differ (one aggregates first) so Catalyst cannot reuse the
    # exchange and would otherwise scan the lineitem chain twice. Persist the
    # skinny filtered intermediate — at 100 TB this is the difference between
    # one and two fact scans. The harness clears the cache between queries.
    regional = (
        T(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(smap, F.col("l_suppkey") == smap.s_suppkey)
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .persist()
    )
    # The correlated MIN becomes one hash-agg per part; both the agg and the
    # join back hash on l_partkey so the exchange is reused.
    min_price = regional.groupBy(F.col("l_partkey").alias("mp_pk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    out = (
        regional.join(
            min_price,
            (regional.l_partkey == min_price.mp_pk)
            & (regional.l_extendedprice == min_price.min_price),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "min_price")
        .distinct()
    )
    return out.orderBy(
        F.desc("s_acctbal"), "s_name", "n_name", "p_partkey", "min_price"
    ).limit(100)


@register(
    "q8_market_share",
    """
    WITH vols AS (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               CAST(l_extendedprice AS DECIMAL(12,4))
                 * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2))) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_items
    FROM vols GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: NATION_3 suppliers' share of European customers' "
        "order volume per year. Numerator and denominator sum as exact "
        "decimals; the division is the only double op, identical on both "
        "engines. Dimension maps broadcast; facts shuffle once on orderkey.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    cmap = F.broadcast(
        T(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    smap = F.broadcast(
        T(spark, sf_dir, "supplier")
        .join(
            n.select("n_nationkey", F.col("n_name").alias("supp_nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    vols = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cmap, o.o_custkey == cmap.c_custkey)
        .join(smap, l.l_suppkey == smap.s_suppkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            (DEC("l_extendedprice") * ONE_MINUS("l_discount")).alias("volume"),
            "supp_nation",
        )
    )
    return vols.groupBy("o_year").agg(
        (
            D(F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))))
            / D(F.sum("volume"))
        ).alias("mkt_share"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q11_important_stock",
    """
    WITH held AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                   * CAST(l_quantity AS DECIMAL(12,4))) AS value_dec
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE s_nationkey = 3
        GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM held
    WHERE CAST(value_dec AS DOUBLE)
          > 0.001 * (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM held)
    """,
    doc="TPC-H Q11 shape: parts whose NATION_3-supplied value exceeds a "
        "fraction of the global total — HAVING over a scalar aggregate. "
        "Per-part values sum exactly in decimal; the threshold compare runs "
        "in double with the identical expression on both engines.",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier").where(F.col("s_nationkey") == 3)
    # held feeds the global total AND the threshold filter — persist the
    # per-part aggregate (vocabulary-sized) so lineitem scans once.
    held = (
        l.join(F.broadcast(s.select("s_suppkey")), l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(DEC("l_extendedprice") * DEC("l_quantity")).alias("value_dec"))
        .persist()
    )
    # Global total: a one-row aggregate broadcast into the filter — no second
    # scan of lineitem, no shuffle (AQE turns the cross join into BNLJ with a
    # single-row build side).
    total = held.agg(D(F.sum("value_dec")).alias("__total"))
    return (
        held.crossJoin(F.broadcast(total))
        .where(D(F.col("value_dec")) > F.lit(0.001) * F.col("__total"))
        .select("l_partkey", D(F.col("value_dec")).alias("part_value"))
    )


@register(
    "q13_order_count_distribution",
    """
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: distribution of customers by non-urgent order "
        "count — left join keeps order-less customers (c_count 0), "
        "COUNT(col) skips the null-extended rows. Two hash aggs; the first "
        "reuses the join's custkey partitioning.",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                   * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2))))
                 AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
    doc="TPC-H Q15 shape: quarterly revenue view + scalar MAX equality picks "
        "the top supplier(s). The MAX compare happens on exact decimals, so "
        "ties are engine-independent; the revenue CTE computes once and "
        "feeds both the MAX and the final join.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    # revenue feeds the MAX and the equality filter — persist the supplier-
    # sized aggregate so the quarter's lineitem slice scans once.
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount")).alias("total_rev")
    ).persist()
    mx = revenue.agg(F.max("total_rev").alias("__mx"))
    top = (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("__mx"))
        .select("supplier_no", D(F.col("total_rev")).alias("total_revenue"))
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(F.broadcast(top), s.s_suppkey == top.supplier_no).select(
        "s_suppkey", "s_name", "total_revenue"
    )


@register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 49)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: distinct-supplier counts per part attribute combo, "
        "excluding negative-balance suppliers (the comment-LIKE analog) via "
        "NOT IN -> broadcast anti-join. s_suppkey is non-null so NOT IN and "
        "ANTI JOIN agree.",
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 49))
    )
    bad = T(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    l = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "agg_salted_hot_keys",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           CAST(SUM(1) AS BIGINT) AS n_items,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_order,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_order
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Salted two-phase aggregation over a genuinely skewed key "
        "(l_returnflag: 3 values over the whole fact table). Phase 1 "
        "aggregates on (key, salt) so 16 reducers share each hot key; phase "
        "2 combines one row per (key, salt). Decimal sums are associative, "
        "so the rewrite is result-identical to the oracle's plain GROUP BY.",
)
def agg_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    out = salted_agg(
        l,
        keys=["l_returnflag"],
        aggs={
            "revenue_dec": (
                "sum",
                F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount")),
            ),
            "n_items": ("sum", F.count(F.lit(1))),
            "min_order": ("min", F.min("l_orderkey")),
            "max_order": ("max", F.max("l_orderkey")),
        },
        n_salts=16,
        salt_on="l_orderkey",
    )
    return out.select(
        "l_returnflag",
        D(F.col("revenue_dec")).alias("revenue"),
        F.col("n_items").cast("long").alias("n_items"),
        F.col("min_order").cast("long").alias("min_order"),
        F.col("max_order").cast("long").alias("max_order"),
    )


@register(
    "bucketed_join_order_revenue",
    """
    SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Exchange-free fact-to-fact join via bucketed tables: orders and "
        "lineitem are written bucketed+sorted on orderkey (8 buckets, one "
        "up-front shuffle), after which the join reads matching buckets with "
        "NO exchange on either side — the 100 TB pattern for a fact join "
        "repeated across a workload. The write is part of the query here so "
        "it is self-contained per session; a deployment does it once.",
)
def bucketed_join_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scratch path and table names carry the applicationId so two concurrent
    # harness processes at the same scale factor never overwrite each other's
    # bucket files or session-catalog tables mid-query (same convention as
    # streaming_gate's tmpdirs).
    app = spark.sparkContext.applicationId.replace("-", "_")
    tag = (os.path.basename(sf_dir.rstrip("/")) or "sf") + "_" + app
    base = os.path.join(tempfile.gettempdir(), f"pgcdc_spark_buckets_{tag}")
    ot, lt = f"pgcdc_orders_b_{tag}".replace(".", "_"), \
        f"pgcdc_lineitem_b_{tag}".replace(".", "_")
    write_bucketed(
        T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        ot, "o_orderkey", 8, os.path.join(base, "orders"),
    )
    write_bucketed(
        T(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        lt, "l_orderkey", 8, os.path.join(base, "lineitem"),
    )
    o = spark.table(ot)
    l = spark.table(lt)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            D(F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Z_ORACLE = f"""
WITH b AS (
  SELECT l_orderkey, l_linenumber,
         l_partkey % 256 AS px, l_suppkey % 256 AS sy
  FROM lineitem
),
z AS (SELECT *, {z_sql('px', 'sy', 8, 'duckdb')} AS zval FROM b),
f AS (SELECT *, zval // 2048 AS file_id FROM z)
SELECT CAST(file_id AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(px) AS BIGINT) AS min_px, CAST(MAX(px) AS BIGINT) AS max_px,
       CAST(MIN(sy) AS BIGINT) AS min_sy, CAST(MAX(sy) AS BIGINT) AS max_sy,
       CAST((MAX(px) - MIN(px) + 1) * (MAX(sy) - MIN(sy) + 1) AS BIGINT)
         AS bbox_area
FROM f GROUP BY file_id
"""


@register(
    "layout_zorder_file_stats",
    _Z_ORACLE,
    doc="Z-order (Morton) layout statistics: interleave the bits of two "
        "bucketed dimensions (l_partkey, l_suppkey mod 256) into one "
        "Z-value, range-bucket into 32 'files', and report each file's "
        "min/max bounding box in BOTH dimensions. Tight boxes are the point: "
        "at 100 TB the write path is repartitionByRange(zval) + "
        "sortWithinPartitions before the parquet write, and the min/max file "
        "stats then prune scans on EITHER dimension — the OPTIMIZE ZORDER "
        "layout. Pure integer bit math (scan-speed projection + one hash "
        "agg), bit-identical in any engine.",
)
def layout_zorder_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "lineitem")
    b = l.select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sy"),
    )
    # Fixed Z-ranges (zval div 2048 over the 16-bit Z space) stand in for the
    # range partitioner's split points: a pure projection here, so the whole
    # query is scan + one agg — no global sort/window anywhere.
    f = b.select(
        "px", "sy",
        F.expr(f"{z_sql('px', 'sy', 8)} div 2048").alias("file_id"),
    )
    return f.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("px").alias("min_px"), F.max("px").alias("max_px"),
        F.min("sy").alias("min_sy"), F.max("sy").alias("max_sy"),
        ((F.max("px") - F.min("px") + 1)
         * (F.max("sy") - F.min("sy") + 1)).alias("bbox_area"),
    )


@register(
    "join_bloomlike_prefilter",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (1.00::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    doc="Runtime-filter join pattern (the manual form of Spark's injected "
        "bloom filter, whose aggregate is not in the public registry): the "
        "selective build side (urgent orders) is compressed to its DISTINCT "
        "coarse hash buckets — at most 65,536 rows no matter how large the "
        "build side, so ALWAYS broadcastable — and the fact table is "
        "semi-joined against that broadcast BEFORE its shuffle, so "
        "non-matching lineitems never enter the exchange. False-positive "
        "bucket collisions pass the prefilter and are eliminated by the "
        "exact equi-join that follows: a pure physical rewrite, result-"
        "identical to the oracle's plain join. At 100 TB this is the "
        "difference between shuffling the whole fact table and shuffling "
        "only the ~matching fraction.",
)
def join_bloomlike_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    buckets = urgent.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(65536)).alias("kb")
    ).distinct()
    li_pre = li.withColumn(
        "kb", F.pmod(F.xxhash64("l_orderkey"), F.lit(65536))
    ).join(F.broadcast(buckets), "kb", "left_semi")
    return (
        li_pre.join(urgent, li_pre.l_orderkey == urgent.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            D(F.sum(DEC("l_extendedprice") * ONE_MINUS("l_discount")))
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_preagg_pushdown",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(items) AS BIGINT) AS n_items,
           CAST(SUM(qty_dec) AS DOUBLE) AS total_qty
    FROM orders JOIN (
        SELECT l_orderkey,
               COUNT(*) AS items,
               SUM(CAST(l_quantity AS DECIMAL(12,4))) AS qty_dec
        FROM lineitem GROUP BY l_orderkey
    ) li ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Partial-aggregation pushdown below a join (eager aggregation, "
        "Yan & Larson VLDB'95): lineitem collapses to one row per orderkey "
        "BEFORE meeting orders, so the join input shrinks from ~4 rows per "
        "order to 1 and the post-join re-aggregate handles the tiny "
        "priority rollup. COUNT/SUM are decomposable, so the rewrite is "
        "result-identical to joining raw lineitems first (the oracle states "
        "the same rewritten form; equality to the naive form is pinned in "
        "tests). At 100 TB this is the difference between shuffling the "
        "full fact table into the join and shuffling its per-key summary — "
        "Catalyst does not do this rewrite itself, so the pipeline author "
        "states it.",
)
def join_preagg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    pre = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("items"),
        F.sum(DEC("l_quantity")).alias("qty_dec"),
    )
    return (
        o.join(pre, o.o_orderkey == pre.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("items").cast("bigint").alias("n_items"),
            D(F.sum("qty_dec")).alias("total_qty"),
        )
    )


# --- large x large interval-overlap join via time-bucket blocking ------------



@register(
    "join_interval_overlap",
    f"""
    WITH {SESSIONIZED_EVENTS_CTE},
    spans AS (
        SELECT user_id, session_id,
               MIN(ts_ms) AS s, MAX(ts_ms) AS e
        FROM sessions GROUP BY user_id, session_id)
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
               AS overlap_ms
    FROM spans a JOIN spans b
      ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.user_id, b.user_id
    """,
    doc="Large x large interval-overlap join (concurrent sessions across "
        "users) via TIME-BUCKET BLOCKING: each session explodes into the "
        "hour buckets it covers, candidates come from a plain equi-join on "
        "the bucket (overlapping intervals ALWAYS share the bucket holding "
        "the later start, so recall is exact), a distinct collapses multi-"
        "bucket pairs, and the exact predicate prunes co-bucketed non-"
        "overlaps. The naive theta-join is a quadratic nested loop Spark "
        "cannot hash; bucketing turns it into a shuffle join whose fan-out "
        "per bucket is bounded by concurrency, not corpus size — the same "
        "blocking every interval-join engine (and this repo's as-of join) "
        "builds on. The oracle states the naive theta-join (tractable at "
        "oracle scale; DuckDB plans an IEJoin): equality proves the "
        "blocking loses nothing. Bucket width tunes fan-out vs explode "
        "factor; sessions here are minutes-long, so hour buckets explode "
        "~1.02x.",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    _BUCKET_MS = 3_600_000
    sess = (
        sessionized_events(spark, sf_dir)  # the canonical 30-min gap rule
        .groupBy("user_id", "session_id")
        .agg(F.min("ts_ms").alias("s"), F.max("ts_ms").alias("e"))
    )
    # skinny (user, session, s, e) persists: exploded twice below
    sess = sess.persist()
    bucketed = sess.select(
        "user_id", "session_id", "s", "e",
        F.explode(
            F.sequence(
                F.expr(f"s div {_BUCKET_MS}"), F.expr(f"e div {_BUCKET_MS}")
            )
        ).alias("bucket"),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.session_id").alias("sa"),
            F.col("a.s").alias("s_a"), F.col("a.e").alias("e_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.session_id").alias("sb"),
            F.col("b.s").alias("s_b"), F.col("b.e").alias("e_b"),
        )
        .distinct()  # a pair sharing n buckets appears n times
        .where((F.col("s_a") <= F.col("e_b")) & (F.col("s_b") <= F.col("e_a")))
    )
    return cand.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
        ).alias("overlap_ms"),
    )


# --- skew-resistant two-phase per-group top-k --------------------------------

@register(
    "window_topk_two_phase",
    """
    SELECT o_orderpriority, rank, o_orderkey, total_tm
    FROM (
        SELECT o_orderpriority, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000 AS BIGINT)
                   AS total_tm,
               ROW_NUMBER() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 10000
                                 AS BIGINT) DESC, o_orderkey ASC)
                   AS rank
        FROM orders)
    WHERE rank <= 3
    """,
    doc="Skew-resistant two-phase per-group top-k: o_orderpriority has FIVE "
        "values over the whole fact table, so a single "
        "row_number-over-group window funnels ~1/5 of 100 TB through each "
        "of five reducers. Phase 1 ranks within (group, salt=key%16) — a "
        "balanced 80-partition shuffle — and keeps k rows per salt; phase "
        "2 re-ranks the <= groups*salts*k survivors (240 rows at ANY "
        "scale). The group top-k is always contained in the union of its "
        "per-salt top-ks, so the rewrite is result-identical — the same "
        "guarantee behind salted_agg, applied to an order-statistic. The "
        "ordering includes the key, so ranks are total-order "
        "deterministic; the oracle states the naive single window.",
)
def window_topk_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey",
        (DEC("o_totalprice") * 10000).cast("bigint").alias("total_tm"),
    )
    salted = o.withColumn("__salt", F.col("o_orderkey") % 16)
    w1 = Window.partitionBy("o_orderpriority", "__salt").orderBy(
        F.desc("total_tm"), F.asc("o_orderkey")
    )
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= 3)
        .drop("__salt", "__r1")
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("total_tm"), F.asc("o_orderkey")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", "rank", "o_orderkey", "total_tm")
    )


@register(
    "source_csv_roundtrip",
    """
    SELECT n_regionkey, COUNT(*) AS n_nations,
           MIN(n_name) AS first_nation
    FROM nation GROUP BY n_regionkey
    """,
    doc="CSV sink + source roundtrip: nation -> csv (header) -> read with "
        "explicit schema -> aggregate. Matches the oracle's direct scan only "
        "if the CSV write/read preserved every value and type.",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = T(spark, sf_dir, "nation")
    path = roundtrip_dir(spark, sf_dir, "csv")
    n.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.option("header", "true")
        .schema("n_nationkey int, n_name string, n_regionkey int")
        .csv(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_nation"),
    )


@register(
    "source_json_roundtrip",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           MIN(o_orderkey) AS min_key,
           MIN(CAST(o_orderdate AS DATE)) AS first_date
    FROM orders GROUP BY o_orderstatus
    """,
    doc="JSON-lines sink + source roundtrip: orders (key/status/date) -> "
        "json -> schema-explicit read -> aggregate. Dates travel as ISO "
        "strings and come back as DATE, exercising the JSON type bridge.",
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("o_date"),
    )
    path = roundtrip_dir(spark, sf_dir, "json")
    o.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_date date"
    ).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.min("o_date").alias("first_date"),
    )


@register(
    "source_orc_roundtrip",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           MIN(c_custkey) AS min_key,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
    FROM customer GROUP BY c_mktsegment
    """,
    doc="ORC sink + source roundtrip: customer -> ORC -> schema-explicit "
        "read -> aggregate with an exact-decimal balance sum. ORC is the "
        "columnar lake format Spark supports natively besides parquet "
        "(predicate pushdown, column pruning, vectorized read) — the "
        "aggregate matches the oracle's direct parquet scan only if the "
        "ORC write/read preserved doubles bit-for-bit.",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = roundtrip_dir(spark, sf_dir, "orc")
    c.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "c_custkey long, c_mktsegment string, c_acctbal double"
    ).orc(path)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_custkey").alias("min_key"),
        F.sum(DEC("c_acctbal", 12, 2)).cast("double").alias("sum_bal"),
    )


@register(
    "source_partitioned_pruning",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           MIN(o_orderkey) AS min_key
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="Hive-style partitioned parquet sink + partition-pruned source: "
        "orders written partitionBy(o_orderstatus), read back filtered to "
        "one status. At 100 TB this is THE lake layout pattern — the filter "
        "must resolve at the directory listing (plan shows PartitionFilters,"
        " asserted in tests/test_plan_shapes.py), so the scan never opens "
        "the other partitions' files.",
)
def source_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    path = roundtrip_dir(spark, sf_dir, "part")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = (
        spark.read.schema(
            "o_orderkey long, o_orderpriority string, o_orderstatus string"
        )
        .parquet(path)
        .where(F.col("o_orderstatus") == "F")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
    )


@register(
    "layout_compaction_roundtrip",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           MIN(l_orderkey) AS min_key,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Small-file compaction (the lake OPTIMIZE pass): lineitem written "
        "deliberately fragmented (repartition(64) => 64 tiny files), then "
        "operators/layout.compact coalesces it to ceil(bytes/target) files "
        "with NO shuffle and the aggregate over the compacted copy must "
        "equal the oracle's direct scan — content-preservation is the gate; "
        "the file-count arithmetic and shuffle-free plan are pinned in "
        "tests/test_compaction.py. At 100 TB this is how streaming-sink "
        "directories stay scannable.",
)
def layout_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.layout import compact

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    frag = roundtrip_dir(spark, sf_dir, "frag")
    out = roundtrip_dir(spark, sf_dir, "compact")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    compact(spark, frag, out, target_file_bytes=64 * 1024 * 1024)
    back = spark.read.schema(
        "l_orderkey long, l_returnflag string, l_quantity double"
    ).parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.sum(DEC("l_quantity", 12, 2)).cast("double").alias("sum_qty"),
    )


@register(
    "source_text_roundtrip",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT))
             AS corpus_xor
    FROM documents
    """,
    doc="Line-oriented text sink + source roundtrip: documents.text -> "
        "spark.write.text (one line per doc; fixture texts are newline-free) "
        "-> spark.read.text -> corpus checksum. The XOR of per-line portable "
        "hashes is order-independent, so the check is layout-insensitive "
        "but corrupts on ANY lost, duplicated, or altered line. The oracle "
        "computes the same checksum from the parquet table directly — equal "
        "only if the text roundtrip was lossless.",
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60

    d = T(spark, sf_dir, "documents", fanout=False)
    path = roundtrip_dir(spark, sf_dir, "text")
    d.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)  # one column: value
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.bit_xor(h60(F.col("value"))).alias("corpus_xor"),
    )


# --- quantile bucketing + distribution ranks ---------------------------------

@register(
    "window_ntile_cume",
    """
    SELECT c_mktsegment, c_custkey,
           CAST(ntile(4) OVER w AS INT) AS balance_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    doc="Quantile bucketing and distribution ranks (NTILE / PERCENT_RANK / "
        "CUME_DIST): the feature-engineering pass that turns a raw score "
        "into segment-relative quartiles and percentiles. The order key "
        "includes the primary key so ranks are total-order deterministic; "
        "percent_rank and cume_dist are small-integer ratios, so the "
        "doubles agree bit-for-bit across engines. One window shuffle on "
        "the segment key.",
)
def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_mktsegment", "c_custkey",
        F.ntile(4).over(w).cast("int").alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


# --- multiset set operations (ALL variants) ----------------------------------

@register(
    "setop_except_all",
    """
    SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'A'
    EXCEPT ALL
    SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="EXCEPT ALL — multiset difference: each quantity row of the "
        "'A'-flag lineitems survives as many times as its multiplicity "
        "exceeds the 'R'-flag multiplicity (the bag semantics SQL's "
        "plain EXCEPT discards; reconciliation and inventory-delta "
        "workloads need the multiplicities). Spark plans exceptAll as a "
        "sum-of-signed-counts aggregate + generate — one shuffle on the "
        "row value, map-side combinable, never a join.",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").select(F.col("l_quantity").cast("bigint").alias("qty"))
    b = li.where(F.col("l_returnflag") == "R").select(F.col("l_quantity").cast("bigint").alias("qty"))
    return a.exceptAll(b)


@register(
    "setop_intersect_all",
    """
    SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'A'
    INTERSECT ALL
    SELECT CAST(l_quantity AS BIGINT) AS qty FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="INTERSECT ALL — multiset intersection: each quantity appears "
        "min(multiplicity in 'A', multiplicity in 'R') times, completing "
        "the set-operation matrix's bag column next to setop_except_all. "
        "Same aggregate-of-counts plan shape: one value-keyed shuffle, "
        "no join.",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").select(F.col("l_quantity").cast("bigint").alias("qty"))
    b = li.where(F.col("l_returnflag") == "R").select(F.col("l_quantity").cast("bigint").alias("qty"))
    return a.intersectAll(b)


# --- grouping_id in rollups --------------------------------------------------

@register(
    "agg_rollup_grouping_id",
    """
    SELECT coalesce(r_name, '(all)') AS region,
           coalesce(n_name, '(all)') AS nation,
           CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP with the explicit GROUPING bit vector: gid disambiguates "
        "a real NULL group key from a rollup subtotal row — the thing "
        "coalesce-based rollup reports silently get wrong when the data "
        "itself contains the sentinel. Spark's grouping_id() and "
        "PostgreSQL/DuckDB's GROUPING(a, b) emit the identical bit "
        "encoding (left argument = high bit), pinned here cross-engine. "
        "One expand + hash agg, map-side combinable like any rollup.",
)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = T(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = T(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("(all)")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("(all)")).alias("nation"),
            "gid", "n_customers",
        )
    )


# --- bitwise aggregates ------------------------------------------------------

@register(
    "agg_bitwise_flags",
    """
    SELECT l_returnflag,
           CAST(bit_or(1 << (l_linenumber % 16)) AS BIGINT)
             AS linenumber_mask,
           CAST(bit_and(CAST(l_quantity AS BIGINT) | 4096 | 8192) AS BIGINT)
             AS qty_and,
           CAST(bit_xor(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_xor
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Bitwise aggregates (bit_or / bit_and / bit_xor): the compact "
        "flag-set rollup — linenumber_mask is a 16-bit presence bitmap "
        "per return flag (the set-of-small-ints encoding bitmap indexes "
        "and permission systems use), bit_and over OR-seeded values "
        "verifies common-bits extraction, bit_xor is the order-"
        "independent parity fingerprint (a cheap commutative checksum "
        "for replica comparison). All three are commutative-associative "
        "single-pass aggregates: map-side combinable, one shuffle of "
        "|flags| x 3 longs.",
)
def agg_bitwise_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("shiftleft(1, l_linenumber % 16)").alias("lmask"),
        F.expr(
            "CAST(l_quantity AS BIGINT) | 4096 | 8192"
        ).alias("qseed"),
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    return li.groupBy("l_returnflag").agg(
        F.expr("bit_or(lmask)").cast("bigint").alias("linenumber_mask"),
        F.expr("bit_and(qseed)").cast("bigint").alias("qty_and"),
        F.expr("bit_xor(q)").cast("bigint").alias("qty_xor"),
    )


# --- outer lateral explode ---------------------------------------------------

@register(
    "lateral_explode_outer",
    f"""
    WITH t AS (SELECT doc_id,
                      list_filter({TOKS}, x -> length(x) >= 8) AS lt
               FROM documents),
    e AS (SELECT doc_id, unnest(lt) AS long_tok FROM t WHERE len(lt) > 0)
    SELECT t.doc_id, e.long_tok
    FROM t LEFT JOIN e ON t.doc_id = e.doc_id
    """,
    doc="OUTER lateral explode: every document fans out to one row per "
        "long token (length >= 8), and a document with NO long tokens "
        "keeps exactly one row with a NULL — the left-join-preserving "
        "explode semantics (explode_outer) that plain explode silently "
        "violates by dropping the parent row, which corrupts any "
        "downstream per-document aggregate that assumes full coverage. "
        "The oracle states the equivalent left join against the "
        "non-empty fan-out. Pure scan-side projection + generate; no "
        "shuffle at all.",
)
def lateral_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import tokens

    d = T(spark, sf_dir, "documents", fanout=False).select(
        "doc_id",
        F.filter(
            tokens(F.col("text")), lambda x: F.length(x) >= 8
        ).alias("lt"),
    )
    return d.select(
        "doc_id", F.explode_outer("lt").alias("long_tok")
    )


# --- regexp scalar functions -------------------------------------------------

@register(
    "scalar_regexp_funcs",
    """
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[aeiou]', '', 'g'))
                AS BIGINT) AS n_after_vowel_strip,
           CAST(len(regexp_extract_all(text, '[a-z]{6,}')) AS BIGINT)
             AS n_long_words,
           coalesce(regexp_extract(text, '(qu[a-z]+)', 1), '')
             AS first_qu_word,
           CAST(regexp_matches(text, 'window') AS BOOLEAN) AS has_window
    FROM documents
    """,
    doc="Regexp scalar surface: global replace (Spark replaces all by "
        "default, DuckDB needs the 'g' flag — the cross-engine trap this "
        "query pins), extract-all count, group extraction with a NULL-"
        "vs-empty-string coalesce (Spark returns '' on no match, DuckDB "
        "NULL — normalized explicitly), and boolean containment. All "
        "scan-side projections on a shared POSIX-safe pattern subset; "
        "no shuffle.",
)
def scalar_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents", fanout=False)
    return d.select(
        "doc_id",
        F.length(F.regexp_replace("text", "[aeiou]", ""))
        .cast("bigint")
        .alias("n_after_vowel_strip"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]{6,}', 0)"))
        .cast("bigint")
        .alias("n_long_words"),
        F.regexp_extract("text", "(qu[a-z]+)", 1).alias("first_qu_word"),
        F.col("text").rlike("window").alias("has_window"),
    )


# --- explicit NULL-ordering pin ----------------------------------------------

@register(
    "sort_null_ordering",
    """
    WITH o AS (SELECT o_orderkey,
                      nullif(o_orderpriority, '3-MEDIUM') AS pri
               FROM orders),
    r AS (SELECT o_orderkey, coalesce(pri, '(null)') AS pri,
                 ROW_NUMBER() OVER (ORDER BY pri ASC NULLS FIRST,
                                    o_orderkey ASC) AS rn_nf,
                 ROW_NUMBER() OVER (ORDER BY pri ASC NULLS LAST,
                                    o_orderkey ASC) AS rn_nl
          FROM o)
    SELECT o_orderkey, pri, CAST(rn_nf AS BIGINT) AS rn_nf,
           CAST(rn_nl AS BIGINT) AS rn_nl
    FROM r WHERE rn_nf <= 25 OR rn_nl <= 25
    """,
    doc="Explicit NULL-ordering pin: the same ranking computed under "
        "NULLS FIRST and NULLS LAST over a planted-NULL priority column "
        "— load-bearing because the ENGINE DEFAULTS DIVERGE (Spark "
        "ascending sorts default nulls first, PostgreSQL/DuckDB default "
        "NULLS LAST), so any query that omits the modifier silently "
        "reorders when ported; this query forces both spellings and the "
        "gate proves they agree bit-for-bit. The oracle states the two "
        "global ROW_NUMBER windows; the Spark plan deliberately runs "
        "neither: each top-25 is a distributed TakeOrderedAndProject "
        "over a lexicographic struct key that encodes the NULL rule as "
        "a leading boolean (struct comparison is total once NULLs are "
        "flagged out), and the candidates' EXACT global ranks come from "
        "one broadcast count-strictly-smaller pass (<=50 candidates "
        "crossed against one scan — rank = smaller-count + 1, exact "
        "because o_orderkey makes the order total). No task ever holds "
        "more than the top-k.",
)
def sort_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("nullif(o_orderpriority, '3-MEDIUM')").alias("pri"),
    )
    k_nf = F.struct(
        F.col("pri").isNotNull().alias("f"),  # false sorts first => nulls
        F.coalesce("pri", F.lit("")).alias("p"),
        F.col("o_orderkey").alias("k"),
    )
    k_nl = F.struct(
        F.col("pri").isNull().alias("f"),  # true sorts last => nulls
        F.coalesce("pri", F.lit("")).alias("p"),
        F.col("o_orderkey").alias("k"),
    )
    keyed = o.select(
        "o_orderkey", "pri", k_nf.alias("k_nf"), k_nl.alias("k_nl")
    )
    top_nf = keyed.orderBy("k_nf").limit(25)
    top_nl = keyed.orderBy("k_nl").limit(25)
    cand = top_nf.unionByName(top_nl).dropDuplicates(["o_orderkey"])
    counts = (
        keyed.crossJoin(
            F.broadcast(
                cand.select(
                    F.col("o_orderkey").alias("c_key"),
                    F.col("k_nf").alias("c_nf"),
                    F.col("k_nl").alias("c_nl"),
                )
            )
        )
        .groupBy("c_key")
        .agg(
            (F.sum((F.col("k_nf") < F.col("c_nf")).cast("long")) + 1)
            .cast("bigint")
            .alias("rn_nf"),
            (F.sum((F.col("k_nl") < F.col("c_nl")).cast("long")) + 1)
            .cast("bigint")
            .alias("rn_nl"),
        )
    )
    return (
        cand.select(
            "o_orderkey",
            F.coalesce(F.col("pri"), F.lit("(null)")).alias("prio"),
        )
        .join(counts, F.col("o_orderkey") == F.col("c_key"))
        .where((F.col("rn_nf") <= 25) | (F.col("rn_nl") <= 25))
        .select(
            "o_orderkey", F.col("prio").alias("pri"), "rn_nf", "rn_nl"
        )
    )


# --- array set operations ----------------------------------------------------

@register(
    "scalar_array_setops",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    h AS (SELECT doc_id,
                 list_distinct(toks[1 : len(toks) // 2]) AS a,
                 list_distinct(toks[len(toks) // 2 + 1 : len(toks)]) AS b
          FROM t WHERE len(toks) >= 2)
    SELECT doc_id,
           CAST(len(a) AS BIGINT) AS n_a,
           CAST(len(b) AS BIGINT) AS n_b,
           CAST(len(list_distinct(list_concat(a, b))) AS BIGINT) AS n_union,
           CAST(len(list_filter(a, x -> list_contains(b, x))) AS BIGINT)
             AS n_intersect,
           CAST(len(list_filter(a, x -> NOT list_contains(b, x))) AS BIGINT)
             AS n_except
    FROM h
    """,
    doc="Array set operations as in-row computations: each document's "
        "token stream splits into halves; union/intersect/except "
        "cardinalities of the two distinct-token sets measure "
        "within-document vocabulary drift (a self-repetition signal "
        "complementary to text_repetition's shingle view). Spark's "
        "array_union/array_intersect/array_except deduplicate by "
        "definition; the oracle states the same set semantics via "
        "list_distinct/list_filter. Entirely scan-side array kernels — "
        "zero shuffle, the plan is one projection.",
)
def scalar_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import tokens

    t = T(spark, sf_dir, "documents", fanout=False).select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).where(F.size("toks") >= 2)
    h = t.select(
        "doc_id",
        F.expr(
            "array_distinct(slice(toks, 1, size(toks) div 2))"
        ).alias("a"),
        F.expr(
            "array_distinct(slice(toks, size(toks) div 2 + 1, "
            "size(toks) - size(toks) div 2))"
        ).alias("b"),
    )
    return h.select(
        "doc_id",
        F.size("a").cast("bigint").alias("n_a"),
        F.size("b").cast("bigint").alias("n_b"),
        F.size(F.array_union("a", "b")).cast("bigint").alias("n_union"),
        F.size(F.array_intersect("a", "b")).cast("bigint")
        .alias("n_intersect"),
        F.size(F.array_except("a", "b")).cast("bigint").alias("n_except"),
    )


# --- first/last_value frame pin ----------------------------------------------

@register(
    "window_first_last_frame_pin",
    """
    WITH r AS (SELECT o_custkey, o_orderkey,
                      first_value(o_orderpriority) OVER w AS first_pri,
                      last_value(o_orderpriority) OVER
                          (PARTITION BY o_custkey
                           ORDER BY epoch_ms(CAST(o_orderdate AS TIMESTAMP)),
                                    o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING) AS last_pri,
                      ROW_NUMBER() OVER w AS rn
               FROM orders
               WINDOW w AS (PARTITION BY o_custkey
                            ORDER BY epoch_ms(CAST(o_orderdate AS TIMESTAMP)),
                                     o_orderkey))
    SELECT o_custkey, first_pri, last_pri
    FROM r WHERE rn = 1
    """,
    doc="FIRST_VALUE / LAST_VALUE with the frame trap pinned: under the "
        "SQL-default frame (UNBOUNDED PRECEDING..CURRENT ROW) "
        "last_value() returns the CURRENT row — the classic silent wrong "
        "answer — so the query states the full-partition frame "
        "explicitly and the gate proves first/last order priorities per "
        "customer agree bit-for-bit across engines (deterministic "
        "(date, key) ordering; date compared through epoch millis to "
        "stay calendar-free). One customer-keyed window pass shared by "
        "all three window functions.",
)
def window_first_last_frame_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority",
        F.expr("unix_millis(CAST(o_orderdate AS TIMESTAMP))").alias("dms"),
    )
    base = W.partitionBy("o_custkey").orderBy("dms", "o_orderkey")
    w_cur = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_full = base.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    r = o.select(
        "o_custkey",
        F.first("o_orderpriority").over(w_cur).alias("first_pri"),
        F.last("o_orderpriority").over(w_full).alias("last_pri"),
        F.row_number().over(base).alias("rn"),
    )
    return r.where(F.col("rn") == 1).select(
        "o_custkey", "first_pri", "last_pri"
    )


# --- FILTER'd aggregates -----------------------------------------------------

@register(
    "agg_filter_clause",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(COUNT(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT)
             AS n_finished,
           CAST(SUM(CAST(l_quantity AS BIGINT))
                FILTER (WHERE l_quantity >= 25) AS BIGINT) AS qty_heavy,
           CAST(COUNT(DISTINCT l_suppkey)
                FILTER (WHERE l_discount = 0) AS BIGINT)
             AS n_supp_undiscounted
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="FILTER (WHERE ...) aggregate modifier: per-aggregate predicates "
        "in ONE pass over the fact table — the standard-SQL form of "
        "conditional aggregation (count/sum/count-distinct each with "
        "their own filter), which otherwise multiplies into CASE "
        "expressions or separate scans. Both engines support the clause "
        "natively; one hash agg, map-side combinable except the "
        "filtered distinct (which expands to its own keyed dedup, the "
        "same cost a standalone distinct would pay).",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.expr("COUNT(*) FILTER (WHERE l_linestatus = 'F')")
        .cast("bigint")
        .alias("n_finished"),
        F.expr(
            "SUM(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_quantity >= 25)"
        ).cast("bigint").alias("qty_heavy"),
        F.expr(
            "COUNT(DISTINCT l_suppkey) FILTER (WHERE l_discount = 0)"
        ).cast("bigint").alias("n_supp_undiscounted"),
    )


# --- TRY_CAST error-safe casting ---------------------------------------------

@register(
    "scalar_try_cast",
    """
    WITH t AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 3 = 0
                           THEN 'x' || CAST(o_orderkey AS VARCHAR)
                           ELSE CAST(o_orderkey AS VARCHAR) END AS raw
               FROM orders),
    c AS (SELECT o_orderkey, raw, TRY_CAST(raw AS BIGINT) AS parsed
          FROM t)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(parsed) AS BIGINT) AS n_parsed,
           CAST(COUNT(*) - COUNT(parsed) AS BIGINT) AS n_failed,
           CAST(SUM(parsed) AS BIGINT) AS sum_parsed
    FROM c
    """,
    doc="TRY_CAST error-safe ingestion: a planted dirty column (every "
        "third key prefixed with a letter) parses with NULL-on-failure "
        "semantics instead of the ANSI runtime error — the standard "
        "quarantine-counting pattern for semi-trusted feeds (n_failed "
        "IS the dead-letter count; a CAST would kill the job on row "
        "one under ANSI mode). Both engines' TRY_CAST agree exactly; "
        "one projection + one scalar agg.",
)
def scalar_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey")
    t = o.select(
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.concat(F.lit("x"), F.col("o_orderkey").cast("string")),
        )
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("raw")
    )
    c = t.select(F.expr("TRY_CAST(raw AS BIGINT)").alias("parsed"))
    return c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("parsed").cast("bigint").alias("n_parsed"),
        (F.count(F.lit(1)) - F.count("parsed"))
        .cast("bigint")
        .alias("n_failed"),
        F.sum("parsed").cast("bigint").alias("sum_parsed"),
    )


# --- LATERAL correlated top-n join -------------------------------------------

_LATERAL_TOPN_SQL = """
    SELECT c.c_custkey, o.o_orderkey, o.cents
    FROM customer c,
    LATERAL (SELECT o_orderkey,
                    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                         AS BIGINT) AS cents
             FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                           AS BIGINT) DESC, o_orderkey
             LIMIT 2) o
"""


@register(
    "join_lateral_topn",
    _LATERAL_TOPN_SQL,
    doc="LATERAL correlated top-n join: each customer's two most "
        "expensive orders via a correlated ORDER BY ... LIMIT subquery — "
        "the SQL-standard spelling of per-group top-k that both engines "
        "accept verbatim (the same Spark SQL text IS the oracle text). "
        "Catalyst DECORRELATES the lateral limit into a window/rank over "
        "a single equi-join on the correlation key rather than executing "
        "the subquery per outer row — gating that the rewrite preserves "
        "tie semantics ((cents, key) deterministic ordering). Customers "
        "with no orders drop (inner lateral), matching the oracle.",
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    run = abs(hash(("lat", spark.sparkContext.applicationId))) % 10**8
    cv, ov = f"pgcdc_lat_c_{run}", f"pgcdc_lat_o_{run}"
    c.createOrReplaceTempView(cv)
    o.createOrReplaceTempView(ov)
    return spark.sql(
        _LATERAL_TOPN_SQL.replace("FROM customer", f"FROM {cv}")
        .replace("FROM orders", f"FROM {ov}")
        .replace(" customer c", f" {cv} c")
    )


# --- correlated EXISTS / NOT EXISTS ------------------------------------------

_CORR_EXISTS_SQL = """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND CAST(o.o_totalprice AS DECIMAL(14,2)) > 150000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P')
"""


@register(
    "join_correlated_exists",
    _CORR_EXISTS_SQL,
    doc="Correlated EXISTS + NOT EXISTS in one predicate: customers with "
        "at least one high-value order and no pending order — the "
        "SQL-standard spelling whose DECORRELATION both engines must "
        "agree on (Catalyst rewrites EXISTS to a left-semi and NOT "
        "EXISTS to a left-anti join on the correlation key; the same "
        "SQL text IS the oracle). Complements the DataFrame-API "
        "semi/anti queries by gating the SQL front door: a decorrelation "
        "bug that duplicated or dropped rows under the conjunction of "
        "both quantifiers would hash-mismatch here. Two co-partitioned "
        "hash joins on the customer key.",
)
def join_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    run = abs(hash(("cex", spark.sparkContext.applicationId))) % 10**8
    cv, ov = f"pgcdc_cex_c_{run}", f"pgcdc_cex_o_{run}"
    c.createOrReplaceTempView(cv)
    o.createOrReplaceTempView(ov)
    return spark.sql(
        _CORR_EXISTS_SQL.replace("FROM customer c", f"FROM {cv} c")
        .replace("FROM orders o", f"FROM {ov} o")
    )


# --- correlated scalar subquery ----------------------------------------------

_CORR_SCALAR_SQL = """
    SELECT c_custkey,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders,
           CAST(coalesce((SELECT SUM(CAST(CAST(o.o_totalprice
                              AS DECIMAL(14,2)) * 100 AS BIGINT))
                          FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'F'), 0) AS BIGINT)
             AS finished_cents
    FROM customer c
"""


@register(
    "join_correlated_scalar_subq",
    _CORR_SCALAR_SQL,
    doc="Correlated SCALAR subqueries in the projection: per customer, a "
        "correlated COUNT (must yield 0, not NULL, for order-less "
        "customers — the count-bug corner every decorrelation rewrite "
        "must get right) and a correlated filtered SUM coalesced to "
        "zero. Catalyst rewrites each into a left outer join against a "
        "pre-aggregated subquery keyed on the correlation column; the "
        "identical SQL text runs as the oracle, so a count-bug "
        "regression (NULL instead of 0 rows) or a duplicate-row rewrite "
        "hash-mismatches immediately. Two co-partitioned aggregate "
        "joins; every customer row survives exactly once.",
)
def join_correlated_scalar_subq(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    run = abs(hash(("csq", spark.sparkContext.applicationId))) % 10**8
    cv, ov = f"pgcdc_csq_c_{run}", f"pgcdc_csq_o_{run}"
    c.createOrReplaceTempView(cv)
    o.createOrReplaceTempView(ov)
    return spark.sql(
        _CORR_SCALAR_SQL.replace("FROM customer c", f"FROM {cv} c")
        .replace("FROM orders o", f"FROM {ov} o")
    )


# --- IN / NOT IN null semantics ----------------------------------------------

_NOT_IN_SQL = """
    WITH sub AS (SELECT nullif(o_custkey, 1) AS k FROM orders),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_in FROM customer
          WHERE c_custkey IN (SELECT k FROM sub)),
    b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_not_in_with_null
          FROM customer WHERE c_custkey NOT IN (SELECT k FROM sub)),
    c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_not_in_null_stripped
          FROM customer
          WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL))
    SELECT a.n_in, b.n_not_in_with_null, c.n_not_in_null_stripped
    FROM a CROSS JOIN b CROSS JOIN c
"""


@register(
    "join_not_in_null_semantics",
    _NOT_IN_SQL,
    doc="NOT IN three-valued-logic pin — the most-ported-wrong predicate "
        "in SQL: the subquery plants one NULL (nullif on a real key), so "
        "NOT IN must return ZERO rows (x <> NULL is unknown for every "
        "x), while the NULL-stripped variant returns the real "
        "complement and IN is unaffected. Both engines must agree on "
        "all three counts; an engine or rewrite that treats NOT IN as "
        "a plain anti join without the null guard (Catalyst plans it "
        "as null-aware anti join) inflates the middle count and fails "
        "the hash. Three aggregate scalars crossed into one row.",
)
def join_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    run = abs(hash(("nin", spark.sparkContext.applicationId))) % 10**8
    cv, ov = f"pgcdc_nin_c_{run}", f"pgcdc_nin_o_{run}"
    c.createOrReplaceTempView(cv)
    o.createOrReplaceTempView(ov)
    return spark.sql(
        _NOT_IN_SQL.replace("FROM orders", f"FROM {ov}")
        .replace("FROM customer", f"FROM {cv}")
    )


# --- date/interval arithmetic ------------------------------------------------

@register(
    "scalar_date_arithmetic",
    """
    WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
               FROM orders WHERE o_orderkey % 37 = 0)
    SELECT o_orderkey,
           CAST(epoch_ms(CAST(d AS TIMESTAMP)) // 86400000 AS BIGINT)
             AS order_day_num,
           CAST(epoch_ms(CAST(d + INTERVAL 90 DAY AS TIMESTAMP)) // 86400000
                AS BIGINT) AS due_day_num,
           CAST(epoch_ms(CAST(date_trunc('month', d) AS TIMESTAMP))
                // 86400000 AS BIGINT) AS month_start_day_num,
           CAST(epoch_ms(CAST(last_day(d) AS TIMESTAMP)) // 86400000
                AS BIGINT) AS month_end_day_num,
           CAST(EXTRACT(day FROM d) AS INT) AS dom
    FROM o
    """,
    doc="Date/interval arithmetic surface: +INTERVAL addition, "
        "date_trunc-to-month, last_day, and day-of-month — the calendar "
        "operations SLA-due-date and month-boundary logic depend on, "
        "pinned where the calendars genuinely agree (month boundaries "
        "are convention-free, unlike week starts and day-of-week "
        "numbering, which stay off this surface deliberately — the "
        "engine's other temporal queries use pure epoch arithmetic for "
        "exactly that reason). Everything lands as an epoch day number, "
        "so the comparison is integer-exact. Scan-side projection on a "
        "key-sampled subset; no shuffle.",
)
def scalar_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 37 == 0
    ).select("o_orderkey", F.col("o_orderdate").cast("date").alias("d"))

    def day_num(col):
        return F.expr(
            f"unix_millis(CAST({col} AS TIMESTAMP)) div 86400000"
        ).cast("bigint")

    return o.select(
        "o_orderkey",
        day_num("d").alias("order_day_num"),
        day_num("d + INTERVAL 90 DAY").alias("due_day_num"),
        day_num("date_trunc('month', d)").alias("month_start_day_num"),
        day_num("last_day(d)").alias("month_end_day_num"),
        F.dayofmonth("d").cast("int").alias("dom"),
    )


# --- ordered string aggregation ----------------------------------------------

@register(
    "agg_listagg_ordered",
    """
    WITH r AS (SELECT c_mktsegment, c_name,
                      CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                        AS bal_c,
                      ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                          ORDER BY CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                                        AS BIGINT) DESC, c_name) AS rn
               FROM customer)
    SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY bal_c DESC, c_name) AS top_names,
           CAST(SUM(bal_c) AS BIGINT) AS top_bal_cents
    FROM r WHERE rn <= 3
    GROUP BY c_mktsegment
    """,
    doc="Ordered string aggregation (SQL:2023 LISTAGG ... WITHIN GROUP, "
        "new in Spark 4): the 3 highest-balance customer names per "
        "market segment concatenated in explicit (balance DESC, name) "
        "order — string aggregation is only deterministic WITH the "
        "order clause, which is precisely what this pins cross-engine "
        "(DuckDB's string_agg ORDER BY states the same contract). Top-3 "
        "pre-cut by a window over decimal cents so the aggregate's "
        "input set is identical on both sides; one segment-keyed "
        "window + one hash agg.",
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    c = T(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_name",
        (DEC("c_acctbal", 12, 2) * 100).cast("bigint").alias("bal_c"),
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("bal_c"), F.asc("c_name")
    )
    r = c.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    return r.groupBy("c_mktsegment").agg(
        F.expr(
            "listagg(c_name, ',') WITHIN GROUP (ORDER BY bal_c DESC, c_name)"
        ).alias("top_names"),
        F.sum("bal_c").cast("bigint").alias("top_bal_cents"),
    )


# --- interpolated percentiles ------------------------------------------------

@register(
    "agg_percentile_cont",
    """
    WITH c AS (SELECT c_mktsegment,
                      CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                        AS bal_c
               FROM customer)
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(quantile_cont(bal_c, 0.25) AS DOUBLE) AS p25_cents,
           CAST(quantile_cont(bal_c, 0.5) AS DOUBLE) AS p50_cents,
           CAST(quantile_cont(bal_c, 0.75) AS DOUBLE) AS p75_cents
    FROM c GROUP BY c_mktsegment
    """,
    doc="Interpolated percentiles (PERCENTILE_CONT semantics, the "
        "continuous twin of the gated percentile_disc family): quartiles "
        "of integer account-balance cents per segment. Linear "
        "interpolation between two int64 cents yields either a whole or "
        "a .5 value — both exactly representable in a double — so the "
        "cross-engine comparison stays bit-exact WITHOUT the usual "
        "float-aggregation hazard (the doc for why: interpolation at "
        "quartile ranks is (a+b)/2 or a pure element pick, never an "
        "accumulated sum). One segment-keyed sorted agg.",
)
def agg_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select(
        "c_mktsegment",
        (DEC("c_acctbal", 12, 2) * 100).cast("bigint").alias("bal_c"),
    )
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY bal_c)")
        .cast("double").alias("p25_cents"),
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY bal_c)")
        .cast("double").alias("p50_cents"),
        F.expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY bal_c)")
        .cast("double").alias("p75_cents"),
    )


# --- inline VALUES dimension join --------------------------------------------

_PRIORITY_DIM = (
    "(VALUES ('1-URGENT', 1, 4), ('2-HIGH', 2, 24), ('3-MEDIUM', 3, 72), "
    "('4-NOT SPECIFIED', 4, 168), ('5-LOW', 5, 336)) "
    "AS dim(pri, sev, sla_hours)"
)


@register(
    "join_inline_values_dim",
    f"""
    SELECT dim.sev, dim.sla_hours,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                         AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders JOIN {_PRIORITY_DIM} ON o_orderpriority = dim.pri
    GROUP BY dim.sev, dim.sla_hours
    """,
    doc="Inline VALUES dimension join: a literal five-row lookup table "
        "(priority -> severity rank + SLA hours) joined to the fact "
        "table — the recode-without-a-table pattern that replaces CASE "
        "ladders with a joinable, reusable dimension, and the smallest "
        "possible demonstration of the broadcast-dim star shape (the "
        "literal relation broadcasts by construction; the fact table "
        "never shuffles before the map-side-combinable rollup). "
        "Identical VALUES syntax on both engines.",
)
def join_inline_values_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    dim = spark.createDataFrame(
        [
            ("1-URGENT", 1, 4),
            ("2-HIGH", 2, 24),
            ("3-MEDIUM", 3, 72),
            ("4-NOT SPECIFIED", 4, 168),
            ("5-LOW", 5, 336),
        ],
        "pri string, sev int, sla_hours int",
    )
    return (
        o.join(F.broadcast(dim), o.o_orderpriority == dim.pri)
        .groupBy("sev", "sla_hours")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum((DEC("o_totalprice", 14, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("total_cents"),
        )
    )


# --- schema-drift-tolerant union ---------------------------------------------

@register(
    "union_schema_drift",
    """
    SELECT c_custkey, c_name, NULL AS bal_cents, 'v1' AS src
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL BY NAME
    SELECT c_custkey,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
             AS bal_cents,
           'v2' AS src
    FROM customer WHERE c_custkey % 2 = 1
    """,
    doc="Schema-drift-tolerant union: two feed versions of the same "
        "entity — v1 ships names, v2 ships balances — unioned BY NAME "
        "with absent columns null-padded (Spark: "
        "unionByName(allowMissingColumns=True); DuckDB: UNION ALL BY "
        "NAME) — the batch twin of the engine's mid-stream RELATION "
        "schema evolution: a consumer reading a table across a column "
        "add/drop must align by NAME, never by position (positional "
        "UNION silently scrambles columns on drift). Pure scan-side "
        "concatenation; no shuffle.",
)
def union_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    v1 = c.where(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", F.lit("v1").alias("src")
    )
    v2 = c.where(F.col("c_custkey") % 2 == 1).select(
        "c_custkey",
        (DEC("c_acctbal", 12, 2) * 100).cast("bigint").alias("bal_cents"),
        F.lit("v2").alias("src"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


# --- nested array-of-structs round-trip --------------------------------------

@register(
    "nested_struct_roundtrip",
    """
    WITH o AS (SELECT o_custkey,
                      CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                           AS BIGINT) AS cents
               FROM orders)
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM o GROUP BY o_custkey
    """,
    doc="Nested array-of-structs round-trip: per customer, orders COLLECT "
        "into a sorted array of (cents, key) structs, and the aggregates "
        "are then computed THROUGH the nested value — count via size(), "
        "min via element [0] of the struct-ordered sort, total via an "
        "aggregate() fold over the struct field — while the oracle "
        "computes them directly from the rows. Equality proves the "
        "nested path (collect_list -> struct-lexicographic sort_array -> "
        "field access/HOF fold) is a faithful multiset round-trip — the "
        "invariant every nest/unnest ETL silently depends on. One "
        "customer-keyed agg; the array lives only inside the row.",
)
def nested_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        (DEC("o_totalprice", 14, 2) * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    g = o.groupBy("o_custkey").agg(
        F.sort_array(
            F.collect_list(F.struct("cents", "o_orderkey"))
        ).alias("arr")
    )
    return g.select(
        "o_custkey",
        F.size("arr").cast("bigint").alias("n_orders"),
        F.expr("arr[0].cents").cast("bigint").alias("min_cents"),
        F.expr("aggregate(arr, 0L, (a, x) -> a + x.cents)")
        .cast("bigint")
        .alias("total_cents"),
    )


# --- higher-order array functions ----------------------------------------------

@register(
    "scalar_higher_order_funcs",
    """
    WITH q AS (
        SELECT l_orderkey,
               CAST(CAST(l_quantity AS DECIMAL(12,4)) AS BIGINT) AS qty
        FROM lineitem),
    arrs AS (
        SELECT l_orderkey, list_sort(list(qty)) AS arr
        FROM q GROUP BY 1)
    SELECT l_orderkey,
           array_to_string(arr, ',') AS arr_csv,
           CAST(len(arr) AS INTEGER) AS arr_n,
           array_to_string(list_transform(arr, x -> x * 2 + 1), ',')
               AS doubled_csv,
           COALESCE(array_to_string(list_filter(arr, x -> x > 25), ','), '')
               AS big_csv,
           CAST(len(list_filter(arr, x -> x > 25)) AS INTEGER) AS big_n,
           CAST(list_sum(arr) AS BIGINT) AS total,
           len(list_filter(arr, x -> x > 45)) > 0 AS anybig,
           len(list_filter(arr, x -> x <= 0)) = 0 AS allpos,
           array_to_string(list_transform(range(1, len(arr) + 1),
                          i -> arr[i] + arr[len(arr) + 1 - i]), ',') AS zsum_csv
    FROM arrs
    """,
    doc="Higher-order array-function parity sweep — the lambda surface "
        "(transform / filter / aggregate-reduce / exists / forall / "
        "zip_with) exercised end-to-end on per-order quantity arrays, "
        "complementing scalar_array_setops' value-level operators. "
        "Arrays are sort_array(collect_list(...)) so the nondeterministic "
        "collect order never reaches the output; quantities pass through "
        "exact decimal to BIGINT so every lambda is integer arithmetic. "
        "Output scalarization (r11): every array result is emitted as a "
        "canonical array_join CSV plus a size column — the driver's pandas "
        "canonicalizer sorts values and cannot hash raw lists, so raw "
        "array/map output columns are banned repo-wide "
        "(tests/test_plan_shapes.py output-schema sweep); the lambda "
        "surface under test is unchanged, only the final projection "
        "scalarizes. DuckDB's array_to_string returns NULL on an empty "
        "list where Spark's array_join returns '' — the oracle COALESCEs "
        "the one filter output that can be empty. "
        "Engine mapping notes: Spark exists/forall become length-of-"
        "filter predicates in DuckDB, zip_with(arr, reverse(arr), +) "
        "becomes an index-lambda over range(1, n+1) against DuckDB's "
        "1-indexed lists, and DuckDB's HUGEINT list_sum is cast back to "
        "BIGINT. Plan shape: one hash aggregate builds the arrays; every "
        "lambda then runs element-wise in the same projection — no "
        "further shuffle, codegen-friendly, array length bounded by "
        "order size (TPC-H <= 7).",
)
def scalar_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", DEC("l_quantity", 12, 4).cast("bigint").alias("qty")
    )
    arrs = q.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("qty")).alias("arr")
    )
    big = F.filter("arr", lambda x: x > 25)
    return arrs.select(
        "l_orderkey",
        F.array_join("arr", ",").alias("arr_csv"),
        F.size("arr").alias("arr_n"),
        F.array_join(
            F.transform("arr", lambda x: x * 2 + 1), ","
        ).alias("doubled_csv"),
        F.array_join(big, ",").alias("big_csv"),
        F.size(big).alias("big_n"),
        F.aggregate(
            "arr", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("total"),
        F.exists("arr", lambda x: x > 45).alias("anybig"),
        F.forall("arr", lambda x: x > 0).alias("allpos"),
        F.array_join(
            F.expr("zip_with(arr, reverse(arr), (a, b) -> a + b)"), ","
        ).alias("zsum_csv"),
    )


# --- deterministic mode ---------------------------------------------------------

@register(
    "agg_mode_tiebreak",
    """
    WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    r AS (
        SELECT event_type, cents, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, cents) AS rn
        FROM c)
    SELECT event_type, cents AS mode_cents, n AS mode_count
    FROM r WHERE rn = 1
    """,
    doc="Deterministic MODE per event type: the most frequent value, ties "
        "broken by smallest value — stated explicitly because both "
        "engines' native mode()/any-tie aggregates leave tie order "
        "unspecified, the classic source of flaky cross-engine results. "
        "Plan: one hash aggregate to the distinct-value count table, then "
        "a top-1 window over that SKINNY rollup (never over raw rows) — "
        "the standard argmax-with-tiebreak shape at any scale.",
)
def agg_mode_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        EV(spark, sf_dir)
        .groupBy(
            "event_type",
            (DEC("value", 12, 2) * 100).cast("bigint").alias("cents"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("cents"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("cents").alias("mode_cents"),
            F.col("n").alias("mode_count"),
        )
    )


@register(
    "sort_case_sensitivity_pin",
    """
    WITH m AS (
        SELECT s_suppkey, s_nationkey,
               CASE WHEN s_suppkey % 3 = 0 THEN upper(s_name)
                    WHEN s_suppkey % 3 = 1 THEN lower(s_name)
                    ELSE s_name END AS mixed
        FROM supplier)
    SELECT s_suppkey, mixed,
           CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey
                ORDER BY mixed, s_suppkey) AS BIGINT) AS binary_rank,
           CAST(ROW_NUMBER() OVER (PARTITION BY s_nationkey
                ORDER BY lower(mixed), s_suppkey) AS BIGINT) AS folded_rank
    FROM m
    """,
    doc="Case-collation sort pin: the same planted mixed-case name column "
        "ranked under raw BINARY byte order (where 'Z' < 'a' because "
        "uppercase code points sort first) and under explicit lower() "
        "case-folding — stated side by side because engines and locales "
        "silently disagree on default collation (ICU/locale builds of "
        "either engine would reorder the binary ranking); both engines "
        "here default to binary UTF-8 comparison and the gate proves the "
        "two rankings agree bit-for-bit, with the key tiebreak making "
        "every rank total-order deterministic. Companion of "
        "sort_null_ordering on the collation axis. Ranks are per-nation "
        "so the windows stay key-partitioned — an unpartitioned rank "
        "over a dimension that is SF-proportional in TPC-H would funnel "
        "it through one task at scale.",
)
def sort_case_sensitivity_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = T(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.when(F.col("s_suppkey") % 3 == 0, F.upper("s_name"))
        .when(F.col("s_suppkey") % 3 == 1, F.lower("s_name"))
        .otherwise(F.col("s_name"))
        .alias("mixed"),
    )
    w_bin = Window.partitionBy("s_nationkey").orderBy("mixed", "s_suppkey")
    w_fold = Window.partitionBy("s_nationkey").orderBy(
        F.lower("mixed"), "s_suppkey"
    )
    return m.select(
        "s_suppkey",
        "mixed",
        F.row_number().over(w_bin).cast("bigint").alias("binary_rank"),
        F.row_number().over(w_fold).cast("bigint").alias("folded_rank"),
    )


@register(
    "join_null_safe_equality",
    """
    WITH l AS (
        SELECT o_orderkey,
               CASE WHEN o_custkey % 37 = 5 THEN NULL
                    ELSE o_custkey END AS k
        FROM orders),
    r AS (
        SELECT c_custkey AS k FROM customer
        UNION ALL SELECT NULL),
    plain AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM l JOIN r ON l.k = r.k),
    nullsafe AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM l) AS n_left,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM l WHERE k IS NULL)
               AS n_null_keys,
           (SELECT n FROM plain) AS n_plain_matched,
           (SELECT n FROM nullsafe) AS n_nullsafe_matched
    """,
    doc="NULL-SAFE join equality pin: the same planted-NULL key column "
        "joined to a dimension (carrying one NULL member) under plain "
        "`=` and under null-safe equality — Spark's `<=>` vs standard "
        "SQL's IS NOT DISTINCT FROM. Load-bearing because plain "
        "equi-joins silently DROP every NULL-keyed row (three-valued "
        "logic: NULL = NULL is UNKNOWN), the classic source of quietly "
        "missing rows when a foreign key is nullable; the null-safe "
        "spelling keeps them, and the two matched counts differ by "
        "exactly the planted NULL population, which the output exposes "
        "alongside both counts. Completes the NULL-semantics pin family "
        "(join_not_in_null_semantics for anti-joins, sort_null_ordering "
        "for ordering). Plan note: Spark recognizes `<=>` as an "
        "EQUI-join key (hash/SMJ, null buckets co-partitioned) — not a "
        "nested loop — which is the reason to prefer it over "
        "coalesce-to-sentinel rewrites that corrupt real sentinel "
        "values.",
)
def join_null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = T(spark, sf_dir, "orders").select(
        F.when(F.col("o_custkey") % 37 == 5, None)
        .otherwise(F.col("o_custkey"))
        .alias("k")
    )
    r = (
        T(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("k"))
        .unionByName(
            spark.range(1).select(F.lit(None).cast("long").alias("k"))
        )
    )
    n_left = l.agg(F.count(F.lit(1)).cast("bigint").alias("n_left"))
    n_nulls = l.where(F.col("k").isNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_null_keys")
    )
    plain = (
        l.join(r, l["k"] == r["k"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_plain_matched"))
    )
    nullsafe = (
        l.join(r, l["k"].eqNullSafe(r["k"]))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nullsafe_matched"))
    )
    return (
        n_left.crossJoin(F.broadcast(n_nulls))
        .crossJoin(F.broadcast(plain))
        .crossJoin(F.broadcast(nullsafe))
    )


@register(
    "window_time_range_rolling",
    """
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(epoch_ms(o_orderdate) // 86400000 AS BIGINT) AS d,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders)
    SELECT o_orderkey, o_custkey, d,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
           CAST(SUM(cents) OVER w AS BIGINT) AS rev_7d
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY d
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="TIME-based trailing RANGE window: per customer, the rolling "
        "7-day order count and revenue as of each order — the single "
        "most common production window shape (trailing-period spend, "
        "velocity checks, rate limits), distinct from "
        "window_range_frame's VALUE-based range and from tumbling "
        "calendar buckets: the frame is [t-6d, t] anchored at EVERY "
        "row, and RANGE (not ROWS) means same-day orders all see each "
        "other regardless of intra-day order. The range key is exact "
        "integer epoch-days (epoch_ms // 86400000, engine-identical "
        "floor division), so frame membership never hits timestamp or "
        "timezone semantics. One customer-keyed window pass; sums in "
        "BIGINT cents.",
)
def window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000"
            " AS BIGINT)"
        ).alias("d"),
        (DEC("o_totalprice", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-6, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "d",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"),
        F.sum("cents").over(w).cast("bigint").alias("rev_7d"),
    )
