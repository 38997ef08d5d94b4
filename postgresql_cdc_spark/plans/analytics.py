"""Warehouse analytics over the TPC-H-shaped tables: statistics and
sketches, feature engineering, data-quality audits, evaluation metrics,
order and customer analytics, graph and skyline queries, privacy audits,
and sampling.

Design rules: integer/string/decimal-exact outputs only, so the DuckDB
oracle hash-matches exactly; blocked equi-joins, windows and hash-aggs only
— nothing all-pairs, nothing driver-side beyond per-round convergence
scalars in the bounded graph loops.

Reference parity: the reference implements no analytics operators
(SURVEY.md §2.2); these extend the warehouse surface a CDC consumer builds
on top of replicated tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from postgresql_cdc_spark.operators import text as tx
from postgresql_cdc_spark.plans.common import DEC, EV, H60, T
from postgresql_cdc_spark.plans.registry import register


@register(
    "sample_stratified",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {H60.format(x="'sample:' || CAST(doc_id AS VARCHAR)")} % 10 < 1
    """,
    doc="Deterministic ~10% content-hash sample (h60(id) mod 10) — "
        "reproducible corpus subsetting with no sampling state; stratify by "
        "adding the stratum column to the WHERE. Pure scan-side filter: at "
        "100 TB it runs at scan speed and column-prunes.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return d.where(tx.in_hash_sample(F.col("doc_id"), 10, 1)).select(
        "doc_id", "lang"
    )


# --- iterative graph analytics: PageRank over the trade graph ----------------

_PR_SCALE = 10**12


def _pr_oracle(iters: int = 3) -> str:
    head = f"""
    WITH e0 AS MATERIALIZED (SELECT c_nationkey AS src, s_nationkey AS dst,
                       CAST(COUNT(*) AS BIGINT) AS w
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                GROUP BY 1, 2),
    outw AS (SELECT src, SUM(w) AS wout FROM e0 GROUP BY src),
    e AS MATERIALIZED (SELECT e0.src, e0.dst, e0.w, outw.wout
          FROM e0 JOIN outw USING (src)),
    nodes AS (SELECT n_nationkey AS id, n_name FROM nation),
    c AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT id, (SELECT {_PR_SCALE} // n FROM c) AS r FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
    r{k} AS (SELECT nodes.id,
                  CAST((SELECT 3 * {_PR_SCALE} // (20 * n) FROM c)
                       + COALESCE(SUM((17 * rr.r * e.w) // (20 * e.wout)), 0)
                       AS BIGINT) AS r
           FROM nodes
           LEFT JOIN e ON e.dst = nodes.id
           LEFT JOIN r{k - 1} rr ON e.src = rr.id
           GROUP BY nodes.id)""")
    return (
        head + "," + ",".join(steps)
        + f"""
    SELECT n_name, r{iters}.r AS rank
    FROM r{iters} JOIN nodes USING (id)"""
    )


@register(
    "graph_pagerank_trade",
    _pr_oracle(3),
    doc="Weighted PageRank (3 power iterations, damping 17/20) over the "
        "nation-to-nation trade graph — customer nation -> supplier nation, "
        "edge weight = lineitems shipped. The canonical ITERATIVE dataflow "
        "algorithm, stated as plain join+agg rounds with integer-exact "
        "scaled-rank arithmetic (operators/graph.pagerank_int), so the "
        "DuckDB oracle replays the identical chain bit-for-bit — no float "
        "accumulation order to disagree on. The fact-table star join "
        "collapses to a <=N^2-row edge list before any iteration; each "
        "round then shuffles only the skinny rank table. Node count is "
        "metadata from the 25-row dimension (cf. similarity.infer_dim).",
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.graph import pagerank_int

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    nodes = n.select("n_nationkey")
    n_nodes = nodes.count()  # 25-row dimension: metadata, not a data path
    r = pagerank_int(edges, nodes, n_nodes, iters=3, scale=_PR_SCALE)
    return r.join(F.broadcast(n), r.id == n.n_nationkey).select(
        "n_name", F.col("r").alias("rank")
    )


# --- triangle census on the trade graph --------------------------------------

@register(
    "graph_triangle_census",
    """
    WITH e0 AS MATERIALIZED (SELECT DISTINCT
                    least(c_nationkey, s_nationkey) AS a,
                    greatest(c_nationkey, s_nationkey) AS b
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN supplier ON l_suppkey = s_suppkey
                WHERE c_nationkey <> s_nationkey),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e0 e1
            JOIN e0 e2 ON e2.a = e1.b
            JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT CAST((SELECT COUNT(DISTINCT n)
                 FROM (SELECT a AS n FROM e0
                       UNION SELECT b FROM e0)) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e0) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles
    """,
    doc="Triangle census of the undirected trade graph: canonical a<b edge "
        "orientation, then the standard two-join triangle enumeration "
        "(x<y<z once each). At scale this is the degree-ordered edge-join "
        "shape (each triangle counted exactly once, no candidate "
        "duplication); the fact-table star collapses to the <=N^2 edge "
        "list first.",
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct()
        .persist()
    )
    e1, e2, e3 = e0.alias("e1"), e0.alias("e2"), e0.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
    )
    nodes = e0.select(F.col("a").alias("n")).union(
        e0.select(F.col("b").alias("n"))
    )
    return (
        nodes.agg(F.count_distinct(F.col("n")).alias("n_nodes"))
        .crossJoin(F.broadcast(e0.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(tri.agg(F.count(F.lit(1)).alias("n_triangles"))))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint"),
            F.col("n_triangles").cast("bigint"),
        )
    )


# --- market-basket affinity (association lift) -------------------------------

@register(
    "basket_part_affinity",
    """
    WITH items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    freq AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
             FROM items GROUP BY l_partkey),
    pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                     CAST(COUNT(*) AS BIGINT) AS c_ab
              FROM items a JOIN items b
                ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2 HAVING COUNT(*) >= 3)
    SELECT part_a, part_b, c_ab,
           CAST((1000 * c_ab * n.n_orders) // (fa.c * fb.c) AS BIGINT)
             AS lift_milli
    FROM pairs CROSS JOIN n
         JOIN freq fa ON part_a = fa.l_partkey
         JOIN freq fb ON part_b = fb.l_partkey
    """,
    doc="Market-basket association mining: part pairs co-purchased in >= 3 "
        "orders, scored by integer-scaled lift (1000 * P(ab)/(P(a)P(b)) "
        "truncated — no float log, exact both engines). The within-order "
        "pair fan-out is bounded by basket size squared (baskets are "
        "small; a degenerate mega-basket would get a basket-size cap, the "
        "same guard as stop-shingles), then two hash aggs and two "
        "part-frequency equi-joins — the same word-count shape as "
        "collocation mining, one level up the cart.",
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct().persist()
    n = items.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= 3)
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .join(
            freq.select(F.col("l_partkey").alias("part_a"),
                        F.col("c").alias("ca")), "part_a")
        .join(
            freq.select(F.col("l_partkey").alias("part_b"),
                        F.col("c").alias("cb")), "part_b")
        .select(
            "part_a", "part_b", "c_ab",
            F.expr("CAST((1000 * c_ab * n_orders) DIV (ca * cb) AS BIGINT)")
            .alias("lift_milli"),
        )
    )


# --- month-over-month trend ---------------------------------------------------

@register(
    "orders_mom_revenue_trend",
    """
    WITH m AS (SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
                           AS VARCHAR) AS month_start,
                      CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                    * 100 AS BIGINT)) AS BIGINT) AS rev_cents,
                      CAST(COUNT(*) AS BIGINT) AS n_orders
               FROM orders GROUP BY 1)
    SELECT month_start, rev_cents, n_orders,
           lag(rev_cents) OVER (ORDER BY month_start) AS prev_cents,
           CAST((1000 * (rev_cents - lag(rev_cents) OVER (ORDER BY month_start)))
                // NULLIF(lag(rev_cents) OVER (ORDER BY month_start), 0)
                AS BIGINT) AS growth_milli
    FROM m
    """,
    doc="Month-over-month revenue trend: monthly rollup in true cents (the "
        "repo's DECIMAL money idiom — floor(double*100) would lose a cent "
        "on half the orders) with LAG growth in integer per-mille. The "
        "heavy work is one partial-aggregatable hash agg over the fact "
        "table; the trend window runs over the tiny month table (one row "
        "per month — a single-partition window is CORRECT here, unlike "
        "over fact rows). The dashboard time-series every warehouse "
        "serves.",
)
def orders_mom_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date").cast("string").alias("month_start")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(12,2)") * 100).cast("bigint")
        ).cast("bigint").alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month_start")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        "month_start", "rev_cents", "n_orders",
        prev.alias("prev_cents"),
        F.expr(
            "CAST((1000 * (rev_cents - lag(rev_cents) OVER (ORDER BY month_start)))"
            " DIV NULLIF(lag(rev_cents) OVER (ORDER BY month_start), 0) AS BIGINT)"
        ).alias("growth_milli"),
    )


# --- RFM customer segmentation ----------------------------------------------

_RFM_CM = """
    SELECT o_custkey,
           CAST(epoch_ms(MAX(o_orderdate)) AS BIGINT) AS rec,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 10000 AS BIGINT)
               AS mon
    FROM orders GROUP BY o_custkey
"""


@register(
    "customer_rfm_segments",
    f"""
    WITH cm AS ({_RFM_CM}),
    q AS (SELECT
        percentile_disc(0.25) WITHIN GROUP (ORDER BY rec) AS r1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY rec) AS r2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY rec) AS r3,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY freq) AS f1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY freq) AS f2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY freq) AS f3,
        percentile_disc(0.25) WITHIN GROUP (ORDER BY mon) AS m1,
        percentile_disc(0.50) WITHIN GROUP (ORDER BY mon) AS m2,
        percentile_disc(0.75) WITHIN GROUP (ORDER BY mon) AS m3
      FROM cm)
    SELECT CAST((1 + CAST(rec > r1 AS INT) + CAST(rec > r2 AS INT)
                    + CAST(rec > r3 AS INT)) * 100
              + (1 + CAST(freq > f1 AS INT) + CAST(freq > f2 AS INT)
                    + CAST(freq > f3 AS INT)) * 10
              + (1 + CAST(mon > m1 AS INT) + CAST(mon > m2 AS INT)
                    + CAST(mon > m3 AS INT)) AS INT)
               AS rfm_segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM cm CROSS JOIN q
    GROUP BY 1
    """,
    doc="RFM customer segmentation (recency / frequency / monetary "
        "quartiles -> 64 segments): the classic CRM partitioning, stated "
        "scale-correctly — quartile FENCES come from percentile_disc over "
        "the per-customer rollup (nine scalars, broadcast back), NOT a "
        "global NTILE window, which would funnel every customer through "
        "one partition at 100 TB. Monetary is exact tenth-mils via the "
        "repo's DECIMAL money idiom; all fence comparisons are integer, "
        "so bucketing is engine-exact. Shape: one fact-table hash agg + "
        "one single-row broadcast + one final hash agg to <=64 rows.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    cm = o.groupBy("o_custkey").agg(
        F.unix_millis(F.max("o_orderdate").cast("timestamp")).alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        (F.sum(F.col("o_totalprice").cast("decimal(12,4)")) * 10000)
        .cast("bigint").alias("mon"),
    )
    q = cm.agg(*[
        F.expr(f"percentile_disc(0.{p}) WITHIN GROUP (ORDER BY {c})")
        .cast("bigint").alias(f"{c[0]}{i + 1}")
        for c in ("rec", "freq", "mon")
        for i, p in enumerate(("25", "50", "75"))
    ])

    def bucket(c: str):
        x = F.col(c)
        return (
            F.lit(1)
            + (x > F.col(f"{c[0]}1")).cast("int")
            + (x > F.col(f"{c[0]}2")).cast("int")
            + (x > F.col(f"{c[0]}3")).cast("int")
        )

    seg = (
        bucket("rec") * 100 + bucket("freq") * 10 + bucket("mon")
    ).cast("int")
    return (
        cm.crossJoin(F.broadcast(q))
        .select(seg.alias("rfm_segment"))
        .groupBy("rfm_segment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- join-key skew diagnostics ----------------------------------------------

@register(
    "stats_key_skew_profile",
    """
    WITH k AS (SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n
               FROM orders GROUP BY o_custkey),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS nk,
                   CAST(MAX(n) AS BIGINT) AS mx FROM k),
    top AS (SELECT key, n,
                   ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS rank
            FROM k)
    SELECT top.rank, top.key, top.n,
           CAST((1000 * top.n) // tot.t AS BIGINT) AS share_permille,
           CAST((1000 * tot.mx * tot.nk) // tot.t AS BIGINT)
               AS skew_x1000
    FROM top CROSS JOIN tot
    WHERE top.rank <= 10
    """,
    doc="Join-key skew diagnostic: the top-10 heaviest o_custkey values "
        "with integer per-mille share, plus the skew factor (max key "
        "frequency over mean, x1000) every row repeats — the profile an "
        "engineer reads BEFORE picking broadcast/salt/AQE strategy for a "
        "big join, and exactly what this repo's salted patterns act on. "
        "Shape: one hash agg to the key histogram, one one-row scalar "
        "broadcast, and a top-10 rank over the (already aggregated) "
        "histogram — at 100 TB the histogram is |distinct keys| rows, and "
        "the global window runs on its top slice only after a "
        "partial-top-k pushdown (TakeOrdered); nothing touches raw fact "
        "rows twice.",
)
def stats_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    k = k.persist()  # histogram feeds tot AND top; harness unpersists
    tot = k.agg(
        F.sum("n").alias("t"),
        F.count(F.lit(1)).alias("nk"),
        F.max("n").alias("mx"),
    )
    w = Window.orderBy(F.desc("n"), F.asc("key"))
    top = (
        k.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "rank", "key", "n",
        F.expr("(1000 * n) div t").alias("share_permille"),
        F.expr("(1000 * mx * nk) div t").alias("skew_x1000"),
    )


# --- order-vs-ship backlog time series ---------------------------------------

@register(
    "orders_backlog_timeseries",
    """
    WITH li AS (
        SELECT CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS od,
               CAST(CAST(l.l_shipdate AS DATE) - DATE '1970-01-01'
                    AS BIGINT) AS sd,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    daily AS (
        SELECT d, CAST(SUM(ordered) AS BIGINT) AS ordered_qty,
               CAST(SUM(shipped) AS BIGINT) AS shipped_qty
        FROM (
            SELECT od AS d, qty AS ordered, 0 AS shipped FROM li
            UNION ALL
            SELECT sd, 0, qty FROM li)
        GROUP BY d)
    SELECT d AS day_num, ordered_qty, shipped_qty,
           CAST(SUM(ordered_qty - shipped_qty)
                OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS backlog_qty
    FROM daily
    """,
    doc="Order-vs-ship backlog time series: daily ordered quantity (by "
        "order date) and shipped quantity (by ship date) from ONE pass "
        "over the joined fact — each lineitem explodes into its two "
        "(day, measure) contributions, so the double rollup costs one "
        "shuffle instead of two scans — then the running difference is "
        "the open backlog, cumulated by a window over the aggregated "
        "per-day table (hundreds of rows at ANY fact size, so the "
        "unpartitioned cumsum window is correct here, unlike over raw "
        "rows). The operations-dashboard staple for fulfillment lag. "
        "Integer day ordinals and integral quantities: engine-exact.",
)
def orders_backlog_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint").alias("sd"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("bigint").alias("od"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    contrib = j.select(
        F.explode(
            F.array(
                F.struct(F.col("od").alias("d"), F.col("qty").alias("ordered"),
                         F.lit(0).cast("bigint").alias("shipped")),
                F.struct(F.col("sd").alias("d"), F.lit(0).cast("bigint").alias("ordered"),
                         F.col("qty").alias("shipped")),
            )
        ).alias("c")
    )
    daily = contrib.groupBy(F.col("c.d").alias("d")).agg(
        F.sum("c.ordered").alias("ordered_qty"),
        F.sum("c.shipped").alias("shipped_qty"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    return daily.select(
        F.col("d").alias("day_num"), "ordered_qty", "shipped_qty",
        F.sum(F.col("ordered_qty") - F.col("shipped_qty")).over(w)
        .alias("backlog_qty"),
    )


# --- k-anonymity audit -------------------------------------------------------

@register(
    "privacy_k_anonymity_audit",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           COUNT(*) < 5 AS violates_k5
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    doc="k-anonymity audit over the quasi-identifier (nation, market "
        "segment): any equivalence class smaller than k=5 re-identifies "
        "its members and is flagged for suppression/generalization before "
        "the table ships to analysts or a training corpus — the standard "
        "privacy gate (Sweeney 2002) next to PII scrubbing. One "
        "partial-aggregatable hash agg; output is bounded by the "
        "quasi-identifier domain, not row count.",
)
def privacy_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .select(
            "c_nationkey", "c_mktsegment", "group_size",
            (F.col("group_size") < 5).alias("violates_k5"),
        )
    )


# --- data-quality constraint audit -------------------------------------------

@register(
    "dq_constraint_audit",
    """
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations FROM (
        SELECT 'orders_orphan_custkey' AS rule, COUNT(*) AS n_violations
        FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'orders_nonpositive_total', COUNT(*)
        FROM orders WHERE o_totalprice <= 0
        UNION ALL
        SELECT 'lineitem_discount_range', COUNT(*)
        FROM lineitem WHERE l_discount < 0 OR l_discount > 1
        UNION ALL
        SELECT 'lineitem_nonpositive_qty', COUNT(*)
        FROM lineitem WHERE l_quantity <= 0
        UNION ALL
        SELECT 'customer_duplicate_pk', COUNT(*) FROM (
            SELECT c_custkey FROM customer
            GROUP BY c_custkey HAVING COUNT(*) > 1)
        UNION ALL
        SELECT 'customer_null_pk', COUNT(*)
        FROM customer WHERE c_custkey IS NULL)
    """,
    doc="Data-contract audit (dbt-test style) in one report: referential "
        "integrity (orders whose custkey has no customer — LEFT ANTI "
        "join), domain ranges (non-positive totals/quantities, discount "
        "outside [0,1]), primary-key uniqueness and non-null. Each rule is "
        "a partial-aggregatable count over exactly the columns it needs "
        "(scans column-prune to 1-2 columns); the anti join broadcasts "
        "the key side when small and degrades to a shuffle join at scale. "
        "A healthy fixture reports all zeros — the value is the harness "
        "proving the CHECKS agree across engines, so a real violation "
        "count would too.",
)
def dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    li = T(spark, sf_dir, "lineitem")

    def one(rule: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(rule).alias("rule"), "n_violations"
        )

    orphan = o.join(c, o.o_custkey == c.c_custkey, "left_anti")
    dup_pk = (
        c.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )
    parts = [
        one("orders_orphan_custkey", orphan),
        one("orders_nonpositive_total", o.where(F.col("o_totalprice") <= 0)),
        one("lineitem_discount_range",
            li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1))),
        one("lineitem_nonpositive_qty", li.where(F.col("l_quantity") <= 0)),
        one("customer_duplicate_pk", dup_pk),
        one("customer_null_pk", c.where(F.col("c_custkey").isNull())),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- exact AUC (Mann-Whitney with tie correction) ----------------------------

@register(
    "eval_auc_exact",
    """
    WITH s AS (
        SELECT vec_id,
               CAST(label < 5 AS INT) AS pos,
               list_reduce(list_concat([CAST(0 AS BIGINT)],
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))),
                   (a, b) -> a + b) AS score
        FROM embeddings WHERE len(embedding) > 0),
    r AS (
        SELECT pos,
               2 * RANK() OVER (ORDER BY score ASC)
                 + COUNT(*) OVER (PARTITION BY score) - 1 AS avg_rank_x2
        FROM s),
    agg AS (
        SELECT CAST(SUM(CASE WHEN pos = 1 THEN avg_rank_x2 END) AS BIGINT)
                   AS s2,
               CAST(SUM(pos) AS BIGINT) AS npos,
               CAST(SUM(1 - pos) AS BIGINT) AS nneg
        FROM r)
    SELECT npos, nneg,
           CAST(s2 - npos * (npos + 1) AS BIGINT) AS u_x2,
           CAST((1000000 * (s2 - npos * (npos + 1)))
                // (2 * npos * nneg) AS BIGINT) AS auc_ppm
    FROM agg
    """,
    doc="Exact AUC / Mann-Whitney U for a binary task (label < 5) scored "
        "by an integer embedding statistic, with PROPER tie handling: "
        "average ranks carried doubled (2*min_rank + tie_count - 1) so "
        "every intermediate stays integer and the final AUC lands as "
        "exact parts-per-million — the classifier-eval primitive, "
        "computed at corpus scale without sampling. The oracle states "
        "the textbook per-row global RANK; the Spark plan deliberately "
        "does not run one: ranks collapse onto the DISTINCT-SCORE "
        "histogram (every row of score v shares doubled midrank "
        "2*(smaller+1) + ties - 1), and the strictly-smaller counts come "
        "from the two-level stitched exclusive prefix "
        "(operators/seams.py), so no window task holds more than "
        "max(8192, score-range/1000/8192) rows at any corpus size.",
)
def eval_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings", fanout=False).where(F.size("embedding") > 0)
    s = e.select(
        (F.col("label") < 5).cast("int").alias("pos"),
        F.expr(
            "aggregate(transform(embedding, "
            "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)), "
            "0L, (a, b) -> a + b)"
        ).alias("score"),
    )
    # distinct-score rollup: scores can be negative, so the bucket id uses
    # floor division (div truncates toward zero and would fold -1/+1
    # buckets together around zero).
    vals = (
        s.groupBy("score")
        .agg(
            F.sum("pos").cast("bigint").alias("cp"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
        .withColumn(
            "bkt", F.floor(F.col("score") / F.lit(1000)).cast("bigint")
        )
        .persist()  # feeds bcounts AND ranked; harness unpersists
    )
    bcounts = vals.groupBy("bkt").agg(F.sum("c").alias("bn"))
    from postgresql_cdc_spark.operators.seams import (
        two_level_exclusive_prefix,
    )

    carry = two_level_exclusive_prefix(
        bcounts, "bkt", {"bn": "carry"}
    ).select("bkt", "carry")
    w_in = Window.partitionBy("bkt").orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = vals.join(carry, "bkt").withColumn(
        "smaller", F.col("carry") + F.sum("c").over(w_in) - F.col("c")
    )
    # all cp positives at score v share doubled midrank
    # 2*(smaller+1) + c - 1 (= 2*RANK + tie_count - 1 of the oracle)
    agg = ranked.agg(
        F.sum(
            F.col("cp") * (2 * (F.col("smaller") + 1) + F.col("c") - 1)
        )
        .cast("bigint")
        .alias("s2"),
        F.sum("cp").cast("bigint").alias("npos"),
        (F.sum("c") - F.sum("cp")).cast("bigint").alias("nneg"),
    )
    return agg.select(
        "npos", "nneg",
        (F.col("s2") - F.col("npos") * (F.col("npos") + 1)).alias("u_x2"),
        F.expr(
            "(1000000 * (s2 - npos * (npos + 1))) div (2 * npos * nneg)"
        ).alias("auc_ppm"),
    )


# --- BFS hop distance on the nation trade graph ------------------------------

# Undirected trade edges: nation pairs connected by at least one lineitem
# whose customer and supplier sit in different nations. Both engines build
# the identical symmetric directed edge list.
_TRADE_EDGES = """
    SELECT DISTINCT c_nationkey AS s, s_nationkey AS t
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE c_nationkey <> s_nationkey
    UNION
    SELECT DISTINCT s_nationkey AS s, c_nationkey AS t
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE c_nationkey <> s_nationkey
"""


@register(
    "graph_bfs_hops",
    f"""
    WITH RECURSIVE e AS MATERIALIZED ({_TRADE_EDGES}),
    seed AS (SELECT n_nationkey FROM nation
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'AFRICA'),
    walk(id, d) AS (
        SELECT n_nationkey, 0 FROM seed
        UNION
        SELECT e.t, w.d + 1 FROM walk w JOIN e ON e.s = w.id
        WHERE w.d < 11
    )
    SELECT n_name, CAST(MIN(d) AS BIGINT) AS hops
    FROM walk JOIN nation ON id = n_nationkey
    GROUP BY n_name
    """,
    doc="Multi-source BFS: shortest hop count from every AFRICA nation "
        "through the undirected trade graph (nations linked by any "
        "cross-nation lineitem). The missing graph primitive next to "
        "components/PageRank/triangles: reachability radius, supply-chain "
        "blast distance. Implemented as bounded min-distance relaxation "
        "(operators/graph.bfs_hops) — per round ONE equi-join of the "
        "skinny (id, d) table against the edge list plus one min-agg, "
        "both keyed on node id, with localCheckpoint lineage truncation "
        "and a monotonicity-based convergence probe (reached-count + "
        "distance-sum invariant <=> fixpoint, so no join against prior "
        "state). Hops are integers: bit-identical to the oracle's "
        "recursive CTE with the same depth bound. At 100 TB the fact-star "
        "collapses to a <=N^2 nation edge list before any iteration "
        "touches it; rounds = graph diameter, single digits on real "
        "trade topologies.",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.graph import bfs_hops

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region")

    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()

    seeds = (
        nat.join(
            F.broadcast(reg.where(F.col("r_name") == "AFRICA")),
            nat.n_regionkey == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    dist = bfs_hops(sym, seeds, max_iter=12)
    return (
        dist.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            dist.id == F.col("n_nationkey"),
        )
        .select("n_name", F.col("hops").cast("bigint").alias("hops"))
    )


# --- Pareto frontier (skyline) ----------------------------------------------

@register(
    "skyline_pareto_parts",
    """
    WITH p AS (SELECT p_partkey,
                      CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                           AS BIGINT) AS price_c,
                      CAST(p_size AS BIGINT) AS p_size
               FROM part),
    w AS (SELECT *,
                 max(p_size) OVER (ORDER BY price_c RANGE BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_lt,
                 max(p_size) OVER (ORDER BY price_c RANGE BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS m_le
          FROM p)
    SELECT p_partkey, price_c, p_size
    FROM w
    WHERE (m_lt IS NULL OR m_lt < p_size) AND m_le <= p_size
    """,
    doc="Skyline / Pareto frontier over parts: minimize price, maximize "
        "size — keep exactly the parts no other part dominates (<= price "
        "and >= size with one strict; equal pairs both survive). The "
        "classic multi-objective OLAP operator (Borzsonyi et al., ICDE "
        "2001). 2-D skyline needs no pair join: sort by price and a part "
        "is dominated iff a strictly-cheaper part has >= size (running "
        "max over the open range frame) or a <=-priced part has strictly "
        "greater size (closed frame). Implemented TWO-PHASE for scale: "
        "phase 1 runs the same two range-frame windows PARTITIONED BY a "
        "price band (fully parallel; removing locally-dominated rows can "
        "never change the frontier since dominance is transitive within "
        "<=-price and bands are price ranges), phase 2 runs the exact "
        "global windows on the survivors only — bounded by bands x "
        "distinct sizes (p_size has <=50 values), thousands of rows at "
        "any corpus scale, so the single-partition global sort that makes "
        "naive windowed skylines a 100 TB scale-killer touches a "
        "vanishing survivor set. Price goes through decimal cents so "
        "both engines agree bit-for-bit.",
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.frontier import pareto_skyline_2d

    p = T(spark, sf_dir, "part").select(
        "p_partkey",
        (DEC("p_retailprice", 12, 2) * 100).cast("bigint").alias("price_c"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    return pareto_skyline_2d(p, cost="price_c", gain="p_size")


# --- equal-frequency quantile binning ----------------------------------------

_QB_PROBS = tuple(i / 10 for i in range(1, 10))


@register(
    "feat_quantile_binning",
    f"""
    WITH o AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                           AS BIGINT) AS cents
               FROM orders),
    b AS (SELECT {', '.join(
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY cents) AS b{i}"
        for i, p in enumerate(_QB_PROBS, start=1)
    )} FROM o)
    SELECT CAST(({' + '.join(
        f'CAST(cents > b{i} AS INT)' for i in range(1, 10)
    )}) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS lo_cents,
           CAST(MAX(cents) AS BIGINT) AS hi_cents
    FROM o CROSS JOIN b
    GROUP BY 1
    """,
    doc="Equal-frequency quantile binning (decile discretization) of order "
        "totals — the standard feature-engineering transform for "
        "gradient-boosted trees and monotone-feature bucketing. Two-phase: "
        "phase 1 computes the 9 interior cut points as EXACT discrete "
        "percentiles over integer cents (one sorted agg to a single row), "
        "phase 2 broadcasts that row and assigns each order its bin by "
        "counting exceeded cuts — a pure projection, no second shuffle "
        "until the per-bin rollup (map-side combinable to 10 rows). "
        "percentile_disc picks an actual data value, so cut points — and "
        "therefore every bin assignment — are bit-identical across "
        "engines, unlike interpolating percentile. The broadcast of a "
        "one-row bounds frame is the same scale shape as the IVF "
        "centroid literals: O(1) data to every executor.",
)
def feat_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        (DEC("o_totalprice", 14, 2) * 100).cast("bigint").alias("cents")
    )
    bounds = o.agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY cents)"
            ).alias(f"b{i}")
            for i, p in enumerate(_QB_PROBS, start=1)
        ]
    )
    bin_expr = " + ".join(
        f"CAST(cents > b{i} AS INT)" for i in range(1, 10)
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(F.expr(bin_expr).cast("bigint").alias("bin"), "cents")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


# --- ABC (Pareto 80/15/5) revenue classification -----------------------------

@register(
    "orders_abc_classification",
    """
    WITH pr AS (SELECT l_partkey,
                       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                                     * 100 AS BIGINT)) AS BIGINT) AS rev_c
                FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS t FROM pr),
    cum AS (SELECT l_partkey, rev_c,
                   CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_c
            FROM pr)
    SELECT CASE WHEN cum_c * 100 <= t * 80 THEN 'A'
                WHEN cum_c * 100 <= t * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_c) AS BIGINT) AS class_rev_cents
    FROM cum CROSS JOIN tot
    GROUP BY 1
    """,
    doc="ABC (Pareto 80/15/5) inventory classification: parts ranked by "
        "revenue, class A = parts whose inclusive cumulative revenue "
        "share stays within 80%, B to 95%, C the tail — the classic "
        "inventory-control rollup. The cumulative is a GLOBAL prefix sum "
        "over the ranked part rollup, which a naive window funnels "
        "through one partition; the Spark side runs the TWO-PHASE "
        "distributed scan (same structure as events_lateness_profile's "
        "prefix-max): per-revenue-band totals (tiny) -> exclusive "
        "cumulative across bands -> broadcast carry-in + in-band "
        "inclusive running sum, all heavy stages partitioned by band — "
        "bands are descending-revenue ranges so band order IS rank "
        "order. Thresholds compare cum*100 <= total*k in integer cents "
        "(no division, no floats). The oracle states the naive single "
        "window.",
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = T(spark, sf_dir, "lineitem")
    pr = (
        li.select(
            "l_partkey",
            (DEC("l_extendedprice", 12, 2) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("cents").cast("bigint").alias("rev_c"))
        # band = descending-revenue range, so ascending band order is
        # exactly descending revenue order; in-band ties fall to l_partkey
        .withColumn("band", -F.expr("rev_c div 1000000"))
        .persist()
    )
    tot = pr.agg(F.sum("rev_c").cast("bigint").alias("t"))
    # phase 1: per-band totals (|bands| rows), exclusive running sum
    bsum = pr.groupBy("band").agg(F.sum("rev_c").alias("bsum"))
    w_excl = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    carry = bsum.select(
        "band",
        F.coalesce(F.sum("bsum").over(w_excl), F.lit(0)).alias("carry_in"),
    )
    # phase 2: in-band inclusive running sum + carry-in
    w_band = (
        W.partitionBy("band")
        .orderBy(F.desc("rev_c"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = (
        pr.join(F.broadcast(carry), "band")
        .select(
            "l_partkey", "rev_c",
            (F.col("carry_in") + F.sum("rev_c").over(w_band))
            .cast("bigint")
            .alias("cum_c"),
        )
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.when(F.col("cum_c") * 100 <= F.col("t") * 80, "A")
            .when(F.col("cum_c") * 100 <= F.col("t") * 95, "B")
            .otherwise("C")
            .alias("abc_class"),
            "rev_c",
        )
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_c").cast("bigint").alias("class_rev_cents"),
        )
    )


# --- GDPR erasure cascade audit ----------------------------------------------

@register(
    "privacy_erasure_cascade",
    """
    WITH del_c AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    del_o AS (SELECT o_orderkey FROM orders
              SEMI JOIN del_c ON o_custkey = c_custkey),
    cnt_c AS (SELECT COUNT(*) AS n FROM del_c),
    tot_c AS (SELECT COUNT(*) AS n FROM customer),
    cnt_o AS (SELECT COUNT(*) AS n FROM del_o),
    tot_o AS (SELECT COUNT(*) AS n FROM orders),
    cnt_l AS (SELECT COUNT(*) AS n FROM lineitem
              SEMI JOIN del_o ON l_orderkey = o_orderkey),
    tot_l AS (SELECT COUNT(*) AS n FROM lineitem)
    SELECT 'customer' AS table_name,
           CAST((SELECT n FROM cnt_c) AS BIGINT) AS n_purged,
           CAST((SELECT n FROM tot_c) - (SELECT n FROM cnt_c) AS BIGINT)
             AS n_retained
    UNION ALL
    SELECT 'orders',
           CAST((SELECT n FROM cnt_o) AS BIGINT),
           CAST((SELECT n FROM tot_o) - (SELECT n FROM cnt_o) AS BIGINT)
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT n FROM cnt_l) AS BIGINT),
           CAST((SELECT n FROM tot_l) - (SELECT n FROM cnt_l) AS BIGINT)
    """,
    doc="GDPR/CCPA erasure-cascade audit: given a deletion list (every "
        "97th customer stands in for the erasure-request queue), follow "
        "the foreign-key cascade customer -> orders -> lineitem and "
        "report purged vs retained row counts per table — the compliance "
        "report every right-to-be-forgotten pipeline must produce before "
        "and after the actual delete, and the natural consumer-side twin "
        "of the reference's DELETE decode path (PgWalMessageDecoder "
        "delete messages carry only the key tuple; this is what a "
        "downstream does with those keys at warehouse scale). Shape: the "
        "deletion list broadcasts (requests are always tiny vs facts); "
        "each cascade level is a broadcast LEFT SEMI join counted with a "
        "map-side-combinable agg — the fact tables are scanned once "
        "each, never shuffled.",
)
def privacy_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey")

    del_c = c.where(F.col("c_custkey") % 97 == 0)
    del_o = o.join(
        F.broadcast(del_c), o.o_custkey == del_c.c_custkey, "left_semi"
    ).select("o_orderkey")
    purged_l = li.join(
        F.broadcast(del_o), li.l_orderkey == del_o.o_orderkey, "left_semi"
    )

    def row(name, purged_df, total_df):
        p = purged_df.agg(F.count(F.lit(1)).alias("n_purged"))
        t = total_df.agg(F.count(F.lit(1)).alias("n_total"))
        return p.crossJoin(F.broadcast(t)).select(
            F.lit(name).alias("table_name"),
            F.col("n_purged").cast("bigint").alias("n_purged"),
            (F.col("n_total") - F.col("n_purged"))
            .cast("bigint")
            .alias("n_retained"),
        )

    return (
        row("customer", del_c, c)
        .unionByName(row("orders", del_o, o))
        .unionByName(row("lineitem", purged_l, li))
    )


# --- fixed-k per-stratum reservoir sample ------------------------------------

@register(
    "sample_reservoir_per_group",
    f"""
    WITH r AS (SELECT doc_id, lang, source,
                      ROW_NUMBER() OVER (PARTITION BY lang
                          ORDER BY {H60.format(
                              x="'rsv:' || CAST(doc_id AS VARCHAR)")},
                              doc_id) AS rn
               FROM documents)
    SELECT lang, doc_id, source, CAST(rn AS INT) AS rn
    FROM r WHERE rn <= 20
    """,
    doc="Fixed-size per-stratum sample (the distributed, deterministic "
        "stand-in for reservoir sampling): EXACTLY min(k, |stratum|) docs "
        "per language, chosen by ranking on a salted content hash — "
        "uniform over the stratum, reproducible across runs/engines with "
        "no sampling state, and stable under corpus growth in "
        "distribution (each doc keeps its own rank key). Complements "
        "sample_stratified (Bernoulli fraction: size varies, this "
        "guarantees the quota). Shape: one hash shuffle on the stratum "
        "key + per-stratum top-k; at 100 TB the top-k pushes into "
        "per-partition heaps before the exchange (rank <= k prunes "
        "map-side under TakeOrdered-style evaluation), so the shuffle "
        "carries candidates, not the corpus.",
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from postgresql_cdc_spark.operators.text import h60

    d = T(spark, sf_dir, "documents", fanout=False)
    w = W.partitionBy("lang").orderBy(
        h60(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("lang", "doc_id", "source", F.col("rn").cast("int"))
    )


# --- reorder survival life table ---------------------------------------------

@register(
    "orders_reorder_survival_table",
    """
    WITH g AS (SELECT o_custkey,
                      epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 86400000
                        AS day_num
               FROM orders),
    gaps AS (SELECT day_num - lag(day_num) OVER (PARTITION BY o_custkey
                        ORDER BY day_num) AS gap_days
             FROM g),
    ev AS (SELECT (gap_days // 30) * 30 AS bucket_start_days,
                  COUNT(*) AS n_events
           FROM gaps WHERE gap_days IS NOT NULL
           GROUP BY 1),
    risk AS (SELECT bucket_start_days, n_events,
                    CAST(SUM(n_events) OVER (ORDER BY bucket_start_days DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS n_at_risk
             FROM ev)
    SELECT CAST(bucket_start_days AS BIGINT) AS bucket_start_days,
           CAST(n_events AS BIGINT) AS n_events, n_at_risk,
           CAST((1000000 * n_events) // n_at_risk AS BIGINT) AS hazard_ppm
    FROM risk
    """,
    doc="Reorder survival life table (the Kaplan-Meier data layer for "
        "churn analysis): inter-order gaps per customer, bucketed into "
        "30-day intervals, with the at-risk count (gaps surviving to the "
        "bucket, a reverse-cumulative sum over the bucket rollup) and "
        "the integer-ppm discrete hazard n_events / n_at_risk — the "
        "exact integers a KM curve multiplies, emitted as the table "
        "instead of the float product so both engines agree bit-for-bit "
        "(the uncensored life table: every observed gap is an event). "
        "Shape: one customer-keyed window for gaps (dates never leave "
        "their partition), one hash agg to the <=|max gap / 30| bucket "
        "rollup, one window over that tiny rollup. At 100 TB the only "
        "full-data pass is the lag window on the orders table's natural "
        "key.",
)
def orders_reorder_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000"
        ).alias("day_num"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day_num")
    gaps = o.select(
        (F.col("day_num") - F.lag("day_num").over(w)).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    ev = gaps.groupBy(
        F.expr("(gap_days div 30) * 30").alias("bucket_start_days")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w_risk = Window.orderBy(F.desc("bucket_start_days")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = ev.withColumn(
        "n_at_risk", F.sum("n_events").over(w_risk).cast("bigint")
    )
    return risk.select(
        F.col("bucket_start_days").cast("bigint").alias("bucket_start_days"),
        F.col("n_events").cast("bigint").alias("n_events"),
        "n_at_risk",
        F.expr("(1000000 * n_events) div n_at_risk").cast("bigint")
        .alias("hazard_ppm"),
    )


# --- referential-integrity orphan audit --------------------------------------

@register(
    "dq_referential_orphans",
    """
    WITH live_c AS (SELECT c_custkey FROM customer WHERE c_custkey % 113 <> 0),
    live_o AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 211 <> 0),
    o_orphans AS (SELECT COUNT(*) AS n FROM orders
                  ANTI JOIN live_c ON o_custkey = c_custkey),
    o_total AS (SELECT COUNT(*) AS n FROM orders),
    l_orphans AS (SELECT COUNT(*) AS n FROM lineitem
                  ANTI JOIN live_o ON l_orderkey = o_orderkey),
    l_total AS (SELECT COUNT(*) AS n FROM lineitem)
    SELECT 'orders->customer' AS fk_relation,
           CAST((SELECT n FROM o_orphans) AS BIGINT) AS n_orphans,
           CAST((SELECT n FROM o_total) AS BIGINT) AS n_checked
    UNION ALL
    SELECT 'lineitem->orders',
           CAST((SELECT n FROM l_orphans) AS BIGINT),
           CAST((SELECT n FROM l_total) AS BIGINT)
    """,
    doc="Referential-integrity orphan audit: count child rows whose "
        "foreign key has no live parent — THE invariant a CDC replica "
        "must re-verify after every backfill, schema migration, or "
        "out-of-order apply (deletes arriving before their children's "
        "updates leave exactly these orphans). Parents are planted as "
        "'hard-deleted' (every 113th customer, every 211th order) so the "
        "gate has known true orphan counts on both engines. Shape: two "
        "LEFT ANTI joins, each co-partitioned on the FK — the same "
        "shuffle the downstream join workload already pays — reduced "
        "map-side to per-table counts; nothing wide survives the scan.",
)
def dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey")

    live_c = c.where(F.col("c_custkey") % 113 != 0)
    live_o = o.where(F.col("o_orderkey") % 211 != 0).select("o_orderkey")

    def row(name, orphans_df, total_df):
        p = orphans_df.agg(F.count(F.lit(1)).alias("n_orphans"))
        t = total_df.agg(F.count(F.lit(1)).alias("n_checked"))
        return p.crossJoin(F.broadcast(t)).select(
            F.lit(name).alias("fk_relation"),
            F.col("n_orphans").cast("bigint").alias("n_orphans"),
            F.col("n_checked").cast("bigint").alias("n_checked"),
        )

    o_orph = o.join(live_c, o.o_custkey == live_c.c_custkey, "left_anti")
    l_orph = li.join(live_o, li.l_orderkey == live_o.o_orderkey, "left_anti")
    return row("orders->customer", o_orph, o).unionByName(
        row("lineitem->orders", l_orph, li)
    )


# --- rolling window median ---------------------------------------------------

@register(
    "orders_rolling_median_revenue",
    """
    WITH d AS (SELECT o_orderpriority,
                      epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 86400000
                        AS day_num,
                      CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                                    AS BIGINT)) AS BIGINT) AS rev_c
               FROM orders GROUP BY o_orderpriority, day_num)
    SELECT o_orderpriority, CAST(day_num AS BIGINT) AS day_num, rev_c,
           CAST(quantile_disc(rev_c, 0.5) OVER (PARTITION BY o_orderpriority
                ORDER BY day_num ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS rolling_med_7d
    FROM d
    """,
    doc="Rolling windowed median: per order priority, the discrete median "
        "of daily revenue over the trailing 7 observed days — the robust "
        "moving-baseline every monitoring dashboard wants where a moving "
        "AVERAGE is wrecked by one spike day. Spark has no percentile "
        "window aggregate, so the engine composes it: collect_list over "
        "the bounded ROWS frame, array_sort, pick element (n+1) div 2 — "
        "exactly DuckDB's quantile_disc(0.5) discrete-lower-median "
        "semantics, integer cents end to end. The frame is 7 rows, so "
        "the in-row sort is O(7 log 7) per output row and the only "
        "shuffle is the (priority, day) rollup; the window never sees "
        "raw orders.",
)
def orders_rolling_median_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr(
            "unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000"
        ).alias("day_num"),
        (DEC("o_totalprice", 14, 2) * 100).cast("bigint").alias("cents"),
    )
    d = o.groupBy("o_orderpriority", "day_num").agg(
        F.sum("cents").cast("bigint").alias("rev_c")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day_num")
        .rowsBetween(-6, 0)
    )
    return (
        d.withColumn("__lst", F.collect_list("rev_c").over(w))
        .select(
            "o_orderpriority",
            F.col("day_num").cast("bigint").alias("day_num"),
            "rev_c",
            F.expr(
                "CAST(element_at(array_sort(__lst), "
                "CAST((size(__lst) + 1) div 2 AS INT)) AS BIGINT)"
            ).alias("rolling_med_7d"),
        )
    )


# --- supplier diversity / single-source risk ---------------------------------

@register(
    "part_supplier_diversity",
    """
    WITH s AS (SELECT l_partkey,
                      CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp
               FROM lineitem GROUP BY l_partkey)
    SELECT n_supp AS n_suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM s GROUP BY n_supp
    """,
    doc="Supplier-diversity histogram (single-source risk): per part, the "
        "distinct suppliers observed shipping it, as a full histogram — "
        "the low end is the supply-chain fragility list every resilience "
        "review starts from, the shape of the rest is the redundancy "
        "profile. Shape: one count-distinct hash agg on the part key "
        "(map-side partial dedup of (part, supplier) pairs first), then "
        "a histogram over the bounded distinct-count domain — the fact "
        "table shuffles its two key columns once, nothing else.",
)
def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    s = li.groupBy("l_partkey").agg(
        F.count_distinct("l_suppkey").cast("bigint").alias("n_suppliers")
    )
    return s.groupBy("n_suppliers").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )


# --- 3-D Pareto skyline ------------------------------------------------------

@register(
    "skyline_pareto_3d",
    """
    WITH shipped AS (SELECT l_partkey,
                            CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                              AS shipped_qty
                     FROM lineitem GROUP BY l_partkey),
    base AS (SELECT p.p_partkey,
                    CAST(CAST(p.p_retailprice AS DECIMAL(12,2)) * 100
                         AS BIGINT) AS price_c,
                    CAST(p.p_size AS BIGINT) AS p_size,
                    s.shipped_qty
             FROM part p JOIN shipped s ON p.p_partkey = s.l_partkey)
    SELECT a.p_partkey, a.price_c, a.p_size, a.shipped_qty
    FROM base a
    WHERE NOT EXISTS (
        SELECT 1 FROM base b
        WHERE b.price_c <= a.price_c
          AND b.p_size >= a.p_size
          AND b.shipped_qty >= a.shipped_qty
          AND (b.price_c < a.price_c OR b.p_size > a.p_size
               OR b.shipped_qty > a.shipped_qty))
    """,
    doc="3-D Pareto skyline: parts minimizing price while maximizing BOTH "
        "size and historical shipped volume — beyond 2-D the windowed "
        "staircase no longer exists (dominance is a product of "
        "halfspaces), so this runs operators/frontier.pareto_skyline_nd: "
        "a numpy dominance kernel as a per-partition mapInPandas LOCAL "
        "prune (sound under any partitioning: a local dominator is a "
        "global one) followed by the exact global pass over the "
        "vanishing survivor set in one applyInPandas group — the "
        "canonical shape for operators whose per-element test needs the "
        "whole candidate set. The oracle states dominance directly as "
        "NOT EXISTS. Restricted to shipped parts (the volume axis must "
        "exist); identical triples all survive.",
)
def skyline_pareto_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.frontier import pareto_skyline_nd

    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("bigint").alias("q")
    )
    shipped = li.groupBy("l_partkey").agg(
        F.sum("q").cast("bigint").alias("shipped_qty")
    )
    p = T(spark, sf_dir, "part").select(
        "p_partkey",
        (DEC("p_retailprice", 12, 2) * 100).cast("bigint").alias("price_c"),
        F.col("p_size").cast("bigint").alias("p_size"),
    )
    base = p.join(shipped, p.p_partkey == shipped.l_partkey).select(
        "p_partkey", "price_c", "p_size", "shipped_qty"
    )
    return pareto_skyline_nd(
        base, cost="price_c", gains=["p_size", "shipped_qty"]
    )


# --- cumulative distinct via first-seen rewrite ------------------------------

@register(
    "orders_cumulative_customers",
    """
    WITH first_seen AS (
        SELECT o_custkey,
               MIN(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 86400000)
                 AS first_day
        FROM orders GROUP BY o_custkey),
    daily AS (SELECT first_day AS day_num,
                     CAST(COUNT(*) AS BIGINT) AS n_new
              FROM first_seen GROUP BY first_day)
    SELECT CAST(day_num AS BIGINT) AS day_num, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day_num ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_customers
    FROM daily
    """,
    doc="Cumulative distinct customers by day — growth accounting. A "
        "running COUNT(DISTINCT) is not expressible as a window "
        "aggregate on either engine; the standard rewrite is: each "
        "customer contributes exactly once at their FIRST-SEEN day, so "
        "cumulative-distinct = running sum of per-day first-appearance "
        "counts. Two hash aggs (customer-keyed min, then day rollup) "
        "and a window over the tiny |days| frame — at 100 TB the only "
        "full-data pass is the first agg, which is the natural "
        "per-customer reduction any customer-360 job already runs.",
)
def orders_cumulative_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000"
        ).alias("day_num"),
    )
    first_seen = o.groupBy("o_custkey").agg(
        F.min("day_num").alias("first_day")
    )
    daily = first_seen.groupBy(
        F.col("first_day").alias("day_num")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    w = W.orderBy("day_num").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        F.col("day_num").cast("bigint").alias("day_num"),
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_customers"),
    )


# --- weighted priority sampling ----------------------------------------------

@register(
    "sample_weighted_priority",
    f"""
    WITH keyed AS (
        SELECT event_type, event_id, value,
               ({H60.format(x="'prio:' || CAST(event_id AS VARCHAR)")} + 1)
                   / CAST(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                          AS DOUBLE) AS skey
        FROM events
        WHERE CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) > 0),
    ranked AS (
        SELECT event_type, event_id, value, skey,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY skey, event_id) AS rn
        FROM keyed)
    SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id, value
    FROM ranked WHERE rn <= 20
    """,
    doc="Weighted sampling without replacement via PRIORITY SAMPLING "
        "(Duffield-Lund-Thorup, JACM'07): per stratum keep the k rows "
        "minimizing u/w, u a salted portable 60-bit hash of the stable "
        "row id, w the row weight in exact cents. Unlike the uniform "
        "per-group reservoir (sample_reservoir_per_group), inclusion "
        "probability scales with weight, and the estimator it induces "
        "is unbiased for subset sums. The sort key is ONE IEEE division "
        "of exact integers — deterministic and bit-identical across "
        "engines, no pow()/ln() (classic A-ES exponential keys would "
        "hit libm last-bit divergence); zero-weight rows are excluded "
        "(they can never be sampled). One per-row projection + one "
        "stratum-keyed top-k window: scan-speed at any scale, and the "
        "selection commutes with re-sharding because the key depends "
        "only on row identity.",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir)
    w_cents = (DEC("value", 12, 2) * 100).cast("bigint")
    h = tx.h60(F.concat(F.lit("prio:"), F.col("event_id").cast("string")))
    keyed = e.select(
        "event_type",
        "event_id",
        "value",
        ((h + F.lit(1)) / w_cents.cast("double")).alias("skey"),
        w_cents.alias("w_cents"),
    ).where(F.col("w_cents") > 0)
    w = Window.partitionBy("event_type").orderBy("skey", "event_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select(
            "event_type", F.col("rn").cast("bigint").alias("rn"),
            "event_id", "value",
        )
    )


# --- leave-one-out target encoding -------------------------------------------

# Shared-source encoder arithmetic (basic IEEE ops, identical order both
# engines). Smoothing m=10 rows of the global mean; leave-one-out removes
# the row's own target so the feature leaks nothing about its own label.
_ENC = (
    "round(((sum_c - cents) + 10.0 * (CAST(tot_c AS DOUBLE) "
    "/ CAST(tot_n AS DOUBLE))) "
    "/ (CAST(cnt_c AS DOUBLE) - 1.0 + 10.0) / 100.0, 6)"
)


@register(
    "feat_target_encoding",
    f"""
    WITH o AS (SELECT o_orderkey, o_orderpriority,
                      CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                           AS BIGINT) AS cents
               FROM orders),
    bycat AS (SELECT o_orderpriority,
                     CAST(SUM(cents) AS BIGINT) AS sum_c,
                     COUNT(*) AS cnt_c
              FROM o GROUP BY 1),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot_c,
                   COUNT(*) AS tot_n FROM o)
    SELECT o.o_orderkey, o.o_orderpriority, {_ENC} AS enc
    FROM o JOIN bycat USING (o_orderpriority) CROSS JOIN tot
    """,
    doc="Leave-one-out target encoding with additive smoothing (the "
        "standard high-cardinality categorical feature for tabular "
        "training sets): encode o_orderpriority by the mean order value "
        "of the OTHER rows in the category, shrunk toward the global "
        "mean by m=10 pseudo-rows — LOO prevents the row's own label "
        "leaking into its feature, smoothing keeps rare categories from "
        "memorizing. Sums are exact cents; the encoder is one shared-"
        "source IEEE kernel. Scale shape: category stats via map-side "
        "partial agg to a TINY table, broadcast back (never a window "
        "over 5 category partitions, which would crush a 100-TB scan "
        "into 5 tasks); the global mean is a 1-row broadcast cross "
        "join. Per-row cost after the broadcasts; zero wide shuffles.",
)
def feat_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (DEC("o_totalprice", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    bycat = o.groupBy("o_orderpriority").agg(
        F.sum("cents").cast("bigint").alias("sum_c"),
        F.count(F.lit(1)).alias("cnt_c"),
    )
    tot = o.agg(
        F.sum("cents").cast("bigint").alias("tot_c"),
        F.count(F.lit(1)).alias("tot_n"),
    )
    return (
        o.join(F.broadcast(bycat), "o_orderpriority")
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderkey", "o_orderpriority", F.expr(_ENC).alias("enc")
        )
    )


# --- recursive hierarchy rollup ----------------------------------------------

@register(
    "hier_subtree_rollup",
    """
    WITH RECURSIVE p AS (
        SELECT p_partkey AS node,
               CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents
        FROM part),
    walk AS (
        SELECT node, node AS anc, cents FROM p
        UNION ALL
        SELECT node, anc // 2 AS anc, cents FROM walk WHERE anc > 1)
    SELECT anc, CAST(length(bin(anc)) - 1 AS INT) AS depth,
           COUNT(*) AS n_desc,
           CAST(SUM(cents) AS BIGINT) AS subtree_cents
    FROM walk GROUP BY anc
    """,
    doc="Recursive-CTE emulation (WITH RECURSIVE, which Spark lacks): "
        "subtree rollup over the implicit binary hierarchy parent(k) = "
        "k div 2 on part keys — each node's descendant count and total "
        "retail value, exact cents. The oracle states it as a genuine "
        "recursive walk; the Spark plan exploits that this parent "
        "function makes ancestors CLOSED-FORM (the ancestors of k are "
        "its binary prefixes, i.e. shiftright(k, i) for every i below "
        "bit length), so the unbounded recursion compiles to ONE "
        "explode of a <=2*log2(maxkey)-element array plus one hash agg "
        "— no iteration, no driver loop, scan-shaped at any scale. "
        "Depth is length(bin(anc))-1, identical in both engines (no "
        "float log2 whose last-bit error could mis-floor a power of 2).",
)
def hier_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        (DEC("p_retailprice", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    # ancestors-or-self of k = shiftright(k, i) for i = 0 .. bitlen-1
    walk = p.select(
        F.explode(
            F.expr(
                "transform(sequence(0, length(bin(node)) - 1), "
                "i -> shiftright(node, i))"
            )
        ).alias("anc"),
        "cents",
    )
    return (
        walk.groupBy("anc")
        .agg(
            F.count(F.lit(1)).alias("n_desc"),
            F.sum("cents").cast("bigint").alias("subtree_cents"),
        )
        .select(
            "anc",
            F.expr("CAST(length(bin(anc)) - 1 AS INT)").alias("depth"),
            "n_desc",
            "subtree_cents",
        )
    )


# --- group-wise OLS trend ----------------------------------------------------

# Shared-source slope/intercept kernel: numerator and denominator are exact
# BIGINTs; slope is ONE IEEE division (exactly rounded -> bit-identical);
# intercept is three IEEE ops in one fixed order.
_SLOPE = "CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
_INTERCEPT = (
    "(CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) "
    "* CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
)


@register(
    "stats_groupwise_ols",
    f"""
    WITH c AS (SELECT c_custkey, c_nationkey FROM customer),
    monthly AS (
        SELECT c.c_nationkey,
               CAST(date_part('year', o.o_orderdate) * 12
                    + date_part('month', o.o_orderdate) - 23940 AS BIGINT)
                   AS x,
               CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders o JOIN c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    sums AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM monthly GROUP BY 1),
    k AS (SELECT c_nationkey, n, sx, sy,
                 n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
          FROM sums)
    SELECT nn.n_name, k.n AS n_months, {_SLOPE} AS slope_cents_per_month,
           {_INTERCEPT} AS intercept_cents
    FROM k JOIN nation nn ON k.c_nationkey = nn.n_nationkey
    WHERE den > 0
    """,
    doc="Group-wise ordinary least squares (regr_slope/regr_intercept, "
        "which Spark lacks as exact-testable builtins): per-nation linear "
        "trend of monthly order revenue. The five sufficient statistics "
        "(n, Sx, Sy, Sxy, Sxx) are EXACT BIGINTs from one hash agg — the "
        "month index is re-based to Jan-1995 so the cross products stay "
        "far from 2^63 even at 100 TB — and the closed-form slope is one "
        "IEEE division of exact integers (exactly rounded => "
        "bit-identical across engines; the intercept kernel's three-op "
        "order is shared verbatim). Two map-side-partial aggs + a "
        "25-row broadcast join to nation names; no windows, no sorts. "
        "Degenerate single-month groups (den = 0) are excluded.",
)
def stats_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 23940)
        .cast("bigint")
        .alias("x"),
        (DEC("o_totalprice", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "x")
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )
    sums = monthly.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    k = sums.select(
        "c_nationkey",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    nn = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        k.where(F.col("den") > 0)
        .join(F.broadcast(nn), k.c_nationkey == nn.n_nationkey)
        .select(
            "n_name",
            F.col("n").alias("n_months"),
            F.expr(_SLOPE).alias("slope_cents_per_month"),
            F.expr(_INTERCEPT).alias("intercept_cents"),
        )
    )


# --- purged time-series CV folds ---------------------------------------------

_EMBARGO_MS = 3600000  # 1 hour


@register(
    "feat_purged_time_folds",
    f"""
    WITH b AS (SELECT min(epoch_ms(ts)) AS t0, max(epoch_ms(ts)) + 1 AS t1
               FROM events),
    e AS (
        SELECT ev.event_id, epoch_ms(ev.ts) AS ts_ms,
               CASE WHEN (epoch_ms(ev.ts) - b.t0) * 5 // (b.t1 - b.t0) > 4
                    THEN 4
                    ELSE (epoch_ms(ev.ts) - b.t0) * 5 // (b.t1 - b.t0)
               END AS fold
        FROM events ev CROSS JOIN b),
    spans AS (
        SELECT fold, min(ts_ms) AS f0, max(ts_ms) AS f1, COUNT(*) AS val_rows
        FROM e GROUP BY 1),
    lab AS (
        SELECT s.fold, e.event_id,
               CASE WHEN e.fold = s.fold THEN 'val'
                    WHEN e.ts_ms >= s.f0 - {_EMBARGO_MS}
                     AND e.ts_ms <= s.f1 + {_EMBARGO_MS} THEN 'purged'
                    ELSE 'train' END AS role
        FROM e CROSS JOIN spans s)
    SELECT fold,
           CAST(COUNT(CASE WHEN role = 'val' THEN 1 END) AS BIGINT)
               AS val_rows,
           CAST(COUNT(CASE WHEN role = 'purged' THEN 1 END) AS BIGINT)
               AS purged_rows,
           CAST(COUNT(CASE WHEN role = 'train' THEN 1 END) AS BIGINT)
               AS train_rows
    FROM lab GROUP BY fold
    """,
    doc="Purged K-fold time-series cross-validation (de Prado's purged "
        "CV, the leakage-safe protocol for temporally-correlated training "
        "data): 5 contiguous equal-TIME-span folds over the event stream; "
        "for each validation fold, training rows within a 1-hour embargo "
        "of the fold's observed span are PURGED (neither train nor val) "
        "so look-ahead correlation can't leak across the boundary. Fold "
        "assignment is closed-form integer arithmetic from the global "
        "[min,max] timestamp pair — a 1-row broadcast, NOT an ntile "
        "window (a global ntile would funnel 100 TB through one "
        "partition); per-fold role labeling is a 5-row broadcast "
        "nested-loop (rows x folds), then one hash agg. The whole plan "
        "is two tiny broadcasts and two scans.",
)
def feat_purged_time_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = EV(spark, sf_dir).select(
        "event_id", F.unix_millis("ts").alias("ts_ms")
    )
    b = ev.agg(
        F.min("ts_ms").alias("t0"), (F.max("ts_ms") + 1).alias("t1")
    )
    e = ev.crossJoin(F.broadcast(b)).select(
        "event_id",
        "ts_ms",
        F.least(
            F.lit(4),
            F.expr("(ts_ms - t0) * 5 div (t1 - t0)"),
        ).alias("fold"),
    )
    spans = e.groupBy("fold").agg(
        F.min("ts_ms").alias("f0"),
        F.max("ts_ms").alias("f1"),
        F.count(F.lit(1)).alias("val_rows"),
    )
    s = F.broadcast(
        spans.select(
            F.col("fold").alias("s_fold"), "f0", "f1"
        )
    )
    lab = e.crossJoin(s).select(
        F.col("s_fold").alias("fold"),
        F.when(F.col("fold") == F.col("s_fold"), "val")
        .when(
            (F.col("ts_ms") >= F.col("f0") - _EMBARGO_MS)
            & (F.col("ts_ms") <= F.col("f1") + _EMBARGO_MS),
            "purged",
        )
        .otherwise("train")
        .alias("role"),
    )
    return lab.groupBy("fold").agg(
        F.count(F.when(F.col("role") == "val", 1)).cast("bigint").alias(
            "val_rows"
        ),
        F.count(F.when(F.col("role") == "purged", 1)).cast("bigint").alias(
            "purged_rows"
        ),
        F.count(F.when(F.col("role") == "train", 1)).cast("bigint").alias(
            "train_rows"
        ),
    )


# --- recsys negative sampling ------------------------------------------------

@register(
    "feat_negative_sampling",
    f"""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderpriority = '1-URGENT'),
    np AS (SELECT COUNT(*) AS n_parts FROM part),
    cand AS (
        SELECT p.custkey,
               ({H60.format(x="'neg:' || CAST(p.custkey AS VARCHAR) || ':' "
                               "|| CAST(p.partkey AS VARCHAR) || ':' "
                               "|| CAST(j AS VARCHAR)")}) % np.n_parts + 1
                   AS partkey
        FROM pos p
        CROSS JOIN (SELECT unnest([1, 2]) AS j)
        CROSS JOIN np),
    negs AS (
        SELECT DISTINCT c.custkey, c.partkey
        FROM cand c ANTI JOIN pos USING (custkey, partkey))
    SELECT custkey, partkey, 1 AS label FROM pos
    UNION ALL
    SELECT custkey, partkey, 0 AS label FROM negs
    """,
    doc="Deterministic negative sampling for implicit-feedback recsys / "
        "contrastive training sets: positives are distinct "
        "(customer, part) purchase pairs from urgent orders; each "
        "positive spawns 2 candidate negatives by a salted portable "
        "60-bit hash mapped onto the part-key range, and candidates that "
        "collide with ANY true positive are removed by an anti-join "
        "(the correctness step naive random sampling skips). The hash "
        "depends only on the (custkey, partkey, j) identity, so the "
        "sample is reproducible under any partitioning and any engine — "
        "per-positive sampling also matches the standard practice of "
        "giving active users proportionally more negatives. Plan: one "
        "equi-join for positives, a 1-row count broadcast, a x2 literal "
        "explode, one hash-distributed anti-join; no windows, no "
        "all-pairs anywhere.",
)
def feat_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pos = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
    )
    np_ = T(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n_parts"))
    h = tx.h60(
        F.concat(
            F.lit("neg:"),
            F.col("custkey").cast("string"),
            F.lit(":"),
            F.col("partkey").cast("string"),
            F.lit(":"),
            F.col("j").cast("string"),
        )
    )
    cand = (
        pos.select(
            "custkey", "partkey", F.explode(F.array(F.lit(1), F.lit(2))).alias("j")
        )
        .crossJoin(F.broadcast(np_))
        .select("custkey", (h % F.col("n_parts") + 1).alias("partkey"))
    )
    negs = cand.join(pos, ["custkey", "partkey"], "left_anti").distinct()
    return pos.select(
        "custkey", "partkey", F.lit(1).alias("label")
    ).unionAll(negs.select("custkey", "partkey", F.lit(0).alias("label")))


# --- trimmed mean ------------------------------------------------------------

@register(
    "stats_trimmed_mean",
    """
    WITH e AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
               event_id
        FROM events),
    ranked AS (
        SELECT event_type, cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY cents, event_id) AS BIGINT)
                   AS rk,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM e),
    kept AS (
        SELECT event_type, n, cents
        FROM ranked
        WHERE rk > n * 5 // 100 AND rk <= n - n * 5 // 100)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(cents) AS BIGINT) AS kept_cents,
           CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS trimmed_mean_cents
    FROM kept GROUP BY event_type
    """,
    doc="5%-trimmed mean of event value per type (the robust location "
        "estimate that ignores both whale and dust tails; companion to "
        "events_outliers_iqr/mad): drop the k = floor(n*0.05) smallest "
        "and largest observations by rank, average the rest — sum and "
        "count exact BIGINT, the mean ONE IEEE division. Ranks in the "
        "Spark plan come from the distributed sort-rank decomposition "
        "(value-bucket carry + bucket-keyed window, as events_value_gini) "
        "rather than the oracle's textbook per-type ROW_NUMBER, so no "
        "event_type partition ever funnels a full scan into one task; "
        "rank ties on equal cents are harmless because trimming cuts by "
        "rank COUNT and equal values make cut membership value-"
        "deterministic.",
)
def stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "event_type",
        "event_id",
        (DEC("value", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    e = e.withColumn("bkt", F.expr("cents div 1000"))
    # skinny per-(type, $10-bucket) counts, read twice (totals + carry);
    # the fact table itself is deliberately NOT persisted — the second
    # fact scan (agg-then-join-back, as TPC-H q15) is the scale answer.
    bcounts = e.groupBy("event_type", "bkt").agg(
        F.count(F.lit(1)).alias("bn")
    ).persist()
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = bcounts.groupBy("event_type").agg(
        F.sum("bn").cast("bigint").alias("n")
    )
    carry = bcounts.select(
        "event_type",
        "bkt",
        (F.sum("bn").over(w_carry) - F.col("bn")).alias("carry"),
    )
    w_in = Window.partitionBy("event_type", "bkt").orderBy(
        "cents", "event_id"
    )
    ranked = (
        e.join(carry, ["event_type", "bkt"])
        .join(F.broadcast(totals), "event_type")
        .withColumn(
            "rk",
            (F.col("carry") + F.row_number().over(w_in)).cast("bigint"),
        )
    )
    kept = ranked.where(
        (F.col("rk") > F.expr("n * 5 div 100"))
        & (F.col("rk") <= F.col("n") - F.expr("n * 5 div 100"))
    )
    return kept.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("cents").cast("bigint").alias("kept_cents"),
        (
            F.sum("cents").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("trimmed_mean_cents"),
    )


# --- Benford first-digit audit -----------------------------------------------

# Benford proportions log10(1 + 1/d) as SPEC LITERALS (shared verbatim;
# computing them would need log10, a transcendental). 15 significant
# digits — well past double round-trip.
_BENFORD = {
    1: "0.301029995663981",
    2: "0.176091259055681",
    3: "0.124938736608300",
    4: "0.096910013008056",
    5: "0.079181246047625",
    6: "0.066946789630613",
    7: "0.057991946977687",
    8: "0.051152522447381",
    9: "0.045757490560675",
}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD.items()
) + " END"
# chi-square term per digit, shared op order: (obs - n*p)^2 / (n*p)
_CHI_TERM = (
    f"(CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * ({_BENFORD_CASE})) "
    f"* (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * ({_BENFORD_CASE})) "
    f"/ (CAST(n AS DOUBLE) * ({_BENFORD_CASE}))"
)


@register(
    "dq_benford_first_digit",
    f"""
    WITH v AS (
        SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2))
                                   * 100 AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS digit
        FROM orders
        WHERE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) > 0),
    counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs FROM v GROUP BY 1),
    tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM counts)
    SELECT c.digit, c.obs,
           CAST(n AS DOUBLE) * ({_BENFORD_CASE}) AS expected,
           {_CHI_TERM} AS chi2_term
    FROM counts c CROSS JOIN tot
    """,
    doc="Benford's-law first-digit audit of order totals (the classic "
        "fraud/data-fabrication screen): observed leading-digit counts "
        "vs the log10(1+1/d) expectation, with per-digit chi-square "
        "terms. The Benford proportions are SPEC LITERALS shared "
        "verbatim by both engines (computing them would need a "
        "transcendental log; a constant is engine-proof), and each "
        "expected/chi2 value is a fixed-order basic-IEEE kernel over "
        "the exact BIGINT counts. Leading digit = first character of "
        "the integer cents rendering (cents > 0, so no sign/zero "
        "edge). One hash agg to 9 rows + a 1-row total broadcast: "
        "scan-shaped at any scale.",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = (DEC("o_totalprice", 12, 2) * 100).cast("bigint")
    v = (
        T(spark, sf_dir, "orders")
        .where(cents > 0)
        .select(
            F.substring(cents.cast("string"), 1, 1).cast("int").alias(
                "digit"
            )
        )
    )
    counts = v.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    tot = counts.agg(F.sum("obs").cast("bigint").alias("n"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "obs",
            F.expr(f"CAST(n AS DOUBLE) * ({_BENFORD_CASE})").alias(
                "expected"
            ),
            F.expr(_CHI_TERM).alias("chi2_term"),
        )
    )


# --- Kolmogorov-Smirnov two-sample test ---------------------------------------

# KS distance with the division DEFERRED: at each distinct value the scaled
# ECDF gap |cumA*nB - cumB*nA| is exact BIGINT; the statistic divides the
# max once, at the end (one exactly-rounded IEEE op).
_KS = "CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))"


@register(
    "stats_ks_two_sample",
    f"""
    WITH outcomes AS (
        SELECT user_id,
               CASE WHEN ({H60.format(x="'ab:' || CAST(user_id AS VARCHAR)")})
                         % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cents
        FROM events GROUP BY 1),
    vals AS (
        SELECT cents,
               CAST(COUNT(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT) AS ca,
               CAST(COUNT(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT) AS cb
        FROM outcomes GROUP BY 1),
    cum AS (
        SELECT cents,
               CAST(SUM(ca) OVER (ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
               CAST(SUM(cb) OVER (ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb
        FROM vals),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb FROM vals),
    diffs AS (
        SELECT cents, abs(cuma * nb - cumb * na) AS dnum
        FROM cum CROSS JOIN tot),
    mx AS (SELECT CAST(MAX(dnum) AS BIGINT) AS d_num FROM diffs)
    SELECT na, nb, d_num,
           CAST((SELECT MIN(cents) FROM diffs WHERE dnum = d_num)
                AS BIGINT) AS at_cents,
           {_KS} AS ks
    FROM tot CROSS JOIN mx
    """,
    doc="Kolmogorov-Smirnov two-sample statistic on per-user purchase "
        "totals between the salted-hash A/B arms — the distribution-"
        "free companion of events_ab_rank_sum (MWU tests location; KS "
        "sees ANY distributional difference, shape included). Exactness "
        "by deferred division: at each distinct value the ECDF gap is "
        "kept as the cross-multiplied BIGINT |cumA*nB - cumB*nA|, so "
        "max-finding involves no floats; D divides once at the end "
        "(shared one-op IEEE kernel), and at_cents reports the smallest "
        "value attaining the max. The oracle states textbook running "
        "sums over the distinct-value table; the Spark plan computes "
        "the same cumulatives WITHOUT a one-partition window via the "
        "value-bucket carry decomposition (events_value_gini).",
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir)
    outcomes = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (DEC("value", 12, 2) * 100).cast("bigint"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("cents")
        )
        .select(
            F.when(
                tx.h60(
                    F.concat(F.lit("ab:"), F.col("user_id").cast("string"))
                )
                % 2
                == 0,
                "A",
            )
            .otherwise("B")
            .alias("arm"),
            "cents",
        )
    )
    # skinny (one row per distinct cents value) and read three times below
    # (bucket counts, cumulative join, totals): persist per the dedup.py
    # caching contract so the per-user groupBy never recomputes.
    vals = (
        outcomes.groupBy("cents")
        .agg(
            F.count(F.when(F.col("arm") == "A", 1)).cast("bigint").alias("ca"),
            F.count(F.when(F.col("arm") == "B", 1)).cast("bigint").alias("cb"),
        )
        .withColumn("bkt", F.expr("cents div 10000"))
        .persist()
    )
    bcounts = vals.groupBy("bkt").agg(
        F.sum("ca").alias("ba"), F.sum("cb").alias("bb")
    )
    # exclusive prefixes over the $100-bucket table, stitched TWO-LEVEL
    # (operators/seams.py): the residual unpartitioned window sees only the
    # super-bucket rollup — value-range/8192^2 rows at any range.
    from postgresql_cdc_spark.operators.seams import (
        two_level_exclusive_prefix,
    )

    carry = two_level_exclusive_prefix(
        bcounts, "bkt", {"ba": "carrya", "bb": "carryb"}
    ).select("bkt", "carrya", "carryb")
    w_in = Window.partitionBy("bkt").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vals.join(carry, "bkt").select(
        "cents",
        (F.col("carrya") + F.sum("ca").over(w_in)).cast("bigint").alias(
            "cuma"
        ),
        (F.col("carryb") + F.sum("cb").over(w_in)).cast("bigint").alias(
            "cumb"
        ),
    )
    tot = vals.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    # read twice (max, then argmin-at-max): persist the skinny gap table
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
        .alias("dnum"),
    ).persist()
    mx = diffs.agg(F.max("dnum").cast("bigint").alias("d_num"))
    at = (
        diffs.join(F.broadcast(mx), diffs["dnum"] == mx["d_num"])
        .agg(F.min("cents").cast("bigint").alias("at_cents"))
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select("na", "nb", "d_num", "at_cents", F.expr(_KS).alias("ks"))
    )


# --- chi-square test of independence ------------------------------------------

# expected count under independence and its chi-square term, one shared
# op order (obs, rt, ct, n all exact BIGINT).
_EXP = "CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)"
_CHI_IND = (
    f"(CAST(obs AS DOUBLE) - ({_EXP})) * (CAST(obs AS DOUBLE) - ({_EXP})) "
    f"/ ({_EXP})"
)


@register(
    "stats_chi2_independence",
    f"""
    WITH obs AS (
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders GROUP BY 1, 2),
    rt AS (SELECT o_orderpriority, CAST(SUM(obs) AS BIGINT) AS rt
           FROM obs GROUP BY 1),
    ct AS (SELECT o_orderstatus, CAST(SUM(obs) AS BIGINT) AS ct
           FROM obs GROUP BY 1),
    tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM obs)
    SELECT o.o_orderpriority, o.o_orderstatus, o.obs, rt.rt, ct.ct,
           {_EXP} AS expected, {_CHI_IND} AS chi2_term
    FROM obs o
    JOIN rt USING (o_orderpriority)
    JOIN ct USING (o_orderstatus)
    CROSS JOIN tot
    """,
    doc="Chi-square test of independence between order priority and "
        "order status (the contingency-table screen behind 'does segment "
        "X behave differently' dashboards) — differs from "
        "dq_benford_first_digit's goodness-of-fit in that the expected "
        "counts come from the DATA's own marginal products rt*ct/n, not "
        "a fixed spec distribution. All four inputs to each cell kernel "
        "(obs, row total, column total, grand total) are exact BIGINTs "
        "from one hash aggregate plus two rollups; the expected/chi2 "
        "doubles are a fixed-order shared-IEEE kernel. Plan shape: one "
        "shuffle to the 15-cell table, then broadcast joins of the "
        "5-row/3-row/1-row marginals — scan-bound at any scale.",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    obs = (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    rt = obs.groupBy("o_orderpriority").agg(
        F.sum("obs").cast("bigint").alias("rt")
    )
    ct = obs.groupBy("o_orderstatus").agg(
        F.sum("obs").cast("bigint").alias("ct")
    )
    tot = obs.agg(F.sum("obs").cast("bigint").alias("n"))
    return (
        obs.join(F.broadcast(rt), "o_orderpriority")
        .join(F.broadcast(ct), "o_orderstatus")
        .crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "obs",
            "rt",
            "ct",
            F.expr(_EXP).alias("expected"),
            F.expr(_CHI_IND).alias("chi2_term"),
        )
    )


# --- confusion-matrix metrics --------------------------------------------------

# precision/recall/F1/accuracy/MCC over exact BIGINT cell counts, each a
# fixed-order shared-IEEE kernel. F1 uses the algebraic single-division
# form 2tp/(2tp+fp+fn) so there is exactly one op order to share. MCC
# casts each factor to double BEFORE multiplying (the 4-way product of
# marginals overflows BIGINT long before the scan does).
_PREC = "CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)"
_REC = "CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)"
_F1 = (
    "2.0 * CAST(tp AS DOUBLE) "
    "/ (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE) + CAST(fn AS DOUBLE))"
)
_ACC = "CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)"
_MCC = (
    "(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) "
    "- CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) "
    "/ sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) "
    "* CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))"
)


@register(
    "eval_confusion_metrics",
    f"""
    WITH scored AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS label,
               CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                         AS BIGINT) >= 15000000 THEN 1 ELSE 0 END AS pred
        FROM orders),
    cm AS (
        SELECT
            CAST(SUM(CASE WHEN label = 1 AND pred = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN label = 0 AND pred = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN label = 1 AND pred = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS fn,
            CAST(SUM(CASE WHEN label = 0 AND pred = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS tn
        FROM scored)
    SELECT tp, fp, fn, tn,
           {_PREC} AS precision_, {_REC} AS recall_,
           {_F1} AS f1, {_ACC} AS accuracy, {_MCC} AS mcc
    FROM cm
    """,
    doc="Binary-classifier evaluation from a confusion matrix (the "
        "threshold-metric companion of eval_auc_exact's ranking metric): "
        "label = order priority is urgent/high, prediction = total >= "
        "$150k, cells TP/FP/FN/TN as exact BIGINTs from ONE conditional "
        "aggregate over the scan — no join, no shuffle beyond the final "
        "1-row reduce. Precision/recall/accuracy are one-division "
        "kernels; F1 uses the single-division algebraic form "
        "2tp/(2tp+fp+fn); MCC's marginal product is computed in doubles "
        "factor-by-factor in a fixed shared order (the BIGINT product "
        "would overflow at warehouse scale). Column names precision_/"
        "recall_ avoid reserved-word friction in both engines.",
)
def eval_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("label"),
        F.when(
            (DEC("o_totalprice", 12, 2) * 100).cast("bigint") >= 15000000, 1
        )
        .otherwise(0)
        .alias("pred"),
    )
    cm = o.agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("pred") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when((F.col("label") == 0) & (F.col("pred") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(_PREC).alias("precision_"),
        F.expr(_REC).alias("recall_"),
        F.expr(_F1).alias("f1"),
        F.expr(_ACC).alias("accuracy"),
        F.expr(_MCC).alias("mcc"),
    )


# --- deterministic bootstrap confidence interval --------------------------------

_BOOT_MEAN = "CAST(s AS DOUBLE) / CAST(c AS DOUBLE)"


@register(
    "stats_bootstrap_ci",
    f"""
    WITH e AS (
        SELECT event_type,
               ({H60.format(x="'bs:' || CAST(event_id AS VARCHAR)")}) AS h,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events),
    reps AS (
        SELECT e.event_type, r.b,
               CAST(SUM(e.cents) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM e CROSS JOIN range(32) r(b)
        WHERE (e.h >> r.b) % 2 = 0
        GROUP BY 1, 2),
    means AS (SELECT event_type, {_BOOT_MEAN} AS m FROM reps),
    full_ AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s
        FROM e GROUP BY 1)
    SELECT f.event_type, f.n,
           CAST(f.s AS DOUBLE) / CAST(f.n AS DOUBLE) AS mean_cents,
           percentile_disc(0.05) WITHIN GROUP (ORDER BY m.m) AS boot_lo,
           percentile_disc(0.95) WITHIN GROUP (ORDER BY m.m) AS boot_hi,
           CAST(COUNT(*) AS BIGINT) AS n_reps
    FROM full_ f JOIN means m USING (event_type)
    GROUP BY f.event_type, f.n, f.s
    """,
    doc="Deterministic half-sample bootstrap CI for the mean event value "
        "per type: 32 replicates, replicate b keeping a row iff BIT b of "
        "the row's single salted hash h60('bs:'||event_id) is zero — the "
        "same salted-hash determinism as the A/B assignments, so both "
        "engines draw IDENTICAL resamples with no RNG to disagree on, "
        "and ONE md5 per event serves all 32 replicates (an md5 per "
        "(event, replicate) would be 32x the hashing, the dominant cost "
        "at warehouse scale; bits of one 60-bit hash are independent "
        "fair coins for this purpose). Each replicate mean is one IEEE "
        "division of exact BIGINT sum/count; the CI bounds are "
        "PERCENTILE_DISC order statistics over the 32 means (selected "
        "elements, not interpolations, hence engine-exact). Scale shape: "
        "the 32x fan-out is a flatMap before the hash aggregate — "
        "map-side combine absorbs it, state is 32 rows per (type, "
        "replicate), and no window or sort touches row-scale data. The "
        "textbook with-replacement bootstrap needs Poisson "
        "multiplicities; half-sampling (Kleiner et al.'s b-of-n idea) "
        "keeps membership a pure hash predicate. Bit test spelled "
        "(h >> b) % 2 / shiftright(h, b) % 2 — integer-exact in both "
        "engines, no shared-IEEE concern.",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = EV(spark, sf_dir).select(
        "event_type",
        tx.h60(
            F.concat(F.lit("bs:"), F.col("event_id").cast("string"))
        ).alias("h"),
        (DEC("value", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    reps = (
        e.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(31))))
        .where(F.expr("shiftright(h, b) % 2") == 0)
        .groupBy("event_type", "b")
        .agg(
            F.sum("cents").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
    )
    means = reps.select("event_type", F.expr(_BOOT_MEAN).alias("m"))
    full = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    return (
        full.join(means, "event_type")
        .groupBy("event_type", "n", "s")
        .agg(
            F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY m)")
            .alias("boot_lo"),
            F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY m)")
            .alias("boot_hi"),
            F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        )
        .select(
            "event_type",
            "n",
            (F.col("s").cast("double") / F.col("n").cast("double"))
            .alias("mean_cents"),
            "boot_lo",
            "boot_hi",
            "n_reps",
        )
    )


# --- weighted median -----------------------------------------------------------

@register(
    "stats_weighted_median",
    """
    WITH e AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents,
               CAST(CAST(l_quantity AS DECIMAL(12,4)) AS BIGINT) AS w
        FROM lineitem),
    vals AS (
        SELECT l_returnflag, cents, CAST(SUM(w) AS BIGINT) AS w
        FROM e GROUP BY 1, 2),
    cum AS (
        SELECT l_returnflag, cents,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
        FROM vals),
    tot AS (SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tw
            FROM vals GROUP BY 1)
    SELECT c.l_returnflag, t.tw AS total_weight,
           CAST(MIN(CASE WHEN 2 * c.cw >= t.tw THEN c.cents END)
                AS BIGINT) AS median_cents
    FROM cum c JOIN tot t USING (l_returnflag)
    GROUP BY c.l_returnflag, t.tw
    """,
    doc="Weighted (lower) median of line price per return flag, weighted "
        "by quantity: the smallest value v with 2*cumweight(v) >= "
        "totalweight — all-BIGINT selection, no interpolation. The oracle "
        "states the textbook per-key cumulative window; the Spark plan "
        "must NOT (a 3-key partition window funnels a third of the fact "
        "table through one task), so it runs the CROSSING-BUCKET "
        "decomposition: roll distinct values up to $10 buckets, cumulate "
        "the tiny bucket table to find carry-in weights, select the ONE "
        "bucket per key where the half crosses (2*carry < tw <= "
        "2*(carry+bucketweight)), and open only that bucket's rows for "
        "the final within-bucket scan — selection work after the rollup "
        "is O(one bucket), not O(n). New pattern vs events_value_gini, "
        "which ranks EVERY row; selection needs just the crossing.",
)
def stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (DEC("l_extendedprice", 12, 2) * 100).cast("bigint").alias("cents"),
        DEC("l_quantity", 12, 4).cast("bigint").alias("w"),
    )
    # skinny distinct-value rollup, read 3x (buckets, totals, crossing
    # open): persist per the dedup.py contract.
    vals = (
        e.groupBy("l_returnflag", "cents")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .withColumn("bkt", F.expr("cents div 1000"))
        .persist()
    )
    bw = vals.groupBy("l_returnflag", "bkt").agg(
        F.sum("w").cast("bigint").alias("bw")
    )
    # exclusive prefix per flag, stitched TWO-LEVEL (operators/seams.py):
    # l_returnflag has only 3 values, so the per-flag bucket window would
    # still funnel value-range/1000 rows through 3 tasks; the stitch caps
    # every window task at max(8192, range/1000/8192) rows per flag.
    from postgresql_cdc_spark.operators.seams import (
        two_level_exclusive_prefix,
    )

    carry = two_level_exclusive_prefix(
        bw, "bkt", {"bw": "carry"}, part=("l_returnflag",)
    ).select("l_returnflag", "bkt", "carry", "bw")
    tot = vals.groupBy("l_returnflag").agg(
        F.sum("w").cast("bigint").alias("tw")
    )
    # exactly one bucket per key satisfies 2*carry < tw <= 2*(carry+bw)
    crossing = (
        carry.join(F.broadcast(tot), "l_returnflag")
        .where(
            (2 * F.col("carry") < F.col("tw"))
            & (2 * (F.col("carry") + F.col("bw")) >= F.col("tw"))
        )
        .select("l_returnflag", "bkt", "carry", "tw")
    )
    # open only the crossing bucket's distinct values (a handful of rows)
    w_in = Window.partitionBy("l_returnflag", "bkt").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    opened = vals.join(F.broadcast(crossing), ["l_returnflag", "bkt"]).withColumn(
        "cw", (F.col("carry") + F.sum("w").over(w_in)).cast("bigint")
    )
    return (
        opened.groupBy("l_returnflag", "tw")
        .agg(
            F.min(
                F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents"))
            )
            .cast("bigint")
            .alias("median_cents")
        )
        .select(
            "l_returnflag",
            F.col("tw").alias("total_weight"),
            "median_cents",
        )
    )


@register(
    "dq_sequence_gaps",
    """
    WITH k AS (SELECT DISTINCT o_orderkey AS key FROM orders
               WHERE o_orderkey % 97 <> 3 AND o_orderkey % 101 <> 7),
    led AS (
        SELECT key, LEAD(key) OVER (ORDER BY key) AS nxt FROM k)
    SELECT CAST(key + 1 AS BIGINT) AS gap_start,
           CAST(nxt - 1 AS BIGINT) AS gap_end,
           CAST(nxt - key - 1 AS BIGINT) AS gap_len
    FROM led WHERE nxt - key > 1
    """,
    doc="Sequence-gap audit: every maximal run of missing keys in the "
        "order-key sequence as [gap_start, gap_end] intervals — the "
        "completeness check a CDC consumer runs over replicated keys or "
        "LSNs to prove the at-least-once stream dropped nothing. The "
        "fixture's keys are dense, so the query PLANTS deterministic "
        "drops (two coprime residue classes, which also collide into a "
        "few length-2 runs) and the detector must recover exactly those "
        "holes — a 0-row audit over already-complete data would gate "
        "nothing. The oracle states the textbook global LEAD scan; "
        "the Spark plan must not (one unpartitioned window = one task "
        "holding every key), so it decomposes: keys bucket by div 8192, "
        "LEAD runs WITHIN each bucket, and the per-bucket (min, max) "
        "summary — thousands of times smaller — closes the seams with "
        "a TWO-LEVEL stitched LEAD (operators/seams.py: partitioned "
        "in-super-bucket LEAD + a rollup seam pass, so no task holds "
        "more than range/8192^2 rows at any key range), emitting a "
        "boundary gap when the "
        "next bucket's min does not continue the previous bucket's max. "
        "In-bucket and boundary gaps union to exactly the global answer "
        "(a maximal gap never spans a SEAM unseen: bucket ids derive "
        "from present keys only, so consecutive summary rows are "
        "precisely the consecutive present keys across the seam).",
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = (
        T(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderkey") % 97 != 3) & (F.col("o_orderkey") % 101 != 7)
        )
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
        .withColumn("bkt", F.expr("key div 8192"))
    )
    w_in = Window.partitionBy("bkt").orderBy("key")
    inside = (
        k.withColumn("nxt", F.lead("key").over(w_in))
        .where(F.col("nxt") - F.col("key") > 1)
        .select(
            (F.col("key") + 1).cast("bigint").alias("gap_start"),
            (F.col("nxt") - 1).cast("bigint").alias("gap_end"),
        )
    )
    # bucket summary: tiny (|keys| / 8192 rows). Seams stitch TWO-LEVEL
    # (operators/seams.py): the in-super-bucket LEAD runs partitioned, and
    # the only unpartitioned window left is over the super-bucket rollup —
    # at most range / 8192^2 rows at ANY key range, so no single task ever
    # holds a table that scales with the data.
    summ = k.groupBy("bkt").agg(
        F.min("key").alias("bmin"), F.max("key").alias("bmax")
    )
    from postgresql_cdc_spark.operators.seams import two_level_next

    seams = (
        two_level_next(summ, "bkt", {"bmin": "nmin"})
        .where(F.col("nmin") - F.col("bmax") > 1)
        .select(
            (F.col("bmax") + 1).cast("bigint").alias("gap_start"),
            (F.col("nmin") - 1).cast("bigint").alias("gap_end"),
        )
    )
    return inside.unionByName(seams).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1)
        .cast("bigint")
        .alias("gap_len"),
    )


@register(
    "dq_duplicate_payment_pairs",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_custkey AS c,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents,
               epoch_ms(o_orderdate) AS t
        FROM orders),
    replay AS (
        SELECT k + 10000000 AS k, c, cents, t + 3600000 AS t
        FROM base WHERE k % 251 = 0),
    o AS (SELECT * FROM base UNION ALL SELECT * FROM replay)
    SELECT a.c AS custkey, a.cents,
           a.k AS orderkey_a, b.k AS orderkey_b,
           CAST(b.t - a.t AS BIGINT) AS gap_ms
    FROM o a JOIN o b
      ON a.c = b.c AND a.cents = b.cents AND a.k < b.k
    WHERE b.t - a.t BETWEEN -86400000 AND 86400000
    """,
    doc="Duplicate-payment proximity audit (the double-charge screen "
        "every payments/billing reconciliation runs): pairs of charges "
        "from the SAME customer for the SAME exact amount within one day "
        "— retries, double-clicks, and replayed charges all land here, "
        "and in a CDC context a source-side redelivery that slipped past "
        "idempotent upsert does too. The fixture's synthetic totals are "
        "near-continuous (zero natural exact collisions), so the query "
        "PLANTS the failure it audits for: every 251st order is replayed "
        "one hour later under a shifted key — the redelivery scenario "
        "verbatim — and the detector must recover exactly those pairs, "
        "nothing else. Scale shape: candidates come from an EQUI-join on "
        "(customer, exact cents) — a key selective enough that output "
        "is near-linear — with the +/-1-day band as a cheap residual "
        "predicate, never a time-window cross product; a.k < b.k "
        "canonicalizes each unordered pair. Complements "
        "dq_constraint_audit (schema rules), cdc_conflict_detection "
        "(cross-replica writes), and dq_sequence_gaps (missing keys) "
        "with the value-collision axis.",
)
def dq_duplicate_payment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        (DEC("o_totalprice", 12, 2) * 100).cast("bigint").alias("cents"),
        # parquet reads NTZ here; session is UTC so the cast is lossless
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("t"),
    )
    replay = base.where(F.col("k") % 251 == 0).select(
        (F.col("k") + 10000000).alias("k"),
        "c",
        "cents",
        (F.col("t") + 3600000).alias("t"),
    )
    o = base.unionByName(replay)
    a = o.select(
        F.col("k").alias("orderkey_a"),
        F.col("c").alias("custkey"),
        "cents",
        F.col("t").alias("ta"),
    )
    b = o.select(
        F.col("k").alias("orderkey_b"),
        F.col("c").alias("custkey"),
        "cents",
        F.col("t").alias("tb"),
    )
    return (
        a.join(b, ["custkey", "cents"])
        .where(
            (F.col("orderkey_a") < F.col("orderkey_b"))
            & (F.col("tb") - F.col("ta")).between(-86400000, 86400000)
        )
        .select(
            "custkey",
            "cents",
            "orderkey_a",
            "orderkey_b",
            (F.col("tb") - F.col("ta")).cast("bigint").alias("gap_ms"),
        )
    )


_SIDX = "CAST(rev AS DOUBLE) / (CAST(total AS DOUBLE) / 12.0)"


@register(
    "orders_seasonality_index",
    f"""
    WITH m AS (
        SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS month_,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev
        FROM orders GROUP BY 1),
    t AS (SELECT CAST(SUM(rev) AS BIGINT) AS total FROM m)
    SELECT m.month_, m.rev, t.total, {_SIDX} AS seasonality_index
    FROM m CROSS JOIN t
    """,
    doc="Monthly SEASONALITY INDEX of order revenue: each calendar "
        "month's revenue relative to the uniform 1/12 share (index > 1 "
        "= peak month) — the retail planning table that complements "
        "orders_mom_revenue_trend (sequential deltas) with the "
        "calendar-position view, aggregating across years so each "
        "month's index pools every year's occurrence. Exact BIGINT "
        "cents to 12 rows, a 1-row total broadcast, and one "
        "fixed-order shared-IEEE kernel per row. Scan-shaped at any "
        "scale.",
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        T(spark, sf_dir, "orders")
        .groupBy(F.month("o_orderdate").cast("int").alias("month_"))
        .agg(
            F.sum((DEC("o_totalprice", 12, 2) * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev")
        )
    )
    t = m.agg(F.sum("rev").cast("bigint").alias("total"))
    return m.crossJoin(F.broadcast(t)).select(
        "month_", "rev", "total", F.expr(_SIDX).alias("seasonality_index")
    )


# --- KMV distinct-count sketch ----------------------------------------------

_KMV_K = 64
_KMV_BKT_SHIFT = 50  # h60 div 2^50 -> 1024 hash buckets for the first level

_KMV_ORACLE = f"""
WITH h AS (
    SELECT DISTINCT l_returnflag AS flag,
           CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM lineitem),
ranked AS (
    SELECT flag, h,
           row_number() OVER (PARTITION BY flag ORDER BY h ASC) AS rk
    FROM h),
kth AS (
    SELECT flag, MAX(h) AS hk, CAST(COUNT(*) AS BIGINT) AS k_used
    FROM ranked WHERE rk <= {_KMV_K} GROUP BY flag),
exact AS (
    SELECT flag, CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM h
    GROUP BY flag)
SELECT k.flag, k.k_used, k.hk, e.exact_distinct,
       CAST(floor((CAST(k.k_used AS DOUBLE) - 1.0)
                  * 1152921504606846976.0
                  / CAST(k.hk AS DOUBLE)) AS BIGINT) AS est_distinct
FROM kth k JOIN exact e USING (flag)
"""


@register(
    "stats_kmv_distinct",
    _KMV_ORACLE,
    doc="KMV (k-minimum-values) distinct-count sketch per return flag, "
        "evaluated against the exact distinct count: keep the k=64 "
        "smallest 60-bit hashes of l_partkey; the estimator is "
        "(k-1) * 2^60 / h_(k) (Bar-Yossef et al., RANDOM'02) — the "
        "mergeable sketch engines ship as a tiny fixed-size state where "
        "COUNT(DISTINCT) shuffles every key. Hashes are the repo's "
        "portable h60 (first 15 md5 hex chars) so both engines rank the "
        "same integers; the estimate is floor of a double expression "
        "whose operands ((k-1) exact, 2^60 a power of two, h_(k) cast "
        "once) round identically under IEEE on both engines. Scale "
        "shape: the top-k is two bounded partitioned windows — per "
        "(flag, h div 2^50) bucket top-64 first (<= distinct/1024 rows "
        "per task), then per flag over <= 1024*64 survivors — never a "
        "single task holding a flag's full distinct set; the exact "
        "count reuses the same distinct pass.",
)
def stats_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.text import h60

    li = T(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            h60(F.col("l_partkey").cast("string")).alias("h"),
        )
        .distinct()
        .persist()  # feeds the top-k ladder AND the exact count; harness unpersists
    )
    w_bkt = Window.partitionBy(
        "flag", F.shiftright(F.col("h"), _KMV_BKT_SHIFT)
    ).orderBy(F.col("h").asc())
    survivors = (
        h.withColumn("rn1", F.row_number().over(w_bkt))
        .where(F.col("rn1") <= _KMV_K)
        .drop("rn1")
    )
    w_flag = Window.partitionBy("flag").orderBy(F.col("h").asc())
    kth = (
        survivors.withColumn("rk", F.row_number().over(w_flag))
        .where(F.col("rk") <= _KMV_K)
        .groupBy("flag")
        .agg(
            F.max("h").alias("hk"),
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
        )
    )
    exact = h.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_distinct")
    )
    two60 = float(1 << 60)
    return (
        kth.join(exact, "flag")
        .select(
            "flag",
            "k_used",
            "hk",
            "exact_distinct",
            F.floor(
                (F.col("k_used").cast("double") - F.lit(1.0))
                * F.lit(two60)
                / F.col("hk").cast("double")
            ).cast("bigint").alias("est_distinct"),
        )
    )


# --- winsorized mean ---------------------------------------------------------

_WINSOR_ORACLE = """
WITH e AS (
    SELECT l_returnflag AS flag,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
           l_orderkey, l_linenumber
    FROM lineitem),
ranked AS (
    SELECT flag, cents,
           CAST(ROW_NUMBER() OVER (PARTITION BY flag
                                   ORDER BY cents, l_orderkey, l_linenumber)
                AS BIGINT) AS rk,
           CAST(COUNT(*) OVER (PARTITION BY flag) AS BIGINT) AS n
    FROM e),
fences AS (
    SELECT flag,
           MAX(n) AS n,
           MAX(n) * 5 // 100 AS k,
           MIN(CASE WHEN rk = n * 5 // 100 + 1 THEN cents END) AS lo,
           MIN(CASE WHEN rk = n - n * 5 // 100 THEN cents END) AS hi
    FROM ranked GROUP BY flag),
mid AS (
    SELECT r.flag,
           CAST(SUM(r.cents) AS BIGINT) AS mid_cents,
           CAST(COUNT(*) AS BIGINT) AS n_mid
    FROM ranked r JOIN fences f ON f.flag = r.flag
    WHERE r.rk > f.k AND r.rk <= f.n - f.k
    GROUP BY r.flag)
SELECT f.flag, f.n, CAST(f.k AS BIGINT) AS k,
       CAST(f.lo AS BIGINT) AS lo_cents, CAST(f.hi AS BIGINT) AS hi_cents,
       CAST(m.mid_cents + f.k * (f.lo + f.hi) AS BIGINT) AS winsor_cents,
       CAST(m.mid_cents + f.k * (f.lo + f.hi) AS DOUBLE)
           / CAST(f.n AS DOUBLE) AS winsor_mean_cents
FROM fences f JOIN mid m USING (flag)
"""


@register(
    "stats_winsorized_mean",
    _WINSOR_ORACLE,
    doc="5%-winsorized mean of extended price per return flag — the "
        "trimmed mean's sibling that CLAMPS the k = floor(n*0.05) "
        "smallest/largest observations to the fence order statistics "
        "instead of dropping them: winsorized sum = middle sum + "
        "k*(lo + hi), all exact BIGINT cents, ONE IEEE division at the "
        "end. Ranks come from the distributed sort-rank decomposition "
        "(price-bucket carry + bucket-keyed window, the "
        "stats_trimmed_mean shape) so no flag partition funnels the "
        "fact scan into one task; the oracle states the textbook "
        "per-flag ROW_NUMBER. Fences are exact order statistics "
        "(rank k+1 and n-k); rank ties on equal cents are harmless "
        "because clamping is by value and equal values clamp to "
        "themselves.",
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_returnflag").alias("flag"),
        "l_orderkey",
        "l_linenumber",
        (DEC("l_extendedprice", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    e = e.withColumn("bkt", F.expr("cents div 100000"))
    bcounts = e.groupBy("flag", "bkt").agg(
        F.count(F.lit(1)).alias("bn")
    ).persist()  # totals + carry; harness unpersists
    w_carry = (
        Window.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = bcounts.groupBy("flag").agg(
        F.sum("bn").cast("bigint").alias("n")
    )
    carry = bcounts.select(
        "flag",
        "bkt",
        (F.sum("bn").over(w_carry) - F.col("bn")).alias("carry"),
    )
    w_in = Window.partitionBy("flag", "bkt").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    ranked = (
        e.join(carry, ["flag", "bkt"])
        .join(F.broadcast(totals), "flag")
        .withColumn(
            "rk",
            (F.col("carry") + F.row_number().over(w_in)).cast("bigint"),
        )
        .withColumn("k", F.expr("n * 5 div 100"))
        .persist()  # fences + middle sum; harness unpersists
    )
    fences = ranked.groupBy("flag").agg(
        F.max("n").alias("n"),
        F.max("k").cast("bigint").alias("k"),
        F.min(
            F.when(F.col("rk") == F.col("k") + 1, F.col("cents"))
        ).cast("bigint").alias("lo_cents"),
        F.min(
            F.when(F.col("rk") == F.col("n") - F.col("k"), F.col("cents"))
        ).cast("bigint").alias("hi_cents"),
    )
    mid = (
        ranked.where(
            (F.col("rk") > F.col("k")) & (F.col("rk") <= F.col("n") - F.col("k"))
        )
        .groupBy("flag")
        .agg(
            F.sum("cents").cast("bigint").alias("mid_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_mid"),
        )
    )
    return (
        fences.join(mid, "flag")
        .select(
            "flag",
            "n",
            "k",
            "lo_cents",
            "hi_cents",
            (
                F.col("mid_cents")
                + F.col("k") * (F.col("lo_cents") + F.col("hi_cents"))
            ).cast("bigint").alias("winsor_cents"),
            (
                (
                    F.col("mid_cents")
                    + F.col("k") * (F.col("lo_cents") + F.col("hi_cents"))
                ).cast("double")
                / F.col("n").cast("double")
            ).alias("winsor_mean_cents"),
        )
    )


def _prof_sql(col: str, min_s: str, max_s: str) -> str:
    return f"""
    SELECT '{col}' AS col,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS ndv,
           {min_s} AS min_s, {max_s} AS max_s
    FROM orders"""


@register(
    "stats_column_profile",
    " UNION ALL ".join(
        [
            _prof_sql("o_orderkey", "CAST(MIN(o_orderkey) AS VARCHAR)",
                      "CAST(MAX(o_orderkey) AS VARCHAR)"),
            _prof_sql("o_custkey", "CAST(MIN(o_custkey) AS VARCHAR)",
                      "CAST(MAX(o_custkey) AS VARCHAR)"),
            _prof_sql("o_orderstatus", "MIN(o_orderstatus)",
                      "MAX(o_orderstatus)"),
            _prof_sql("o_orderpriority", "MIN(o_orderpriority)",
                      "MAX(o_orderpriority)"),
            _prof_sql("o_orderdate",
                      "CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR)",
                      "CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR)"),
            _prof_sql("o_totalprice",
                      "CAST(CAST(floor(MIN(o_totalprice) * 100) AS BIGINT)"
                      " AS VARCHAR)",
                      "CAST(CAST(floor(MAX(o_totalprice) * 100) AS BIGINT)"
                      " AS VARCHAR)"),
        ]
    ),
    doc="ANALYZE-style column profiling: per-column row count, null count, "
        "exact NDV, and min/max (rendered engine-neutrally: integers and "
        "strings directly, timestamps via their date part, money as floored "
        "cents) — the table-statistics pass that feeds CBO join ordering "
        "and file-skipping metadata. The Spark side is ONE scan computing "
        "every column's aggregates in a single multi-distinct agg, then a "
        "stack() melt to the long (col, stats) shape — at 100 TB the "
        "single-pass formulation is the entire point (the oracle states the "
        "semantically identical per-column UNION, which DuckDB can afford "
        "at gate scale).",
)
def stats_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    cents_mn = F.floor(F.min("o_totalprice") * 100).cast("bigint")
    cents_mx = F.floor(F.max("o_totalprice") * 100).cast("bigint")
    a = o.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            x
            for c in (
                "o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority", "o_orderdate",
            )
            for x in (
                F.count(c).alias(f"cnt_{c}"),
                F.count_distinct(F.col(c)).alias(f"ndv_{c}"),
            )
        ],
        F.count("o_totalprice").alias("cnt_o_totalprice"),
        F.count_distinct(F.col("o_totalprice")).alias("ndv_o_totalprice"),
        F.min("o_orderkey").cast("string").alias("mn_o_orderkey"),
        F.max("o_orderkey").cast("string").alias("mx_o_orderkey"),
        F.min("o_custkey").cast("string").alias("mn_o_custkey"),
        F.max("o_custkey").cast("string").alias("mx_o_custkey"),
        F.min("o_orderstatus").alias("mn_o_orderstatus"),
        F.max("o_orderstatus").alias("mx_o_orderstatus"),
        F.min("o_orderpriority").alias("mn_o_orderpriority"),
        F.max("o_orderpriority").alias("mx_o_orderpriority"),
        F.min("o_orderdate").cast("date").cast("string")
        .alias("mn_o_orderdate"),
        F.max("o_orderdate").cast("date").cast("string")
        .alias("mx_o_orderdate"),
        cents_mn.cast("string").alias("mn_o_totalprice"),
        cents_mx.cast("string").alias("mx_o_totalprice"),
    )
    cols = (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_orderdate", "o_totalprice",
    )
    stack_args = ", ".join(
        f"'{c}', n - cnt_{c}, ndv_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return a.selectExpr(
        "n",
        f"stack({len(cols)}, {stack_args})"
        " AS (col, n_null, ndv, min_s, max_s)",
    ).select("col", "n", "n_null", "ndv", "min_s", "max_s")
