"""CDC query surface: changelog replay, materialization, typed views, and the
PG text-format type layer (SURVEY.md §2.1 S7-S21).

Every query here replays the deterministic synthetic change log built by
``sources.changelog.synthesize_changelog_lineitem`` (pure arithmetic over the
lineitem fixture; shared per session through :func:`_changelog`), so each has
an exact ANSI-SQL oracle DuckDB can compute directly from the base table —
the oracle never needs to see envelope rows.

Reference parity exercised:

- INSERT/UPDATE/DELETE decode envelopes (`PgWalMessageDecoder.java:101-180`)
- TOAST-unchanged columns absent from UPDATE images
  (`PgWalMessageDecoder.java:206-207`) — both merge (state inherits) and
  latest-image (absent -> NULL) semantics
- transaction demarcation / txn_id batching (`CdcEngine.java:110-129`)
- typed accessors asInt32/asInt64/asBigDecimal/asBoolean
  (`wal/TableColumn.java:15-53`) incl. the PG text-bool quirk
- PG array-literal parsers, numeric + quoted-string grammar
  (`PgArrayUtil.java:9-204`)
- the warehouse patterns a CDC consumer builds on the changelog: maintained
  aggregates, snapshot-derived changelogs, log compaction
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from postgresql_cdc_spark.functions.pg_arrays import (
    pg_double_array,
    pg_long_array,
    pg_string_array,
)
from postgresql_cdc_spark.functions.pg_types import (
    pg_bool,
    pg_bool_reference,
    typed_view,
)
from postgresql_cdc_spark.operators.materialize import materialize
from postgresql_cdc_spark.plans.common import T, roundtrip_dir
from postgresql_cdc_spark.plans.registry import register
from postgresql_cdc_spark.sources.changelog import (
    CHANGELOG_ORACLE as _CHANGELOG_ORACLE,
    LATEST_IMAGE_CTE,
    LINEITEM_COLUMNS,
    LINEITEM_STATE_ORACLE,
    LINEITEM_STATE_ORACLE as _LI_STATE_ORACLE,
    synthesize_changelog_lineitem,
)


# The synthesized changelog is deterministic per sf_dir; within one process
# share one DataFrame so the (driver-side) plan is built once. NB: exchange
# reuse is per-query-execution, so each of the harness's CDC queries still
# re-runs the synthesis window (~1-2s at sf0.01) — an accepted cost, see the
# persist note below. Keyed by applicationId, not id(spark): CPython can
# reuse a freed session's id() and hand a new SparkSession a stale DataFrame
# bound to a stopped SparkContext; applicationId is unique per context.
#
# Deliberately NOT persisted: an earlier persist-on-second-request policy
# made a repeat-measuring bench pay the columnar cache build of 730k
# map-typed rows on pass 2 (serializing maps to storage memory costs more
# than one recompute — measured 6.4s -> 28.7s) for blocks the harness clears
# right after. A real deployment checkpoints the decoded changelog to a
# table instead (also the measured-faster option at sf0.1 vs map-typed
# caching; see r3 note: parquet replay of map rows was ~30% slower than
# re-synthesizing, and in-memory map caching loses by more).
_CHANGELOG_CACHE: dict[tuple[str, str], DataFrame] = {}


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    df = _CHANGELOG_CACHE.get(key)
    if df is None:
        df = synthesize_changelog_lineitem(spark, sf_dir)
        _CHANGELOG_CACHE[key] = df
    return df


@register(
    "cdc_materialize_state",
    f"""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_partkey AS BIGINT) AS l_partkey,
           CAST(l_suppkey AS BIGINT) AS l_suppkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           CAST(l_quantity AS DOUBLE) AS l_quantity,
           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
           CAST(l_discount AS DOUBLE) AS l_discount,
           CAST(l_tax AS DOUBLE) AS l_tax,
           l_returnflag, l_linestatus
    FROM ({LINEITEM_STATE_ORACLE})
    """,
    doc="Replay I/U/D changelog -> current state with TOAST-sparse map merge.",
)
def cdc_materialize_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: envelope -> materialize(merge_sparse) -> typed view.

    UPDATE images omit l_extendedprice (TOAST `u` sub-type,
    `PgWalMessageDecoder.java:206-207`); the merge fold inherits it from the
    prior INSERT image, so the state still carries the original price.
    """
    log = _changelog(spark, sf_dir)
    state = materialize(log, keys=["l_orderkey", "l_linenumber"], merge_sparse=True,
                        columns=list(LINEITEM_COLUMNS))
    return typed_view(state, LINEITEM_COLUMNS, keep=())


@register(
    "cdc_materialize_latest_image",
    f"""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           CAST(CASE WHEN (l_orderkey + l_linenumber) % 7 = 0
                     THEN l_quantity + 5 ELSE l_quantity END AS DOUBLE) AS l_quantity,
           CAST(CASE WHEN (l_orderkey + l_linenumber) % 7 = 0 THEN NULL
                     ELSE l_extendedprice END AS DOUBLE) AS l_extendedprice
    FROM ({LATEST_IMAGE_CTE})
    WHERE (l_orderkey + l_linenumber) % 7 <> 1
    """,
    doc="row_number latest-image materialization: absent TOAST column -> NULL.",
)
def cdc_materialize_latest_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference 'absent means absent' semantics (merge_sparse=False): the
    latest image wins wholesale, so a TOAST-dropped column reads as NULL."""
    log = _changelog(spark, sf_dir)
    state = materialize(log, keys=["l_orderkey", "l_linenumber"], merge_sparse=False)
    cols = {k: LINEITEM_COLUMNS[k] for k in
            ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")}
    return typed_view(state, cols, keep=())


@register(
    "cdc_pricing_after_replay",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
           COUNT(*) AS count_order
    FROM ({LINEITEM_STATE_ORACLE})
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Analytics on materialized CDC state: Q1-shaped agg after replay.",
)
def cdc_pricing_after_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _changelog(spark, sf_dir)
    state = materialize(log, keys=["l_orderkey", "l_linenumber"], merge_sparse=True,
                        columns=list(LINEITEM_COLUMNS))
    t = typed_view(state, LINEITEM_COLUMNS, keep=())
    return t.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,4)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,4)")).cast("double")
        .alias("sum_base_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "cdc_txn_batches",
    f"""
    SELECT op, COUNT(*) AS n_events, COUNT(DISTINCT txn_id) AS n_txns,
           MIN(lsn) AS min_lsn, MAX(lsn) AS max_lsn
    FROM ({_CHANGELOG_ORACLE})
    GROUP BY op
    """,
    doc="Txn demarcation stats over the raw envelope (CdcEngine.java:110-129).",
)
def cdc_txn_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _changelog(spark, sf_dir)
    return log.groupBy("op").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("txn_id").alias("n_txns"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
    )


@register(
    "cdc_checkpoint_lsn",
    f"""
    SELECT MAX(lsn) AS flush_lsn, COUNT(*) AS n_events,
           COUNT(DISTINCT txn_id) AS n_txns
    FROM ({_CHANGELOG_ORACLE})
    """,
    doc="Flush-LSN ack point after full replay (CdcEngine.java:132-137).",
)
def cdc_checkpoint_lsn(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _changelog(spark, sf_dir)
    return log.agg(
        F.max("lsn").alias("flush_lsn"),
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("txn_id").alias("n_txns"),
    )


@register(
    "pg_numeric_arrays",
    """
    SELECT p_partkey,
           CASE WHEN p_partkey % 10 = 0 THEN 0 ELSE 3 END AS arr_len,
           CAST(CASE WHEN p_partkey % 10 = 0 THEN 0
                     ELSE p_partkey + p_size + 7 END AS BIGINT) AS arr_sum,
           CAST(CASE WHEN p_partkey % 10 = 0 THEN 0.0
                     ELSE p_retailprice + 0.5 END AS DOUBLE) AS dbl_sum
    FROM part
    """,
    doc="PG numeric array literals parsed with pure built-ins (PgArrayUtil.java:9-43).",
)
def pg_numeric_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: typed cols -> `{a,b,c}` literal -> parse -> fold. The parse
    is transform/split/cast, fully inside whole-stage codegen."""
    p = T(spark, sf_dir, "part")
    empty = F.col("p_partkey") % 10 == 0
    long_lit = F.when(empty, F.lit("{}")).otherwise(
        F.concat(F.lit("{"), F.col("p_partkey"), F.lit(","),
                 F.col("p_size"), F.lit(",7}"))
    )
    dbl_lit = F.when(empty, F.lit("{}")).otherwise(
        F.concat(F.lit("{"), F.col("p_retailprice").cast("string"), F.lit(",0.5}"))
    )
    arr = pg_long_array(long_lit)
    darr = pg_double_array(dbl_lit)
    return p.select(
        "p_partkey",
        F.size(arr).alias("arr_len"),
        F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x).alias("arr_sum"),
        F.aggregate(darr, F.lit(0.0), lambda a, x: a + x).alias("dbl_sum"),
    )


@register(
    "pg_string_arrays",
    """
    SELECT p_partkey, p_type AS e1, p_name AS e2, 'a"bA' AS e3, 3 AS n_elems
    FROM part
    """,
    doc="PG quoted-string array grammar via Arrow-batched UDF (PgArrayUtil.java:54-204).",
)
def pg_string_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal mixes an unquoted element, a quoted element from data, and a
    quoted constant exercising \\" and \\uXXXX escapes."""
    p = T(spark, sf_dir, "part")
    lit = F.concat(
        F.lit("{"), F.col("p_type"),  # unquoted (spaces allowed, stops at ,)
        F.lit(',"'), F.col("p_name"), F.lit('"'),  # quoted, from data
        F.lit(',"a\\"b\\u0041"}'),  # escapes: \" and A -> 'a"bA'
    )
    arr = pg_string_array(lit)
    return p.select(
        "p_partkey",
        F.element_at(arr, 1).alias("e1"),
        F.element_at(arr, 2).alias("e2"),
        F.element_at(arr, 3).alias("e3"),
        F.size(arr).alias("n_elems"),
    )


@register(
    "pg_text_bool",
    """
    SELECT COUNT(*) FILTER (WHERE o_orderkey % 13 <> 0 AND o_orderstatus = 'F') AS n_true,
           COUNT(*) FILTER (WHERE o_orderkey % 13 <> 0 AND o_orderstatus <> 'F') AS n_false,
           COUNT(*) FILTER (WHERE o_orderkey % 13 = 0) AS n_null,
           COUNT(*) FILTER (WHERE o_orderkey % 13 = 0 OR o_orderstatus <> 'F') AS n_ref_false
    FROM orders
    """,
    doc="PG text bool 't'/'f' incl. the reference NULL->false quirk (TableColumn.java:31-33).",
)
def pg_text_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    txt = F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string")).otherwise(
        F.when(F.col("o_orderstatus") == "F", F.lit("t")).otherwise(F.lit("f"))
    )
    b = pg_bool(txt)
    bref = pg_bool_reference(txt)
    return o.agg(
        F.count(F.when(b, 1)).alias("n_true"),
        F.count(F.when(~b, 1)).alias("n_false"),
        F.count(F.when(b.isNull(), 1)).alias("n_null"),
        F.count(F.when(~bref, 1)).alias("n_ref_false"),
    )


@register(
    "pg_timestamp_numeric",
    """
    SELECT o_orderkey,
           epoch_us(o_orderdate) AS ts_back_us,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_back_cents
    FROM orders
    """,
    doc="Typed accessors with no prior query coverage: pg_timestamp "
        "(`TableColumn` has only asString for timestamps — the proper cast "
        "is our superset) and pg_numeric at a declared scale. The envelope's "
        "text values are synthesized in PG's own wire formats "
        "(microsecond timestamp text, plain decimal text) and must cast "
        "back to the exact original values. BOTH comparison columns are "
        "engine-neutral integers: epoch microseconds for the timestamp "
        "(Spark's Arrow timestamps are tz-aware UTC while DuckDB's are "
        "naive) and cents for the numeric: integer cents are robust to any "
        "hasher that renders decimals without trailing zeros (e.g. a "
        "float64-widening pandas/Arrow fetch path turning 123.40 into "
        "123.4 while Spark collects Decimal('123.40')). The "
        "decimal-to-cents multiply happens at DECIMAL(12,2), so it is "
        "exact on both engines.",
)
def pg_timestamp_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.functions.pg_types import pg_numeric, pg_timestamp

    o = T(spark, sf_dir, "orders")
    # PG wire text: 'YYYY-MM-DD HH:MI:SS.US' and unadorned decimal digits
    ts_text = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    price_text = F.col("o_totalprice").cast("decimal(12,2)").cast("string")
    return o.select(
        "o_orderkey",
        F.unix_micros(pg_timestamp(ts_text)).alias("ts_back_us"),
        (pg_numeric(price_text, 12, 2) * 100).cast("long").alias("price_back_cents"),
    )


_SCD2_ORACLE = """
    WITH versioned AS (
        SELECT l_orderkey, l_linenumber, l_quantity,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey, l_linenumber
                   ORDER BY l_partkey ASC, l_suppkey ASC, l_quantity ASC,
                            l_extendedprice ASC, l_discount ASC, l_tax ASC,
                            l_returnflag ASC, l_linestatus ASC) AS v,
               COUNT(*) OVER (
                   PARTITION BY l_orderkey, l_linenumber) AS n
        FROM lineitem
    ), ev AS (
        SELECT l_orderkey, l_linenumber, 'V' AS op,
               (l_orderkey*16 + l_linenumber)*1024 + v AS lsn,
               CAST(l_quantity AS DOUBLE) AS l_quantity
        FROM versioned
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'U',
               (l_orderkey*16 + l_linenumber)*1024 + 512,
               CAST(l_quantity + 5 AS DOUBLE)
        FROM versioned WHERE v = n AND (l_orderkey + l_linenumber) % 7 = 0
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'D',
               (l_orderkey*16 + l_linenumber)*1024 + 600, NULL
        FROM versioned WHERE v = n AND (l_orderkey + l_linenumber) % 7 = 1
    ), t AS (
        SELECT *, LEAD(lsn) OVER (
                   PARTITION BY l_orderkey, l_linenumber
                   ORDER BY lsn) AS valid_to_lsn
        FROM ev
    )
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           CAST(lsn AS BIGINT) AS valid_from_lsn,
           CAST(valid_to_lsn AS BIGINT) AS valid_to_lsn,
           valid_to_lsn IS NULL AS is_current,
           l_quantity
    FROM t WHERE op <> 'D'
"""


@register(
    "cdc_scd2_history",
    _SCD2_ORACLE,
    doc="SCD Type-2 history from the changelog: every non-DELETE event opens "
        "a version valid from its LSN until the key's next event (any op "
        "closes the open version; NULL valid_to = current). One window "
        "(lead over the key partition) on skinny extracted columns - one "
        "shuffle, one sort, the standard way a warehouse derives dimension "
        "history from CDC. The version carries its own image's l_quantity "
        "(latest-image semantics), so the sparse TOAST update's +5 and the "
        "text round-trip are both checked along the way.",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    log = _changelog(spark, sf_dir)
    ev = log.select(
        F.element_at("columns", "l_orderkey").cast("long").alias("l_orderkey"),
        F.element_at("columns", "l_linenumber").cast("int").alias("l_linenumber"),
        "op", "lsn",
        F.element_at("columns", "l_quantity").cast("double").alias("l_quantity"),
    )
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy("lsn")
    return (
        ev.withColumn("valid_to_lsn", F.lead("lsn").over(w))
        .where(F.col("op") != "D")
        .select(
            "l_orderkey", "l_linenumber",
            F.col("lsn").alias("valid_from_lsn"),
            "valid_to_lsn",
            F.col("valid_to_lsn").isNull().alias("is_current"),
            "l_quantity",
        )
    )


@register(
    "cdc_scd2_point_in_time",
    f"""
    WITH h AS MATERIALIZED ({_SCD2_ORACLE}),
    keys AS (SELECT DISTINCT l_orderkey, l_linenumber FROM h),
    probes AS (
        SELECT l_orderkey, l_linenumber,
               (l_orderkey * 16 + l_linenumber) * 1024 + off AS probe_lsn
        FROM keys, (SELECT unnest([5, 550]) AS off)
    )
    SELECT p.l_orderkey, p.l_linenumber,
           CAST(p.probe_lsn AS BIGINT) AS probe_lsn,
           h.l_quantity,
           h.is_current
    FROM probes p JOIN h
      ON p.l_orderkey = h.l_orderkey AND p.l_linenumber = h.l_linenumber
     AND p.probe_lsn >= h.valid_from_lsn
     AND (h.valid_to_lsn IS NULL OR p.probe_lsn < h.valid_to_lsn)
    """,
    doc="Point-in-time (as-of LSN) lookup against the SCD Type-2 history: "
        "for each key, two probe LSNs (early in its version chain and "
        "after the planted update) fetch the version whose validity "
        "interval covers the probe — the temporal-join primitive behind "
        "'report as of last Tuesday' warehouse queries and CDC debugging. "
        "Equi-join on the key with the interval predicate as a residual "
        "filter: versions per key are few and bounded, so the join scales "
        "as the key join, never as an interval cross product. Probes "
        "landing after a DELETE (or before the first version) correctly "
        "match nothing.",
)
def cdc_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.plans.registry import QUERIES

    hist = QUERIES["cdc_scd2_history"].spark(spark, sf_dir)
    keys = hist.select("l_orderkey", "l_linenumber").distinct()
    probes = keys.select(
        "l_orderkey", "l_linenumber",
        F.explode(F.array(F.lit(5), F.lit(550))).alias("off"),
    ).select(
        "l_orderkey", "l_linenumber",
        (
            (F.col("l_orderkey") * 16 + F.col("l_linenumber")) * 1024
            + F.col("off")
        ).alias("probe_lsn"),
    )
    p, h = probes.alias("p"), hist.alias("h")
    return (
        p.join(
            h,
            (F.col("p.l_orderkey") == F.col("h.l_orderkey"))
            & (F.col("p.l_linenumber") == F.col("h.l_linenumber"))
            & (F.col("p.probe_lsn") >= F.col("h.valid_from_lsn"))
            & (
                F.col("h.valid_to_lsn").isNull()
                | (F.col("p.probe_lsn") < F.col("h.valid_to_lsn"))
            ),
        )
        .select(
            F.col("p.l_orderkey").alias("l_orderkey"),
            F.col("p.l_linenumber").alias("l_linenumber"),
            F.col("p.probe_lsn").cast("bigint").alias("probe_lsn"),
            F.col("h.l_quantity").alias("l_quantity"),
            F.col("h.is_current").alias("is_current"),
        )
    )


# --- active-active conflict detection ----------------------------------------

@register(
    "cdc_conflict_detection",
    f"""
    WITH log AS ({_CHANGELOG_ORACLE}),
    w AS (SELECT lsn // 1024 AS knum, lsn, lsn % 2 AS site
          FROM log WHERE op <> 'I'),
    g AS (SELECT knum,
                 CAST(SUM(CASE WHEN site = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_site0,
                 CAST(SUM(CASE WHEN site = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_site1,
                 MAX(lsn) AS winner_lsn
          FROM w GROUP BY knum)
    SELECT CAST(knum // 16 AS BIGINT) AS l_orderkey,
           CAST(knum % 16 AS BIGINT) AS l_linenumber,
           n_site0, n_site1,
           CAST(winner_lsn % 2 AS BIGINT) AS winner_site,
           CAST(winner_lsn AS BIGINT) AS winner_lsn
    FROM g WHERE n_site0 > 0 AND n_site1 > 0
    """,
    doc="Active-active replication conflict detection: given the merged "
        "changelog of two writer sites (site = a deterministic function "
        "of the event, here lsn parity — in production, the origin field "
        "pgoutput's message carries), find every key BOTH sites wrote "
        "after the initial image, report per-site write counts and the "
        "last-writer-wins outcome (winner = site of the max LSN — "
        "deterministic because LSNs are the total order the reference "
        "acks by, CdcEngine.java:132-137). This is the audit a "
        "multi-master deployment runs continuously: LWW silently "
        "discards the losing site's writes, and this query is the list "
        "of exactly what was discarded. Shape: one filter + one hash agg "
        "on the key — conflict detection costs one pass over the "
        "changelog, no joins at all (the key is arithmetically decodable "
        "from the LSN on both engines).",
)
def cdc_conflict_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _changelog(spark, sf_dir)
    w = log.where(F.col("op") != "I").select(
        F.expr("lsn div 1024").alias("knum"),
        "lsn",
        (F.col("lsn") % 2).alias("site"),
    )
    g = w.groupBy("knum").agg(
        F.sum(F.when(F.col("site") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_site0"),
        F.sum(F.when(F.col("site") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_site1"),
        F.max("lsn").alias("winner_lsn"),
    )
    return (
        g.where((F.col("n_site0") > 0) & (F.col("n_site1") > 0))
        .select(
            F.expr("knum div 16").cast("bigint").alias("l_orderkey"),
            (F.col("knum") % 16).cast("bigint").alias("l_linenumber"),
            "n_site0", "n_site1",
            (F.col("winner_lsn") % 2).cast("bigint").alias("winner_site"),
            F.col("winner_lsn").cast("bigint").alias("winner_lsn"),
        )
    )


# --- log compaction stats ----------------------------------------------------

@register(
    "cdc_log_compaction_stats",
    f"""
    WITH log AS ({_CHANGELOG_ORACLE}),
    k AS (SELECT lsn // 1024 AS knum, MAX(lsn) AS last_lsn,
                 COUNT(*) AS n_events
          FROM log GROUP BY knum),
    last AS (SELECT k.knum, k.n_events, l.op AS last_op
             FROM k JOIN log l ON l.lsn = k.last_lsn)
    SELECT CAST(SUM(n_events) AS BIGINT) AS n_events_before,
           CAST(COUNT(*) AS BIGINT) AS n_events_after,
           CAST(SUM(CASE WHEN last_op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tombstones,
           CAST((1000000 * COUNT(*)) // SUM(n_events) AS BIGINT)
             AS retained_ppm
    FROM last
    """,
    doc="Log-compaction statistics (the Kafka compacted-topic model "
        "applied to the WAL changelog): per key only the LAST event "
        "survives compaction — a terminal DELETE stays as a tombstone — "
        "and this query reports before/after event counts, tombstone "
        "count, and the integer-ppm retention ratio: the numbers that "
        "size a compacted replica topic and decide tombstone-retention "
        "policy. Shape: one key hash agg + one self-equi-join on the "
        "max-LSN row (LSNs are unique, so the join is 1:1) + a scalar "
        "rollup; the key decodes arithmetically from the LSN, so no "
        "payload ever shuffles.",
)
def cdc_log_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _changelog(spark, sf_dir).select("op", "lsn")
    k = log.groupBy(F.expr("lsn div 1024").alias("knum")).agg(
        F.max("lsn").alias("last_lsn"), F.count(F.lit(1)).alias("n_events")
    )
    last = k.join(log, k.last_lsn == log.lsn).select(
        "n_events", F.col("op").alias("last_op")
    )
    return last.agg(
        F.sum("n_events").cast("bigint").alias("n_events_before"),
        F.count(F.lit(1)).cast("bigint").alias("n_events_after"),
        F.sum(F.when(F.col("last_op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_tombstones"),
        F.expr("(1000000 * count(*)) div sum(n_events)")
        .cast("bigint")
        .alias("retained_ppm"),
    )


# --- image sparsity report ---------------------------------------------------

@register(
    "cdc_image_sparsity_report",
    f"""
    WITH log AS ({_CHANGELOG_ORACLE}),
    m AS (SELECT op,
                 CASE WHEN op = 'D' THEN 2
                      WHEN op = 'U' AND lsn % 1024 = 512 THEN 9
                      ELSE 10 END AS n_cols
          FROM log)
    SELECT op,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(n_cols) AS BIGINT) AS total_map_entries,
           CAST((1000 * SUM(n_cols)) // (10 * COUNT(*)) AS BIGINT)
             AS fill_permille
    FROM m GROUP BY op
    """,
    doc="Change-image sparsity report: per op kind, event count, total "
        "shipped map entries, and the per-mille fill ratio against the "
        "10-column full image — the wire-efficiency observability for "
        "TOAST-sparse UPDATEs (absent-not-null, "
        "PgWalMessageDecoder.java:206-207) and key-only DELETEs "
        "(:123-145). The Spark side measures the ACTUAL map cardinality "
        "of every synthesized envelope row while the oracle derives the "
        "expected size arithmetically from the synthesis rules (full "
        "image 10, sparse update 9, delete key 2) — equality proves the "
        "envelope builder ships exactly the declared sparsity, no "
        "accidental nulls-instead-of-absent. One scan-side size() "
        "projection + a 3-row hash agg.",
)
def cdc_image_sparsity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = _changelog(spark, sf_dir)
    m = log.select("op", F.size("columns").alias("n_cols"))
    return m.groupBy("op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("n_cols").cast("bigint").alias("total_map_entries"),
        F.expr("(1000 * sum(n_cols)) div (10 * count(*))")
        .cast("bigint")
        .alias("fill_permille"),
    )


# --- incremental view maintenance from the changelog -------------------------

@register(
    "cdc_incremental_agg_maintenance",
    f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM ({LINEITEM_STATE_ORACLE})
    GROUP BY l_returnflag
    """,
    doc="Incremental view maintenance (IVM): SUM/COUNT per l_returnflag "
        "maintained purely from I/U/D retract deltas — each event emits "
        "(-old image, +new image) against the grouping column WITHOUT ever "
        "materializing row state, the way a streaming CDC consumer keeps an "
        "aggregate fresh at a fraction of recompute cost. The prior image "
        "per key comes from ONE window (running last() fill for the two "
        "needed columns + lag — far lighter than full materialization, and "
        "TOAST-sparse UPDATE images inherit correctly because the fill "
        "skips absent entries). The oracle recomputes the aggregate from "
        "the fully-replayed final state: equality IS the IVM correctness "
        "proof. Shape: one key-partitioned window + one explode + one hash "
        "agg; at 100 TB the window shuffle is the same key partitioning "
        "every materialization query uses, and the final agg is "
        "map-side-combinable to |groups| rows.",
)
def cdc_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.ivm import incremental_group_agg

    log = _changelog(spark, sf_dir)
    out = incremental_group_agg(
        log,
        keys=["l_orderkey", "l_linenumber"],
        group_col="l_returnflag",
        sum_col="l_quantity",
    )
    return out.select(
        "l_returnflag", "n_rows", F.col("total").alias("total_qty")
    )


# --- snapshot diff -> changelog (the inverse of materialize) -----------------

# Planted new snapshot of customer: every 17th row dropped (DELETE), every
# 13th surviving row gets +10 acctbal (UPDATE), every 19th row re-appears
# cloned at custkey+900000 (INSERT). Both engines construct the identical
# new side, so the diff has known true rows of every op kind.
_DIFF_NEW = """
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 10
                ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 17 <> 0
    UNION ALL
    SELECT c_custkey + 900000, c_name || '_new', c_nationkey, c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 19 = 0
"""

_DIFF_COLS = ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


@register(
    "cdc_snapshot_diff",
    f"""
    WITH new_snap AS ({_DIFF_NEW}),
    j AS (SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
                 o.c_custkey IS NULL AS is_i, n.c_custkey IS NULL AS is_d,
                 {', '.join(
                     f"(o.{c} IS DISTINCT FROM n.{c}) AS ch_{c}"
                     for c in _DIFF_COLS
                 )}
          FROM customer o FULL OUTER JOIN new_snap n
            ON o.c_custkey = n.c_custkey)
    SELECT CASE WHEN is_i THEN 'I' WHEN is_d THEN 'D' ELSE 'U' END AS op,
           c_custkey,
           CASE WHEN is_i OR is_d THEN ''
                ELSE concat_ws(',', {', '.join(
                    f"CASE WHEN ch_{c} THEN '{c}' END" for c in _DIFF_COLS
                )}) END AS changed_cols
    FROM j
    WHERE is_i OR is_d OR {' OR '.join(f'ch_{c}' for c in _DIFF_COLS)}
    """,
    doc="Snapshot diff -> changelog: the INVERSE of materialize — given two "
        "table snapshots, emit the minimal I/U/D changelog between them "
        "(the bootstrap every CDC deployment needs when a source has no "
        "WAL retention, and the audit that verifies a replica). One "
        "null-safe FULL OUTER JOIN on the key classifies each row; UPDATE "
        "rows carry the exact changed-column list via IS DISTINCT FROM "
        "(null-safe on both engines). Shape: a single co-partitioned "
        "shuffle join on the key — the 100 TB plan is two sorted scans + "
        "merge, identical to the backup-verification jobs warehouses "
        "already run; unchanged rows are filtered before any projection "
        "fan-out.",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    old = T(spark, sf_dir, "customer")
    keep = old.where(F.col("c_custkey") % 17 != 0).select(
        "c_custkey", "c_name", "c_nationkey",
        F.when(F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 10)
        .otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        "c_mktsegment",
    )
    ins = old.where(F.col("c_custkey") % 19 == 0).select(
        (F.col("c_custkey") + 900000).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit("_new")).alias("c_name"),
        "c_nationkey", "c_acctbal", "c_mktsegment",
    )
    new = keep.unionByName(ins)

    o = old.alias("o")
    n = new.alias("n")
    j = o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
    is_i = F.col("o.c_custkey").isNull()
    is_d = F.col("n.c_custkey").isNull()
    ch = {
        c: ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")) for c in _DIFF_COLS
    }
    any_ch = None
    for c in _DIFF_COLS:
        any_ch = ch[c] if any_ch is None else (any_ch | ch[c])
    return (
        j.where(is_i | is_d | any_ch)
        .select(
            F.when(is_i, "I").when(is_d, "D").otherwise("U").alias("op"),
            F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey"))
            .alias("c_custkey"),
            F.when(is_i | is_d, "").otherwise(
                F.concat_ws(",", *[
                    F.when(ch[c], c) for c in _DIFF_COLS
                ])
            ).alias("changed_cols"),
        )
    )


# --- changelog compaction round-trip -----------------------------------------

@register(
    "cdc_changelog_compaction",
    f"""
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_partkey AS BIGINT) AS l_partkey,
           CAST(l_suppkey AS BIGINT) AS l_suppkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           CAST(l_quantity AS DOUBLE) AS l_quantity,
           CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
           CAST(l_discount AS DOUBLE) AS l_discount,
           CAST(l_tax AS DOUBLE) AS l_tax,
           l_returnflag, l_linestatus
    FROM ({_LI_STATE_ORACLE})
    """,
    doc="Changelog compaction round-trip — the maintenance composition a "
        "long-lived CDC lake runs: the I/U/D changelog is first written "
        "DELIBERATELY fragmented (repartition(64) => 64 tiny map-typed "
        "parquet files, the shape a fine-grained streaming sink leaves), "
        "then operators/layout.compact rewrites it via the SORTED path "
        "(repartitionByRange on lsn + sortWithinPartitions — one shuffle "
        "that also re-clusters so min/max file stats prune LSN-range "
        "replays afterwards), and materialize(merge_sparse) runs over the "
        "COMPACTED copy. The oracle is cdc_materialize_state's state SQL "
        "verbatim: compaction must be invisible to replay — identical "
        "current state, TOAST-sparse merge included, row order and file "
        "layout notwithstanding. Complements layout_compaction_roundtrip "
        "(coalesce path, plain table) by gating the shuffle path on the "
        "engine's own changelog format.",
)
def cdc_changelog_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postgresql_cdc_spark.operators.layout import compact

    log = _changelog(spark, sf_dir)
    frag = roundtrip_dir(spark, sf_dir, "clog_frag")
    out = roundtrip_dir(spark, sf_dir, "clog_compact")
    log.repartition(64).write.mode("overwrite").parquet(frag)
    compact(spark, frag, out, target_file_bytes=64 * 1024 * 1024,
            sort_by=["lsn"])
    state = materialize(
        spark.read.parquet(out),
        keys=["l_orderkey", "l_linenumber"],
        merge_sparse=True,
        columns=list(LINEITEM_COLUMNS),
    )
    return typed_view(state, LINEITEM_COLUMNS, keep=())
