"""Change-event envelope: schema, text encoding, and deterministic synthesis.

The canonical CDC record (SURVEY.md §1.4, FIXTURES.md §2) mirrors the
reference's ``TableRecord`` (`wal/TableRecord.java:8-12`): one row-level change
with the payload as a name→text map, exactly how pgoutput ships tuples in text
format (`PgWalMessageDecoder.java:261-266`).

``synthesize_changelog_lineitem`` fabricates a replayable change log from the
lineitem fixture with *arithmetically deterministic* rules (no randomness, no
physical row-order dependence), so a SQL oracle can compute the expected
materialized state independently. The fixture's ``(l_orderkey, l_linenumber)``
key is deliberately non-unique (up to 5 physical rows per key) — we exploit
that: the duplicates become successive row *versions*:

- per key, rows are ordered lexicographically by payload; version 1 INSERTs,
  versions 2..n are full-image UPDATEs (txn = orderkey ⊕ generation marker);
- keys with ``(l_orderkey + l_linenumber) % 7 == 0`` get a final sparse UPDATE
  that adds 5 to ``l_quantity`` and ships ``l_extendedprice`` as
  TOAST-unchanged — i.e. the column is *absent from the map*, matching the
  reference's drop of ``u`` sub-type columns (`PgWalMessageDecoder.java:206-207`);
- keys with ``% 7 == 1`` get a final DELETE carrying only the key tuple
  (`PgWalMessageDecoder.java:123-145`).

LSNs encode (key, version-slot) so replay order is total and scale-independent:
``lsn = (orderkey*16 + linenumber) * 1024 + slot`` with slot = version v for
image rows (v ≤ ~100 « 512), 512 for the sparse update, 600 for the delete.
Ties in the version ordering can only be *identical* rows, so replay results
are unaffected by which one wins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

ENVELOPE_SCHEMA = StructType(
    [
        StructField("op", StringType()),  # 'I' | 'U' | 'D'
        StructField("schema", StringType()),
        StructField("table", StringType()),
        StructField("relation_id", IntegerType()),
        StructField("lsn", LongType()),
        StructField("txn_id", LongType()),
        StructField("columns", MapType(StringType(), StringType())),
    ]
)

# Typed schema of the lineitem payload, used by typed_view after materialize.
LINEITEM_COLUMNS = {
    "l_orderkey": "long",
    "l_partkey": "long",
    "l_suppkey": "long",
    "l_linenumber": "int",
    "l_quantity": "double",
    "l_extendedprice": "double",
    "l_discount": "double",
    "l_tax": "double",
    "l_returnflag": "string",
    "l_linestatus": "string",
}

# Deterministic version order within a key (payload lexicographic, DESC so
# rn=1 is the LATEST image in the oracle CTE below).
_VERSION_ORDER = [
    "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus",
]


def text_map(*cols: str, exprs: dict | None = None) -> F.Column:
    """name→text map from typed columns (pgoutput text-format encoding).

    ``exprs`` overrides a column with an arbitrary expression (still cast to
    string). Spark's double→string is round-trip exact, matching the lossless
    text transport the reference relies on (`IntegrationTest.java:174-177`).
    """
    pairs = []
    for c in cols:
        expr = (exprs or {}).get(c, F.col(c))
        pairs.extend([F.lit(c), expr.cast("string")])
    return F.create_map(*pairs)


def synthesize_changelog_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic I/U/D change log over the lineitem fixture (see module
    docstring for the rules).

    ONE pass: a single per-key version window, then each row emits its event
    list (insert-or-version-update, plus — on the latest version only — the
    synthetic sparse update / delete) through one explode. A union-of-branches
    formulation recomputes the window per branch (4 shuffle-sorts instead of
    1) — measured 4-10x slower at sf0.1.
    """
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    cols = list(LINEITEM_COLUMNS)
    key = (F.col("l_orderkey") * 16 + F.col("l_linenumber")).cast("long")
    bucket = (F.col("l_orderkey") + F.col("l_linenumber")) % 7

    kw = Window.partitionBy("l_orderkey", "l_linenumber")
    w = kw.orderBy(*[F.col(c).asc() for c in _VERSION_ORDER])
    base = (
        li.select(*cols, key.alias("__key"), bucket.alias("__bucket"))
        .withColumn("__v", F.row_number().over(w))  # 1 = first version
        # lead-is-null marks the latest version in the SAME WindowExec node
        # as row_number (same partition + order); an unordered count window
        # would run a second pass over every sorted partition.
        .withColumn("__is_latest", F.lead("l_orderkey").over(w).isNull())
    )
    is_latest = F.col("__is_latest")
    ok = F.col("l_orderkey").cast("long")

    def ev(op, lsn, txn, payload):
        return F.struct(
            op.alias("op"), lsn.cast("long").alias("lsn"),
            txn.cast("long").alias("txn_id"), payload.alias("columns"),
        )

    version_ev = ev(
        F.when(F.col("__v") == 1, F.lit("I")).otherwise(F.lit("U")),
        F.col("__key") * 1024 + F.col("__v"),
        F.when(F.col("__v") == 1, ok).otherwise(ok + 3_000_000_000),
        text_map(*cols),
    )
    # TOAST: l_extendedprice unchanged → absent from the new image
    sparse_ev = ev(
        F.lit("U"), F.col("__key") * 1024 + 512, ok + 1_000_000_000,
        text_map(*[c for c in cols if c != "l_extendedprice"],
                 exprs={"l_quantity": F.col("l_quantity") + 5}),
    )
    # DELETE ships only the replica-identity (key) tuple
    delete_ev = ev(
        F.lit("D"), F.col("__key") * 1024 + 600, ok + 2_000_000_000,
        text_map("l_orderkey", "l_linenumber"),
    )

    events = F.array_compact(F.array(
        version_ev,
        F.when(is_latest & (F.col("__bucket") == 0), sparse_ev),
        F.when(is_latest & (F.col("__bucket") == 1), delete_ev),
    ))
    e = F.col("e")
    return base.select(F.explode(events).alias("e")).select(
        e.getField("op").alias("op"),
        F.lit("public").alias("schema"),
        F.lit("lineitem").alias("table"),
        F.lit(16384).alias("relation_id"),
        e.getField("lsn").alias("lsn"),
        e.getField("txn_id").alias("txn_id"),
        e.getField("columns").alias("columns"),
    )


# --- SQL fragments the oracles reuse (kept in lockstep with the synthesis) ---

# Latest image per key: rn=1 under payload-DESC ordering.
LATEST_IMAGE_CTE = """
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus
    FROM (
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey, l_linenumber
                   ORDER BY l_partkey DESC, l_suppkey DESC, l_quantity DESC,
                            l_extendedprice DESC, l_discount DESC, l_tax DESC,
                            l_returnflag DESC, l_linestatus DESC) AS rn
        FROM lineitem)
    WHERE rn = 1
"""

# Final materialized state after full replay with TOAST-sparse map merge.
LINEITEM_STATE_ORACLE = f"""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
           CASE WHEN (l_orderkey + l_linenumber) % 7 = 0
                THEN l_quantity + 5 ELSE l_quantity END AS l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus
    FROM ({LATEST_IMAGE_CTE})
    WHERE (l_orderkey + l_linenumber) % 7 <> 1
"""

# The raw changelog's (op, lsn, txn_id) stream, for envelope-level oracles.
CHANGELOG_ORACLE = """
    WITH versioned AS (
        SELECT l_orderkey, l_linenumber,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey, l_linenumber
                   ORDER BY l_partkey ASC, l_suppkey ASC, l_quantity ASC,
                            l_extendedprice ASC, l_discount ASC, l_tax ASC,
                            l_returnflag ASC, l_linestatus ASC) AS v
        FROM lineitem
    ), keys AS (
        SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
    )
    SELECT 'I' AS op, (l_orderkey*16 + l_linenumber)*1024 + v AS lsn,
           l_orderkey AS txn_id
    FROM versioned WHERE v = 1
    UNION ALL
    SELECT 'U', (l_orderkey*16 + l_linenumber)*1024 + v, l_orderkey + 3000000000
    FROM versioned WHERE v > 1
    UNION ALL
    SELECT 'U', (l_orderkey*16 + l_linenumber)*1024 + 512, l_orderkey + 1000000000
    FROM keys WHERE (l_orderkey + l_linenumber) % 7 = 0
    UNION ALL
    SELECT 'D', (l_orderkey*16 + l_linenumber)*1024 + 600, l_orderkey + 2000000000
    FROM keys WHERE (l_orderkey + l_linenumber) % 7 = 1
"""
