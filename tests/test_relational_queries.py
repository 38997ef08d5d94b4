"""Every registry query against its DuckDB oracle, plus invariants of the
query inventory.

``test_query_runs_and_aliases_match_oracle`` collects each query's full
answer at the test scale factor and hash-compares it with the oracle
through the same canonical forms the local correctness gate uses
(``tools/check_correctness.py``): row count, column names, dtypes and
values. The non-IVM ``cdc_stream_*`` rows each drive a multi-trigger
stream and run in the slow tier (``conftest.py``); the join-IVM gates
(``cdc_stream_ivm_*``) stay in the default tier.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from check_correctness import TABLES, oracle_problems  # noqa: E402

from postgresql_cdc_spark.plans import QUERIES  # noqa: E402


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def test_all_queries_have_unique_names():
    assert len(QUERIES) >= 25


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_and_aliases_match_oracle(spark, sf_dir, duck, name):
    q = QUERIES[name]
    sdf = q.spark(spark, sf_dir)
    cols = sdf.columns
    assert len(cols) == len(set(cols)), f"{name}: duplicate output columns"
    try:
        rows = [tuple(r) for r in sdf.collect()]
    finally:
        # builders persist() intermediates they cannot release before the
        # lazy result runs; the harness owns the cleanup
        spark.catalog.clearCache()
    problems, diffs = oracle_problems(sdf, rows, duck, q.oracle)
    assert not problems, (problems, diffs[:3])


def test_entry_contract(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0
    qs, os_ = m.queries(), m.oracle_sql()
    assert set(os_) <= set(qs)


def test_asof_join_semantics(spark):
    from postgresql_cdc_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k int, t int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (2, 99, "zz")], "k int, t int, rv string"
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="t", how="inner")
    got = {(r.k, r.t, r.lv, r.rv) for r in out.collect()}
    # t=10 matches the equal-timestamp right row; t=20 the latest (15); k=2 has
    # no right row at or before t=5 -> dropped under inner.
    assert got == {(1, 10, "a", "r10"), (1, 20, "b", "r15")}

    out_left = asof_join(left, right, on="k", left_time="t", right_time="t", how="left")
    got_left = {(r.k, r.t, r.lv, r.rv) for r in out_left.collect()}
    assert got_left == got | {(2, 5, "c", None)}


def test_asof_join_tolerance(spark):
    from pyspark.sql import functions as F

    from postgresql_cdc_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c")], "k int, t int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 5, "r5"), (1, 18, "r18")], "k int, t int, rv string"
    )
    # tolerance 5 on a numeric axis: t=10 matches r5 at the exact boundary
    # (10-5 <= 5, inclusive); t=20 matches r18 (lag 2); t=30's nearest prior
    # is r18 at lag 12 -> out of tolerance, dropped under inner.
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        how="inner", tolerance=F.lit(5),
    )
    got = {(r.k, r.t, r.lv, r.rv) for r in out.collect()}
    assert got == {(1, 10, "a", "r5"), (1, 20, "b", "r18")}

    # under 'left' the out-of-tolerance row is kept with a null match,
    # indistinguishable from never-matched (merge_asof semantics)
    out_left = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        how="left", tolerance=F.lit(5),
    )
    got_left = {(r.k, r.t, r.lv, r.rv) for r in out_left.collect()}
    assert got_left == got | {(1, 30, "c", None)}


def test_ivf_assignment_partitions_corpus(spark, sf_dir):
    """Every vector lands in exactly one cell; cells come from the centroid set."""
    from postgresql_cdc_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = sim.default_centroids(e, n_centroids=8)
    assigned = sim.ivf_assign(e, cents)
    n = e.count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    cells = {r.cell for r in assigned.select("cell").distinct().collect()}
    cent_ids = {r.cell for r in cents.select("cell").collect()}
    assert cells <= cent_ids


def test_ivf_recall_vs_brute(spark, sf_dir):
    """Probing half the cells must recover most of the exact top-k set."""
    from postgresql_cdc_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.where("vec_id % 40 = 0").selectExpr("vec_id AS query_id", "embedding")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.topk_brute(e, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.topk_ivf(e, q, k=5, n_centroids=8, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"


def test_null_flag_struct_key_matches_null_order_modifiers(spark):
    """sort_null_ordering's rewrite rests on one encoding claim: ordering by
    struct(pri IS NOT NULL, coalesce(pri,''), key) equals ORDER BY pri ASC
    NULLS FIRST, key — and the IS NULL variant equals NULLS LAST. Pin it on
    randomized data (struct comparison is lexicographic and total once the
    NULL is flagged out; '' never collides because flagged-null rows tie on
    '' and break on key, exactly like the window ordering)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [
        (i, rng.choice([None, "", "A", "B", "zz", "1-URGENT"]))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k long, pri string").cache()

    want_nf = [
        r.k for r in df.orderBy(
            F.col("pri").asc_nulls_first(), F.col("k")).collect()
    ]
    got_nf = [
        r.k for r in df.orderBy(
            F.struct(
                F.col("pri").isNotNull(),
                F.coalesce("pri", F.lit("")),
                F.col("k"),
            )
        ).collect()
    ]
    assert got_nf == want_nf

    want_nl = [
        r.k for r in df.orderBy(
            F.col("pri").asc_nulls_last(), F.col("k")).collect()
    ]
    got_nl = [
        r.k for r in df.orderBy(
            F.struct(
                F.col("pri").isNull(),
                F.coalesce("pri", F.lit("")),
                F.col("k"),
            )
        ).collect()
    ]
    assert got_nl == want_nl
