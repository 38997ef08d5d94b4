"""Every join-IVM streaming gate (``cdc_stream_ivm_*``) against its DuckDB
oracle, in the default tier.

Each gate streams a WAL archive through the ``pgcdc`` source into the
view kernel and serves the maintained view; the test hash-compares the
full answer with the oracle through the same canonical forms the local
correctness gate uses (``tools/check_correctness.py``). The
``limit(5)`` smoke rows in ``test_relational_queries.py`` only prove a
gate runs; this proves it is right. About 10-40 s per gate on 4 cores.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from check_correctness import TABLES, oracle_problems  # noqa: E402

from postgresql_cdc_spark.plans import QUERIES  # noqa: E402

IVM_GATES = sorted(n for n in QUERIES if n.startswith("cdc_stream_ivm_"))


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


@pytest.mark.parametrize("name", IVM_GATES)
def test_ivm_gate_matches_oracle(spark, sf_dir, duck, name):
    q = QUERIES[name]
    sdf = q.spark(spark, sf_dir)
    try:
        rows = [tuple(r) for r in sdf.collect()]
    finally:
        spark.catalog.clearCache()
    problems, diffs = oracle_problems(sdf, rows, duck, q.oracle)
    assert not problems, (problems, diffs[:3])
