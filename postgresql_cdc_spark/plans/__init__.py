"""Query inventory: every entry pairs a Spark DataFrame builder with an
ANSI-SQL oracle that DuckDB runs on the same parquet tables.

The driver's correctness gate sorts columns by name and hashes values, so
builders and oracles alias every computed column identically, and all floating
aggregations route through *exact decimal arithmetic* (data has <=4 decimal
places) with a final cast to double — bit-identical on both engines regardless
of partitioning/order.
"""

from __future__ import annotations

from postgresql_cdc_spark.plans.registry import QUERIES, Query, register

# Importing the modules populates QUERIES; registry order is import order.
from postgresql_cdc_spark.plans import relational  # noqa: E402,F401
from postgresql_cdc_spark.plans import cdc  # noqa: E402,F401
from postgresql_cdc_spark.plans import events  # noqa: E402,F401
from postgresql_cdc_spark.plans import analytics  # noqa: E402,F401
from postgresql_cdc_spark.plans import text  # noqa: E402,F401
from postgresql_cdc_spark.plans import dedup  # noqa: E402,F401
from postgresql_cdc_spark.plans import retrieval  # noqa: E402,F401
from postgresql_cdc_spark.plans import multimodal  # noqa: E402,F401
from postgresql_cdc_spark.plans import streaming_gate  # noqa: E402,F401


__all__ = ["QUERIES", "Query", "register"]
