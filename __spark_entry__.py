"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The real implementations live in ``delta_rs_spark.queries`` (relational
surface) and ``delta_rs_spark.lifecycle_queries`` (table-lifecycle rows);
this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    from delta_rs_spark.catalog import QUERIES

    return QUERIES["q1_pricing_summary"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from delta_rs_spark.catalog import queries as _queries

    return _queries()


def oracle_sql() -> dict[str, str]:
    from delta_rs_spark.catalog import oracle_sql as _oracle_sql

    return _oracle_sql()
