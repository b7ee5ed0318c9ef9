"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` is a smoke check; each ``queries()[name]`` at
sf=0.01 is compared against the matching ``oracle_sql()[name]`` on
DuckDB (row-count + schema + order-insensitive value-hash), as
``tests/test_parity.py`` does.

Implementation lives in ``data_webhooks_spark``; the operator
inventory is SURVEY.md §2 and every key here maps 1:1 to a row there.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_webhooks_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H-Q1-shaped pricing summary over lineitem: scan -> filter ->
    hash-aggregate (map-side partials) -> sort.
    """
    from pyspark.sql import functions as F

    df = registry.queries()["agg_groupby"](spark, "/root/testdata/sf0.001")
    return df.orderBy(F.col("l_returnflag"), F.col("l_linestatus"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every SQL-expressible operator."""
    return registry.oracle_sql()
