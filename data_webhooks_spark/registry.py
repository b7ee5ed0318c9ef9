"""Merged operator registry — the single source for __spark_entry__.

Each operator module contributes QUERIES (name -> (spark, sf_dir) ->
DataFrame) and ORACLE (name -> DuckDB SQL). Keys must be globally
unique; ORACLE keys must be a subset of QUERIES keys. Keys come back
in module order; consumers index by name.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MODULES = [
    "data_webhooks_spark.operators.windows",
    "data_webhooks_spark.operators.tpch",
    "data_webhooks_spark.operators.text",
    "data_webhooks_spark.operators.semistructured",
    "data_webhooks_spark.operators.dedup",
    "data_webhooks_spark.operators.similarity",
    "data_webhooks_spark.operators.aggregates",
    "data_webhooks_spark.operators.relational",
    "data_webhooks_spark.operators.sorts_sets",
    "data_webhooks_spark.operators.scalars",
    "data_webhooks_spark.operators.joins",
    "data_webhooks_spark.operators.scans",
    "data_webhooks_spark.operators.udfs",
    "data_webhooks_spark.operators.multimodal",
    "data_webhooks_spark.operators.layout",
    "data_webhooks_spark.operators.sampling",
    "data_webhooks_spark.operators.analytics",
    "data_webhooks_spark.operators.timeseries",
    "data_webhooks_spark.operators.profiling",
    "data_webhooks_spark.operators.warehouse",
    "data_webhooks_spark.operators.drift",
    "data_webhooks_spark.operators.graph",
    "data_webhooks_spark.streaming.queries",
    "data_webhooks_spark.streaming.webhook_query",
]


def _collect() -> tuple[dict, dict]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracle: dict[str, str] = {}
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        for k, v in mod.QUERIES.items():
            if k in queries:
                raise ValueError(f"duplicate operator key {k!r} in {modname}")
            queries[k] = v
        for k, v in mod.ORACLE.items():
            if k not in mod.QUERIES:
                raise ValueError(f"oracle without query: {k!r} in {modname}")
            oracle[k] = v
    return queries, oracle


_QUERIES: dict | None = None
_ORACLE: dict | None = None


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    global _QUERIES, _ORACLE
    if _QUERIES is None:
        _QUERIES, _ORACLE = _collect()
    return _QUERIES


def oracle_sql() -> dict[str, str]:
    global _QUERIES, _ORACLE
    if _ORACLE is None:
        _QUERIES, _ORACLE = _collect()
    return _ORACLE
