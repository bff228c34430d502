"""Aggregates every query family into the single registry that
``__spark_entry__`` exposes to the driver.

Import order is load order; name collisions are a bug and raise, and so
does a family module that fails to import (its queries are never silently
dropped).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_globalretail_spark.plans import queries as _relational

ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ALL_ORACLE: dict[str, str] = {}


def _merge(qs: dict, oracle: dict) -> None:
    for name in qs:
        if name in ALL_QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
    ALL_QUERIES.update(qs)
    ALL_ORACLE.update(oracle)


_merge(_relational.QUERIES, _relational.ORACLE)

for _mod in ("operators.dedup", "operators.similarity", "operators.text",
             "operators.multimodal", "operators.skew", "operators.components",
             "operators.sampling", "operators.profiling", "operators.asof",
             "operators.joins", "sources.pyds", "sources.catalog",
             "operators.corpus", "sources.formats",
             "operators.clustering", "operators.quality",
             "plans.star_schema", "plans.analytics", "plans.tpch", "plans.scd",
             "streaming.windows", "streaming.stateful",
             "functions.tablefuncs"):
    _m = __import__(f"etl_globalretail_spark.{_mod}", fromlist=["QUERIES", "ORACLE"])
    _merge(_m.QUERIES, _m.ORACLE)

