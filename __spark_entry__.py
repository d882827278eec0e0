"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over the engine's query registry
(``binancedatapipelineinaws_spark.registry``): every operator from
SURVEY.md §2 is registered there once, pairing the idiomatic-Spark
callable with its DuckDB oracle SQL.

This file is where a session the engine did not build enters, so it is
where the session contract (``session.prepare``) is applied: once in
``entry``, and before each query ``queries()`` hands out.  The query
builders themselves write no session state.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from binancedatapipelineinaws_spark import registry as _registry
from binancedatapipelineinaws_spark.plans import flagship as _flagship
from binancedatapipelineinaws_spark.session import prepare


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q5 shape: 6-table join + agg + top-k) on
    /root/testdata/sf0.001."""
    return _flagship.entry(prepare(spark))


def _prepared(fn: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(prepare(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _prepared(fn) for name, fn in _registry.queries().items()}


def oracle_sql() -> dict[str, str]:
    return _registry.oracle_sql()
