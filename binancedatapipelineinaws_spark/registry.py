"""Query registry: the single source of truth wiring SURVEY.md §2 query
ids to (a) an idiomatic-Spark callable and (b) the ANSI-SQL oracle that
DuckDB runs over the same parquet for the correctness gate.

Every operator the engine claims is registered here exactly once; the
driver contract file ``__spark_entry__.py`` re-exports this, applying
the session contract before each query.
``all_specs``, ``queries`` and ``oracle_sql`` iterate in registration
order: the order the query modules were first imported, then
definition order within each module.  The registry reads no file.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL; None -> rows-only check


def register(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query id {name!r}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def _load_all() -> None:
    # Import for side effect: each module registers its queries.
    from binancedatapipelineinaws_spark import canonical  # noqa: F401
    from binancedatapipelineinaws_spark.operators import (  # noqa: F401
        aggregations,
        analytics,
        cdc,
        graph,
        indicators,
        joins,
        pipeline_ops,
        scalar_fns,
        scaling,
        sorts_setops,
        stats,
        subqueries,
        timeseries,
        windows,
    )
    from binancedatapipelineinaws_spark.sources import (  # noqa: F401
        jsonl,
        maintenance,
        tsv,
    )
    from binancedatapipelineinaws_spark.functions import (  # noqa: F401
        clustering,
        corpus,
        curation,
        dedup,
        multimodal,
        retrieval,
        sampling,
        similarity,
        text,
        udfs,
    )


def all_specs() -> dict[str, QuerySpec]:
    """Every registered query, in registration order."""
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
