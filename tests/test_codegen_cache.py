"""Spark's generated-code class cache holds the registry's working set.

``get_spark`` sizes ``spark.sql.codegen.cache.maxEntries`` to
``session.CODEGEN_CACHE_ENTRIES``.  At Spark's default of 100 one
``query_mix`` pass (about 110 classes) evicts each class before its next use,
so every pass compiled all of them again with Janino.  Compiles are read
from Spark's ``CodegenMetrics``: one histogram update per class compiled."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException

from binancedatapipelineinaws_spark.registry import all_specs
from binancedatapipelineinaws_spark.session import (
    _SESSION_CONTRACT,
    CODEGEN_CACHE_ENTRIES,
    persist_scope,
    prepare,
)
from perfbench.workloads import DATA_DIR, QUERY_MIX

KEY = "spark.sql.codegen.cache.maxEntries"


def classes_compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def query_mix_pass(spark) -> int:
    """Classes compiled by building each ``QUERY_MIX`` id and writing it
    to ``noop``, each inside its own ``persist_scope``."""
    specs = all_specs()
    before = classes_compiled(spark)
    for qid in QUERY_MIX:
        with persist_scope():
            specs[qid].fn(spark, DATA_DIR).write.format("noop").mode("overwrite").save()
    return classes_compiled(spark) - before


def test_a_repeated_query_mix_pass_compiles_no_class(spark):
    query_mix_pass(spark)
    assert query_mix_pass(spark) == 0


def test_get_spark_sizes_the_cache(spark):
    assert spark.conf.get(KEY) == str(CODEGEN_CACHE_ENTRIES)
    # a static conf: fixed when the context starts, so no session
    # contract can carry it
    with pytest.raises(AnalysisException, match="static"):
        spark.conf.set(KEY, "100")


def test_the_session_contract_leaves_the_cache_alone():
    assert KEY not in _SESSION_CONTRACT
    written: dict[str, str] = {}
    prepare(SimpleNamespace(conf=SimpleNamespace(set=written.__setitem__)))
    assert written == _SESSION_CONTRACT
