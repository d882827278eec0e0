"""The per-session schema cache behind ``tables.load_table``.

A warm ``load_table`` reads with the schema pinned and runs no Spark
job; a rewritten table, or a session whose parquet-inference confs
changed, is inferred afresh.  Jobs are counted under a job group of the
test's own, read back from the status tracker."""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from conftest import SF_ORACLE, SF_SMOKE
from pyspark.errors import AnalysisException
from pyspark.sql import types as T

from binancedatapipelineinaws_spark.registry import all_specs
from binancedatapipelineinaws_spark.session import persist_scope
from binancedatapipelineinaws_spark.tables import TABLE_NAMES, load_table
from perfbench.workloads import DATA_DIR, QUERY_MIX

_group_ids = itertools.count()


def jobs_run_by(spark, fn):
    """(number of Spark jobs ``fn()`` started, its result)."""
    sc = spark.sparkContext
    group = f"test_tables-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _with_ts_as_timestamp(schema: T.StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("ts", T.TimestampType(), f.nullable) if f.name == "ts" else f
            for f in schema.fields
        ]
    )


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_a_warm_load_runs_no_job_and_keeps_the_inferred_schema(spark, name):
    path = f"{SF_ORACLE}/{name}.parquet"
    # the counter sees an inference job: a bare read runs one
    bare_jobs, bare = jobs_run_by(spark, lambda: spark.read.parquet(path))
    assert bare_jobs >= 1
    load_table(spark, SF_ORACLE, name)
    warm_jobs, df = jobs_run_by(spark, lambda: load_table(spark, SF_ORACLE, name))
    assert warm_jobs == 0
    want = _with_ts_as_timestamp(bare.schema) if name == "events" else bare.schema
    assert df.schema == want


def test_two_loads_of_one_table_self_join(spark):
    # schemas are shared, frames are not: each load has its own attribute ids
    a = load_table(spark, SF_ORACLE, "nation").alias("a")
    b = load_table(spark, SF_ORACLE, "nation").alias("b")
    n = a.join(b, a["n_regionkey"] == b["n_regionkey"]).count()
    assert n == 5 * 5 * 5  # 25 nations, 5 per region


def test_an_overwritten_file_table_is_inferred_afresh(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, sf, "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.count() == 2


def test_a_rewritten_directory_table_is_inferred_afresh(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    spark.range(3).write.parquet(path)
    assert load_table(spark, sf, "orders").schema == spark.read.parquet(path).schema
    spark.range(3).selectExpr("cast(id AS string) AS o_orderkey").write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, sf, "orders")
    assert df.schema == T.StructType([T.StructField("o_orderkey", T.StringType())])
    assert sorted(r.o_orderkey for r in df.collect()) == ["0", "1", "2"]


@pytest.fixture(scope="module")
def nanos_sf(tmp_path_factory):
    """sf0.001 ``events`` with ``ts`` stored as TIMESTAMP(NANOS): the
    micros values plus a sub-microsecond part the read must truncate."""
    t = pq.read_table(f"{SF_SMOKE}/events.parquet")
    micros = t.column("ts").cast(pa.int64())
    sub_us = pa.array([i % 1000 for i in range(t.num_rows)], pa.int64())
    nanos = pc.add(pc.multiply(micros, 1000), sub_us).cast(pa.timestamp("ns"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", nanos)
    sf = tmp_path_factory.mktemp("nanos_sf")
    pq.write_table(t, f"{sf}/events.parquet", version="2.6")
    assert pq.read_schema(f"{sf}/events.parquet").field("ts").type == pa.timestamp("ns")
    return str(sf)


def test_nanos_events_read_as_truncated_micros_cold_and_warm(spark, nanos_sf):
    def rows(df):
        return sorted(df.select("event_id", "ts").collect())

    want = rows(load_table(spark, SF_SMOKE, "events"))
    cold = load_table(spark, nanos_sf, "events")
    warm_jobs, warm = jobs_run_by(spark, lambda: load_table(spark, nanos_sf, "events"))
    assert warm_jobs == 0
    for df in (cold, warm):
        assert df.schema["ts"].dataType == T.TimestampType()
        assert rows(df) == want


def test_a_flipped_nanos_conf_does_not_reuse_the_schema(spark, nanos_sf):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert spark.conf.get(key) == "true"
    load_table(spark, nanos_sf, "events")  # cached with ts as a long
    spark.conf.set(key, "false")
    try:
        # inferred afresh, Spark rejects TIMESTAMP(NANOS) without the conf
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, nanos_sf, "events")
    finally:
        spark.conf.set(key, "true")
    assert load_table(spark, nanos_sf, "events").schema["ts"].dataType == T.TimestampType()


@pytest.mark.parametrize("qid", QUERY_MIX)
def test_a_second_query_mix_build_runs_no_job(spark, qid):
    fn = all_specs()[qid].fn
    with persist_scope():
        fn(spark, DATA_DIR)
        jobs, _ = jobs_run_by(spark, lambda: fn(spark, DATA_DIR))
    assert jobs == 0, f"{qid}'s warm build ran {jobs} Spark jobs"
