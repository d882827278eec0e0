"""The gate's own behaviour (``tools/check_oracle``): one run per side
gives the value, pandas-hash and dtype verdicts, and the harness
checks the checkout it was started from."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

from conftest import REPO
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import QuerySpec
from tools import check_oracle


def _planted(spark_sql: str, oracle: str) -> QuerySpec:
    return QuerySpec("planted", lambda spark, sf_dir: spark.sql(spark_sql), oracle)


def test_date_vs_varchar_fails_the_hash_verdict(spark, duck):
    # the collected values print alike ("2024-01-01"), and both pandas
    # columns are object; only the driver's pandas compare tells a
    # date from a string
    spec = _planted("SELECT DATE '2024-01-01' AS d", "SELECT '2024-01-01' AS d")
    status, nrows, msg = check_oracle.run_one(spark, duck, spec.name, spec)
    assert (status, nrows) == ("FAIL", 1)
    assert msg.startswith("pandas hash differs in columns ['d']"), msg


def test_smallint_vs_bigint_fails_the_dtype_verdict(spark, duck):
    spec = _planted(
        "SELECT CAST(7 AS SMALLINT) AS n", "SELECT CAST(7 AS BIGINT) AS n"
    )
    status, nrows, msg = check_oracle.run_one(spark, duck, spec.name, spec)
    assert (status, nrows) == ("FAIL", 1)
    assert msg == "dtype pairs not in SAFE_DTYPE_PAIRS: ['n: spark=int16 duck=int64']"
    # the vectorized value compare feeds the same two verdicts
    status, _, problems = check_oracle._check(spark, duck, spec, fast=True)
    assert status == "FAIL" and list(problems) == ["dtype"]


def test_int_vs_bigint_is_a_safe_pair(spark, duck):
    assert ("int32", "int64") in check_oracle.SAFE_DTYPE_PAIRS
    spec = _planted("SELECT CAST(7 AS INT) AS n", "SELECT CAST(7 AS BIGINT) AS n")
    assert check_oracle.run_one(spark, duck, spec.name, spec) == ("OK", 1, None)


def test_safe_dtype_pairs_are_the_five_known_pairs():
    assert set(check_oracle.SAFE_DTYPE_PAIRS) == {
        ("datetime64[ns]", "datetime64[us]"),
        ("int32", "int64"),
        ("object", "datetime64[us]"),
        ("int32", "int8"),
        ("int64", "int32"),
    }


def test_each_side_runs_once(spark, duck):
    """collect() and toPandas() read one persisted result: a UDF in the
    plan sees every row once, and nothing stays cached afterwards."""
    seen = spark.sparkContext.accumulator(0)

    def tap(v):
        seen.add(1)
        return v

    tapped = F.udf(tap, "long")
    spec = QuerySpec(
        "planted",
        lambda spark, sf_dir: spark.range(5).withColumn("x", tapped("id")),
        "SELECT i AS id, i AS x FROM range(5) t(i)",
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    assert check_oracle.run_one(spark, duck, spec.name, spec) == ("OK", 5, None)
    assert seen.value == 5
    assert persisted().size() == before
    assert duck.execute(
        "SELECT count(*) FROM duckdb_tables() WHERE table_name = ?",
        [check_oracle._ORACLE_TABLE],
    ).fetchone() == (0,)


def test_duck_budget_follows_the_host(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\n")  # 15 GiB
    cpus = len(os.sched_getaffinity(0))
    assert check_oracle.duck_budget(1, str(meminfo)) == ("3840MB", cpus)
    assert check_oracle.duck_budget(2, str(meminfo)) == (
        "1920MB",
        max(1, cpus // 2),
    )


def test_harness_checks_the_checkout_it_runs_from(tmp_path):
    """A copy of the tree, run as ``python tools/check_oracle.py``,
    imports the copy's engine, not another checkout's."""
    copy = tmp_path / "checkout"
    skip = shutil.ignore_patterns("__pycache__", "*.pyc")
    for d in ("binancedatapipelineinaws_spark", "tools"):
        shutil.copytree(os.path.join(REPO, d), copy / d, ignore=skip)
    init = copy / "binancedatapipelineinaws_spark" / "__init__.py"
    init.write_text(
        init.read_text()
        + "\nimport sys as _sys\nprint('engine at', __file__, file=_sys.stderr)\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "tools/check_oracle.py", "q_canonicalize_btcusdt"],
        cwd=copy,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert f"engine at {init}" in out.stderr, out.stderr[-2000:]
    assert "1 ok, 0 failing" in out.stdout
