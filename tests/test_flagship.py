from __future__ import annotations

import dataclasses
import importlib.util
import os

from conftest import REPO


def _load_entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_smoke(spark):
    mod = _load_entry_module()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["n_name", "revenue"]


def test_flagship_matches_oracle_sf001(spark, duck):
    from binancedatapipelineinaws_spark.plans.flagship import (
        FLAGSHIP_ORACLE,
        local_supplier_revenue,
    )

    sdf = local_supplier_revenue(spark, "/root/testdata/sf0.01")
    srows = [(r.n_name, round(r.revenue, 2)) for r in sdf.collect()]
    orows = [(n, round(v, 2)) for n, v in duck.execute(FLAGSHIP_ORACLE).fetchall()]
    assert srows == orows


def test_flagship_plan_has_broadcast_joins(spark):
    from binancedatapipelineinaws_spark.plans.flagship import local_supplier_revenue

    plan = local_supplier_revenue(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# A session built elsewhere, as a driver may hand it over: another
# timezone, AQE off, no nanosAsLong (None = unset).
_FOREIGN_CONF = {
    "spark.sql.session.timeZone": "America/New_York",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": None,
}


def test_queries_apply_session_contract_to_foreign_session(
    spark, duck, monkeypatch
):
    """The driver boundary: ids taken from ``__spark_entry__.queries()``
    match their oracles on a session whose confs break the contract
    (q_canonicalize_btcusdt reads events.ts in the session zone), and
    leave the session on UTC."""
    from conftest import SF_ORACLE

    from binancedatapipelineinaws_spark.registry import all_specs
    from tools import check_oracle

    monkeypatch.setattr(check_oracle, "SF_DIR", SF_ORACLE)
    saved = {k: spark.conf.get(k, None) for k in _FOREIGN_CONF}

    def apply(conf):
        for k, v in conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    try:
        apply(_FOREIGN_CONF)
        fns = _load_entry_module().queries()
        specs = all_specs()
        for qid in ("q_canonicalize_btcusdt", "q_sql_surface"):
            spec = dataclasses.replace(specs[qid], fn=fns[qid])
            status, nrows, msg = check_oracle.run_one(spark, duck, qid, spec)
            assert status == "OK", f"{qid}: {status} rows={nrows}: {msg}"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        apply(saved)
