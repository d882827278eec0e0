"""Replicates the driver's correctness gate: every registered query with
an oracle must pass the gate's value, pandas-hash and dtype verdicts
against DuckDB at sf0.01, through the gate's own per-id pass
(``tools.check_oracle.run_one``).

Each id must also leave the session as it found it: the same runtime
conf and the same temporary views (query builders write no session
state; ``session.get_spark``/``session.prepare`` own the contract).
Persistent tables that the maintenance and scaling ids create on
purpose, and the ``tag_exploder`` UDTF registration that
``q_ext_udtf_explode_keys`` exercises, are not session conf or views."""

from __future__ import annotations

import pytest
from conftest import SF_ORACLE

from binancedatapipelineinaws_spark.registry import all_specs
from tools import check_oracle

SPECS = all_specs()


def _session_state(spark):
    temp_views = sorted(
        t.name for t in spark.catalog.listTables() if t.isTemporary
    )
    return spark.conf.getAll, temp_views


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck, monkeypatch):
    monkeypatch.setattr(check_oracle, "SF_DIR", SF_ORACLE)
    conf_before, views_before = _session_state(spark)
    _run_parity(SPECS[name], spark, duck)
    conf_after, views_after = _session_state(spark)
    assert conf_after == conf_before, f"{name} changed the session conf"
    assert views_after == views_before, f"{name} left temp views behind"


def _run_parity(spec, spark, duck):
    status, nrows, msg = check_oracle.run_one(spark, duck, spec.name, spec)
    assert status in ("OK", "ROWS_ONLY"), f"{status} rows={nrows}: {msg}"
