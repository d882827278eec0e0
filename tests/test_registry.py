"""Registry tests (no SparkSession needed): iteration order, oracle
coverage, oracle planning in DuckDB, and the bench.py stdout contract."""

from __future__ import annotations


def test_all_specs_is_registration_order_and_reads_no_file(tmp_path, monkeypatch):
    """``all_specs``, ``queries`` and ``oracle_sql`` iterate in
    registration order, and no file in the working directory (such as
    a stray correctness record) can change that order."""
    import json

    from binancedatapipelineinaws_spark import registry

    specs = list(registry.all_specs())
    assert specs == list(registry.queries()) == list(registry._REGISTRY)
    assert set(registry.oracle_sql()) <= set(specs)

    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({specs[-1]: {"err": "boom"}, "q_unregistered": {}})
    )
    monkeypatch.chdir(tmp_path)
    assert list(registry.all_specs()) == specs


def test_every_oracle_plans_in_duckdb():
    """EXPLAIN every registered oracle against empty views of the ten
    driver tables: catches a typo'd oracle (bad function, wrong
    column, unregistered table) in seconds at pytest time instead of
    minutes into the oracle sweep or — worse — in the driver gate.
    Planning only; nothing executes."""
    import duckdb

    from binancedatapipelineinaws_spark.registry import all_specs

    schemas = {
        "region": "r_regionkey BIGINT, r_name VARCHAR",
        "nation": "n_nationkey BIGINT, n_name VARCHAR, n_regionkey BIGINT",
        "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey BIGINT,"
        " c_acctbal DOUBLE, c_mktsegment VARCHAR",
        "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey BIGINT,"
        " s_acctbal DOUBLE",
        "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR,"
        " p_type VARCHAR, p_size INTEGER, p_retailprice DOUBLE",
        "orders": "o_orderkey BIGINT, o_custkey BIGINT,"
        " o_orderstatus VARCHAR, o_totalprice DOUBLE,"
        " o_orderdate TIMESTAMP, o_orderpriority VARCHAR",
        "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INTEGER, l_quantity DOUBLE,"
        " l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
        " l_returnflag VARCHAR, l_linestatus VARCHAR,"
        " l_shipdate TIMESTAMP",
        "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR",
        "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT",
        "embeddings": "vec_id BIGINT, embedding FLOAT[], label BIGINT",
    }
    con = duckdb.connect()
    for t, cols in schemas.items():
        con.sql(f"CREATE TABLE {t} ({cols})")
    bad = {}
    for name, spec in all_specs().items():
        if spec.oracle is None:
            continue
        try:
            con.sql("EXPLAIN " + spec.oracle)
        except Exception as e:  # noqa: BLE001 - collect all failures
            bad[name] = str(e).splitlines()[0]
    assert not bad, bad


def test_bench_headline_names_are_registered():
    """bench.py is executed by the DRIVER; a renamed or typo'd
    headline entry would fail the round's bench run, not a local
    test — pin every name against the registry here."""
    import bench

    from binancedatapipelineinaws_spark.registry import all_specs

    specs = all_specs()
    missing = [n for n in bench.HEADLINE if n not in specs]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dupes


def test_bench_json_line_fits_driver_capture_window():
    """The driver stores only the LAST 2000 chars of bench.py stdout
    and parses the JSON from that window; BENCH_r10.json recorded
    `parsed: null` because the full-name queries dict outgrew it.
    Pin the r11 contract: with worst-case 3-digit timings for every
    headline id, the compact stripped-key line stays under 1950 on
    the deepest degrade rung (1dp) and a REALISTIC worst case (every
    query at 99.99 s) already fits the 2dp rung; the stripped ids
    are collision-free."""
    import json as _json

    import bench

    def _short(name: str) -> str:
        for prefix in ("q_ext_", "q_"):
            if name.startswith(prefix):
                return name[len(prefix):]
        return name

    shorts = {_short(n) for n in bench.HEADLINE}
    assert len(shorts) == len(bench.HEADLINE), "short-id collision"

    def _line(val):
        return _json.dumps(
            {
                "metric": "headline_queries_total",
                "value": 99999.999,
                "unit": "sec",
                "queries": {s: val for s in sorted(shorts)},
                "sf": 0.1,
                "host_calib_sec": 0.437,
                "key_note": "ids lack their q_/q_ext_ prefix",
            },
            separators=(",", ":"),
        )

    assert len(_line(99.99)) < 1950, len(_line(99.99))  # realistic, 2dp
    assert len(_line(999.9)) < 1950, len(_line(999.9))  # 1dp rung


def test_every_registered_query_has_an_oracle():
    """r8 milestone worth pinning: zero rows-only checks remain — a
    new rows-only registration should be a conscious, reviewed
    decision (envelope-pin it instead, see q_ext_hll_union_error)."""
    from binancedatapipelineinaws_spark.registry import all_specs

    no_oracle = [n for n, s in all_specs().items() if s.oracle is None]
    assert no_oracle == [], no_oracle


def test_bench_stdout_line_always_parseable():
    """ADVICE r11 item 1: the stdout formatter must return a parseable
    JSON line under 1950 chars for ANY headline set — the degrade
    ladder for realistic sets, the totals-only fallback for absurd
    ones — never raising past the collision assert."""
    import json as _json

    import bench

    base = {
        "metric": "headline_queries_total",
        "value": 1.0,
        "unit": "sec",
        "queries": {},
        "sf": 0.1,
        "host_calib_sec": 0.5,
        "key_note": "ids lack their q_/q_ext_ prefix",
    }
    # realistic set: per-query detail survives on a degrade rung
    timings = {n: 1.234 for n in bench.HEADLINE}
    line = bench.compact_stdout_line(dict(base), timings)
    parsed = _json.loads(line)
    assert len(line) < 1950 and len(parsed["queries"]) == len(timings)
    # absurd set (300 long ids): totals-only fallback, still parseable
    absurd = {f"q_ext_very_long_query_name_{i:04d}": 9.9 for i in range(300)}
    line = bench.compact_stdout_line(dict(base), absurd)
    parsed = _json.loads(line)
    assert len(line) < 1950
    assert parsed["value"] == 1.0 and parsed["queries"] == {}
    assert "note" in parsed
    # short-id collision (ADVICE r12 item 1): a q_foo/q_ext_foo pair
    # must fall back to FULL names for the colliding ids instead of
    # asserting — an abort here would lose the round's perf record
    colliding = {"q_macd": 1.0, "q_ext_macd": 2.0, "q_ext_rsi": 3.0}
    line = bench.compact_stdout_line(dict(base), colliding)
    parsed = _json.loads(line)
    assert parsed["queries"] == {"q_macd": 1.0, "q_ext_macd": 2.0, "rsi": 3.0}


def test_headline_short_ids_collision_free():
    """The compact stdout line prefers stripped short ids; keep the
    CURRENT headline set collision-free so the full-name fallback
    (which costs line budget) never triggers in practice."""
    import bench

    shorts = [bench._short(n) for n in bench.HEADLINE]
    assert len(set(shorts)) == len(shorts)
