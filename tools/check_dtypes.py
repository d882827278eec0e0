"""Driver-canonicalizer parity sweep: pandas dtypes must match.

The driver's correctness gate converts BOTH engines' results to pandas
before sorting + hashing, so a value-equal result can still hash-fail
when the dtypes differ (the classic: DuckDB ``sum(int)`` is HUGEINT,
which lands in pandas as float64, while Spark's ``sum`` is bigint ->
int64; r02/r03/r04 lost 8 green rows to exactly this).  This tool runs
every registered oracle-backed query at sf0.001 and reports any column
whose pandas dtype differs between ``sdf.toPandas()`` and DuckDB
``.df()``.

Usage:
    python tools/check_dtypes.py            # all queries
    python tools/check_dtypes.py q_ext_cms_error
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, "/root/repo")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# dtype pairs we accept as hash-equivalent (value repr identical in the
# driver's canonicalizer).  Everything else is a finding.
_EQUIV = {
    ("object", "object"),
}


def dtype_findings(name, spark_pdf, duck_pdf):
    out = []
    scols = {c: str(d) for c, d in zip(spark_pdf.columns, spark_pdf.dtypes)}
    dcols = {c: str(d) for c, d in zip(duck_pdf.columns, duck_pdf.dtypes)}
    for c in sorted(set(scols) | set(dcols)):
        s, d = scols.get(c, "<missing>"), dcols.get(c, "<missing>")
        if s == d or (s, d) in _EQUIV:
            continue
        out.append((c, s, d))
    return out


def main():
    from binancedatapipelineinaws_spark.registry import all_specs
    from binancedatapipelineinaws_spark.session import get_spark
    from tools.check_oracle import duck_views

    only = set(sys.argv[1:])
    specs = all_specs()
    if only:
        specs = {k: v for k, v in specs.items() if k in only}

    spark = get_spark("dtype-check", master="local[8]", shuffle_partitions=8)
    con = duck_views(duckdb.connect(), SF_DIR)

    n_clean = n_flagged = n_skip = 0
    for name in sorted(specs):
        spec = specs[name]
        if spec.oracle is None:
            n_skip += 1
            continue
        try:
            spdf = spec.fn(spark, SF_DIR).toPandas()
            dpdf = con.execute(spec.oracle).df()
            findings = dtype_findings(name, spdf, dpdf)
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} ERROR  {type(e).__name__}: {str(e)[:200]}")
            n_flagged += 1
            continue
        if findings:
            n_flagged += 1
            for c, s, d in findings:
                print(f"{name:28s} MISMATCH  {c}: spark={s} duck={d}")
        else:
            n_clean += 1
    print(f"\n{n_clean} clean, {n_flagged} flagged, {n_skip} rows-only skipped")
    sys.exit(1 if n_flagged else 0)


if __name__ == "__main__":
    main()
