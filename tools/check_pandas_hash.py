"""Pandas-level replica of the driver's canonicalize-and-hash compare.

`tools/check_oracle.py` compares collect()-ed Python values (repr-based)
and `tools/check_dtypes.py` compares pandas dtypes; this tool closes the
remaining gap by doing what the driver does end-to-end: convert BOTH
engines' results to pandas, align columns by sorted name, sort rows,
and demand bitwise-equal values (NaN == NaN allowed) on the aligned
frames.  A query can pass both other tools and still fail here if, e.g.,
an object column holds None on one side and NaN on the other.

Usage:
    python tools/check_pandas_hash.py            # all oracle queries
    python tools/check_pandas_hash.py q_ext_twap
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, "/root/repo")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonical form: columns sorted by name, rows sorted
    by all columns, index dropped.  Numeric/datetime columns are
    widened to one common representation per family so the compare
    tests VALUES (the driver's empirically-safe pairs: int32-vs-int64,
    datetime64[ns]-vs-[us]) while int-vs-float stays a mismatch."""
    out = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[ns]")
        elif len(s) and s.map(lambda v: v is None or hasattr(v, "toordinal")).all():
            # object column of datetime.date: the driver's canonicalizer
            # empirically hashes these equal to datetime64 (q_fn_cast /
            # q_fn_datetime passed r01 with exactly this pairing), so
            # align to the datetime64 family before comparing
            out[c] = pd.to_datetime(s).astype("datetime64[ns]")
        else:
            # object: normalize None/NaN to a sentinel, rest to str
            out[c] = s.map(
                lambda v: "<NULL>" if v is None or (isinstance(v, float) and np.isnan(v)) else str(v)
            )
    res = pd.DataFrame(out)
    if len(res):
        res = res.sort_values(by=list(res.columns), kind="mergesort").reset_index(
            drop=True
        )
    return res


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_float_dtype(y):
            if not np.array_equal(x.to_numpy(), y.to_numpy(), equal_nan=True):
                return False
        else:
            if x.dtype != y.dtype or not x.equals(y):
                return False
    return True


def main():
    from binancedatapipelineinaws_spark.registry import all_specs
    from binancedatapipelineinaws_spark.session import get_spark
    from tools.check_oracle import duck_views

    only = set(sys.argv[1:])
    specs = all_specs()
    if only:
        specs = {k: v for k, v in specs.items() if k in only}

    spark = get_spark("pdhash-check", master="local[8]", shuffle_partitions=8)
    con = duck_views(duckdb.connect(), SF_DIR)

    n_ok = n_fail = n_skip = 0
    for name in sorted(specs):
        spec = specs[name]
        if spec.oracle is None:
            n_skip += 1
            continue
        try:
            spdf = canon(spec.fn(spark, SF_DIR).toPandas())
            dpdf = canon(con.execute(spec.oracle).df())
            ok = frames_equal(spdf, dpdf)
        except Exception as e:  # noqa: BLE001
            print(f"{name:28s} ERROR  {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        if ok:
            n_ok += 1
        else:
            n_fail += 1
            print(f"{name:28s} PANDAS-MISMATCH")
            for c in spdf.columns:
                if c in dpdf.columns and not (
                    spdf[c].equals(dpdf[c])
                    or (
                        pd.api.types.is_float_dtype(spdf[c])
                        and np.array_equal(
                            spdf[c].to_numpy(), dpdf[c].to_numpy(), equal_nan=True
                        )
                    )
                ):
                    print(f"    col {c}: spark={spdf[c].head(3).tolist()} "
                          f"duck={dpdf[c].head(3).tolist()}")
    print(f"\n{n_ok} ok, {n_fail} failing, {n_skip} rows-only skipped")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
