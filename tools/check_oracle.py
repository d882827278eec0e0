"""Local replica of the driver's correctness gate.

Runs every registered query on Spark AND its DuckDB oracle, each once,
over the sf0.01 tables, and gives three verdicts per id.  An id is OK
only when all three pass:

- value: row count, column-name set, and an order-insensitive compare
  of the collected values (columns aligned by sorted name, rows
  sorted);
- hash: the driver's own compare, run on both results after they are
  turned into pandas (``canon`` then ``frames_equal``);
- dtype: every column's (Spark, DuckDB) pandas dtype pair is equal or
  listed in ``SAFE_DTYPE_PAIRS``.

Usage:
    python tools/check_oracle.py            # all queries
    python tools/check_oracle.py q_join_inner q_agg_count
    python tools/check_oracle.py --threads 4       # overlap ids (sweeps)
    python tools/check_oracle.py --fast-compare    # vectorized value compare

``SPARK_GRAFT_ORACLE_SF_DIR`` points the gate at another corpus.
"""

from __future__ import annotations

import math
import os
import sys
from contextlib import contextmanager
from datetime import date, datetime

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

from binancedatapipelineinaws_spark.session import (  # noqa: E402
    mem_total_kb,
    persist_scope,
    scoped_persist,
)
from binancedatapipelineinaws_spark.tables import (  # noqa: E402
    TABLE_NAMES as TABLES,
)


def duck_views(con, sf_dir):
    """Create one DuckDB view per driver table over ``sf_dir``'s
    parquet, under the table's own name (what every oracle reads)."""
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written tables are DIRECTORIES
            path += "/*.parquet"  # of part files
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of the double — exact parity expected for our queries
        return repr(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def _fast_normalize_pair(s_col, o_col):
    """Jointly normalize one (spark, oracle) pandas column pair to
    int64 numpy arrays whose BITWISE equality implies value equality
    under the classic repr() compare.  Returns None when the dtype
    pair is outside the supported set (strings, dates-as-objects,
    decimals, nullable extension arrays) — caller falls back to the
    classic path."""

    def norm(s):
        dt = s.dtype
        if dt == object:
            return None
        if pd.api.types.is_datetime64_any_dtype(dt):
            a = s.astype("datetime64[us]").to_numpy()
            if pd.isna(a).any():
                return None
            return a.view("int64")
        if pd.api.types.is_bool_dtype(dt):
            if str(dt) != "bool":  # nullable "boolean" extension dtype
                return None
            return s.to_numpy(dtype="int64")
        if pd.api.types.is_integer_dtype(dt):
            if str(dt)[0].isupper():  # nullable extension dtype
                return None
            return s.to_numpy(dtype="int64")
        if pd.api.types.is_float_dtype(dt):
            a = s.to_numpy(dtype="float64").copy()
            a[np.isnan(a)] = np.nan  # canonicalize NaN payloads
            return a.view("int64")
        return None

    # A mixed int/float pair is a dtype mismatch the classic path
    # would FAIL on (repr '5' vs '5.0') even when values coincide
    # numerically — defer to classic instead of casting int to float,
    # so fast-path OK never masks a Spark/oracle column-type drift.
    s_float = pd.api.types.is_float_dtype(s_col.dtype)
    o_float = pd.api.types.is_float_dtype(o_col.dtype)
    if s_float != o_float:
        return None
    a, b = norm(s_col), norm(o_col)
    if a is None or b is None:
        return None
    return a, b


def fast_compare(spdf, oddf, samples_out=None):
    """Vectorized order-insensitive compare of two pandas frames.
    Returns True (equal), False (bitwise mismatch after
    normalization), or None (unsupported dtypes — use the classic
    repr path).  Equality returned here implies classic-path
    equality; a False from here is re-adjudicated by the caller for
    frames small enough to re-run classically.  On False, up to 3
    mismatching (column, spark_raw, oracle_raw) samples are appended
    to samples_out when provided (for sweeps too large to
    re-adjudicate classically)."""
    cols = sorted(spdf.columns)
    s_arrs, o_arrs = [], []
    for c in cols:
        pair = _fast_normalize_pair(spdf[c], oddf[c])
        if pair is None:
            return None
        s_arrs.append(pair[0])
        o_arrs.append(pair[1])
    s_idx = np.lexsort(tuple(reversed(s_arrs)))
    o_idx = np.lexsort(tuple(reversed(o_arrs)))
    equal = True
    for c, sa, oa in zip(cols, s_arrs, o_arrs):
        neq = sa[s_idx] != oa[o_idx]
        if neq.any():
            equal = False
            if samples_out is not None and len(samples_out) < 3:
                for pos in np.flatnonzero(neq)[:3 - len(samples_out)]:
                    samples_out.append(
                        f"{c}: spark={spdf[c].iloc[s_idx[pos]]!r} "
                        f"oracle={oddf[c].iloc[o_idx[pos]]!r}"
                    )
    return equal


# Above this row count a fast-path False verdict is reported directly
# (the classic re-adjudication would take hours); below it the classic
# path re-runs to produce diff samples.
FAST_FAIL_READJUDICATE_MAX = 5_000_000


def _fast_value(spdf, oddf):
    """Value problems from the vectorized compare of the two pandas
    frames ([] when equal), or None when the classic path must decide
    (unsupported dtypes, or a sub-threshold mismatch)."""
    problems = []
    if len(spdf) != len(oddf):
        problems.append(f"rowcount spark={len(spdf)} oracle={len(oddf)}")
    if sorted(spdf.columns) != sorted(oddf.columns):
        problems.append(
            f"cols spark={sorted(spdf.columns)} oracle={sorted(oddf.columns)}"
        )
    if problems:
        return problems
    samples = []
    eq = fast_compare(spdf, oddf, samples_out=samples)
    if eq is True:
        return []
    if eq is False and len(spdf) > FAST_FAIL_READJUDICATE_MAX:
        return [
            "values differ (bitwise, fast path; too large for classic "
            "re-adjudication); " + " | ".join(samples)
        ]
    return None


def _value(srows, scols, orows, ocols, verbose=False):
    """The value verdict's problems ([] when the results match)."""
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    if not problems:
        ns, no = normalize(srows, scols), normalize(orows, ocols)
        if ns != no:
            ndiff = sum(1 for a, b in zip(ns, no) if a != b)
            # Carry the first few diff samples in the returned msg so
            # threaded sweeps (where stdout interleaves) still yield
            # actionable output without a solo re-run (ADVICE r8).
            samples = []
            for a, b in zip(ns, no):
                if a != b and len(samples) < 3:
                    samples.append(f"spark={a} oracle={b}")
            problems.append(
                f"values differ ({ndiff}/{len(ns)} rows); "
                + " | ".join(samples)
            )
            if verbose:
                for s in samples:
                    print(f"    {s}")
    return problems


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


def _hash(spdf, oddf):
    """The pandas-hash verdict's problem, or None when it passes."""
    a, b = canon(spdf), canon(oddf)
    if frames_equal(a, b):
        return None
    bad = [
        c for c in a.columns
        if c in b.columns and not frames_equal(a[[c]], b[[c]])
    ]
    head = "".join(
        f" | {c}: spark={a[c].head(3).tolist()} duck={b[c].head(3).tolist()}"
        for c in bad[:3]
    )
    return f"pandas hash differs in columns {bad}{head}"


# (Spark, DuckDB) pandas dtype pairs that hash equal in the driver's
# compare, each mapped to its evidence bullet under "Pandas dtype
# parity" in .claude/skills/verify/SKILL.md.  Any other differing pair
# fails the dtype verdict.  Never widen this table to get a pass.
SAFE_DTYPE_PAIRS = {
    ("datetime64[ns]", "datetime64[us]"): "datetime64[ns]-vs-[us]",
    ("int32", "int64"): "int32-vs-int64",
    ("object", "datetime64[us]"): "date-object-vs-datetime64",
    ("int32", "int8"): "int32-vs-int8",
    ("int64", "int32"): "int64-vs-int32",
}


def _dtype(spdf, oddf):
    """The dtype verdict's problem, or None when it passes."""
    bad = []
    for c in sorted(spdf.columns):
        pair = (str(spdf[c].dtype), str(oddf[c].dtype))
        if pair[0] != pair[1] and pair not in SAFE_DTYPE_PAIRS:
            bad.append(f"{c}: spark={pair[0]} duck={pair[1]}")
    return f"dtype pairs not in SAFE_DTYPE_PAIRS: {bad}" if bad else None


_ORACLE_TABLE = "gate_oracle_result"


@contextmanager
def _oracle_result(con, sql):
    """Run the oracle once, into a temp table that the value and pandas
    verdicts both read (a DuckDB result can be fetched only once)."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE {_ORACLE_TABLE} AS\n{sql}\n")
    try:
        yield f"SELECT * FROM {_ORACLE_TABLE}"
    finally:
        con.execute(f"DROP TABLE IF EXISTS {_ORACLE_TABLE}")


def _check(spark, con, spec, fast=False, verbose=False):
    """Run one id once on each side: (status, nrows, problems), where
    problems maps each failed verdict (value, hash, dtype) to what
    failed.  The Spark result is persisted for its two reads (collect
    and toPandas) and released, with every frame the builder persisted,
    before this returns."""
    with persist_scope():
        sdf = spec.fn(spark, SF_DIR)
        # Driver-compat guard: the driver canonicalizes with pandas
        # sort_values, which cannot hash array/map/struct cells (this
        # ERR'd three queries in round 1). Any complex-typed output
        # column is a hard failure here even though the value compare
        # handles it.
        complex_cols = [
            f.name
            for f in sdf.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if complex_cols:
            return (
                "FAIL",
                -1,
                {"hash": f"driver-unsafe complex output columns: {complex_cols} "
                 "(serialize with to_json/array_join)"},
            )
        if spec.oracle is None:
            return ("ROWS_ONLY", len(sdf.collect()), {})
        sdf = scoped_persist(sdf)
        spdf = sdf.toPandas()
        with _oracle_result(con, spec.oracle) as oracle:
            oddf = con.execute(oracle).df()
            value = _fast_value(spdf, oddf) if fast else None
            if value is None:
                srows = [tuple(r) for r in sdf.collect()]
                ores = con.execute(oracle)
                ocols = [d[0] for d in ores.description]
                value = _value(srows, sdf.columns, ores.fetchall(), ocols, verbose)
    problems = {"value": "; ".join(value)} if value else {}
    if sorted(spdf.columns) == sorted(oddf.columns):
        for verdict, problem in (
            ("hash", _hash(spdf, oddf)),
            ("dtype", _dtype(spdf, oddf)),
        ):
            if problem:
                problems[verdict] = problem
    return ("FAIL" if problems else "OK", len(spdf), problems)


def run_one(spark, con, name, spec, verbose=False):
    """The gate for one id: ("OK" | "FAIL" | "ROWS_ONLY", rows, message)."""
    status, nrows, problems = _check(spark, con, spec, verbose=verbose)
    return (status, nrows, "; ".join(problems.values()) or None)


# Queries whose Spark path switches to an approximate-recall candidate
# generator above a corpus-size rung while the registered oracle stays
# the exact formulation (ADVICE.md r7): comparing them on a larger
# corpus can fail BY CONSTRUCTION (a missed near-threshold pair — a
# false negative, not silent wrongness).  The sweep SKIPs them with a
# notice instead of reporting a misleading FAIL; their exactness at
# gate scale is still fully checked.
APPROX_RECALL_ABOVE: dict[str, tuple[str, int]] = {
    # (table whose row count picks the code path, exact-path max rows)
    "q_ext_semdedup": ("embeddings", 4_000),
    "q_ext_embed_neardup": ("embeddings", 4_000),
    # PQ recall floor is a fixed-geometry claim: the 256-level codes
    # separate top-k at gate scale (500 vectors) and at sf1 (20k,
    # sweep-green 3x) but cells hold 100x more candidates at sf10 and
    # mean recall legitimately drops below the pinned floor (both
    # engines COMPUTE the same per-query recall — only the literal
    # TRUE pin fails).  Above the verified rung the compare is not
    # meaningful; the quantizer itself is still value-checked there
    # by q_ext_ann_nprobe's relative pins (nprobe2 >= nprobe1).
    "q_ext_ann_pq": ("embeddings", 20_000),
}


def _corpus_rows(con, table: str) -> int:
    return con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]


# --- precomputed-ground-truth path above the recall rungs (r10) --------------
# tools/make_recall_fixtures.py stores the EXACT expected output of
# each rung query for a specific corpus (numpy blocked matmuls, corpus
# fingerprinted).  When a matching fixture exists, the sweep VERIFIES
# the Spark result against it instead of SKIPping — converting the
# three "approx-recall" skips into full value checks.  SKIP remains
# the fallback when no fixture matches this corpus.

_FIXTURE_CACHE: dict[str, object] = {}


def _recall_fixture(n_rows: int):
    """Fixture dict for this corpus (fingerprint-verified) or None."""
    key = f"{SF_DIR}:{n_rows}"
    if key in _FIXTURE_CACHE:
        return _FIXTURE_CACHE[key]
    import json

    path = os.path.join(ROOT, "tests", "fixtures", f"recall_gt_{n_rows}.json")
    fx = None
    if os.path.exists(path):
        with open(path) as f:
            cand = json.load(f)
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from make_recall_fixtures import corpus_fingerprint, load_embeddings

        vec_id, label, V = load_embeddings(SF_DIR)
        if (
            len(vec_id) == cand["n_vectors"]
            and corpus_fingerprint(vec_id, label, V) == cand["fingerprint"]
        ):
            fx = cand
    _FIXTURE_CACHE[key] = fx
    return fx


def _fx_cell(v):
    if isinstance(v, bool):
        return ("b", int(v))
    if isinstance(v, float):
        return ("f", round(v, 9))
    return ("v", str(v))


def _fixture_check(spark, name, spec, fx):
    """Compare the live Spark result against the fixture's expected
    rows (columns aligned by the fixture's order, rows sorted)."""
    entry = fx[name]
    df = spec.fn(spark, SF_DIR)
    cols = list(df.columns)
    if sorted(cols) != sorted(entry["columns"]):
        return (
            "FAIL", -1,
            f"columns {sorted(cols)} != fixture {sorted(entry['columns'])}",
        )
    idx = [cols.index(c) for c in entry["columns"]]
    got = sorted(tuple(_fx_cell(r[i]) for i in idx) for r in df.collect())
    want = sorted(
        tuple(_fx_cell(v) for v in row) for row in entry["rows"]
    )
    if got == want:
        return (
            "OK", len(got),
            "vs precomputed exact ground truth (fixture)",
        )
    extra = [r for r in got if r not in set(want)][:3]
    missing = [r for r in want if r not in set(got)][:3]
    return (
        "FAIL", len(got),
        f"fixture mismatch: {len(want)} expected vs {len(got)} got; "
        f"missing={missing} extra={extra}",
    )


def duck_budget(workers: int, meminfo: str = "/proc/meminfo"):
    """(memory_limit, threads) for each of ``workers`` concurrent DuckDB
    connections: together they get a quarter of ``MemTotal`` (the
    Spark driver heap takes 60%; 16 GiB assumed when unreadable) and
    the CPUs this process may run on."""
    kb = mem_total_kb(meminfo) or 16 * 1024 * 1024
    mem_mb = max(256, kb // 4 // workers // 1024)
    threads = max(1, len(os.sched_getaffinity(0)) // workers)
    return f"{mem_mb}MB", threads


VERDICTS = ("value", "hash", "dtype")


def main():
    from binancedatapipelineinaws_spark.registry import all_specs
    from binancedatapipelineinaws_spark.session import get_spark

    args = sys.argv[1:]
    threads = 1
    if "--threads" in args:
        i = args.index("--threads")
        threads = max(1, int(args[i + 1]))
        del args[i : i + 2]
    fast = "--fast-compare" in args
    if fast:
        args.remove("--fast-compare")
    only = set(args)
    specs = all_specs()
    if only:
        specs = {k: v for k, v in specs.items() if k in only}

    # Serial mode replicates the driver exactly; --threads N overlaps
    # independent queries on the shared SparkContext (concurrent actions
    # are a supported Spark pattern; each worker gets its own DuckDB
    # cursor).  Sweep speedup is ~Nx on the long latency-bound tail —
    # the sf10 sweep is hours serial, tens of minutes at 4-6 threads.
    spark = get_spark("oracle-check", shuffle_partitions=8)
    # PER-QUERY DuckDB connections, each with its OWN memory budget and
    # spill directory.  Two r9 sf10 post-mortems drove this: with one
    # shared in-memory database (a) the default memory_limit is 80% of
    # PHYSICAL RAM and nothing spills, which OOM-cascaded next to the
    # Spark JVM and then hard-wedged all threads in futex wait; (b) even
    # WITH a shared limit, one huge query exhausts the pool and every
    # later allocation in every thread fails ("bad allocation" at 4KB
    # blocks) — exhaustion is sticky.  A fresh connection per query
    # costs ~ms, isolates failure to the query that caused it, and
    # releases everything at close.  Per-query peak memory scales with
    # DuckDB's thread count, so both come from one host-derived budget.
    duck_mem, duck_threads = duck_budget(threads)
    duck_tmp = os.environ.get("SPARK_GRAFT_DUCK_TMP", "/tmp/duckdb_spill")
    os.makedirs(duck_tmp, exist_ok=True)

    def duck_connect():
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{duck_mem}'")
        c.execute(f"SET temp_directory='{duck_tmp}'")
        c.execute(f"SET threads TO {duck_threads}")
        return duck_views(c, SF_DIR)

    def check(name):
        """(name, status, nrows, problems) for one id."""
        rung = APPROX_RECALL_ABOVE.get(name)
        cur = duck_connect()
        try:
            if rung is not None and (
                n_corpus := _corpus_rows(cur, rung[0])
            ) > rung[1]:
                fx = _recall_fixture(n_corpus)
                if fx is None or name not in fx:
                    return (
                        name,
                        "SKIP",
                        -1,
                        {"skip": f"corpus {rung[0]} exceeds exact-path rung "
                         f"({rung[1]} rows) and no ground-truth fixture "
                         "matches this corpus: Spark uses approx-recall "
                         "candidates, oracle is exact — compare not "
                         "meaningful at this size"},
                    )
                with persist_scope():
                    status, nrows, msg = _fixture_check(
                        spark, name, specs[name], fx
                    )
                return (name, status, nrows, {"value": msg})
            return (name, *_check(
                spark, cur, specs[name], fast=fast, verbose=(threads == 1)
            ))
        except Exception as e:  # noqa: BLE001
            return (
                name, "ERROR", -1,
                {"error": f"{type(e).__name__}: {str(e)[:300]}"},
            )
        finally:
            cur.close()

    names = sorted(specs)
    if threads == 1:
        results = []
        for name in names:
            res = check(name)
            _print_result(res)
            results.append(res)
    else:
        from concurrent.futures import ThreadPoolExecutor, as_completed

        with ThreadPoolExecutor(max_workers=threads) as pool:
            futs = {pool.submit(check, n): n for n in names}
            done = {}
            for fut in as_completed(futs):
                res = fut.result()
                _print_result(res)
                done[res[0]] = res
        results = [done[n] for n in names]

    passed = ("OK", "ROWS_ONLY")
    checked = [r for r in results if r[1] != "SKIP"]
    n_ok = sum(1 for r in checked if r[1] in passed)
    n_skip = len(results) - len(checked)
    n_fail = len(checked) - n_ok

    def passes(res, verdict):
        return res[1] in passed or (res[1] == "FAIL" and verdict not in res[3])

    per_verdict = ", ".join(
        f"{v} {sum(passes(r, v) for r in checked)}/{len(checked)}"
        for v in VERDICTS
    )
    print(
        f"\n{n_ok} ok, {n_fail} failing"
        + (f", {n_skip} skipped (approx-recall rung)" if n_skip else "")
        + f" (ok per verdict: {per_verdict})"
    )
    sys.exit(1 if n_fail else 0)


def _print_result(res):
    name, status, nrows, problems = res
    tag = {"OK": "ok", "ROWS_ONLY": "ok(rows-only)", "SKIP": "SKIP"}.get(
        status, status
    )
    msg = "; ".join(f"{k}: {v}" for k, v in problems.items())
    print(f"{name:28s} {tag:14s} rows={nrows}" + (f"  {msg}" if msg else ""))


if __name__ == "__main__":
    main()
