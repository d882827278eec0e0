"""Local replica of the driver's correctness gate.

Runs every registered query at sf0.01 on Spark AND its DuckDB oracle,
then compares row count, column-name set, and an order-insensitive
value comparison (columns aligned by sorted name, rows sorted).

Usage:
    python tools/check_oracle.py            # all queries
    python tools/check_oracle.py q_join_inner q_agg_count
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime

import duckdb

sys.path.insert(0, "/root/repo")

import os  # noqa: E402

# Overridable so the sweep can run against other corpora — e.g. the
# synthetic .bench_sf1 dataset as a testdata-regeneration robustness
# drill (different value ranges, tie patterns, and row counts).
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

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
    import numpy as np
    import pandas as pd

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
    import numpy as np

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


def run_one_fast(spark, con, name, spec):
    """Arrow/vectorized variant of run_one for big-corpus sweeps.
    Returns None when the classic path must decide (no oracle,
    complex/unsupported dtypes, or a sub-threshold mismatch)."""
    sdf = spec.fn(spark, SF_DIR)
    if spec.oracle is None or any(
        f.dataType.typeName() in ("array", "map", "struct")
        for f in sdf.schema.fields
    ):
        return None
    spdf = sdf.toPandas()
    ores = con.execute(spec.oracle)
    oddf = ores.df()
    problems = []
    if len(spdf) != len(oddf):
        problems.append(f"rowcount spark={len(spdf)} oracle={len(oddf)}")
    if sorted(spdf.columns) != sorted(oddf.columns):
        problems.append(
            f"cols spark={sorted(spdf.columns)} oracle={sorted(oddf.columns)}"
        )
    if problems:
        return ("FAIL", len(spdf), "; ".join(problems))
    samples = []
    eq = fast_compare(spdf, oddf, samples_out=samples)
    if eq is True:
        return ("OK", len(spdf), None)
    if eq is False and len(spdf) > FAST_FAIL_READJUDICATE_MAX:
        return (
            "FAIL",
            len(spdf),
            "values differ (bitwise, fast path; too large for classic "
            "re-adjudication); " + " | ".join(samples),
        )
    return None  # classic path decides (and prints samples)


def run_one(spark, con, name, spec, verbose=False):
    sdf = spec.fn(spark, SF_DIR)
    # Driver-compat guard: the driver canonicalizes with pandas
    # sort_values, which cannot hash array/map/struct cells (this ERR'd
    # three queries in round 1). Any complex-typed output column is a
    # hard failure here even though this script's own compare handles it.
    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in ("array", "map", "struct")
    ]
    if complex_cols:
        return (
            "FAIL",
            -1,
            f"driver-unsafe complex output columns: {complex_cols} "
            "(serialize with to_json/array_join)",
        )
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        return ("ROWS_ONLY", len(srows), None)
    ores = con.execute(spec.oracle)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
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
    if problems:
        return ("FAIL", len(srows), "; ".join(problems))
    return ("OK", len(srows), None)


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

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", f"recall_gt_{n_rows}.json",
    )
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
    master_cores = min(32, 8 * threads)
    spark = get_spark(
        "oracle-check", master=f"local[{master_cores}]", shuffle_partitions=8
    )
    # PER-QUERY DuckDB connections, each with its OWN memory budget and
    # spill directory.  Two r9 sf10 post-mortems drove this: with one
    # shared in-memory database (a) the default memory_limit is 80% of
    # PHYSICAL RAM and nothing spills, which OOM-cascaded next to the
    # 24g Spark JVM and then hard-wedged all threads in futex wait;
    # (b) even WITH a shared 40GB limit, one huge query exhausts the
    # pool and every later allocation in every thread fails ("bad
    # allocation" at 4KB blocks) — exhaustion is sticky.  A fresh
    # connection per query costs ~ms, isolates failure to the query
    # that caused it, and releases everything at close.
    duck_mem = os.environ.get(
        "SPARK_GRAFT_DUCK_MEM", f"{max(8, 48 // threads)}GB"
    )
    duck_tmp = os.environ.get("SPARK_GRAFT_DUCK_TMP", "/tmp/duckdb_spill")
    os.makedirs(duck_tmp, exist_ok=True)

    def duck_connect():
        c = duckdb.connect()
        c.execute(f"SET memory_limit='{duck_mem}'")
        c.execute(f"SET temp_directory='{duck_tmp}'")
        # per-query peak memory scales with DuckDB's thread count
        # (per-thread operator state), and N concurrent connections x
        # 32 default threads also oversubscribes the host 3-4x — a
        # query that fits its budget solo can blow it in a sweep
        c.execute(f"SET threads TO {max(4, 32 // threads)}")
        return duck_views(c, SF_DIR)

    def check(name):
        rung = APPROX_RECALL_ABOVE.get(name)
        cur = duck_connect()
        try:
            if rung is not None and (
                n_corpus := _corpus_rows(cur, rung[0])
            ) > rung[1]:
                fx = _recall_fixture(n_corpus)
                if fx is not None and name in fx:
                    try:
                        status, nrows, msg = _fixture_check(
                            spark, name, specs[name], fx
                        )
                    except Exception as e:  # noqa: BLE001
                        status, nrows, msg = (
                            "ERROR", -1,
                            f"{type(e).__name__}: {str(e)[:300]}",
                        )
                    return (name, status, nrows, msg)
                return (
                    name,
                    "SKIP",
                    -1,
                    f"corpus {rung[0]} exceeds exact-path rung "
                    f"({rung[1]} rows) and no ground-truth fixture "
                    "matches this corpus: Spark uses approx-recall "
                    "candidates, oracle is exact — compare not "
                    "meaningful at this size",
                )
            try:
                # persist_scope (session.py, ADVICE r12 item 3): every
                # frame the builder scoped_persist()-ed is unpersisted
                # when this id's compare completes, so a 30-id sweep
                # chunk in one session cannot accumulate cached blocks.
                # Thread-local, so the 4-way pool can't release a
                # sibling id's in-flight cache.
                from binancedatapipelineinaws_spark.session import (
                    persist_scope,
                )

                res = None
                with persist_scope():
                    if fast:
                        # vectorized Arrow path; a None result (no
                        # oracle, unsupported dtypes, or a
                        # sub-threshold mismatch) falls through to the
                        # authoritative classic path
                        res = run_one_fast(spark, cur, name, specs[name])
                    if res is not None:
                        status, nrows, msg = res
                    else:
                        status, nrows, msg = run_one(
                            spark, cur, name, specs[name],
                            verbose=(threads == 1),
                        )
            except Exception as e:  # noqa: BLE001
                status, nrows, msg = (
                    "ERROR",
                    -1,
                    f"{type(e).__name__}: {str(e)[:300]}",
                )
            return (name, status, nrows, msg)
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
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=threads) as pool:
            futs = {pool.submit(check, n): n for n in names}
            done = {}
            from concurrent.futures import as_completed

            for fut in as_completed(futs):
                res = fut.result()
                _print_result(res)
                done[res[0]] = res
        results = [done[n] for n in names]

    n_ok = sum(1 for r in results if r[1] in ("OK", "ROWS_ONLY"))
    n_skip = sum(1 for r in results if r[1] == "SKIP")
    n_fail = len(results) - n_ok - n_skip
    print(
        f"\n{n_ok} ok, {n_fail} failing"
        + (f", {n_skip} skipped (approx-recall rung)" if n_skip else "")
    )
    sys.exit(1 if n_fail else 0)


def _print_result(res):
    name, status, nrows, msg = res
    tag = {"OK": "ok", "ROWS_ONLY": "ok(rows-only)", "SKIP": "SKIP"}.get(
        status, status
    )
    print(f"{name:28s} {tag:14s} rows={nrows}" + (f"  {msg}" if msg else ""))


if __name__ == "__main__":
    main()
