"""Distribution-statistics operators: equi-width histogram, robust
(median/MAD) outlier detection, and deterministic dataset splitting —
the profiling and QA layer a warehouse consumer runs over the
reference's tick table before trusting it (and a training pipeline
runs over every ingested corpus).

Scale notes (100 TB):
- The histogram is a map-side-combined aggregate on a derived integer
  key: bin count is bounded by the value range, not the data.
- MAD runs as two stacked whole-partition windows over ONE exchange —
  a single scan.  Exact per-group medians inherently buffer a group's
  values on one task; at 100 TB swap `percentile` for
  `approx_percentile` (a mergeable sketch, same plan shape) and keep
  this exact form as the small-scale oracle.
- Split assignment is pure projection (zero Exchange): a stable md5
  bucket keyed on doc_id, reproducible across engines, partitionings,
  and reruns (same discipline as sampling.q_ext_stratified_sample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

HIST_WIDTH = 5000  # price units per bin


@register(
    "q_ext_histogram",
    oracle=f"""
SELECT CAST(floor(l_extendedprice / {HIST_WIDTH}) AS BIGINT) AS bin_id,
       CAST(floor(l_extendedprice / {HIST_WIDTH}) AS BIGINT) * {HIST_WIDTH}
         AS bin_lo,
       count(*) AS cnt,
       -- EXACT cent sum, one division: float sum(l_extendedprice)
       -- flipped 4/21 bins at the sf10 drill (double ulp at 1.8e11 is
       -- ~3e-5; partial-merge order pushed the two engines across the
       -- 2-dp boundary in opposite directions)
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
         / 100.0 AS total
FROM lineitem GROUP BY 1, 2
""",
)
def q_ext_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of extended price: explicit floor() bin key
    (floor, not cast — double->int casting truncates in Spark but
    rounds in DuckDB) feeding a map-side-combined count/sum.  Output is
    bin-bounded, so the shuffle moves at most one row per bin per task
    at any input scale.  The per-bin money total is an exact BIGINT
    cent sum divided once — order-independent at any density (the sf10
    drill caught the float form flipping 2-dp boundaries)."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_id = F.floor(F.col("l_extendedprice") / HIST_WIDTH).cast("long")
    return (
        li.groupBy(
            bin_id.alias("bin_id"),
            (bin_id * HIST_WIDTH).alias("bin_lo"),
        )
        .agg(
            F.count("*").alias("cnt"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                ).cast("double")
                / 100.0
            ).alias("total"),
        )
    )


MAD_K = 3.0  # flag beyond 3 robust standard deviations
MAD_SCALE = 1.4826  # MAD -> sigma consistency constant (normal dist)


@register(
    "q_ext_mad_outliers",
    oracle=f"""
WITH med AS (
  SELECT event_id, event_type, value,
         quantile_cont(value, 0.5) OVER (PARTITION BY event_type) AS med
  FROM events
), dev AS (
  SELECT *, quantile_cont(abs(value - med), 0.5)
              OVER (PARTITION BY event_type) AS mad
  FROM med
)
SELECT event_id, event_type, value, round(med, 6) AS med,
       round(mad, 6) AS mad,
       round((value - med) / ({MAD_SCALE} * mad), 6) AS robust_z
FROM dev WHERE abs(value - med) > {MAD_K} * {MAD_SCALE} * mad
""",
)
def q_ext_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outliers: |x - median| > {MAD_K} * {MAD_SCALE}
    * MAD (median absolute deviation).  Median and MAD both run as
    whole-partition window aggregates over the SAME partitioning, so
    the plan is one exchange + two stacked Window nodes on a single
    scan — no group-stats join back (which would re-execute the scan
    per branch).  Both engines interpolate the median identically
    (percentile ≡ quantile_cont); the outlier predicate compares
    UNROUNDED doubles built from the same arithmetic, so the flagged
    row set matches exactly.

    This exact form is the oracle; `mad_outliers_frame(exact=False)`
    is the sketch-based scale path (two grouped approx_percentile
    aggregates + broadcast join-backs, no whole-partition window) for
    event types too large to buffer in one task."""
    return mad_outliers_frame(spark, sf_dir, exact=True)


def mad_outliers_frame(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """MAD outliers with a path knob: exact=True buffers each event
    type in one task (whole-partition percentile windows, the oracle
    form); exact=False computes median and MAD as two grouped
    `approx_percentile` aggregates (mergeable sketches,
    partial-aggregated) with broadcast join-backs — event-type
    cardinality bounds only the tiny stats tables, never one task's
    buffer."""
    ev = load_table(spark, sf_dir, "events")
    if exact:
        med = ev.selectExpr(
            "event_id",
            "event_type",
            "value",
            "percentile(value, 0.5) OVER (PARTITION BY event_type) AS med",
        )
        dev = med.selectExpr(
            "*",
            "percentile(abs(value - med), 0.5)"
            " OVER (PARTITION BY event_type) AS mad",
        )
    else:
        from binancedatapipelineinaws_spark.operators.analytics import (
            PCTL_ACCURACY,
        )

        meds = ev.groupBy("event_type").agg(
            F.expr(f"approx_percentile(value, 0.5, {PCTL_ACCURACY})").alias(
                "med"
            )
        )
        med = ev.select("event_id", "event_type", "value").join(
            F.broadcast(meds), "event_type"
        )
        mads = med.groupBy("event_type").agg(
            F.expr(
                f"approx_percentile(abs(value - med), 0.5, {PCTL_ACCURACY})"
            ).alias("mad")
        )
        dev = med.join(F.broadcast(mads), "event_type")
    return dev.filter(
        F.abs(F.col("value") - F.col("med"))
        > MAD_K * MAD_SCALE * F.col("mad")
    ).select(
        "event_id",
        "event_type",
        "value",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.round(
            (F.col("value") - F.col("med")) / (MAD_SCALE * F.col("mad")), 6
        ).alias("robust_z"),
    )


PROFILE_COLS = (
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
)


@register(
    "q_ext_profile",
    oracle="SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       count(*) AS n_rows,
       count({c}) AS n_nonnull,
       round(1.0 - count({c}) / CAST(count(*) AS DOUBLE), 6) AS null_frac,
       count(DISTINCT {c}) AS n_distinct,
       round(min({c}), 6) AS min_val,
       round(max({c}), 6) AS max_val,
       round(avg({c}), 6) AS mean_val
FROM lineitem"""
        for c in PROFILE_COLS
    )
    + "\n)",
)
def q_ext_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the numeric lineitem measures — row count,
    null fraction, distinct count, extrema, mean per column — the
    data-QA sweep run before trusting an ingested table.

    ONE pass computes every per-column statistic as parallel aggregate
    expressions (count/min/max/avg combine map-side; countDistinct
    rewrites to a two-level expand+aggregate); the wide 1-row result is
    then unpivoted to (col, stats) rows with a map-only stack().  At
    100 TB swap countDistinct for approx_count_distinct (mergeable HLL
    sketch, same plan shape minus the expand) — the exact form is kept
    here because the oracle must reproduce the number."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.countDistinct(c).alias(f"{c}__d"),
            F.round(F.min(c), 6).alias(f"{c}__mn"),
            F.round(F.max(c), 6).alias(f"{c}__mx"),
            F.round(F.avg(c), 6).alias(f"{c}__avg"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__d, {c}__mn, {c}__mx, {c}__avg"
        for c in PROFILE_COLS
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(PROFILE_COLS)}, {stack_args})"
        " AS (col_name, n_nonnull, n_distinct, min_val, max_val, mean_val)",
    ).select(
        "col_name",
        "n_rows",
        "n_nonnull",
        F.round(
            1.0 - F.col("n_nonnull") / F.col("n_rows").cast("double"), 6
        ).alias("null_frac"),
        "n_distinct",
        "min_val",
        "max_val",
        "mean_val",
    )


RI_RELATIONS = (
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
)


@register(
    "q_ext_ri_check",
    oracle="SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS relation,
       (SELECT count(*) FROM {child}) AS n_rows,
       (SELECT count(*) FROM {child} c
        WHERE c.{fk} IS NOT NULL AND NOT EXISTS
          (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) AS n_orphans"""
        for name, child, fk, parent, pk in RI_RELATIONS
    )
    + "\n)",
)
def q_ext_ri_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the star schema: per foreign-key
    relation, the child row count and the number of orphans (non-null
    FKs with no parent) — the constraint validation a warehouse load
    runs because parquet lakes, unlike the reference's Aurora target,
    enforce nothing.

    Each relation is one left-anti join on its key: the parent side
    ships as a broadcast when small (dims) and a uniform-key shuffle
    otherwise, so the sweep is a handful of independent single-join
    passes — embarrassingly parallel across relations at any scale."""
    parts = []
    for name, child, fk, parent, pk in RI_RELATIONS:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("__pk")
        )
        orphans = (
            c.filter(F.col(fk).isNotNull())
            .join(p, F.col(fk) == F.col("__pk"), "left_anti")
            .agg(F.count("*").alias("n_orphans"))
        )
        totals = c.agg(F.count("*").alias("n_rows"))
        parts.append(
            totals.crossJoin(orphans).select(
                F.lit(name).alias("relation"), "n_rows", "n_orphans"
            )
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out


SPLIT_BUCKETS = 100
SPLIT_TRAIN, SPLIT_VAL = 90, 95  # 90/5/5


def _duck_split_bucket() -> str:
    from binancedatapipelineinaws_spark.functions.dedup import duck_hex32

    key = "'split:' || CAST(doc_id AS VARCHAR)"
    return f"{duck_hex32(key)} % {SPLIT_BUCKETS}"


@register(
    "q_ext_split_assign",
    oracle=f"""
SELECT doc_id, lang,
       {_duck_split_bucket()} AS bucket,
       CASE WHEN {_duck_split_bucket()} < {SPLIT_TRAIN} THEN 'train'
            WHEN {_duck_split_bucket()} < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_ext_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment ({SPLIT_TRAIN}/
    {SPLIT_VAL - SPLIT_TRAIN}/{SPLIT_BUCKETS - SPLIT_VAL}): an md5
    bucket of the salted doc id decides the split, so membership is a
    pure function of the row — stable under reruns, repartitioning,
    corpus growth (old docs never migrate), and reproducible by any
    engine that can md5.  Pure projection: zero Exchange."""
    from binancedatapipelineinaws_spark.functions.dedup import hex32

    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        hex32(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % SPLIT_BUCKETS
    )
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


def _corr_pairs():
    cols = PROFILE_COLS
    return [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]


def _duck_corr_matrix() -> str:
    # price is scaled before squaring (same cancellation guard as
    # q_win_rolling_corr); corr is scale-invariant so outputs match
    scale = {"l_extendedprice": 1000.0}

    def v(c):
        s = scale.get(c)
        return f"(CAST({c} AS DOUBLE) / {s})" if s else f"CAST({c} AS DOUBLE)"

    selects = []
    for a, b in _corr_pairs():
        x, y = v(a), v(b)
        selects.append(
            f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
       round((count(*) * sum({x} * {y}) - sum({x}) * sum({y}))
             / nullif(sqrt(count(*) * sum({x} * {x}) - sum({x}) * sum({x}))
                      * sqrt(count(*) * sum({y} * {y}) - sum({y}) * sum({y})),
                      0), 5) AS corr
FROM lineitem"""
        )
    return "SELECT * FROM (\n" + "\nUNION ALL\n".join(selects) + "\n)"


@register("q_ext_corr_matrix", oracle=_duck_corr_matrix())
def q_ext_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the numeric lineitem
    measures — the multivariate step after q_ext_profile.  All six
    pairs compute from component sums inside ONE single-pass aggregate
    (map-side combined), then unpivot to (col_a, col_b, corr) rows via
    a map-only stack(); price is pre-scaled so the n*Sxx - Sx^2
    cancellation stays in double precision (corr is scale-invariant,
    so both engines see identical values at 5 dp)."""
    li = load_table(spark, sf_dir, "lineitem")
    scale = {"l_extendedprice": 1000.0}

    def v(c):
        col = F.col(c).cast("double")
        return col / scale[c] if c in scale else col

    aggs = [F.count("*").alias("n")]
    for c in PROFILE_COLS:
        aggs.append(F.sum(v(c)).alias(f"s_{c}"))
        aggs.append(F.sum(v(c) * v(c)).alias(f"ss_{c}"))
    for a, b in _corr_pairs():
        aggs.append(F.sum(v(a) * v(b)).alias(f"sp_{a}__{b}"))
    wide = li.agg(*aggs)
    corr_exprs = []
    for a, b in _corr_pairs():
        num = f"(n * sp_{a}__{b} - s_{a} * s_{b})"
        den = (
            f"(sqrt(n * ss_{a} - s_{a} * s_{a})"
            f" * sqrt(n * ss_{b} - s_{b} * s_{b}))"
        )
        corr_exprs.append(
            f"'{a}', '{b}', round({num} / nullif({den}, 0), 5)"
        )
    return wide.selectExpr(
        f"stack({len(corr_exprs)}, {', '.join(corr_exprs)})"
        " AS (col_a, col_b, corr)"
    )


@register(
    "q_ext_benford",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS BIGINT) AS d
  FROM lineitem WHERE l_extendedprice >= 1
)
SELECT d, count(*) AS n,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
         AS observed,
       round(ln(1.0 + 1.0 / d) / ln(10), 6) AS benford
FROM digits GROUP BY d
""",
)
def q_ext_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) analysis of extended price — the audit
    check for fabricated financial data: naturally-grown amounts
    follow log10(1 + 1/d), uniform synthetics (like this corpus —
    observed ~0.105 flat) do not, and the side-by-side columns make
    the divergence a number.

    Map-only digit projection (explicit floor() before the integer
    cast — DuckDB rounds double casts) -> 9-row aggregate; the share
    normalizes via a window over those 9 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    d = (
        F.substring(
            F.floor("l_extendedprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("d")
    )
    digits = li.filter(F.col("l_extendedprice") >= 1).select(d)
    import math

    counts = digits.groupBy("d").agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "d",
        "n",
        F.round(F.col("n") / total.cast("double"), 6).alias("observed"),
        F.round(
            F.log(1.0 + 1.0 / F.col("d")) / math.log(10), 6
        ).alias("benford"),
    )


@register(
    "q_ext_chi_square",
    oracle="""
WITH cells AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS o
  FROM lineitem GROUP BY 1, 2
), m AS (
  SELECT rf, ls, o,
         sum(o) OVER (PARTITION BY rf) AS row_tot,
         sum(o) OVER (PARTITION BY ls) AS col_tot,
         sum(o) OVER () AS n
  FROM cells
)
SELECT count(*) AS n_cells,
       round(sum((o - row_tot * col_tot / CAST(n AS DOUBLE))
                 * (o - row_tot * col_tot / CAST(n AS DOUBLE))
                 / (row_tot * col_tot / CAST(n AS DOUBLE))), 5) AS chi2
FROM m
""",
)
def q_ext_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic of independence for returnflag x linestatus
    — the categorical-association test behind drift detection between
    a column pair.  The corpus-sized work is ONE contingency aggregate
    (map-side combined, categories^2-bounded); marginals and the
    statistic come from windows over that tiny cells table, so no
    totals join re-executes the scan."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
    ).agg(F.count("*").alias("o"))
    row_tot = F.sum("o").over(Window.partitionBy("rf"))
    col_tot = F.sum("o").over(Window.partitionBy("ls"))
    n = F.sum("o").over(Window.partitionBy())
    expected = row_tot * col_tot / n.cast("double")
    term = (F.col("o") - expected) * (F.col("o") - expected) / expected
    return cells.select(term.alias("t")).agg(
        F.count("*").alias("n_cells"),
        F.round(F.sum("t"), 5).alias("chi2"),
    )


@register(
    "q_ext_spearman",
    oracle="""
WITH r AS (
  SELECT l_returnflag AS g,
         rank() OVER (PARTITION BY l_returnflag
                      ORDER BY l_quantity) AS rx,
         rank() OVER (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice) AS ry
  FROM lineitem
)
SELECT g, count(*) AS n,
       round((count(*) * sum(CAST(rx AS DOUBLE) * ry)
              - sum(CAST(rx AS DOUBLE)) * sum(CAST(ry AS DOUBLE)))
             / nullif(
                 sqrt(count(*) * sum(CAST(rx AS DOUBLE) * rx)
                      - sum(CAST(rx AS DOUBLE)) * sum(CAST(rx AS DOUBLE)))
                 * sqrt(count(*) * sum(CAST(ry AS DOUBLE) * ry)
                        - sum(CAST(ry AS DOUBLE)) * sum(CAST(ry AS DOUBLE))),
                 0), 5) AS spearman
FROM r GROUP BY g
""",
)
def q_ext_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Spearman rank correlation between quantity and price
    (min-rank tie handling — both engines agree, so the statistic is
    deterministic), then Pearson-on-ranks from component sums: the
    rank products are integer-valued doubles, so every partial sum is
    EXACT regardless of partition order — cross-engine equality at
    5 dp without ordering tricks.

    r12 plan: per-ROW rank windows (the r10 shape) sort each group's
    entire row set on ONE task — at sf10 that starved the unified
    memory pool under sweep concurrency, and at 100 TB it's the
    serialize-a-group-through-one-reducer hazard.  min-rank is a
    function of the VALUE alone: rank(v) = #(rows < v) + 1, so rank
    tables come from the (group, value) COUNT aggregate + a
    cumulative window over DISTINCT VALUES (|V| rows per group, the
    q_ext_quantile_norm range-table discipline) and join back onto
    the fact by (group, value) — two ordinary co-keyed shuffle joins,
    no task ever sorts the fact.  Values are hash-identical to the
    window form (oracle unchanged)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")

    def value_ranks(col: str, out: str) -> DataFrame:
        vt = li.groupBy("l_returnflag", col).agg(F.count("*").alias("cnt"))
        w = (
            Window.partitionBy("l_returnflag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return vt.select(
            "l_returnflag",
            col,
            (F.coalesce(F.sum("cnt").over(w), F.lit(0)) + 1)
            .cast("double")
            .alias(out),
        )

    r = (
        li.select("l_returnflag", "l_quantity", "l_extendedprice")
        .join(value_ranks("l_quantity", "rx"), ["l_returnflag", "l_quantity"])
        .join(
            value_ranks("l_extendedprice", "ry"),
            ["l_returnflag", "l_extendedprice"],
        )
        .select(F.col("l_returnflag").alias("g"), "rx", "ry")
    )
    n = F.count("*")
    sx, sy = F.sum("rx"), F.sum("ry")
    sxx = F.sum(F.col("rx") * F.col("rx"))
    syy = F.sum(F.col("ry") * F.col("ry"))
    sxy = F.sum(F.col("rx") * F.col("ry"))
    denom = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    corr = (n * sxy - sx * sy) / F.when(denom != 0, denom)
    return r.groupBy("g").agg(
        n.alias("n"), F.round(corr, 5).alias("spearman")
    )


@register(
    "q_ext_welch_ttest",
    oracle="""
WITH g AS (
  SELECT event_type, count(*) AS n, avg(value) AS mean,
         var_samp(value) AS var
  FROM events GROUP BY event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       a.n AS n_a, b.n AS n_b,
       round(a.mean - b.mean, 6) AS mean_diff,
       round((a.mean - b.mean)
             / nullif(sqrt(a.var / a.n + b.var / b.n), 0), 5) AS t_stat
FROM g a JOIN g b ON a.event_type < b.event_type
""",
)
def q_ext_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic for every event-type pair — the
    unequal-variance mean-comparison test behind A/B readouts and
    distribution-drift alarms.

    The corpus collapses to per-group (n, mean, var) in one map-side-
    combined aggregate; the pair join runs on that groups-bounded
    table, so the statistic costs one scan regardless of pair count.
    var_samp is Spark's numerically-stable single-pass variance and
    DuckDB's matches at the 5-dp round (means/diffs at 6 dp)."""
    ev = load_table(spark, sf_dir, "events")
    # persisted: the groups table feeds both self-join sides, and
    # without it each side re-executes the corpus scan+aggregate
    g = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
        .transform(scoped_persist)
    )
    a = g.alias("a")
    b = g.alias("b")
    t = (F.col("a.mean") - F.col("b.mean")) / F.when(
        F.sqrt(F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n"))
        != 0,
        F.sqrt(F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")),
    )
    return (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(F.col("a.mean") - F.col("b.mean"), 6).alias("mean_diff"),
            F.round(t, 5).alias("t_stat"),
        )
    )


# --- daily activity anomaly --------------------------------------------------

ANOMALY_Z = 3.0  # |z| flag threshold


@register(
    "q_ext_daily_anomaly",
    oracle=f"""
WITH daily AS (
  -- CAST: DuckDB date_trunc('day') yields DATE; Spark yields TIMESTAMP
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         count(*) AS n_events
  FROM events GROUP BY 1
),
stats AS (
  SELECT day, n_events,
         CAST(sum(n_events) OVER () AS DOUBLE) / count(*) OVER () AS mu,
         sqrt(greatest(
           CAST(sum(n_events * n_events) OVER () AS DOUBLE)
             / count(*) OVER ()
           - (CAST(sum(n_events) OVER () AS DOUBLE) / count(*) OVER ())
             * (CAST(sum(n_events) OVER () AS DOUBLE) / count(*) OVER ()),
           0)) AS sigma
  FROM daily
)
SELECT day, n_events,
       round((n_events - mu) / nullif(sigma, 0), 6) AS z,
       CASE WHEN abs((n_events - mu) / nullif(sigma, 0)) > {ANOMALY_Z}
            THEN 1 ELSE 0 END AS is_anomaly
FROM stats
""",
)
def q_ext_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-volume anomaly flags: per-day counts z-scored against
    the whole series (population mean/std from integer-exact component
    sums), |z| > {ANOMALY_Z} flagged — the pager query for a pipeline
    whose feed silently halves (the reference's WebSocket dropping,
    main.py:35-47, detected from the data instead of the process).

    Plan: one map-side-combined day aggregate (calendar-bounded
    output), then whole-partition windows over the tiny day table.
    Component-sum z-scores, not two passes: the corpus is scanned
    once at any scale."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_events")
    )
    w = Window.partitionBy()
    n = F.count("*").over(w)
    s1 = F.sum("n_events").over(w).cast("double")
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(w).cast("double")
    mu = s1 / n
    sigma = F.sqrt(F.greatest(s2 / n - mu * mu, F.lit(0.0)))
    z = (F.col("n_events") - mu) / F.when(sigma != 0, sigma)
    return daily.select(
        "day",
        "n_events",
        F.round(z, 6).alias("z"),
        F.when(F.abs(z) > ANOMALY_Z, 1).otherwise(0).alias("is_anomaly"),
    )


# --- Kolmogorov-Smirnov drift between crawl halves ---------------------------


from binancedatapipelineinaws_spark.functions.dedup import duck_hex32  # noqa: E402


@register(
    "q_ext_ks_drift",
    oracle=f"""
WITH halves AS (
  -- md5-bucket split, NOT doc_id parity: the synthetic tables assign
  -- sources round-robin, so parity would put whole sources in one half
  SELECT source, n_chars AS v,
         {duck_hex32("'ks:' || CAST(doc_id AS VARCHAR)")} % 2 AS half
  FROM documents
),
sizes AS (
  SELECT source,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
  FROM halves GROUP BY source
),
steps AS (
  SELECT h.source, h.v,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) OVER w AS c0,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) OVER w AS c1
  FROM halves h
  WINDOW w AS (PARTITION BY source ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT s.source,
       CAST(z.n0 AS BIGINT) AS n_a, CAST(z.n1 AS BIGINT) AS n_b,
       -- NULLIF: a source whose doc_ids are all one parity has an
       -- empty half; KS is undefined there (NULL), never an error
       round(max(abs(CAST(s.c0 AS DOUBLE) / nullif(z.n0, 0)
                     - CAST(s.c1 AS DOUBLE) / nullif(z.n1, 0))), 6)
         AS ks_stat
FROM steps s JOIN sizes z USING (source)
GROUP BY s.source, z.n0, z.n1
""",
)
def q_ext_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic per source between two
    deterministic halves of the corpus — docs split by the parity of a
    salted md5 bucket of doc_id, so the halves are engine-portable and
    uncorrelated with load order (stand-ins for two crawl snapshots):
    the supremum gap between the two empirical CDFs of document length.  Near-zero = stable source; large = the source
    changed what it emits between snapshots — the distribution-drift
    alarm that length means/medians smooth over.

    Plan: ONE window pass over (source; value) computes both cumulative
    counts at every observed value (RANGE frame so ties step together),
    then a per-source max rollup.  No sort beyond the window's, no
    join of the corpus to itself; the per-source sizes table is
    sources-bounded and joins broadcast.

    This exact form is the oracle; `ks_drift_frame(exact=False)` is the
    binned scale path — per-(source, bin) counts first, the cumulative
    window over a sources x bins table — for sources too large to put
    one source's rows in a single window task."""
    return ks_drift_frame(spark, sf_dir, exact=True)


KS_BINS = 256  # equal-width bins for the approximate (binned) KS path


def ks_drift_frame(
    spark: SparkSession, sf_dir: str, exact: bool = True, bins: int = KS_BINS
) -> DataFrame:
    """KS drift with a path knob.  exact=True (the registered oracle
    path) runs the cumulative window over every document row — one
    task per source.  exact=False bucketizes value into `bins`
    equal-width buckets on the global range, partial-aggregates
    per-(source, bin, half) counts (corpus-sized work is that one
    combinable aggregate), and runs the cumulative window over the
    sources x bins table — bounded, corpus-growth-insensitive.  The
    binned statistic is the CDF gap sampled at bin edges: a lower
    bound on the exact KS with error at most the largest bin's
    probability mass."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    from binancedatapipelineinaws_spark.functions.dedup import hex32

    halves = docs.select(
        "source",
        F.col("n_chars").alias("v"),
        (
            hex32(F.concat(F.lit("ks:"), F.col("doc_id").cast("string"))) % 2
        ).alias("half"),
    )
    if exact:
        sizes = halves.groupBy("source").agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
        )
        w = (
            Window.partitionBy("source")
            .orderBy("v")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        steps = halves.select(
            "source",
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .over(w)
            .alias("c0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .over(w)
            .alias("c1"),
        )
    else:
        rng = halves.agg(
            F.min("v").alias("vmin"), F.max("v").alias("vmax")
        )
        binned = halves.crossJoin(F.broadcast(rng)).select(
            "source",
            "half",
            F.least(
                F.lit(bins - 1),
                F.floor(
                    (F.col("v") - F.col("vmin"))
                    * bins
                    / (F.col("vmax") - F.col("vmin") + 1)
                ),
            ).alias("bin"),
        )
        cells = binned.groupBy("source", "bin").agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("b0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("b1"),
        )
        sizes = cells.groupBy("source").agg(
            F.sum("b0").cast("long").alias("n0"),
            F.sum("b1").cast("long").alias("n1"),
        )
        wb = (
            Window.partitionBy("source")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        steps = cells.select(
            "source",
            F.sum("b0").over(wb).alias("c0"),
            F.sum("b1").over(wb).alias("c1"),
        )
    # nullif: an empty half makes KS undefined (NULL), never an
    # ANSI divide-by-zero error
    gap = F.abs(
        F.col("c0").cast("double") / F.expr("nullif(n0, 0)")
        - F.col("c1").cast("double") / F.expr("nullif(n1, 0)")
    )
    return (
        steps.join(F.broadcast(sizes), "source")
        .groupBy("source", "n0", "n1")
        .agg(F.round(F.max(gap), 6).alias("ks_stat"))
        .select(
            "source",
            F.col("n0").alias("n_a"),
            F.col("n1").alias("n_b"),
            "ks_stat",
        )
    )


# --- exact distributed order statistics -------------------------------------
# Quantile targets as EXACT RATIONALS (num/den) so the 1-based rank
# r = ceil(q*n) computes in integer arithmetic — (num*n + den - 1)
# div den — identically in any engine; no float q*n at the boundary.
QUANTILE_TARGETS = ((0.25, 1, 4), (0.5, 1, 2), (0.9, 9, 10))
N_QUANTILE_BUCKETS = 1024


@register(
    "q_ext_exact_quantiles",
    oracle="""
WITH vals AS (
  SELECT value FROM events WHERE value IS NOT NULL
), ordered AS (
  SELECT value, row_number() OVER (ORDER BY value) AS rn FROM vals
), n AS (
  SELECT count(*) AS c FROM vals
), targets AS (
  SELECT 0.25 AS q, (1 * c + 3) // 4 AS r FROM n
  UNION ALL SELECT 0.5,  (1 * c + 1) // 2 FROM n
  UNION ALL SELECT 0.9,  (9 * c + 9) // 10 FROM n
)
SELECT CAST(q AS DOUBLE) AS q, CAST(r AS BIGINT) AS rank,
       value AS q_value
FROM targets JOIN ordered ON rn = r
""",
)
def q_ext_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global quantiles without a global sort — the classic
    two-pass distributed selection: (1) histogram the column into
    range buckets and locate each target rank's bucket from the
    bounded cumulative counts; (2) rank ONLY inside the hit buckets
    and pick the row whose in-bucket rank plus the bucket offset
    equals the target.  The exact complement of approx_percentile
    (q_agg_approx_percentiles) when sketch error bounds aren't
    acceptable (SLA cutoffs, regulatory percentiles).

    Scale: pass 2's per-bucket window sorts ~n/N_QUANTILE_BUCKETS
    rows per task; the bucket count is the knob — raise it with
    corpus size (or recurse a third pass) to keep any single task's
    slice bounded.  Ranks are ceil(q*n) computed as integer
    (num*n + den - 1) div den — no float q*n can flip a rank at an
    integer boundary.  Ties are safe by construction: the VALUE at a
    global rank is tie-order-independent, and bucketing is monotonic
    in value, so in-bucket rank + offset is the exact global rank."""
    vals = (
        load_table(spark, sf_dir, "events")
        .select("value")
        .filter(F.col("value").isNotNull())
        .transform(scoped_persist)
    )
    stats = vals.agg(
        F.count("*").alias("c"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    targets = stats.select(
        "c",
        "vmin",
        "vmax",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.lit(num).cast("long").alias("num"),
                        F.lit(den).cast("long").alias("den"),
                    )
                    for q, num, den in QUANTILE_TARGETS
                ]
            )
        ).alias("t"),
    ).select(
        F.col("t.q").alias("q"),
        F.expr("(t.num * c + t.den - 1) div t.den").alias("rank"),
        "vmin",
        "vmax",
    )
    nb = N_QUANTILE_BUCKETS
    width = (F.col("vmax") - F.col("vmin")) / nb
    bucket_of = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("value") - F.col("vmin")) / width).cast("long"),
            F.lit(nb - 1),
        )
    )
    bucketed = vals.crossJoin(
        F.broadcast(stats.select("vmin", "vmax"))
    ).select("value", bucket_of.alias("bucket"))
    hist = bucketed.groupBy("bucket").agg(F.count("*").alias("bc"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # cumulative counts over the BOUNDED (<= nb rows) histogram — the
    # unpartitioned window is over the bucket table, never the corpus
    cum = hist.select(
        "bucket",
        (F.sum("bc").over(w) - F.col("bc")).alias("offset"),
        F.sum("bc").over(w).alias("cum"),
    )
    hit = (
        targets.join(
            F.broadcast(cum),
            (F.col("offset") < F.col("rank"))
            & (F.col("rank") <= F.col("cum")),
        )
        .select("q", "rank", "bucket", "offset")
    )
    candidates = bucketed.join(F.broadcast(hit), "bucket")
    wq = Window.partitionBy("q", "bucket").orderBy("value")
    return (
        candidates.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") + F.col("offset") == F.col("rank"))
        .select("q", "rank", F.col("value").alias("q_value"))
    )


# --- equi-depth histogram ----------------------------------------------------
# The complement of q_ext_histogram's equi-WIDTH bins: decile
# boundaries carry equal mass, so the report shows WHERE the
# distribution concentrates instead of how wide it is — the binning
# used for quantile-bucketed features and monotonic-drift checks.
# Boundaries are exact interpolated percentiles (the q_agg_percentiles
# parity: both engines use the same linear-interpolation definition),
# rounded to 6 dp in BOTH engines before bucketing so an ulp of
# interpolation difference can never flip a row across a boundary.

EQUIDEPTH_K = 10  # deciles
_ED_PCTS = [round(i / EQUIDEPTH_K, 2) for i in range(1, EQUIDEPTH_K)]


@register(
    "q_ext_equidepth_hist",
    oracle=f"""
WITH bnds AS (
  SELECT event_type,
         {', '.join(f'round(quantile_cont(value, {p}), 6) AS b{i + 1}'
                    for i, p in enumerate(_ED_PCTS))}
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       1 {' '.join(f'+ (CASE WHEN e.value > b.b{i + 1} THEN 1 ELSE 0 END)'
                   for i in range(len(_ED_PCTS)))} AS bucket,
       count(*) AS n,
       round(min(e.value), 6) AS lo,
       round(max(e.value), 6) AS hi
FROM events e JOIN bnds b USING (event_type)
GROUP BY 1, 2
""",
)
def q_ext_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) histogram of `value` per event type: bucket
    k holds the rows between the (k-1)/10 and k/10 quantiles, so all
    buckets carry ~equal counts and the lo/hi columns ARE the
    concentration profile.

    Plan: one percentile aggregate builds the 9 boundaries per type (a
    types-bounded table), broadcast back onto the corpus for a map-only
    bucket expression, then one partial-aggregated (type, bucket)
    rollup — two corpus passes, no corpus-sized window or sort.  The
    exact percentile agg buffers each group's values (the documented
    trade-off in q_agg_percentiles); at 100 TB swap the boundary pass
    to approx_percentile — the bucketing pass is unchanged (the
    q_ext_kll_rank_error gate prices that sketch's rank error)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    bnds = ev.groupBy("event_type").agg(
        *[
            F.round(
                F.expr(f"percentile(value, {p})"), 6
            ).alias(f"b{i + 1}")
            for i, p in enumerate(_ED_PCTS)
        ]
    )
    bucket = F.lit(1)
    for i in range(len(_ED_PCTS)):
        bucket = bucket + F.when(
            F.col("value") > F.col(f"b{i + 1}"), 1
        ).otherwise(0)
    return (
        ev.join(F.broadcast(bnds), "event_type")
        .select("event_type", bucket.alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


@register(
    "q_ext_regr",
    oracle="""
WITH m AS (
  -- EXACT integer moments in HUGEINT (prices are 2-dp -> x100
  -- integers, quantities integer-valued): order-independent sums, no
  -- decimal-width scale-reduction hazard (everything is scale 0).
  -- Widths at sf1: syy <= (1.05e7)^2 x 6e6 = 7e20, n*syy <= 4e27 --
  -- far inside HUGEINT (1.7e38) / Spark DECIMAL(38,0).
  SELECT l_returnflag,
         CAST(count(*) AS HUGEINT) AS n,
         sum(CAST(l_quantity AS HUGEINT)) AS sx,
         sum(CAST(round(l_extendedprice * 100, 0) AS HUGEINT)) AS sy,
         sum(CAST(l_quantity AS HUGEINT)
             * CAST(l_quantity AS HUGEINT)) AS sxx,
         sum(CAST(round(l_extendedprice * 100, 0) AS HUGEINT)
             * CAST(round(l_extendedprice * 100, 0) AS HUGEINT)) AS syy,
         sum(CAST(l_quantity AS HUGEINT)
             * CAST(round(l_extendedprice * 100, 0) AS HUGEINT)) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       -- one IEEE division per output (plus one multiply for r2):
       -- numerators/denominators are exact integers cast to double,
       -- so both engines divide the SAME doubles -- bit-identical
       -- results with no rounding step and no FMA-contractible
       -- multiply-add chain.  Slope/intercept are in cents per unit
       -- (scale-invariant r2 unaffected).  The double cast routes
       -- HUGEINT -> VARCHAR -> DOUBLE: DuckDB's direct hugeint ->
       -- double cast double-rounds (~1.6% of >2^53 integers land
       -- 1 ulp off — fuzz-verified r10, and it flipped
       -- q_ext_kyle_lambda's x100 gate); the string parse is
       -- correctly rounded, matching Spark's BigDecimal.doubleValue.
       CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / nullif(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE), 0)
         AS slope_cents,
       CAST(CAST(sy * (n * sxx - sx * sx)
                 - (n * sxy - sx * sy) * sx AS VARCHAR) AS DOUBLE)
         / nullif(CAST(CAST(n * (n * sxx - sx * sx) AS VARCHAR)
                       AS DOUBLE), 0)
         AS intercept_cents,
       (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
          / nullif(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE), 0))
       * (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
          / nullif(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE), 0))
         AS r2
FROM m ORDER BY l_returnflag
""",
)
def q_ext_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2003 linear-regression aggregates (regr_slope /
    regr_intercept / regr_r2) per group, price-on-quantity over
    lineitem — computed from EXACT integer moments rather than the
    built-in float aggregates, whose partial-merge order makes them
    engine- and partitioning-dependent.

    Plan: ONE partial-aggregated pass collecting six scale-0 DECIMAL
    moments (n, Sx, Sy, Sxx, Syy, Sxy over x100-scaled prices), then
    constant per-group scalar algebra.  Every numerator/denominator is
    an exact integer; each output is a single IEEE division (r2 adds
    one multiply of two quotients — nothing FMA-contractible), so both
    engines emit bit-identical doubles with NO rounding step.  The
    intercept uses the single-division form
    (Sy*Dx - N*Sx) / (n*Dx) instead of (Sy - slope*Sx)/n, which would
    round twice and admit fused-multiply-add divergence.  100 TB: the
    moments partial-combine map-side to 6 numbers per group — the same
    cost as any sum; group count bounds the shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,0)")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(18,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("decimal(18,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy"))
    d_x = n * sxx - sx * sx
    d_y = n * syy - sy * sy
    num = n * sxy - sx * sy
    def dbl(c):
        return c.cast("double")
    def div(a, b):
        return dbl(a) / F.when(dbl(b) != 0, dbl(b))
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        div(num, d_x).alias("slope_cents"),
        div(sy * d_x - num * sx, n * d_x).alias("intercept_cents"),
        (div(num, d_x) * div(num, d_y)).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "q_ext_mode_disc",
    oracle="""
WITH c AS (
  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), ranked AS (
  SELECT l_returnflag, qty, cnt,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY qty) AS cum,
         sum(cnt) OVER (PARTITION BY l_returnflag) AS tot
  FROM c
)
SELECT l_returnflag,
       -- deterministic mode: highest count, smallest value on ties
       (SELECT qty FROM ranked r2 WHERE r2.l_returnflag = r.l_returnflag
        ORDER BY cnt DESC, qty ASC LIMIT 1) AS mode_qty,
       max(cnt) AS mode_count,
       -- percentile_disc(0.5): smallest value whose cumulative count
       -- reaches half the total -- 2*cum >= tot is pure integer
       -- arithmetic, no float rank anywhere
       min(CASE WHEN 2 * cum >= tot THEN qty END) AS median_disc_qty
FROM ranked r
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_ext_mode_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode and discrete median (percentile_disc 0.5)
    per group.  Built-in `mode()` has unspecified tie-breaks in both
    engines, so this pins the full order (count DESC, value ASC); the
    discrete median takes the smallest value whose cumulative count
    reaches half the total — `2*cum >= tot` in pure integer
    arithmetic, so no float rank boundary can flip between engines.

    Plan: one (group, value) partial-aggregated count — the shuffle is
    bounded by distinct (flag, qty) pairs (150 cells here, domain-
    not corpus-sized) — then windows over that TINY aggregate, never
    over raw rows; a 1-struct max_by picks the mode without a second
    shuffle.  100 TB: identical — value-domain cells, not rows."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    ).agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    ranked = c.select(
        "l_returnflag",
        "qty",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_tot).alias("tot"),
    )
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            # max over (cnt, -qty) == count DESC then qty ASC
            F.max(F.struct(F.col("cnt"), (-F.col("qty")).alias("nq"))).alias(
                "best"
            ),
            F.min(
                F.when(2 * F.col("cum") >= F.col("tot"), F.col("qty"))
            ).alias("median_disc_qty"),
        )
        .select(
            "l_returnflag",
            (-F.col("best.nq")).alias("mode_qty"),
            F.col("best.cnt").alias("mode_count"),
            "median_disc_qty",
        )
        .orderBy("l_returnflag")
    )


WM_BUCKET_CENTS = 10_000  # $100 buckets over the price range


@register(
    "q_ext_weighted_median",
    oracle="""
WITH pc AS (
  -- collapse to distinct prices first: the cumulative is then over a
  -- value-DOMAIN table and the running sum needs no tie-break at all
  SELECT l_returnflag, l_extendedprice AS price,
         sum(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, price, w,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM pc
)
SELECT l_returnflag,
       CAST(tw AS BIGINT) AS total_qty,
       -- weighted median: smallest price where cumulative weight
       -- reaches half the total -- 2*cw >= tw in exact integers
       min(CASE WHEN 2 * cw >= tw THEN price END) AS weighted_median_price
FROM cum
GROUP BY l_returnflag, tw
ORDER BY l_returnflag
""",
)
def q_ext_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted median price per group — the robust complement
    of VWAP (q_agg_vwap): the price at which half the QUANTITY traded
    below.  The boundary test `2*cum_weight >= total_weight` is exact
    integer arithmetic (quantities are integers, prices 2-dp cents),
    so the picked element is engine-independent; the output price is a
    stored value, never an interpolation.

    Plan (two-phase bucketed selection — prices are NEAR-UNIQUE, 583k
    distinct in 600k rows at sf0.1, so a per-group running sum over
    (group, price) is a corpus-sized 3-partition sort, the single-
    reducer shape that dies at 100 TB; measured 2.5 s vs 0.9 s here):
    phase 1 is a ~1000-bucket partial-aggregated weight histogram and
    a window over THAT (domain-sized) to find each group's target
    bucket + the cumulative weight before it; phase 2 re-scans with
    the broadcast 3-row target, aggregates (group, price) INSIDE the
    one target bucket (~corpus/1000 rows), and a tiny window picks the
    exact element.  Identical result to the direct definition — the
    oracle IS the direct definition."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    bucket = F.floor(cents / WM_BUCKET_CENTS).cast("long")
    w = F.col("l_quantity").cast("long")

    bstats = li.select(
        F.col("l_returnflag").alias("flag"),
        bucket.alias("bucket"),
        w.alias("w"),
    ).groupBy("flag", "bucket").agg(F.sum("w").alias("bw"))
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("flag")
    target = (
        bstats.select(
            "flag",
            "bucket",
            "bw",
            F.sum("bw").over(w_cum).alias("cum"),
            F.sum("bw").over(w_tot).alias("tot"),
        )
        # exactly one row per group: the bucket where the cumulative
        # weight crosses half the total
        .filter(
            (2 * F.col("cum") >= F.col("tot"))
            & (2 * (F.col("cum") - F.col("bw")) < F.col("tot"))
        )
        .select(
            "flag",
            "bucket",
            (F.col("cum") - F.col("bw")).alias("cum_before"),
            "tot",
        )
    )

    in_bucket = li.join(
        F.broadcast(target),
        (F.col("l_returnflag") == F.col("flag"))
        & (bucket == F.col("bucket")),
    )
    pc = in_bucket.groupBy(
        "flag", "tot", "cum_before", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(w).alias("pw"))
    w_cum_p = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pc.select(
            "flag",
            "tot",
            "price",
            (F.col("cum_before") + F.sum("pw").over(w_cum_p)).alias("cw"),
        )
        .groupBy("flag", "tot")
        .agg(
            F.min(
                F.when(2 * F.col("cw") >= F.col("tot"), F.col("price"))
            ).alias("weighted_median_price")
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("tot").alias("total_qty"),
            "weighted_median_price",
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on intraday direction
# ---------------------------------------------------------------------------

from binancedatapipelineinaws_spark.operators.indicators import (  # noqa: E402
    _CANDLES_CTE as _IND_CANDLES_CTE,
)


@register(
    "q_ext_runs_test",
    oracle="WITH "
    + _IND_CANDLES_CTE
    + """
, mv AS (
  SELECT day, m,
         close_c - lag(close_c) OVER (PARTITION BY day ORDER BY m) AS d
  FROM candles
), nz AS (
  SELECT day, m, CASE WHEN d > 0 THEN 1 ELSE -1 END AS sgn
  FROM mv WHERE d IS NOT NULL AND d <> 0
), marks AS (
  SELECT day, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY day ORDER BY m)
                   IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS new_run
  FROM nz
), agg AS (
  SELECT day,
         CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_down,
         CAST(sum(new_run) AS BIGINT) AS runs
  FROM marks GROUP BY day
)
SELECT CAST(day AS TIMESTAMP) AS day, n_up, n_down, runs,
       round((CAST(runs AS DOUBLE)
              - (1 + 2.0 * n_up * n_down / (n_up + n_down)))
             / sqrt((2.0 * n_up * n_down
                     * (2.0 * n_up * n_down - n_up - n_down))
                    / (CAST(n_up + n_down AS DOUBLE)
                       * (n_up + n_down) * (n_up + n_down - 1))),
             6) + 0.0 AS z
FROM agg
WHERE n_up > 0 AND n_down > 0
  AND 2 * n_up * n_down > n_up + n_down
ORDER BY day
""",
)
def q_ext_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per session day over the direction of
    minute close-to-close moves (flat minutes dropped, the classic
    treatment): up count, down count, observed runs, and the normal
    z statistic — the standard randomness screen for trending vs
    mean-reverting intraday behavior (Wald & Wolfowitz 1940).
    Reference has no analytics tier; complements the one-lag
    autocorrelation (q_ext_return_autocorr) with a distribution-free
    test.

    Exactness: run/direction counts are INTEGERS off the exact-cents
    candle layer; the z closing algebra is one shared double tree
    from those integers (round 6, `+ 0.0` signed-zero guard).
    Degenerate days (one-sided or sigma = 0, i.e.
    2*n_up*n_down <= n_up+n_down) are excluded in both engines.

    Plan: candle aggregate (one tick shuffle) -> two day-partitioned
    lag windows (a year is 365 independent 1440-row frames, the
    indicator-tier argument) -> one day rollup.  Calendar-bounded
    output."""
    from binancedatapipelineinaws_spark.operators.indicators import (
        _candles_c,
    )

    c = _candles_c(spark, sf_dir)
    w = Window.partitionBy("day").orderBy("m")
    mv = c.select(
        "day",
        "m",
        (F.col("close_c") - F.lag("close_c").over(w)).alias("d"),
    )
    nz = mv.filter(F.col("d").isNotNull() & (F.col("d") != 0)).select(
        "day",
        "m",
        F.when(F.col("d") > 0, 1).otherwise(-1).alias("sgn"),
    )
    marks = nz.select(
        "day",
        "sgn",
        F.when(
            ~F.lag("sgn").over(w).eqNullSafe(F.col("sgn")), 1
        ).otherwise(0).alias("new_run"),
    )
    agg = marks.groupBy("day").agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
        F.sum("new_run").cast("long").alias("runs"),
    )
    nu, nd, rr = F.col("n_up"), F.col("n_down"), F.col("runs")
    mu = F.lit(1) + F.lit(2.0) * nu * nd / (nu + nd)
    var = (
        F.lit(2.0) * nu * nd * (F.lit(2.0) * nu * nd - nu - nd)
    ) / ((nu + nd).cast("double") * (nu + nd) * (nu + nd - 1))
    return (
        agg.filter(
            (nu > 0) & (nd > 0) & (2 * nu * nd > nu + nd)
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "n_up",
            "n_down",
            "runs",
            (
                F.round((rr.cast("double") - mu) / F.sqrt(var), 6)
                + F.lit(0.0)
            ).alias("z"),
        )
        .orderBy("day")
    )
