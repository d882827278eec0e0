"""Iterative clustering over `embeddings` — Lloyd's k-means expressed
as DataFrame ops: broadcast centroids, map-only assignment, partial-
aggregated centroid update.  The driver loop only rebuilds the plan;
no data ever reaches the driver.

Exact-arithmetic discipline: k-means on FLOAT means would make the
centroid a partition-order-dependent double sum (not reproducible, not
oracle-checkable).  Clustering the {Q_LEVELS}-level integer codes from
`similarity.quantized_codes` instead keeps every centroid an exact
(sum_vector, count) integer pair; distances compare as
||c*x - s||^2 / c^2 where the numerator is an exact int64 fold, so
Spark and DuckDB produce bit-identical assignments.  (At petabyte row
counts the c*x product needs the double path back — documented, the
plan shape is unchanged.)

Reference parity: the reference has no clustering; this is the
semantic-diversity / corpus-balancing tier of an LLM data pipeline
(and the honest version of the IVF centroid step in q_ext_ann_ivf).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.functions.similarity import (
    DIM,
    DUCK_QUANT_CTE,
    quantized_codes,
)
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

KMEANS_K = 8
KMEANS_ITERS = 2  # assignment rounds (init -> assign -> update -> assign)


def _sq_dist_num(q: Column, s: Column, c: Column) -> Column:
    """Integer numerator of the squared distance to centroid (s, c):
    sum_i (c*q_i - s_i)^2 — exact in int64 (c*q_i < 2^21 at test SF)."""
    return F.aggregate(
        F.zip_with(q, s, lambda x, sv: (c * x - sv) * (c * x - sv)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def _assign(codes: DataFrame, cents_row: DataFrame) -> DataFrame:
    """Map-only argmin assignment against the broadcast centroid row.
    transform computes each centroid's distance ONCE, then array_min
    picks the (d, cluster)-lexicographic minimum — so ties resolve to
    the lowest cluster, identical to the oracle's ORDER BY d, cluster.
    (The previous fold form evaluated the distance expression twice
    per centroid — once in the comparison, once in the kept struct —
    because higher-order lambdas get no common-subexpression reuse.)

    Invariant this form relies on: every centroid has c >= 1 (init
    seeds c = 1, `_update`'s groupBy only emits clusters with members),
    so d is never NULL.  If a zero-count centroid ever appeared, its
    d would be NULL (division by zero), and NULL sorts FIRST in Spark
    struct ordering — array_min would pick it, where the old fold
    skipped it.  The F.filter below drops c = 0 entries so the
    invariant is enforced, not assumed."""
    best = F.array_min(
        F.transform(
            F.filter(F.col("cents"), lambda ct: ct["c"] >= 1),
            lambda ct: F.struct(
                (
                    _sq_dist_num(F.col("q"), ct["s"], ct["c"]).cast("double")
                    / (ct["c"] * ct["c"]).cast("double")
                ).alias("d"),
                ct["cluster"].alias("k"),
            ),
        )
    )
    return codes.join(F.broadcast(cents_row)).select(
        "vec_id", "q", best["k"].alias("cluster")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids as exact (sum-vector, member-count) pairs: one
    posexplode -> (cluster, dim) partial aggregate, re-assembled into
    sorted arrays (K*DIM rows — tiny at any corpus size)."""
    sums = (
        assigned.select("cluster", F.posexplode("q").alias("i", "x"))
        .groupBy("cluster", "i")
        .agg(F.sum("x").alias("s_i"), F.count("*").alias("c"))
    )
    return sums.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s_i"))),
            lambda t: t["s_i"],
        ).alias("s"),
        F.max("c").alias("c"),
    )


def _to_row(cent: DataFrame) -> DataFrame:
    return cent.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cluster", "s", "c"))).alias(
            "cents"
        )
    )


def _duck_assign(src_cent: str, out: str) -> str:
    num = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range({DIM}), "
        f"i -> (c*q[i+1]-s[i+1])*(c*q[i+1]-s[i+1]))), (a, b) -> a + b)"
    )
    return f"""
{out}_rn AS (
  SELECT vec_id, q, cluster,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY CAST({num} AS DOUBLE) / (c*c), cluster) AS rn
  FROM quant, {src_cent}
), {out} AS (SELECT vec_id, q, cluster FROM {out}_rn WHERE rn = 1)"""


_DUCK_KMEANS_CTES = (
    "WITH "
    + DUCK_QUANT_CTE
    + f""",
cent0 AS (
  SELECT vec_id AS cluster, q AS s, CAST(1 AS BIGINT) AS c
  FROM quant WHERE vec_id < {KMEANS_K}
),"""
    + _duck_assign("cent0", "assign1")
    + f""",
upd1 AS (
  SELECT cluster, i, sum(q[i + 1]) AS s_i, count(*) AS c
  FROM assign1, range({DIM}) t(i) GROUP BY cluster, i
), cent1 AS (
  SELECT cluster, list(s_i ORDER BY i) AS s, max(c) AS c
  FROM upd1 GROUP BY cluster
),"""
    + _duck_assign("cent1", "assign2")
)

_DUCK_KMEANS = (
    _DUCK_KMEANS_CTES
    + """
SELECT a.vec_id, a.cluster, e.label
FROM assign2 a JOIN embeddings e ON a.vec_id = e.vec_id
"""
)


@register("q_ext_kmeans", oracle=_DUCK_KMEANS)
def q_ext_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means ({KMEANS_K} clusters, {KMEANS_ITERS} assignment rounds,
    first-{KMEANS_K}-vectors init) over quantized embedding codes.
    Per iteration: broadcast centroid row -> map-only argmin -> one
    partial-aggregated (cluster, dim) shuffle.  Codes are persisted
    once (both the assignment and update read them); centroid frames
    are K rows, so lineage stays flat across iterations.  Output joins
    the source label for cluster-vs-label inspection."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = quantized_codes(emb).transform(scoped_persist)
    init = codes.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cluster"),
        F.col("q").alias("s"),
        F.lit(1).cast("long").alias("c"),
    )
    cents_row = _to_row(init)
    assigned = _assign(codes, cents_row)
    for _ in range(KMEANS_ITERS - 1):
        cents_row = _to_row(_update(assigned))
        assigned = _assign(codes, cents_row)
    return assigned.join(
        emb.select("vec_id", "label"), "vec_id"
    ).select("vec_id", "cluster", "label")


@register(
    "q_ext_cluster_balance",
    oracle=_DUCK_KMEANS_CTES
    + f"""
, sizes AS (SELECT cluster, count(*) AS n FROM assign2 GROUP BY cluster)
SELECT cluster, n,
       round(n / CAST(sum(n) OVER () AS DOUBLE), 6) AS frac,
       round(-(n / CAST(sum(n) OVER () AS DOUBLE))
             * ln(n / CAST(sum(n) OVER () AS DOUBLE)) / ln({KMEANS_K}), 6)
         AS entropy_term
FROM sizes
""",
)
def q_ext_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic corpus balance: k-means cluster sizes with each
    cluster's share of the ln({KMEANS_K})-normalized entropy (the terms
    sum to 1.0 for a perfectly balanced corpus, toward 0 as one
    semantic mode dominates) — the diversity diagnostic a training
    pipeline checks before sampling.

    Reuses the full q_ext_kmeans assignment plan; everything on top is
    a {KMEANS_K}-row aggregate, with the share computed by a window
    over those K rows (K-bounded, so the unpartitioned window holds K
    rows at any corpus size — never a totals join that would re-run
    the clustering per branch)."""
    from pyspark.sql import Window

    sizes = (
        q_ext_kmeans(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
    )
    total = F.sum("n").over(
        Window.partitionBy()
    )
    frac = F.col("n") / total.cast("double")
    import math

    return sizes.select(
        "cluster",
        "n",
        F.round(frac, 6).alias("frac"),
        F.round(-frac * F.log(frac) / math.log(KMEANS_K), 6).alias(
            "entropy_term"
        ),
    )
