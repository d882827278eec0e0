"""Flagship plan: the multiway-join + aggregate + top-k query that the
driver smoke-checks via ``entry(spark)``.

Exercises in one plan: parquet scan with column pruning + filter
pushdown, broadcast joins for the small dims, a shuffled join for the
fact tables, partial+final hash aggregation, and top-k
(TakeOrderedAndProject, no full sort).

Shape is TPC-H Q5 (public spec): revenue per nation for one region and
one order-date year, where customer and supplier share the nation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.tables import load_table

# Exact-decimal money arithmetic: sums are order-independent, so the
# result is bit-identical across partial-aggregation schedules and
# engines.  Cast back to double for a stable output schema.
_DEC = "decimal(18,2)"


def revenue_expr() -> F.Column:
    return (
        F.col("l_extendedprice").cast(_DEC)
        * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
    )


def local_supplier_revenue(
    spark: SparkSession,
    sf_dir: str,
    region: str = "ASIA",
    date_lo: str = "1995-01-01",
    date_hi: str = "1998-01-01",
) -> DataFrame:
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("region", "nation", "customer", "supplier", "orders", "lineitem")
    }
    # dims are tiny: broadcast so the fact-side join is shuffle-free
    nation = F.broadcast(t["nation"])
    region_df = F.broadcast(t["region"].filter(F.col("r_name") == region))
    supplier = F.broadcast(t["supplier"])
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit(date_lo))
        & (F.col("o_orderdate") < F.lit(date_hi))
    )
    return (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region_df, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue_expr()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


FLAGSHIP_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def entry(spark: SparkSession) -> DataFrame:
    return local_supplier_revenue(spark, "/root/testdata/sf0.001")
