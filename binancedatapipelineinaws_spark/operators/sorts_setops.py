"""Sort / limit / top-k / distinct / set operations (SURVEY.md §2.6).

ORDER BY + LIMIT compiles to TakeOrderedAndProject — a per-partition
top-k heap plus a driver merge, never a full sort; that's the plan that
survives 100 TB.  Orderings always include a unique key so top-k is
deterministic under ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.tables import load_table


@register(
    "q_sort_limit",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""",
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@register(
    "q_sort_multi_nulls",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal
FROM customer
ORDER BY pos_bal ASC NULLS LAST, c_mktsegment DESC, c_custkey
LIMIT 100
""",
)
def q_sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit null ordering (negative balances
    null-ed out to exercise it)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.when(F.col("c_acctbal") < 0, None)
            .otherwise(F.col("c_acctbal"))
            .alias("pos_bal"),
        )
        .orderBy(
            F.col("pos_bal").asc_nulls_last(),
            F.col("c_mktsegment").desc(),
            F.col("c_custkey"),
        )
        .limit(100)
    )


@register(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "q_drop_duplicates",
    oracle="""
SELECT o_custkey, min(o_orderkey) AS o_orderkey
FROM orders GROUP BY o_custkey
""",
)
def q_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates with a deterministic survivor (min orderkey per
    customer) — expressed as an aggregation because 'keep an arbitrary
    row' isn't oracle-checkable."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(F.min("o_orderkey").alias("o_orderkey"))


@register(
    "q_union_all",
    oracle="""
SELECT event_id, user_id, 'purchase' AS kind FROM events WHERE event_type = 'purchase'
UNION ALL
SELECT event_id, user_id, 'signup' AS kind FROM events WHERE event_type = 'signup'
""",
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.lit("purchase").alias("kind")
    )
    b = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.lit("signup").alias("kind")
    )
    return a.unionByName(b)


@register(
    "q_union_distinct",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
UNION
SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9900
""",
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("custkey")
    )
    b = c.filter(F.col("c_acctbal") > 9900).select(
        F.col("c_custkey").alias("custkey")
    )
    return a.unionByName(b).distinct()


@register(
    "q_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@register(
    "q_except",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
""",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations with customers but no high-balance supplier."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.subtract(s)  # EXCEPT (set semantics)


@register(
    "q_except_all",
    oracle="""
SELECT l_returnflag AS flag FROM lineitem WHERE l_quantity > 45
EXCEPT ALL
SELECT l_returnflag AS flag FROM lineitem WHERE l_quantity > 48
""",
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT (multiplicity-preserving) — superset of
    MySQL 5.7."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 45).select(
        F.col("l_returnflag").alias("flag")
    )
    b = li.filter(F.col("l_quantity") > 48).select(
        F.col("l_returnflag").alias("flag")
    )
    return a.exceptAll(b)
