"""Subquery + pivot + grouping-sets surface — the rest of the delegated
MySQL 5.7 relational surface (SURVEY.md §2.4 IN/EXISTS note) plus
engine supersets.  Catalyst decorrelates subqueries into joins
(OptimizeSubqueries / RewriteCorrelatedScalarSubquery), so these plans
scale like the joins they become.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.operators._util import dec_sum
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table


@register(
    "q_sub_scalar",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
""",
)
def q_sub_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: Catalyst evaluates it once and
    broadcasts the scalar into the filter."""
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM {orders}
        WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM {orders})
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


@register(
    "q_sub_in",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_nationkey IN (
  SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE')
""",
)
def q_sub_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) — becomes a left-semi join after rewrite."""
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM {customer}
        WHERE c_nationkey IN (
          SELECT n_nationkey FROM {nation} JOIN {region}
            ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE')
        """,
        customer=load_table(spark, sf_dir, "customer"),
        nation=load_table(spark, sf_dir, "nation"),
        region=load_table(spark, sf_dir, "region"),
    )


@register(
    "q_sub_exists",
    oracle="""
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_suppkey = s_suppkey AND l_quantity >= 48 AND l_discount >= 0.08)
ORDER BY s_suppkey
""",
)
def q_sub_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a compound inner predicate — Catalyst
    decorrelates it to a left-semi join on l_suppkey with the filters
    pushed below the join, so the fact side is pruned before the
    shuffle."""
    return spark.sql(
        """
        SELECT s_suppkey, s_name FROM {supplier}
        WHERE EXISTS (
          SELECT 1 FROM {lineitem}
          WHERE l_suppkey = s_suppkey AND l_quantity >= 48
            AND l_discount >= 0.08)
        ORDER BY s_suppkey
        """,
        supplier=load_table(spark, sf_dir, "supplier"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q_sub_not_in_null",
    oracle="""
SELECT p_partkey, p_name FROM part p
WHERE p_partkey NOT IN (
  SELECT CASE WHEN l_returnflag = 'R' THEN l_partkey END
  FROM lineitem WHERE l_partkey = p.p_partkey AND l_quantity >= 48)
ORDER BY p_partkey
""",
)
def q_sub_not_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN against a correlated subquery whose list can contain
    NULL — the ANSI three-valued-logic trap, exercised deliberately
    (inner filter l_quantity >= 48 keeps all three outcome classes
    populated at sf0.01: 357 / 777 / 866): parts with no qualifying
    line survive (empty list -> TRUE), parts with a qualifying
    returned ('R') line are rejected by a real match, and parts with
    qualifying-but-never-returned lines are ALSO rejected because
    their list is all-NULL and `x <> NULL` is UNKNOWN — the
    pure-NULL-semantics outcome a plain anti-join rewrite would get
    wrong.
    Spark compiles this to its null-aware anti join; DuckDB implements
    the same ANSI semantics (probed: `x NOT IN (SELECT NULL)` is
    empty), so the gate pins the three-valued behavior itself."""
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM {part} p
        WHERE p_partkey NOT IN (
          SELECT CASE WHEN l_returnflag = 'R' THEN l_partkey END
          FROM {lineitem} WHERE l_partkey = p.p_partkey
            AND l_quantity >= 48)
        ORDER BY p_partkey
        """,
        part=load_table(spark, sf_dir, "part"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q_sub_correlated_scalar",
    oracle="""
SELECT c_custkey,
       (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
         AS max_order
FROM customer
WHERE c_custkey % 5 = 0
""",
)
def q_sub_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — decorrelated into an aggregate +
    left outer join by Catalyst."""
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT max(o_totalprice) FROM {orders}
                WHERE o_custkey = c_custkey) AS max_order
        FROM {customer}
        WHERE c_custkey % 5 = 0
        """,
        orders=load_table(spark, sf_dir, "orders"),
        customer=load_table(spark, sf_dir, "customer"),
    )


@register(
    "q_pivot",
    oracle="""
SELECT l_returnflag,
       sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O,
       sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F
FROM lineitem GROUP BY l_returnflag
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (engine superset of MySQL 5.7's CASE-WHEN emulation).
    Explicit value list => single-pass aggregation, no values-discovery
    job."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (superset of rollup/cube)."""
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM {lineitem}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q_agg_vwap",
    oracle="""
WITH pl AS (
  SELECT l_suppkey,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
         CAST(l_quantity AS DECIMAL(18,2)) AS q
  FROM lineitem
)
SELECT l_suppkey,
       CAST(sum(p * q) AS DOUBLE) / CAST(sum(q) AS DOUBLE) AS vwap
FROM pl GROUP BY l_suppkey
""",
)
def q_agg_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price — THE canonical trading aggregate
    over the reference's data model (price x quantity / volume)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice").cast("decimal(18,2)")
    q = F.col("l_quantity").cast("decimal(18,2)")
    return li.groupBy("l_suppkey").agg(
        (F.sum(p * q).cast("double") / F.sum(q).cast("double")).alias("vwap")
    )


@register(
    "q_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, measure, CAST(val AS DOUBLE) AS val
FROM (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS quantity,
         CAST(l_extendedprice AS DOUBLE) AS price,
         CAST(l_discount AS DOUBLE) AS discount
  FROM lineitem WHERE l_orderkey < 100
) UNPIVOT (val FOR measure IN (quantity, price, discount))
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (inverse of q_pivot): wide measure columns to
    (measure, val) rows via the native UNPIVOT operator — a map-only
    Expand node (each input row emits k rows), no shuffle, no UDTF."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.filter(F.col("l_orderkey") < 100).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("l_discount").cast("double").alias("discount"),
    )
    return wide.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "price", "discount"],
        "measure",
        "val",
    )


# One SQL text, two engines: the template below is ANSI enough that it
# IS the oracle — Spark runs it with ``{orders}`` bound to the loaded
# table, DuckDB with it rendered as the plain ``orders`` parquet view.
# The window denominator re-casts the 2-dp revenue to DECIMAL so the
# per-day sum is order-independent (a double window sum would be
# schedule-dependent in the last ulp).
_SQL_SURFACE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, o_orderpriority AS prio,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM {orders}
  GROUP BY CAST(o_orderdate AS DATE), o_orderpriority
)
SELECT d, prio, round(rev, 6) AS rev,
       round(rev / CAST(SUM(CAST(rev AS DECIMAL(18,2)))
                        OVER (PARTITION BY d) AS DOUBLE), 6) AS day_share
FROM daily
"""


@register("q_sql_surface", oracle=_SQL_SURFACE.format(orders="orders"))
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL front door: daily revenue and within-day share per
    order priority, declared as ONE engine-portable SQL string run by
    `spark.sql(...)` over the loaded table AND by the DuckDB oracle —
    the literal workflow of the reference's SQL consumers
    (start_all_pipeline.py:504-520 delegates everything to SQL),
    proving the engine's SQL surface, not just the DataFrame API,
    produces the canonical plans (same Catalyst output either way:
    partial+final aggregate, one day-keyed window)."""
    return spark.sql(_SQL_SURFACE, orders=load_table(spark, sf_dir, "orders"))


# --- recursive CTE (Spark 4 surface) ----------------------------------------
# WITH RECURSIVE landed in Spark 4.0 (SPARK-24497); this registers it
# with a real use: shortest-hop reachability over the event-type
# transition graph.  The Spark side builds the edge table as a
# PERSISTED DataFrame and recurses over that cached frame: a naive
# one-string form (which the DuckDB oracle, a materializing engine,
# runs verbatim) inlines the edges CTE into the UnionLoop STEP, so
# every iteration re-scans the corpus and re-runs the lead() window —
# the .explain() audit caught exactly that.  With the cache, the
# corpus cost is one window pass and the loop touches only the
# types^2-bounded in-memory edge table.

REACH_MAX_HOPS = 4

_REACH_RECURSION_SQL = f"""
WITH RECURSIVE reach (src, dst, hops) AS (
  SELECT src, dst, 1 FROM {{edges}}
  UNION ALL
  SELECT r.src, e.dst, r.hops + 1
  FROM reach r JOIN {{edges}} e ON e.src = r.dst
  WHERE r.hops < {REACH_MAX_HOPS} AND e.dst != r.src
)
SELECT src, dst, CAST(min(hops) AS BIGINT) AS min_hops
FROM reach GROUP BY src, dst
"""

_TRANSITION_REACH_ORACLE = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
),
edges AS (
  SELECT DISTINCT event_type AS src, next_type AS dst
  FROM seq
  WHERE next_type IS NOT NULL AND next_type != event_type
),
reach (src, dst, hops) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT r.src, e.dst, r.hops + 1
  FROM reach r JOIN edges e ON e.src = r.dst
  WHERE r.hops < {REACH_MAX_HOPS} AND e.dst != r.src
)
SELECT src, dst, CAST(min(hops) AS BIGINT) AS min_hops
FROM reach GROUP BY src, dst
"""


@register("q_ext_transition_reach", oracle=_TRANSITION_REACH_ORACLE)
def q_ext_transition_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop reachability (<= {REACH_MAX_HOPS} hops) between
    event types via WITH RECURSIVE — the Spark 4 recursive-CTE
    surface exercised on the transition graph q_ext_event_transitions
    derives.  min(hops) collapses the UNION ALL path multiplicity, so
    the fixpoint is deterministic in both engines.

    Plan: one user-partitioned lead() window + distinct builds the
    edge list (types^2-bounded), PERSISTED and bound into the SQL so
    the recursion's anchor AND step read the cache — without it Spark
    inlines the edge CTE into the loop and re-scans the corpus per
    iteration (machine-asserted in tests/test_plans.py).  At 100 TB
    the corpus cost is the single window pass; the loop's size
    depends on the type alphabet, not the data."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
    )
    reach = spark.sql(_REACH_RECURSION_SQL, edges=edges)
    # persist AFTER binding: spark.sql drops the temp view it bound
    # `edges` to, and dropping a view uncaches its plan.  The cache is
    # matched into `reach`'s plan when `reach` executes.
    scoped_persist(edges)
    return reach
