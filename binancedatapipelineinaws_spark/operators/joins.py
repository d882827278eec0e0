"""Join surface (SURVEY.md §2.4).

The reference delegates joins to MySQL 5.7 (inner/left/right/cross,
semi/anti via IN/EXISTS; no FULL OUTER — the engine supersets it).
All joins are declared; Catalyst + AQE pick broadcast vs shuffled-hash
vs sort-merge at runtime.  Dim tables (region/nation/supplier) get
explicit broadcast hints — at 100 TB the fact side never shuffles for
those.  The as-of join (time-series idiom for the BTCUSDT data) is a
composition: union + last(ignorenulls) over an event-time window — one
shuffle on the join key, no per-row range probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.operators._util import dec_sum
from binancedatapipelineinaws_spark.plans.flagship import (
    FLAGSHIP_ORACLE,
    local_supplier_revenue,
)
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table


@register(
    "q_join_inner",
    oracle="""
SELECT l_orderkey, l_linenumber, o_orderstatus, o_orderpriority,
       l_quantity, o_totalprice
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'F'
""",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_orderstatus", "o_orderpriority",
        "l_quantity", "o_totalprice",
    )


@register(
    "q_join_left",
    oracle="""
SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders
  ON c_custkey = o_custkey AND o_totalprice > 400000
""",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000),
        "left",
    ).select("c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice")


@register(
    "q_join_right",
    oracle="""
SELECT o_orderkey, o_orderstatus, c_custkey, c_mktsegment
FROM customer RIGHT JOIN orders
  ON c_custkey = o_custkey AND c_acctbal > 9000
""",
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(
        o,
        (c.c_custkey == o.o_custkey) & (c.c_acctbal > 9000),
        "right",
    ).select("o_orderkey", "o_orderstatus", "c_custkey", "c_mktsegment")


@register(
    "q_join_full",
    oracle="""
WITH cust_n AS (
  SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1
), supp_n AS (
  SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1
)
SELECT coalesce(cust_n.nk, supp_n.nk) AS nationkey, n_cust, n_supp
FROM cust_n FULL OUTER JOIN supp_n ON cust_n.nk = supp_n.nk
""",
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, c.nk == s.nk, "full").select(
        F.coalesce(c.nk, s.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "q_join_broadcast",
    oracle="""
SELECT n_name, r_name, count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
""",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast of the dims: BroadcastHashJoin, zero shuffle of
    the customer side (asserted in tests)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.count("*").alias("n_customers"),
            dec_sum("c_acctbal").alias("total_bal"),
        )
    )


@register(
    "q_join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
""",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_cross",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "q_join_theta_range",
    oracle="""
WITH bands AS (
  SELECT range AS band_id,
         range * 10000.0 AS lo,
         (range + 1) * 10000.0 AS hi
  FROM range(11)
)
SELECT band_id, count(*) AS n_items, min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price
FROM lineitem JOIN bands
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band_id
""",
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join: price bands.  The band table is tiny, so
    Spark plans BroadcastNestedLoopJoin — each row tests ~11 bands,
    no shuffle.  At 100 TB this stays a broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.range(11).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 10000.0).alias("lo"),
        ((F.col("id") + 1) * 10000.0).alias("hi"),
    )
    return (
        li.join(
            F.broadcast(bands),
            (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_items"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


@register(
    "q_join_asof",
    oracle="""
WITH clicks AS (      -- dedupe equal timestamps deterministically
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT event_id AS purchase_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.value,
       c.click_id AS last_click_id, c.ts AS last_click_ts
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, Spark-first: no built-in exists, so compose it as
    union + last(ignorenulls) over an event-time window — one shuffle on
    (user_id), linear scan per key, no per-row range probe.  This is the
    scale-out formulation (a range join would be quadratic per key).

    Semantics = DuckDB ASOF LEFT JOIN: for each purchase, the latest
    click of the same user with click.ts <= purchase.ts.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "ts", "click_id", F.lit(0).alias("side"))
        .withColumn("purchase_id", F.lit(None).cast("long"))
        .withColumn("value", F.lit(None).cast("double"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            F.lit(None).cast("long").alias("click_id"),
            F.lit(1).alias("side"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
    )
    # ties: click sorts before purchase at equal ts => inclusive (<=) match
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = clicks.unionByName(purchases).select(
        "purchase_id",
        "user_id",
        "value",
        "ts",
        "side",
        F.last("click_id", ignorenulls=True).over(w).alias("last_click_id"),
        F.last(
            F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True
        ).over(w).alias("last_click_ts"),
    )
    return merged.filter(F.col("side") == 1).select(
        "purchase_id", "user_id", "value", "last_click_id", "last_click_ts"
    )


@register("q_join_multiway", oracle=FLAGSHIP_ORACLE)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship 6-table chain (plans/flagship.py)."""
    return local_supplier_revenue(spark, sf_dir)


# --- TPC-H Q3 shape: top-k pending revenue ----------------------------------


@register(
    "q_join_topk_revenue",
    oracle="""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_join_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (public spec): the 10 highest-revenue orders not
    yet shipped by a cutoff date, for one market segment — the classic
    filter-join-aggregate-topk pipeline a relational consumer of the
    reference's Aurora surface runs daily
    (start_all_pipeline.py:504-520's delegated SELECT family).

    Plan: both date filters push to the parquet scans, the filtered
    customer dim broadcasts, the orders-lineitem join shuffles on the
    shared key, the aggregate is partial+final, and the top-10 is
    TakeOrderedAndProject — no global sort.  Exact-decimal revenue
    (order-independent sums) cast to double at the boundary."""
    cutoff = "1995-03-15"
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff)
    )
    dec = "decimal(18,2)"
    revenue = F.col("l_extendedprice").cast(dec) * (
        F.lit(1).cast(dec) - F.col("l_discount").cast(dec)
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q_ext_ship_delay",
    oracle="""
WITH delays AS (
  SELECT o_orderpriority,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS delay
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_items,
       round(avg(delay), 6) AS avg_delay_days,
       round(quantile_cont(delay, 0.5), 6) AS p50,
       round(quantile_cont(delay, 0.95), 6) AS p95
FROM delays GROUP BY o_orderpriority
""",
)
def q_ext_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority — the
    fulfillment-SLA query (is URGENT actually shipped faster, and by
    how much at the tail?).

    Plan: the classic fact-fact equi-join shuffled on the shared order
    key (both sides partial-projected to two columns before the
    exchange), then a priorities-bounded aggregate; `percentile`
    buffers one priority's delays per task — the
    q_ext_len_bands_by_lang discipline, with approx_percentile as the
    documented 100 TB swap."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("od")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    delays = o.join(li, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority", F.datediff("sd", "od").alias("delay")
    )
    return delays.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(F.avg("delay"), 6).alias("avg_delay_days"),
        F.round(F.expr("percentile(delay, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(delay, 0.95)"), 6).alias("p95"),
    )


@register(
    "q_ext_tpch_q5",
    oracle="""
SELECT n_name,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1.00 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE), 6) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
)
def q_ext_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue from lineitems where
    the supplier and the ordering customer share a nation, per nation,
    for one region and a date range — the 6-table join benchmark
    classic, exercising a join ON a non-key equality (s_nationkey =
    c_nationkey) threaded through the fact chain.

    Plan: region/nation/supplier/customer are dims -> broadcast (the
    nation-region prefilter shrinks customer before it ships); the
    date filter pushes into the orders scan; the only shuffles are the
    fact-fact orders-lineitem join and the final nations-bounded
    aggregate.  Exact-decimal revenue summed order-independently, cast
    to double at the boundary (the q_join_topk_revenue discipline)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    asia_nations = F.broadcast(
        nation.join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .join(
            asia_nations, F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("c_custkey", "c_nationkey", "n_name")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey"
        )
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(18,2)"
    revenue = F.col("l_extendedprice").cast(dec) * (
        F.lit(1).cast(dec) - F.col("l_discount").cast(dec)
    )
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue).cast("double"), 6).alias("revenue"))
    )


@register(
    "q_ext_tpch_q10",
    oracle="""
SELECT c_custkey, c_name, n_name,
       round(c_acctbal, 6) AS c_acctbal,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1.00 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE), 6) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q_ext_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (public spec, adapted to this schema's columns):
    the top customers by revenue lost to returned items in a window —
    the returned-item report joining both facts with two dims.

    Plan: customer and nation broadcast; the return-flag and date
    filters push into the lineitem/orders scans; one fact-fact shuffle;
    exact-decimal revenue; the top-20 is TakeOrderedAndProject with a
    deterministic (revenue desc, custkey) tiebreak in both engines."""
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal"
        )
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    dec = "decimal(18,2)"
    revenue = F.col("l_extendedprice").cast(dec) * (
        F.lit(1).cast(dec) - F.col("l_discount").cast(dec)
    )
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.round(F.sum(revenue).cast("double"), 6).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 6).alias("c_acctbal"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q_ext_tpch_q6",
    oracle="""
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS revenue_delta,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_ext_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (public spec): the forecast-revenue-change scan — a
    pure filter+aggregate with NO join, the query that measures
    predicate pushdown and scan throughput in isolation (the
    complement of Q5/Q10's join shapes).

    Plan: every predicate reaches the parquet scan (date range,
    discount band, quantity cap all pushable), one partial+final
    1-row aggregate; exact-decimal product.  At 100 TB this is the
    pure scan-bandwidth query — row-group statistics skip everything
    outside the ship-date range."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    dec = "decimal(18,2)"
    return li.agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast(dec)
                * F.col("l_discount").cast(dec)
            ).cast("double"),
            6,
        ).alias("revenue_delta"),
        F.count("*").alias("n_items"),
    )


@register(
    "q_ext_ltv_cohort",
    oracle="""
WITH firsts AS (
  SELECT o_custkey, min(year(o_orderdate)) AS cohort_year
  FROM orders GROUP BY o_custkey
)
SELECT f.cohort_year,
       year(o.o_orderdate) AS order_year,
       count(DISTINCT o.o_custkey) AS n_customers,
       CAST(count(*) AS BIGINT) AS n_orders,
       -- DECIMAL: double sums are addition-order dependent and a cohort
       -- cell sums thousands of them; exact decimal partials make the
       -- rounded value schedule- and engine-independent
       round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
         AS revenue
FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
GROUP BY f.cohort_year, year(o.o_orderdate)
""",
)
def q_ext_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value cohort matrix: customers grouped by
    first-order year, revenue and activity tracked per subsequent
    order year — the relational-side LTV complement of
    q_ext_cohort_retention's weekly event view.

    Plan: one per-customer first-year aggregate, one customer-keyed
    join back (both shuffles on the uniform customer key), then a
    years^2-bounded rollup — the output is calendar-bounded at any
    corpus size."""
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.year("o_orderdate")).alias("cohort_year")
    )
    return (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_year", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast(
                    "double"
                ),
                6,
            ).alias("revenue"),
        )
    )


@register(
    "q_ext_supplier_hhi",
    oracle="""
WITH sup_rev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (1.00 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
nat AS (
  SELECT n_nationkey, n_name FROM nation
)
SELECT n.n_name,
       count(*) AS n_suppliers,
       round(CAST(sum(rev) AS DOUBLE), 6) AS nation_revenue,
       -- HHI = sum(rev^2)/t^2 with the numerator summed in EXACT
       -- decimal: a double sum of squared shares over thousands of
       -- suppliers is addition-order dependent and can flip the 6-dp
       -- rounding between engines
       round(CAST(sum(rev * rev) AS DOUBLE)
             / (CAST(tot.t AS DOUBLE) * CAST(tot.t AS DOUBLE)), 6)
         AS hhi
FROM sup_rev r
JOIN nat n ON r.s_nationkey = n.n_nationkey
JOIN (SELECT s_nationkey, sum(rev) AS t FROM sup_rev GROUP BY s_nationkey)
  tot ON tot.s_nationkey = r.s_nationkey
GROUP BY n.n_name, tot.t
""",
)
def q_ext_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation as the
    Herfindahl-Hirschman index (sum of squared revenue shares): ~1/n =
    competitive supply base, ->1 = a single supplier owns the nation's
    volume — the supply-chain-risk cousin of q_ext_activity_gini, and
    (read as key-weight concentration) a shuffle-skew forecast for
    supplier-keyed joins.

    Plan: one fact-side partial-aggregated (nation, supplier) revenue
    pass (supplier dim broadcast into the scan); nation totals are a
    nations-bounded rollup of the same cells joined back by broadcast;
    exact-decimal partials make shares schedule-independent."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = F.broadcast(
        load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey"
        )
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    dec = "decimal(18,2)"
    rev = F.col("l_extendedprice").cast(dec) * (
        F.lit(1).cast(dec) - F.col("l_discount").cast(dec)
    )
    sup_rev = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(rev).alias("rev"))
    )
    tot = sup_rev.groupBy("s_nationkey").agg(F.sum("rev").alias("t"))
    return (
        sup_rev.join(F.broadcast(tot), "s_nationkey")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "t")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum("rev").cast("double"), 6).alias(
                "nation_revenue"
            ),
            F.round(
                F.sum(F.col("rev") * F.col("rev")).cast("double")
                / (F.col("t").cast("double") * F.col("t").cast("double")),
                6,
            ).alias("hhi"),
        )
        .drop("t")
    )


@register(
    "q_ext_tpch_q1",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,5))) AS DOUBLE), 6)
         AS sum_qty,
       -- money sums: round IN DECIMAL (exact, half-up in both
       -- engines) and only then cast to double.  At sf1 these sums
       -- reach ~5e10 where a double's ulp (~1.5e-5) exceeds 1e-6, so
       -- rounding the DOUBLE at 6 dp digitizes engine-dependent noise
       -- (the r7 sf1 drill caught sum_charge flipping its 6th
       -- decimal).  The narrow factor casts keep the triple product
       -- at (24,6), inside width 38 for both engines, no scale
       -- reduction anywhere.
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1.00 AS DECIMAL(3,2))
                        - CAST(l_discount AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (CAST(1.00 AS DECIMAL(3,2))
                        - CAST(l_discount AS DECIMAL(4,2)))
                     * (CAST(1.00 AS DECIMAL(3,2))
                        + CAST(l_tax AS DECIMAL(4,2)))), 2)
            AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,5))) AS DOUBLE)
             / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-01'
GROUP BY l_returnflag, l_linestatus
""",
)
def q_ext_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (public spec): the pricing summary report — the
    canonical partial-aggregation benchmark (six sums/averages over a
    near-full scan into a handful of groups; map-side combine does
    ~all the work).

    Plan: one pushed date filter, one partial+final aggregate over the
    (returnflag, linestatus)-bounded key space; every money sum in
    exact decimal so partial-agg schedules and engines agree
    bit-for-bit; averages derived from the exact sums, not avg()
    (whose double accumulation is order-dependent)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-06-01")
    )
    d2, d5 = "decimal(18,2)", "decimal(18,5)"
    qty = F.col("l_quantity").cast(d5)
    price = F.col("l_extendedprice").cast(d2)
    # narrow casts for the PRODUCT terms so (12,2)x(5,2)x(5,2)=(24,6)
    # fits decimal width 38 in both engines with no scale reduction
    # (whose rounding rules differ: Spark half-up, DuckDB truncate)
    nprice = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    n = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty).cast("double"), 6).alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias(
                "sum_base_price"
            ),
            F.round(F.sum(nprice * (one - disc)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(nprice * (one - disc) * (one + tax)), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / n, 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / n, 6).alias(
                "avg_price"
            ),
            F.round(F.sum(disc).cast("double") / n, 6).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@register(
    "q_ext_tpch_q14",
    oracle="""
SELECT round(CAST(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1.00 - CAST(l_discount AS DECIMAL(18,2)))
                  ELSE CAST(0 AS DECIMAL(18,2)) END)
             / sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1.00 - CAST(l_discount AS DECIMAL(18,2))))
             AS DOUBLE), 6) AS promo_revenue_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-07-01'
""",
)
def q_ext_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (public spec): promotion-revenue share for a shipping
    window — the broadcast-dim + conditional-aggregate shape (part is
    the dim; the CASE routes revenue into the promo bucket).

    Plan: date filter pushed to the lineitem scan, part broadcast,
    one partial+final 1-row aggregate; both the numerator and the
    denominator are exact-decimal sums, the percentage is one double
    division at the end."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    )
    d2 = "decimal(18,2)"
    rev = F.col("l_extendedprice").cast(d2) * (
        F.lit(1).cast(d2) - F.col("l_discount").cast(d2)
    )
    promo = F.when(
        F.col("p_type").startswith("PROMO"), rev
    ).otherwise(F.lit(0).cast(d2))
    return li.join(part, F.col("l_partkey") == F.col("p_partkey")).agg(
        F.round(
            (F.lit(100.0) * F.sum(promo) / F.sum(rev)).cast("double"), 6
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_items"),
    )


@register(
    "q_ext_tpch_q18",
    oracle="""
WITH big AS (
  SELECT l_orderkey,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,5))) AS DOUBLE), 6)
           AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,5))) > 300
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey  = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def q_ext_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (public spec): large-volume customers — every order
    whose total line quantity exceeds a threshold, with its customer,
    ranked by order value.  The aggregate-then-join-back benchmark
    shape (the HAVING filter runs BEFORE any wide table ships).

    Plan: lineitem partial-aggregates to (orderkey, sum_qty) with
    map-side combine, the HAVING prunes it to a tiny survivor set, the
    survivors BROADCAST into orders (the fact table never shuffles for
    the probe), customer broadcasts, and the top-100 is
    TakeOrderedAndProject.  At 100 TB the only exchange is the
    orderkey partial-agg — the join side is all broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,5)")).alias("q"))
        .filter(F.col("q") > 300)
        .select(
            "l_orderkey",
            F.round(F.col("q").cast("double"), 6).alias("sum_qty"),
        )
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    )
    return (
        orders.join(
            F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
        )
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q_ext_tpch_q19",
    oracle="""
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1.00 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE), 6) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def q_ext_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (public spec, predicates adapted to the columns
    this star schema carries — no p_container/l_shipmode here):
    discounted revenue over a DISJUNCTION of (brand, size-range,
    quantity-range) clauses — the classic OR-of-conjunctions join
    where naive planning degrades to a cartesian filter.

    Plan: part is the dim -> broadcast hash join on p_partkey alone;
    the disjunction stays a post-join filter evaluated inside
    whole-stage codegen (never a join condition, so no
    BroadcastNestedLoopJoin); the brand/size part-side prefilter
    (union of the three brand clauses) prunes the broadcast build
    side, and the quantity prefilter (union of the quantity bands)
    pushes to the lineitem scan.  One 1-row exact-decimal aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
            & (F.col("p_size") <= 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    d2 = "decimal(18,2)"
    rev = F.col("l_extendedprice").cast(d2) * (
        F.lit(1).cast(d2) - F.col("l_discount").cast(d2)
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(clause)
        .agg(
            F.round(F.sum(rev).cast("double"), 6).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_ext_tpch_q7",
    oracle="""
WITH shipping AS (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
         * (1.00 - CAST(l_discount AS DECIMAL(18,2))) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
)
SELECT supp_nation, cust_nation, l_year,
       round(CAST(sum(volume) AS DOUBLE), 6) AS revenue
FROM shipping
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q_ext_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (public spec): bilateral shipping volume — revenue
    flowing between two nations (supplier side vs customer side), per
    ship year.  Exercises a DISJUNCTIVE cross-dimension predicate
    spanning the two ends of the fact chain.

    Plan: both nation dims prefilter to the two named nations and
    broadcast — supplier/customer shrink to the two-nation subsets
    BEFORE any fact row moves, so the (n1,n2) OR pair condition
    evaluates post-join over already-tiny sides; the date filter
    pushes to the lineitem scan; the only shuffle is the fact-fact
    orderkey join; exact-decimal volume."""
    nations = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    d2 = "decimal(18,2)"
    volume = F.col("l_extendedprice").cast(d2) * (
        F.lit(1).cast(d2) - F.col("l_discount").cast(d2)
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            orders.join(cust, F.col("c_custkey") == F.col("o_custkey")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(volume).cast("double"), 6).alias("revenue"))
    )


@register(
    "q_ext_tpch_q8",
    oracle="""
WITH allrev AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2))
         * (1.00 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region    ON n2.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,2)) END)
                  / sum(volume) AS DOUBLE), 6) AS mkt_share,
       count(*) AS n_items
FROM allrev GROUP BY o_year
""",
)
def q_ext_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (public spec shape): national market share — the
    fraction of revenue from orders placed by customers in one REGION
    that was supplied from one NATION, per order year.  The
    numerator/denominator conditional-share aggregate over a
    dim-heavy join.

    Plan: the region->nation->customer prefilter chain collapses into
    one broadcast (the q_ext_tpch_q5 discipline); supplier+nation
    broadcast with the supp_nation label carried; the single shuffle
    is the orderkey fact-fact join; numerator and denominator are
    exact-decimal sums split by CASE in ONE aggregate pass, divided
    once at the end."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    region_nations = F.broadcast(
        nation.join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .join(
            region_nations, F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("c_custkey")
    )
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    d2 = "decimal(18,2)"
    volume = F.col("l_extendedprice").cast(d2) * (
        F.lit(1).cast(d2) - F.col("l_discount").cast(d2)
    )
    national = F.when(
        F.col("supp_nation") == "NATION_7", volume
    ).otherwise(F.lit(0).cast(d2))
    return (
        li.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            orders.join(cust, F.col("c_custkey") == F.col("o_custkey")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                (F.sum(national) / F.sum(volume)).cast("double"), 6
            ).alias("mkt_share"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_ext_tpch_q13",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey, count(*) AS c_count FROM orders GROUP BY o_custkey
)
SELECT coalesce(c_count, 0) AS c_count,
       count(*) AS custdist
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY coalesce(c_count, 0)
""",
)
def q_ext_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (public spec shape): customer order-count
    distribution, INCLUDING zero-order customers — the left-join +
    double-aggregation benchmark (the outer join exists precisely to
    keep the empty groups).

    Plan: orders partial-aggregates to (custkey, count) FIRST — the
    wide fact never joins raw — then customer left-joins the counts
    table on the shared key and the histogram is a second
    partial+final aggregate over the tiny count domain.  At 100 TB
    both aggregations combine map-side; the only wide shuffle is the
    custkey join."""
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c_count"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(
            per_cust, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q_ext_tpch_q15",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(total_rev AS DOUBLE), 6) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM revenue)
""",
)
def q_ext_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (public spec): top supplier — the supplier(s) whose
    quarter revenue equals the maximum over all suppliers.  The
    view-plus-scalar-subquery benchmark shape.

    Plan: the date-filtered lineitem partial-aggregates to the
    suppliers-bounded revenue table, which persists and feeds BOTH
    the max (1-row broadcast) and the equality filter — one corpus
    pass; the supplier dim broadcasts.  Revenue is EXACT DECIMAL so
    the `= max` comparison is safe — with float sums ties would be
    schedule-dependent."""
    d2 = "decimal(18,2)"
    rev = F.col("l_extendedprice").cast(d2) * (
        F.lit(1).cast(d2) - F.col("l_discount").cast(d2)
    )
    revenue = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev).alias("total_rev"))
        .transform(scoped_persist)
    )
    mx = revenue.agg(F.max("total_rev").alias("max_rev"))
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(supp, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_rev").cast("double"), 6).alias(
                "total_revenue"
            ),
        )
    )


@register(
    "q_ext_tpch_q17",
    oracle="""
WITH brand_parts AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'
), stats AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         count(*) AS cnt
  FROM lineitem JOIN brand_parts ON p_partkey = l_partkey
  GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) / 7.0, 6) AS avg_yearly,
       count(*) AS n_items
FROM lineitem
JOIN stats ON stats.l_partkey = lineitem.l_partkey
WHERE 5 * CAST(l_quantity AS BIGINT) * cnt < sum_qty
""",
)
def q_ext_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (public spec shape): small-quantity-order revenue —
    lineitems of one brand whose quantity is below 20% of that part's
    average order quantity.  The correlated-scalar-subquery
    decorrelation benchmark.

    Plan: the correlated `0.2 * avg(l_quantity)` subquery decorrelates
    into a per-part (sum, count) aggregate over the brand-prefiltered
    lineitems (brand part keys broadcast), which then BROADCASTS back
    into the same filtered fact — no self-join shuffle.  The
    threshold test is rewritten ALL-INTEGER (qty < 0.2*sum/cnt  <=>
    5*qty*cnt < sum for positive integers), so no float division can
    flip a row between engines or partial-agg schedules."""
    brand_parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(brand_parts, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "l_partkey",
            F.col("l_quantity").cast("long").alias("qty"),
            "l_extendedprice",
        )
        .transform(scoped_persist)
    )
    stats = li.groupBy(F.col("l_partkey").alias("sk")).agg(
        F.sum("qty").alias("sum_qty"), F.count("*").alias("cnt")
    )
    return (
        li.join(F.broadcast(stats), F.col("sk") == F.col("l_partkey"))
        .filter(5 * F.col("qty") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                / 7.0,
                6,
            ).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "q_ext_tpch_q4",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
)
def q_ext_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (public spec; the commit-vs-receipt lateness test
    adapted to the carried columns as ship-lag > 60 days): orders in a
    quarter having at least one late-shipped line, counted per
    priority — the correlated-EXISTS -> LEFT SEMI join benchmark.

    Plan: the date window pushes to the orders scan, the EXISTS
    becomes one left-semi join on the order key with the correlated
    date comparison riding the join condition (each order emitted at
    most once, no post-join dedup), then a priorities-bounded
    aggregate."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "q_ext_tpch_q22",
    oracle="""
WITH pos AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 0
), bar AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         / count(*) AS avg_bal
  FROM pos
)
SELECT count(*) AS n_custs,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6)
         AS total_bal
FROM pos JOIN bar ON c_acctbal > avg_bal
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
)
def q_ext_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (public spec; the phone-prefix grouping the
    schema doesn't carry is dropped): rich-but-inactive customers —
    above-average positive balance AND no orders at all — the
    scalar-subquery-threshold + anti-join benchmark.

    Plan: the average is a 1-row exact-decimal aggregate broadcast
    back as a threshold (deterministic: exact integer-cent sum, one
    IEEE division); the NOT EXISTS is one left-anti join on the
    customer key; output is a 1-row exact-decimal rollup."""
    d2 = "decimal(18,2)"
    pos = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_acctbal")
        .transform(scoped_persist)
    )
    bar = pos.agg(
        (
            F.sum(F.col("c_acctbal").cast(d2)).cast("double") / F.count("*")
        ).alias("avg_bal")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        pos.crossJoin(F.broadcast(bar))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
        )
        .agg(
            F.count("*").alias("n_custs"),
            F.round(
                F.sum(F.col("c_acctbal").cast(d2)).cast("double"), 6
            ).alias("total_bal"),
        )
    )


@register(
    "q_ext_catalog_coverage",
    oracle="""
WITH ordered_parts AS (
  SELECT DISTINCT l_partkey FROM lineitem
)
SELECT count(*) AS n_parts,
       CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_never_ordered,
       round(CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS dead_stock_frac
FROM part LEFT JOIN ordered_parts ON p_partkey = l_partkey
""",
)
def q_ext_catalog_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog coverage: how much of the part catalog has never been
    ordered — the dead-stock / referential-health headline (the
    inverse direction of q_ext_ri_check's orphan sweep).

    Plan: lineitem reduces to its distinct part keys FIRST (partial-
    aggregated), the catalog left-joins that key set, and the flags
    roll up to one row.  At 100 TB the fact table contributes only
    its key dictionary to the join."""
    ordered_parts = (
        load_table(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    never = F.when(F.col("l_partkey").isNull(), 1).otherwise(0)
    return (
        part.join(
            ordered_parts, F.col("p_partkey") == F.col("l_partkey"), "left"
        )
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(never).alias("n_never_ordered"),
            F.round(
                F.sum(never).cast("double") / F.count("*"), 6
            ).alias("dead_stock_frac"),
        )
    )


@register(
    "q_ext_tpch_q3",
    oracle="""
SELECT l_orderkey,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1.00 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE), 6) AS revenue,
       o_orderdate
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-15'
  AND l_shipdate > TIMESTAMP '1997-06-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_ext_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (public spec; o_shippriority is not carried by
    the schema and is dropped): the 10 highest-revenue orders placed
    before the cutoff in one market segment that still have lines
    shipping after it — the shipping-priority benchmark classic.

    Plan: the segment filter shrinks customer to a broadcast dim; the
    date predicates push into both fact scans; one fact-fact shuffle
    on the order key; the final top-10 is `orderBy().limit()` ->
    TakeOrderedAndProject (per-partition partial top-k, only 10 rows
    per task reach the driver-side merge — never a global sort).
    Exact-decimal revenue, tie-broken by order key so the row set is
    engine-portable."""
    cutoff = "1997-06-15"
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(cutoff))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(cutoff))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    dec = "decimal(18,2)"
    revenue = F.col("l_extendedprice").cast(dec) * (
        F.lit(1).cast(dec) - F.col("l_discount").cast(dec)
    )
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(revenue).cast("double"), 6).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q_ext_tpch_q16",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#2'
  AND p_type NOT LIKE 'ECONOMY%'
  AND p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 20
""",
)
def q_ext_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (public spec; the schema carries no partsupp, so
    the part-supplier relationship derives from lineitem's
    (l_partkey, l_suppkey) pairs, and the no-complaints supplier
    exclusion is dropped with it): how many distinct suppliers ship
    each surviving (brand, type, size) — the COUNT DISTINCT benchmark.

    Plan: the triple predicate prunes part BEFORE it broadcasts into
    the fact; count(DISTINCT supplier) runs as Spark's two-phase
    expand/partial-distinct aggregate (never a per-group set buffer);
    top-20 is TakeOrderedAndProject with a full tie-break chain."""
    part = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#2")
            & ~F.col("p_type").startswith("ECONOMY")
            & F.col("p_size").isin(5, 11, 17, 23, 29, 35, 41, 47)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
        .limit(20)
    )


Q20_QTY_THRESHOLD = 50  # adapted excess-volume bar (sum qty in the year)


@register(
    "q_ext_tpch_q20",
    oracle=f"""
WITH qty AS (
  SELECT l_suppkey, l_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey, l_partkey
), heavy AS (
  SELECT DISTINCT l_suppkey
  FROM qty JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%' AND q > {Q20_QTY_THRESHOLD}
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
""",
)
def q_ext_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (public spec; with no partsupp availqty, the
    excess-stock test becomes shipped-volume: suppliers that moved more
    than {Q20_QTY_THRESHOLD} units of any 'red' part in 1997): the
    nested-IN-subquery chain benchmark, decorrelated to joins.

    Plan: the year filter pushes to the fact scan; per-(supplier, part)
    volumes partial-aggregate BEFORE the red-part broadcast join (the
    aggregate shrinks the fact to its key dictionary first); the IN
    becomes one left-semi join against the heavy-supplier set; nation
    is a broadcast dim.  Quantity sums are exact decimal so the
    threshold compare is engine-exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    qty = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q")
    )
    red = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    heavy = (
        qty.join(red, F.col("l_partkey") == F.col("p_partkey"))
        .filter(F.col("q") > Q20_QTY_THRESHOLD)
        .select("l_suppkey")
        .distinct()
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            heavy,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name", "n_name")
    )


Q21_LATE_DAYS = 30  # adapted lateness: shipped > 30d after the order's first ship


@register(
    "q_ext_tpch_q21",
    oracle=f"""
WITH ms AS (
  SELECT l_orderkey, min(l_shipdate) AS first_ship,
         count(DISTINCT l_suppkey) AS n_supps
  FROM lineitem GROUP BY l_orderkey
), flags AS (
  SELECT l.l_orderkey, l.l_suppkey,
         max(CASE WHEN l.l_shipdate
                       > ms.first_ship + INTERVAL {Q21_LATE_DAYS} DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem l
  JOIN ms ON l.l_orderkey = ms.l_orderkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE ms.n_supps > 1 AND o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey, l.l_suppkey
), solo AS (
  SELECT l_orderkey FROM flags GROUP BY l_orderkey HAVING sum(late) = 1
)
SELECT s_name, count(*) AS numwait
FROM flags
JOIN solo USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q_ext_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (public spec; the schema carries no
    commit/receipt dates, so 'kept the order waiting' becomes shipped
    more than {Q21_LATE_DAYS} days after the order's FIRST ship): for
    finished multi-supplier orders, suppliers who were the ONLY late
    one — the double-correlated EXISTS / NOT EXISTS benchmark, the
    hardest decorrelation in the suite.

    Plan: both correlated subqueries decorrelate into ONE order-keyed
    shuffle of lineitem.  After the status semi-join clusters rows by
    l_orderkey, every later step reuses that partitioning with zero
    additional Exchange: the per-order (first_ship, n_supps) window,
    the (order, supplier) late-flag aggregate (grouping keys are a
    superset of the partitioning), and the per-order sum(late) window.
    Per-order group sizes are bounded (lineitems per order), so the
    windows hold at any corpus size; supplier joins as a broadcast.
    The earlier form derived `flags` twice (once for late=1, once for
    the solo-order aggregate) — the whole scan+join+groupBy upstream
    executed 2x; windows over the shared partitioning make it one
    pass.  Status filter rides the orders scan; compares date/int
    exact.  Semi-joining BEFORE the per-order stats is safe: the
    filter keeps or drops whole orders, so per-order aggregates are
    unchanged."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    fin = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    w_ord = Window.partitionBy("l_orderkey")
    li_f = (
        li.join(fin, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .withColumn("first_ship", F.min("l_shipdate").over(w_ord))
        .withColumn(
            "n_supps", F.size(F.collect_set("l_suppkey").over(w_ord))
        )
        .filter(F.col("n_supps") > 1)
    )
    flags = li_f.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            F.when(
                F.col("l_shipdate")
                > F.col("first_ship")
                + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS"),
                1,
            ).otherwise(0)
        ).alias("late")
    )
    flags = flags.withColumn("n_late", F.sum("late").over(w_ord))
    supp = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        flags.filter((F.col("late") == 1) & (F.col("n_late") == 1))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


ASOF_TOL_S = 3600  # tolerance: a click older than 1h does not attribute


@register(
    "q_ext_asof_tolerance",
    oracle=f"""
WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT event_id AS purchase_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
), matched AS (
  SELECT p.purchase_id, p.user_id, p.value,
         c.click_id, c.ts AS click_ts, p.ts AS p_ts
  FROM purchases p
  ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
), aged AS (
  -- floor() before CAST: the engine-parity epoch discipline
  SELECT purchase_id, user_id, value, click_id,
         CAST(floor(epoch(p_ts)) AS BIGINT)
         - CAST(floor(epoch(click_ts)) AS BIGINT) AS age_s
  FROM matched
)
SELECT purchase_id, user_id, value,
       CASE WHEN age_s <= {ASOF_TOL_S} THEN click_id END AS click_id,
       CASE WHEN age_s <= {ASOF_TOL_S} THEN age_s END AS age_s,
       coalesce(age_s <= {ASOF_TOL_S}, FALSE) AS within_tol
FROM aged
""",
)
def q_ext_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance (the kdb `aj` / TimescaleDB
    idiom): each purchase takes the user's latest preceding click ONLY
    if it happened within {ASOF_TOL_S} s — a stale click attributes
    nothing.  The tolerance is applied AFTER the as-of match (standard
    semantics: the nearest candidate either qualifies or the row gets
    no match; an older in-window click never substitutes).

    Plan: identical to q_join_asof — union + last(ignorenulls) over
    one user-keyed event-time window, one shuffle, linear per key —
    plus a codegen age filter; the tolerance adds ZERO extra plan cost
    (vs a range join, which would be quadratic per key).  Ages are
    floored-epoch integer differences, engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "ts", "click_id", F.lit(0).alias("side"))
        .withColumn("purchase_id", F.lit(None).cast("long"))
        .withColumn("value", F.lit(None).cast("double"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("purchase_id"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = clicks.unionByName(purchases).select(
        "purchase_id",
        "user_id",
        "value",
        "ts",
        "side",
        F.last("click_id", ignorenulls=True).over(w).alias("c_id"),
        F.last(
            F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True
        ).over(w).alias("c_ts"),
    )
    age_s = F.unix_timestamp("ts").cast("long") - F.unix_timestamp(
        "c_ts"
    ).cast("long")
    within = age_s <= ASOF_TOL_S
    return merged.filter(F.col("side") == 1).select(
        "purchase_id",
        "user_id",
        "value",
        F.when(within, F.col("c_id")).alias("click_id"),
        F.when(within, age_s).alias("age_s"),
        F.coalesce(within, F.lit(False)).alias("within_tol"),
    )


@register(
    "q_ext_tpch_q2",
    oracle="""
WITH eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
), cost AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS supplycost
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
  GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT l_partkey, min(supplycost) AS min_cost
  FROM cost GROUP BY l_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       round(CAST(supplycost AS DOUBLE), 6) AS supplycost
FROM cost
JOIN best ON best.l_partkey = cost.l_partkey
         AND cost.supplycost = best.min_cost
JOIN part ON p_partkey = cost.l_partkey AND p_type = 'LARGE'
JOIN eu ON s_suppkey = cost.l_suppkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q_ext_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (public spec; the schema carries no partsupp, so
    'supply cost' derives from shipment history — the minimum exact
    extended price any line ever shipped for that (supplier, part) —
    and the mfgr/address/comment output columns the schema lacks are
    dropped): for every LARGE-type part, the European supplier(s)
    offering the region's minimum cost — the classic correlated-MIN
    subquery benchmark.  The reference has no analytical query tier
    to cite (its only SQL is the Lambda `LOAD DATA` ingest,
    lambda_function.py; any querying happens in Aurora MySQL outside
    the repo), so this shape comes from the public TPC-H spec alone.

    Plan: the region->nation->supplier dim chain folds into ONE
    broadcastable ~100-row table; the fact scans once, semi-pruned by
    the broadcast supplier set, into a (part, supplier) partial
    aggregate — the only shuffle, on the pair dictionary, not rows.
    The correlated min decorrelates over that SMALL pair table
    (re-aggregate + broadcast back), part prunes on type BEFORE its
    broadcast join, and the `= min` compare is EXACT DECIMAL so ties
    surface identically in both engines (all tying suppliers emitted,
    per spec).  Top-100 is TakeOrderedAndProject with a full
    tie-break chain."""
    d2 = "decimal(18,2)"
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(eu.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice").cast(d2)).alias("supplycost")
        )
        # pair-dictionary sized; feeds BOTH the per-part min and the
        # equality probe — persist so the fact scans exactly once
        .transform(scoped_persist)
    )
    best = cost.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("supplycost").alias("min_cost")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "LARGE"
    )
    return (
        cost.join(
            F.broadcast(best),
            (F.col("bk") == F.col("l_partkey"))
            & (F.col("supplycost") == F.col("min_cost")),
        )
        .join(
            F.broadcast(part),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round(F.col("supplycost").cast("double"), 6).alias(
                "supplycost"
            ),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q9_COST_FRACTION = "0.8"  # retail-price fraction standing in for supply cost


@register(
    "q_ext_tpch_q9",
    oracle=f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(CAST(sum(
           CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))
           - CAST(p_retailprice AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))
             * CAST({Q9_COST_FRACTION} AS DECIMAL(2,1))
       ) AS DOUBLE), 6) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_name LIKE 'blue%'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
""",
)
def q_ext_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (public spec; with no partsupp.supplycost the
    unit cost is {Q9_COST_FRACTION} x the part's retail price — same
    profit algebra, schema-carried inputs): profit on 'blue' parts by
    supplier nation and order year — the 5-way join + derived-column
    aggregation benchmark.

    Plan: the name prefix prunes part to ~1/8 BEFORE it broadcasts
    into the fact (partkey+retailprice only); supplier->nation folds
    to one broadcast dim; per-line profit is computed BEFORE the
    orders join so the shuffle carries exactly (orderkey, nation,
    decimal) — never the five raw columns.  The single big join is
    lineitem x orders on the order key, hinted SHUFFLE_HASH with the
    pruned profit side as build: order keys are near-unique on the
    build side (<= 7 lines/order, no skew) and the build is 1/8 of
    the fact, so hash build+probe beats sorting BOTH fact-sized sides
    (measured 3.9x at x100: 15.7 s -> 4.0 s); AQE's advisory
    partition sizing keeps each build partition bounded at any SF,
    and the hint degrades to sort-merge wherever SHJ is inapplicable.
    The orders side shuffles (key, year-as-long), not the timestamp.
    Profit is EXACT DECIMAL end-to-end (price, discount, quantity,
    and the cost fraction all decimal; one cast-to-double + round(6)
    after the sum), so partial-aggregate scheduling cannot flip a
    digit between engines."""
    d2 = "decimal(18,2)"
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("blue"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    profit = F.col("l_extendedprice").cast(d2) * (
        F.lit(1).cast(d2) - F.col("l_discount").cast(d2)
    ) - F.col("p_retailprice").cast(d2) * F.col("l_quantity").cast(
        d2
    ) * F.lit(Q9_COST_FRACTION).cast("decimal(2,1)")
    blue = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select(
            "l_orderkey",
            F.col("n_name").alias("nation"),
            profit.alias("line_profit"),
        )
        .hint("SHUFFLE_HASH")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        # long to match DuckDB's BIGINT year() dtype exactly
        F.year("o_orderdate").cast("long").alias("o_year"),
    )
    return (
        blue.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", "o_year")
        .agg(
            F.round(F.sum("line_profit").cast("double"), 6).alias(
                "sum_profit"
            )
        )
        .orderBy("nation", F.desc("o_year"))
    )


Q11_FRACTION = "0.001"  # scale-free importance threshold (share of total)


@register(
    "q_ext_tpch_q11",
    oracle=f"""
WITH val AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS v
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
), total AS (SELECT sum(v) AS tv FROM val)
SELECT l_partkey AS p_partkey,
       round(CAST(v AS DOUBLE), 6) AS part_value
FROM val, total
WHERE v > tv * CAST({Q11_FRACTION} AS DECIMAL(4,3))
ORDER BY part_value DESC, p_partkey
""",
)
def q_ext_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (public spec; 'stock value' is shipped
    discounted value instead of partsupp availqty x cost): parts whose
    value shipped by one nation's suppliers exceeds {Q11_FRACTION} of
    that nation's total — the GROUP BY + global-scalar-threshold
    (HAVING > scalar subquery) benchmark.  The threshold is a SHARE,
    so the query is scale-free: the row count it emits tracks the
    value distribution, not the row count.

    Plan: nation filter folds into a broadcastable supplier-key set
    (fact never shuffles for the dims); one partial aggregate to the
    part dictionary; the grand total re-aggregates that SMALL table
    and broadcasts back as a 1-row threshold.  Both sides of the
    `>` compare are EXACT DECIMAL: the total is cast down to
    decimal(28,4) (exact below 1e24) before the decimal(4,3)
    multiply so the product stays under precision 38 un-rounded —
    no rounding of any kind can flip a boundary part between
    engines."""
    d2 = "decimal(18,2)"
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    rev = F.col("l_extendedprice").cast(d2) * (
        F.lit(1).cast(d2) - F.col("l_discount").cast(d2)
    )
    val = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(F.sum(rev).alias("v"))
        # part-dictionary sized; feeds BOTH the grand total and the
        # threshold filter — persist so the fact scans exactly once
        .transform(scoped_persist)
    )
    # tv arrives as decimal(38,4); multiplying that by decimal(4,3)
    # would need precision 43, so Spark would cap at 38 and HALF_UP
    # round the threshold at reduced scale — a latent boundary flake
    # vs DuckDB (ADVICE r10 item 2).  Casting down to decimal(28,4)
    # first is exact for any |tv| < 1e24 (a 100 TB corpus tops out
    # around 1e17) and keeps the product at precision 33, scale 7 —
    # fully exact, so the `>` compare can never flip a boundary part.
    total = val.agg(F.sum("v").cast("decimal(28,4)").alias("tv"))
    threshold = F.col("tv") * F.lit(Q11_FRACTION).cast("decimal(4,3)")
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("v") > threshold)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("v").cast("double"), 6).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


@register(
    "q_ext_tpch_q12",
    oracle="""
SELECT CASE
         WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY THEN 'FAST'
         WHEN l_shipdate <= o_orderdate + INTERVAL 60 DAY THEN 'MEDIUM'
         ELSE 'SLOW'
       END AS ship_speed,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY ship_speed
ORDER BY ship_speed
""",
)
def q_ext_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (public spec; the schema carries no shipmode or
    commit/receipt dates, so the mode groups become order-to-ship lag
    bands — FAST <= 30d < MEDIUM <= 60d < SLOW): high- vs low-priority
    line counts per shipping-speed band for one ship year — the
    join + conditional-aggregation (CASE-WHEN pivot) benchmark.

    Plan: the year window pushes to the fact scan; the single shuffle
    is the fact x orders key join (AQE may broadcast at small SF),
    hinted SHUFFLE_HASH with the year-pruned fact as build (~1/7 of
    lineitem, near-unique order keys — the q9 treatment, cf.
    joins.py q_ext_tpch_q9): hash build+probe beats sorting BOTH
    fact-sized sides, and the hint degrades to sort-merge wherever
    SHJ is inapplicable.  Payloads are minimal on both sides — the
    fact carries (key, shipdate) only, and the priority string folds
    to a BOOLEAN before the exchange so the shuffle never moves
    varchars.  The band CASE and both priority sums fold into one
    whole-stage-codegen aggregate over at most 3 groups — partial
    aggregation collapses everything map-side, so the final exchange
    moves ~3 rows per task."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .select("l_orderkey", "l_shipdate")
        .hint("SHUFFLE_HASH")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .alias("is_high"),
    )
    band = (
        F.when(
            F.col("l_shipdate")
            <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
            "FAST",
        )
        .when(
            F.col("l_shipdate")
            <= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
            "MEDIUM",
        )
        .otherwise("SLOW")
    )
    is_high = F.col("is_high")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(band.alias("ship_speed"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("ship_speed")
    )
