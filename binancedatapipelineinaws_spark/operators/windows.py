"""Window-function surface (SURVEY.md §2.5).

MySQL 5.7 (the reference's delegated engine) has no window functions;
these are the engine's superset — essential for the time-series data the
pipeline produces (tick returns, running volume, moving averages).

Every ORDER BY carries a unique tiebreaker so results are total-ordered
and deterministic.  Moving sums/averages go through exact decimal
arithmetic: Spark recomputes sliding frames while DuckDB uses segment
trees, so float results would diverge in the low bits — decimals are
algorithm-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.tables import load_table


@register(
    "q_win_row_number",
    oracle="""
SELECT * FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn <= 3
""",
)
def q_win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 earliest shipments per supplier — the dedup/top-per-key
    idiom."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "q_win_rank_dense",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_totalprice,
       rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk,
       dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk
FROM orders
WHERE o_totalprice > 450000
""",
)
def q_win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "q_win_lag_lead",
    oracle="""
SELECT event_id, user_id, ts, value,
       lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
       lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events
""",
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-return idiom: previous/next value per user stream."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "q_win_running_sum",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_value,
       count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
FROM events
""",
)
def q_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative volume idiom."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
        .alias("running_value"),
        F.count("*").over(w).alias("n_so_far"),
    )


@register(
    "q_win_moving_avg",
    oracle="""
SELECT event_id, user_id, ts,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
       / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
         AS moving_avg
FROM events
""",
)
def q_win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-row moving average, exact-decimal numerator (sliding-frame
    recompute vs segment-tree would diverge in float)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("moving_avg"),
    )


@register(
    "q_win_range_frame",
    oracle="""
SELECT event_id, user_id, ts,
       -- floor() before the RANGE compare: DuckDB's epoch() keeps the
       -- fractional seconds while Spark's unix_timestamp FLOORS, so an
       -- event pair whose true gap is within 1 s of the 3600 s frame
       -- boundary would land inside the frame in one engine and
       -- outside in the other (the q_ext_sessionize hazard, r6 ADVICE)
       CAST(sum(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id
                  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_1h_value,
       count(*) OVER (PARTITION BY user_id
                      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS trailing_1h_n
FROM events
""",
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range frame: trailing 1 hour per user (RANGE, not ROWS —
    frame is defined by event-time distance), measured on floored
    epoch seconds in BOTH engines (unix_timestamp floors; the oracle
    floors explicitly)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
        .alias("trailing_1h_value"),
        F.count("*").over(w).alias("trailing_1h_n"),
    )


@register(
    "q_win_ntile_first_last",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       ntile(4) OVER (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey) AS quartile,
       first_value(c_custkey) OVER (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS richest_custkey,
       last_value(c_custkey) OVER (PARTITION BY c_mktsegment
                      ORDER BY c_acctbal DESC, c_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS poorest_custkey
FROM customer
""",
)
def q_win_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    order = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    w = Window.partitionBy("c_mktsegment").orderBy(*order)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.first("c_custkey").over(w_full).alias("richest_custkey"),
        F.last("c_custkey").over(w_full).alias("poorest_custkey"),
    )


@register(
    "q_win_percent_cume",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       round(percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey), 9)
         AS pct_rank,
       round(cume_dist() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice, o_orderkey), 9) AS cume,
       ntile(10) OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice, o_orderkey) AS decile
FROM orders WHERE o_orderkey % 20 = 0
""",
)
def q_win_percent_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile — distribution-position window
    functions (engine superset of MySQL 5.7)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )
