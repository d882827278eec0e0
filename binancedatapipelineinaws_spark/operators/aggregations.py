"""Aggregation surface (SURVEY.md §2.3).

The reference delegates all aggregation to Aurora MySQL 5.7
(start_all_pipeline.py:504-520); the canonical downstream query over its
BTCUSDT table is the 1-minute OHLCV candle — the same buckets the ingest
files are keyed by (main.py:36).  Everything here is built-in Catalyst:
partial + final HashAggregate with map-side combine, AQE-coalesced
shuffles; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.canonical import BTCUSDT_CTE, btcusdt
from binancedatapipelineinaws_spark.operators._util import dec, dec_avg, dec_sum
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.tables import load_table


@register(
    "q_agg_count",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows, count(l_orderkey) AS n_keys
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.count("l_orderkey").alias("n_keys"),
    )


@register(
    "q_agg_sum_avg_minmax",
    oracle="""
SELECT l_returnflag,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         / count(l_extendedprice) AS avg_price,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
       min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_sum_avg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty"),  # integer-valued: exact in double
        dec_sum("l_extendedprice").alias("sum_price"),
        dec_avg("l_extendedprice").alias("avg_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


# Shared 1-min candle definition: ONE aggregation body and ONE oracle
# string used by both q_agg_ohlcv_1min and q_ext_ohlcv_incremental, so
# a tie-break or decimal-scale change cannot silently fork the twins.
_OHLCV_1MIN_ORACLE = (
    "WITH "
    + BTCUSDT_CTE
    + """
, ranked AS (
  SELECT date_trunc('minute', "time") AS m, price, quantity,
         row_number() OVER (PARTITION BY date_trunc('minute', "time")
                            ORDER BY "time", bid) AS rn_a,
         row_number() OVER (PARTITION BY date_trunc('minute', "time")
                            ORDER BY "time" DESC, bid DESC) AS rn_d
  FROM btcusdt
)
SELECT m AS minute_start,
       max(CASE WHEN rn_a = 1 THEN price END) AS open,
       max(price) AS high,
       min(price) AS low,
       max(CASE WHEN rn_d = 1 THEN price END) AS close,
       CAST(sum(CAST(quantity AS DECIMAL(18,5))) AS DOUBLE) AS volume,
       count(*) AS trades
FROM ranked
GROUP BY 1
"""
)


def _candles(ticks: DataFrame) -> DataFrame:
    """1-min OHLCV candles: open/close tie-broken by (time, bid)."""
    order_key = F.struct(F.col("time"), F.col("bid"))
    return ticks.groupBy(
        F.window("time", "1 minute").start.alias("minute_start")
    ).agg(
        F.min_by("price", order_key).alias("open"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max_by("price", order_key).alias("close"),
        dec_sum("quantity", 5).alias("volume"),
        F.count("*").alias("trades"),
    )


@register("q_agg_ohlcv_1min", oracle=_OHLCV_1MIN_ORACLE)
def q_agg_ohlcv_1min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OHLCV candle: open/close tie-broken deterministically by
    (time, bid) — trade id disambiguates trades in the same second,
    mirroring the TSV line order of the reference writer (main.py:61-67).
    """
    return _candles(btcusdt(spark, sf_dir))


@register(
    "q_agg_ohlcv_rollup_5min",
    oracle="WITH "
    + BTCUSDT_CTE
    + """
, ranked AS (
  SELECT date_trunc('minute', "time") AS m, price, quantity,
         row_number() OVER (PARTITION BY date_trunc('minute', "time")
                            ORDER BY "time", bid) AS rn_a,
         row_number() OVER (PARTITION BY date_trunc('minute', "time")
                            ORDER BY "time" DESC, bid DESC) AS rn_d
  FROM btcusdt
), one_min AS (
  SELECT m,
         max(CASE WHEN rn_a = 1 THEN price END) AS open,
         max(price) AS high,
         min(price) AS low,
         max(CASE WHEN rn_d = 1 THEN price END) AS close,
         sum(CAST(quantity AS DECIMAL(18,5))) AS volume,
         count(*) AS trades
  FROM ranked GROUP BY m
)
-- CAST before //: epoch() is DOUBLE and DuckDB's // does not floor
-- doubles, so the float form never merges minutes into buckets
SELECT (CAST(epoch(m) AS BIGINT) // 300) * 300 AS bucket_epoch_s,
       arg_min(open, m) AS open,
       max(high) AS high,
       min(low) AS low,
       arg_max(close, m) AS close,
       CAST(sum(volume) AS DOUBLE) AS volume,
       -- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
       -- hash-mismatches Spark's bigint in the driver's canonicalizer
       CAST(sum(trades) AS BIGINT) AS trades
FROM one_min
GROUP BY 1
""",
)
def q_agg_ohlcv_rollup_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical candle rollup: 5-minute OHLCV derived from the
    1-minute candles, NOT from raw trades — the continuous-aggregate
    chain (minute -> 5-minute -> hour) a hypertable maintains over the
    reference's minute rotation (main.py:26-27's integer bucketing,
    reapplied one level up).  OHLC merge semantics: open of the
    earliest minute (min_by), close of the latest (max_by), min/max of
    extremes, exact-decimal volume sum.

    Scale: the second aggregation reads 1/60th of the data the first
    one did — re-aggregating candles instead of rescanning raw trades
    is what makes multi-granularity candle serving viable at 100 TB of
    ticks (and the rollup stays correct because OHLCV is mergeable)."""
    one_min = q_agg_ohlcv_1min(spark, sf_dir)
    bucket = (
        (F.unix_timestamp("minute_start").cast("long") / 300).cast("long")
        * 300
    )
    return (
        one_min.groupBy(bucket.alias("bucket_epoch_s"))
        .agg(
            F.min_by("open", F.col("minute_start")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("minute_start")).alias("close"),
            F.sum(F.col("volume").cast("decimal(18,5)"))
            .cast("double")
            .alias("volume"),
            F.sum("trades").alias("trades"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderstatus) AS n_statuses,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
""",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count("*").alias("n_orders"),
    )


# Envelope gate for the HLL++ estimate (the q_ext_hll_union_error
# pattern, ADVICE/VERDICT r7): requested rsd=0.02 (one standard
# deviation of relative error), gated at 5x = 10% relative — plus an
# absolute floor so a tiny true cardinality (where +-1 exceeds 10%)
# cannot flip the flag even though the sketch is behaving.  Spark's
# approx_count_distinct is deterministic (fixed hash, no RNG), so the
# flags are stable across partitionings and reruns; the margin makes
# them stable across scale factors.
APPROX_DISTINCT_RSD = 0.02
APPROX_DISTINCT_REL_GATE = 5 * APPROX_DISTINCT_RSD
APPROX_DISTINCT_ABS_GATE = 16.0


@register(
    "q_agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       count(DISTINCT l_suppkey) AS exact_supps,
       TRUE AS parts_within_bound,
       TRUE AS supps_within_bound
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for q_agg_distinct: HyperLogLog++ sketch, one
    pass, mergeable map-side, no per-group hash set.  The sketch
    estimate itself is engine-specific, so the hash-verified output is
    the exact cardinalities plus TRUE accuracy flags: each estimate
    must land within max({APPROX_DISTINCT_REL_GATE:.0%} relative,
    {APPROX_DISTINCT_ABS_GATE:g} absolute) of the exact count — an
    out-of-envelope sketch breaks the gate hash.  (Converted from a
    rows-only check per VERDICT r7 item 2; the exact counts are
    gate-only cost — production keeps only the sketch column.)

    The exact and approx aggregates run as SEPARATE passes joined on
    the 3-row group key: mixing count_distinct with
    approx_count_distinct in ONE aggregate makes Catalyst's
    RewriteDistinctAggregates carry the non-distinct HLL buffer
    (2^12 registers at rsd=0.02) through the per-(group, value)
    partial aggregate — ~200k live 4 KB sketch buffers at sf0.1 —
    measured 2.94 s fused vs 0.97 s split (r8).  Split, the approx
    pass keeps one sketch per group (3) and the exact pass is a plain
    Expand distinct with no sketch state."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_suppkey").alias("exact_supps"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct(
            "l_partkey", rsd=APPROX_DISTINCT_RSD
        ).alias("approx_parts"),
        F.approx_count_distinct(
            "l_suppkey", rsd=APPROX_DISTINCT_RSD
        ).alias("approx_supps"),
    )
    agg = exact.join(F.broadcast(approx), "l_returnflag")

    def within(approx: str, exact: str):
        bound = F.greatest(
            APPROX_DISTINCT_REL_GATE * F.col(exact),
            F.lit(APPROX_DISTINCT_ABS_GATE),
        )
        return F.abs(F.col(approx) - F.col(exact)) <= bound

    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_supps",
        within("approx_parts", "exact_parts").alias("parts_within_bound"),
        within("approx_supps", "exact_supps").alias("supps_within_bound"),
    )


@register(
    "q_agg_groupby_multi",
    oracle="WITH "
    + BTCUSDT_CTE
    + """
SELECT maker, date_trunc('hour', "time") AS hour_start,
       count(*) AS trades,
       CAST(sum(CAST(quantity AS DECIMAL(18,5))) AS DOUBLE) AS volume
FROM btcusdt GROUP BY 1, 2
""",
)
def q_agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = btcusdt(spark, sf_dir)
    return df.groupBy(
        "maker", F.date_trunc("hour", "time").alias("hour_start")
    ).agg(
        F.count("*").alias("trades"),
        dec_sum("quantity", 5).alias("volume"),
    )


@register(
    "q_agg_having",
    oracle="""
SELECT o_custkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING count(*) > 15
""",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum("o_totalprice").alias("total_spent"),
        )
        .filter(F.col("n_orders") > 15)
    )


@register(
    "q_agg_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       sum(l_quantity) AS sum_qty,
       grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
    )


@register(
    "q_agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows")
    )


@register(
    "q_agg_stddev_var",
    oracle="""
WITH agg AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2,
         count(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       -- greatest(...,0): a constant group's variance is exactly zero
       -- in integers but can round epsilon-negative in double once
       -- s*s/n rounds above s2 (DuckDB sqrt hard-errors on negatives).
       -- CASE n > 1: a singleton group has UNDEFINED sample stddev —
       -- without the guard var is NULL (0/0) but greatest(NULL,0)=0
       -- made std_qty report 0.0, breaking std = sqrt(var)
       -- (ADVICE.md r7)
       CASE WHEN n > 1 THEN
         round(sqrt(greatest((CAST(s2 AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                    / (n - 1), 0)), 6) END AS std_qty,
       CASE WHEN n > 1 THEN
         round((CAST(s2 AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
               / (n - 1), 6) END AS var_qty
FROM agg
""",
)
def q_agg_stddev_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev/variance of l_quantity from EXACT integer moments
    (quantities are integer-valued, so sum and sum-of-squares land
    exactly in BIGINT and double), then the identical expression tree
    in both engines — bit-identical results at any scale, where the
    engines' one-pass var_samp algorithms are merge-order-dependent
    floats (the q_ext_burstiness lesson from the r7 sf1 drill).
    Singleton groups (n=1) report NULL for BOTH std and var — sample
    moments are undefined there, and the unguarded form emitted
    std=0.0 with var=NULL (ADVICE.md r7)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    agg = li.groupBy("l_returnflag").agg(
        F.sum(q).cast("long").alias("s"),
        F.sum(q * q).cast("long").alias("s2"),
        F.count("*").alias("n"),
    )
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    n_ok = F.col("n") > 1
    return agg.select(
        "l_returnflag",
        F.when(n_ok, F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)).alias(
            "std_qty"
        ),
        F.when(n_ok, F.round(var, 6)).alias("var_qty"),
    )


@register(
    "q_agg_session_window",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 6 HOUR
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 6 HOUR AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM numbered GROUP BY user_id, sess_id
""",
)
def q_agg_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch session windows (engine superset, SURVEY §2.8): per-user
    activity bursts separated by >= 6 h of quiet, via the native
    `session_window` operator — the oracle reproduces its merge
    semantics (merge iff gap < 6 h; end = last ts + gap) with
    gaps-and-islands SQL.  One shuffle on the grouping key; session
    merging is per-key and streaming-state compatible."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "6 hours").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# --- incremental continuous-aggregate refresh --------------------------------
# The production cadence of the candle table: history is already
# rolled up; a new batch of ticks arrives; only the minutes the batch
# TOUCHES are recomputed from raw and merged over the stale rows —
# the TimescaleDB continuous-aggregate refresh semantics over the
# reference's minute rotation.  The ORACLE IS THE FULL RECOMPUTE, so
# the gate hash-proves refresh == recompute, including the straddled
# minute whose partial history candle must be replaced, not merged.

REFRESH_HORIZON_S = 330  # the "new batch": last 5.5 minutes of ticks


@register("q_ext_ohlcv_incremental", oracle=_OHLCV_1MIN_ORACLE)
def q_ext_ohlcv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental 1-min candle refresh: candles for minutes untouched
    by the last {REFRESH_HORIZON_S} s of ticks come from the HISTORY
    rollup; every touched minute is recomputed from raw (history +
    batch — the 330 s horizon deliberately straddles a minute so the
    partial history candle must be REPLACED); the merge must equal
    the full recompute, which is exactly what the oracle computes.

    Plan: one broadcast 1-row max-time bound (no driver collect)
    splits the stream; the affected-minute list is a broadcast
    semi-join key; each candle row is produced by ONE of the two
    branches (anti-join + union).  NOTE on cost: in this
    self-contained form the "history rollup" is SIMULATED by
    re-aggregating the old ticks, so the query scans the corpus for
    both branches — in production `prev` is a materialized candle
    table read back from storage and the refresh pays only the new
    minutes' raw ticks plus a rollup scan.  What the gate proves is
    the MERGE SEMANTICS: touched-minute replacement (including the
    straddled partial candle) reproduces the full recompute
    hash-exactly."""
    df = btcusdt(spark, sf_dir)
    bound = df.agg(F.max("time").alias("mx"))
    flagged = df.crossJoin(F.broadcast(bound)).withColumn(
        "is_new",
        F.col("time")
        > F.col("mx") - F.expr(f"INTERVAL {REFRESH_HORIZON_S} SECONDS"),
    )
    prev = _candles(flagged.filter(~F.col("is_new")))
    affected = (
        flagged.filter(F.col("is_new"))
        .select(
            F.window("time", "1 minute").start.alias("minute_start")
        )
        .distinct()
    )
    with_minute = flagged.withColumn(
        "tick_minute", F.window("time", "1 minute").start
    )
    recomputed = _candles(
        with_minute.join(
            F.broadcast(affected),
            with_minute["tick_minute"] == affected["minute_start"],
            "left_semi",
        ).drop("tick_minute")
    )
    kept = prev.join(F.broadcast(affected), "minute_start", "left_anti")
    return kept.unionByName(recomputed)
