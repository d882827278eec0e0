"""Time-series operators: calendar-spine gap-fill (resample +
forward-fill), rolling correlation, and the market-microstructure
trio (TWAP, realized volatility, intraday drawdown) — the query
shapes a consumer of the reference's 1-minute OHLCV rollup (reference
main.py:26-40, the minute-bucket loop) needs next: a candle stream
with NO missing minutes, co-movement and risk signals on top of it.

Scale notes (100 TB):
- Gap-fill's heavy lift is the per-(key, bucket) aggregate — fully
  parallel, one shuffle.  Everything after runs on the AGGREGATED
  series whose size is calendar-bounded (keys x minutes-in-range),
  not data-bounded, so the per-key forward-fill window is safe at any
  input scale: 10 years of minutes is ~5.3M rows per key, and the
  spine explode is map-only from a tiny bounds table.
- Rolling correlation is one window pass: component sums over a
  bounded ROWS frame, partitioned by a uniform key (supplier).  No
  self-join, no second shuffle; the frame math is identical algebra in
  Spark and DuckDB so the oracle matches bit-for-bit at 5 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table


@register(
    "q_ext_gapfill",
    oracle="""
WITH agg AS (
  -- EXACT average: values are an exact 2-dp grid, so sum cents as
  -- BIGINT (order-independent) and divide ONCE — both engines round
  -- the SAME double.  round(avg(value), 6) flipped 41/3600 rows at
  -- the sf10 drill: 100 replicas per bucket made float-sum averages
  -- land an ulp either side of dyadic .xxxxxx5 boundaries.
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
               / (100.0 * count(*)), 6) AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
  FROM agg GROUP BY 1
), spine AS (
  SELECT event_type,
         unnest(generate_series(mn, mx, INTERVAL 1 hour)) AS bucket
  FROM bounds
)
SELECT s.event_type, s.bucket, a.avg_value,
       last_value(a.avg_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
       CASE WHEN a.avg_value IS NULL THEN 1 ELSE 0 END AS was_gap
FROM spine s
LEFT JOIN agg a ON s.event_type = a.event_type AND s.bucket = a.bucket
""",
)
def q_ext_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to an hourly average per event_type on a dense
    calendar spine, forward-filling empty buckets with the latest
    preceding value (`last(ignorenulls)` over an ordered window).

    Plan: data-sized aggregate -> tiny bounds -> `sequence()` explode
    (map-only spine) -> spine-sized left join -> per-key ordered fill.
    The reference's rotation emits one file per minute whether or not
    trades occurred (main.py:26-40 always advances the bucket); this is
    the batch operator that reconstructs that dense series.
    """
    ev = load_table(spark, sf_dir, "events")
    # `agg` feeds BOTH the bounds subtree and the join's probe side;
    # without persist Spark re-executes the full scan+aggregate lineage
    # per branch (no ReusedExchange across aggregated subtrees), which
    # at 100 TB means scanning events twice for one query.
    # exact average over the 2-dp value grid (see the oracle comment):
    # BIGINT cent sum, one IEEE division, then the 6-dp round of a
    # bit-identical double
    agg = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.round(
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast(
                    "double"
                )
                / (100.0 * F.count("*")),
                6,
            ).alias("avg_value")
        )
        .transform(scoped_persist)
    )
    bounds = agg.groupBy("event_type").agg(
        F.min("bucket").alias("mn"), F.max("bucket").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    fill_w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(agg, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            "avg_value",
            F.last("avg_value", ignorenulls=True).over(fill_w).alias("filled"),
            F.when(F.col("avg_value").isNull(), 1)
            .otherwise(0)
            .alias("was_gap"),
        )
    )


CORR_FRAME_ROWS = 20  # current row + 19 preceding


@register(
    "q_win_rolling_corr",
    oracle=f"""
WITH w AS (
  -- EXACT INTEGER window sums over scaled values (quantities are
  -- integers, prices are 2-dp -> x100 integers): DuckDB's
  -- segment-tree sliding windows add doubles in TREE order while
  -- Spark folds in frame order, so double sums diverged by an ulp
  -- and flipped 24/6M rows at the 5-dp round in the r7 sf1 drill.
  -- BIGINT sums are order-independent AND native-speed (the first
  -- fix used DECIMAL sums and cost 2x wall); correlation is
  -- scale-invariant, so the x100 never needs undoing.  Max product
  -- (1e7)^2 x 20 rows = 2e15, far inside int64.
  SELECT l_suppkey, l_orderkey, l_linenumber,
         count(*) OVER fr AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) OVER fr AS DOUBLE) AS sx,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              OVER fr AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              OVER fr AS DOUBLE) AS sxx,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                  * CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              OVER fr AS DOUBLE) AS syy,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              OVER fr AS DOUBLE) AS sxy
  FROM lineitem
  -- l_partkey/quantity/price tie-breakers: (orderkey, linenumber)
  -- is NOT unique in the synthetic lineitem, and a ROWS frame over a
  -- partial order admits engine-dependent frame membership (16/6M
  -- rows flipped at sf1 until the order became total)
  WINDOW fr AS (
    PARTITION BY l_suppkey
    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
             l_quantity, l_extendedprice
    ROWS BETWEEN {CORR_FRAME_ROWS - 1} PRECEDING AND CURRENT ROW)
)
SELECT l_suppkey, l_orderkey, l_linenumber, n,
       -- greatest(...,0): a constant frame's variance term is exactly
       -- zero in decimal but can round epsilon-negative after the
       -- double conversion of its two products
       -- + 0.0 canonicalizes IEEE -0.0 (a tiny negative numerator
       -- rounds to signed zero differently across engines)
       round((n * sxy - sx * sy)
             / nullif(sqrt(greatest(n * sxx - sx * sx, 0))
                      * sqrt(greatest(n * syy - sy * sy, 0)), 0),
             5) + 0.0 AS rolling_corr
FROM w
""",
)
def q_win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-row Pearson correlation between quantity and price
    per supplier, computed from component sums (n, Sx, Sy, Sxx, Syy,
    Sxy) over ONE shared window frame — six sums in a single window
    pass, then pure scalar algebra; no self-join and no second shuffle.

    The ORDER BY carries (shipdate, orderkey, linenumber) so the frame
    is totally ordered; the six sums run in EXACT DECIMAL (quantities
    integer-valued, prices 2-dp), so they are identical regardless of
    summation order — frame folds, DuckDB's segment trees, partial
    merges — and the closing scalar algebra is the same expression
    tree in both engines (the r7 sf1 drill caught the float form
    flipping 24/6M rows).  Degenerate frames (constant series, n=1)
    yield NULL via the NULLIF guard in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # exact integer sums over scaled values (see the oracle comment):
    # order-independent across frame folds, segment trees, and partial
    # merges, at native long-sum speed
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    fr = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey",
            "l_quantity", "l_extendedprice",
        )
        .rowsBetween(-(CORR_FRAME_ROWS - 1), 0)
    )
    n = F.count("*").over(fr)
    sx = F.sum(x).over(fr).cast("double")
    sy = F.sum(y).over(fr).cast("double")
    sxx = F.sum(x * x).over(fr).cast("double")
    syy = F.sum(y * y).over(fr).cast("double")
    sxy = F.sum(x * y).over(fr).cast("double")
    denom = F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0))) * F.sqrt(
        F.greatest(n * syy - sy * sy, F.lit(0.0))
    )
    corr = (n * sxy - sx * sy) / F.when(denom != 0, denom)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        n.alias("n"),
        (F.round(corr, 5) + F.lit(0.0)).alias("rolling_corr"),
    )


# --- market microstructure over the canonical tick table --------------------
# These run on the reference's own data product (the canonicalized
# BTCUSDT table, main.py:56-67): TWAP over raw ticks, realized
# volatility and intraday drawdown over the 1-minute candle layer.
# Post-candle inputs are calendar-bounded (minutes in range), so every
# window below is safe at any tick volume — same argument as
# q_ext_gapfill.


from binancedatapipelineinaws_spark.canonical import btcusdt  # noqa: E402
from binancedatapipelineinaws_spark.operators.aggregations import (  # noqa: E402
    BTCUSDT_CTE,
    q_agg_ohlcv_1min,
)

# DuckDB CTE chain producing per-minute closes from the canonical tick
# table (tie-break identical to q_agg_ohlcv_1min).
_CLOSES_CTE = """
, ranked AS (
  SELECT date_trunc('minute', "time") AS m, price,
         row_number() OVER (PARTITION BY date_trunc('minute', "time")
                            ORDER BY "time" DESC, bid DESC) AS rn_d
  FROM btcusdt
), closes AS (
  SELECT m, max(CASE WHEN rn_d = 1 THEN price END) AS close
  FROM ranked GROUP BY m
)
"""


@register(
    "q_ext_twap",
    oracle="WITH "
    + BTCUSDT_CTE
    + """
, t AS (
  SELECT date_trunc('hour', "time") AS h, price,
         (CAST(epoch(coalesce(
            lead("time") OVER (PARTITION BY date_trunc('hour', "time")
                               ORDER BY "time", bid),
            date_trunc('hour', "time") + INTERVAL 1 HOUR)) AS BIGINT)
          - CAST(epoch("time") AS BIGINT)) AS dt
  FROM btcusdt
)
-- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
-- hash-mismatches Spark's bigint in the driver's canonicalizer
SELECT h AS hour_start, count(*) AS trades,
       CAST(sum(dt) AS BIGINT) AS total_dt,
       -- DECIMAL numerator: canonical price is 2 dp, so price*dt sums
       -- exactly — a double sum over an hour of trades is
       -- addition-order dependent and can flip the 6-dp round between
       -- engines (the r6 ltv_cohort lesson)
       round(CAST(sum(CAST(price AS DECIMAL(14,2)) * dt) AS DOUBLE)
             / CAST(sum(dt) AS BIGINT), 6) AS twap
FROM t GROUP BY h
""",
)
def q_ext_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted average price: each trade's price weighted
    by its holding time (gap to the next trade, last trade carried to
    the hour boundary) — the execution-quality benchmark VWAP
    (q_agg_vwap) does not give when trade sizes are uninformative.

    One window pass (lead over the hour partition, totally ordered by
    time+trade id) then one aggregate; per-hour partitions keep window
    state bounded by an hour of one symbol's ticks.  Epochs are cast to
    BIGINT before differencing in the oracle — DuckDB's epoch() is
    DOUBLE and its // does not floor doubles."""
    df = btcusdt(spark, sf_dir)
    hour = F.date_trunc("hour", "time")
    w = Window.partitionBy(hour).orderBy("time", "bid")
    next_ts = F.coalesce(
        F.lead("time").over(w), hour + F.expr("INTERVAL 1 HOUR")
    )
    dt = (
        F.unix_timestamp(next_ts).cast("long")
        - F.unix_timestamp("time").cast("long")
    )
    return (
        df.select(hour.alias("hour_start"), "price", dt.alias("dt"))
        .groupBy("hour_start")
        .agg(
            F.count("*").alias("trades"),
            F.sum("dt").alias("total_dt"),
            F.round(
                F.sum(
                    F.col("price").cast("decimal(14,2)") * F.col("dt")
                ).cast("double")
                / F.sum("dt"),
                6,
            ).alias("twap"),
        )
    )


@register(
    "q_ext_realized_vol",
    oracle="WITH "
    + BTCUSDT_CTE
    + _CLOSES_CTE
    + """
, rets AS (
  SELECT m, ln(close / lag(close) OVER (PARTITION BY CAST(m AS DATE)
                                        ORDER BY m)) AS r
  FROM closes
)
SELECT date_trunc('hour', m) AS hour_start,
       count(r) AS n_returns,
       round(sqrt(sum(r * r)), 6) AS realized_vol
FROM rets GROUP BY 1
""",
)
def q_ext_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly realized volatility: sqrt of the sum of squared 1-minute
    log close-to-close returns — the standard high-frequency vol
    estimator, computed on the CANDLE layer (calendar-bounded: the
    lag window runs over minutes-per-day, not ticks; the tick-sized
    work all happened inside the reused q_agg_ohlcv_1min plan).
    Returns are day-partitioned, so the first minute of each day has no
    return (count(r) skips the NULL in both engines)."""
    closes = q_agg_ohlcv_1min(spark, sf_dir).select(
        F.col("minute_start").alias("m"), "close"
    )
    day_w = Window.partitionBy(F.col("m").cast("date")).orderBy("m")
    r = F.log(F.col("close") / F.lag("close").over(day_w))
    return (
        closes.select(F.date_trunc("hour", "m").alias("hour_start"), r.alias("r"))
        .groupBy("hour_start")
        .agg(
            F.count("r").alias("n_returns"),
            F.round(F.sqrt(F.sum(F.col("r") * F.col("r"))), 6).alias(
                "realized_vol"
            ),
        )
    )


@register(
    "q_ext_drawdown",
    oracle="WITH "
    + BTCUSDT_CTE
    + _CLOSES_CTE
    + """
, dd AS (
  SELECT CAST(CAST(m AS DATE) AS TIMESTAMP) AS day, close,
         max(close) OVER (PARTITION BY CAST(m AS DATE) ORDER BY m
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak
  FROM closes
)
SELECT day, count(*) AS n_minutes,
       round(max(peak), 2) AS day_peak,
       round(max((peak - close) / peak), 6) AS max_drawdown
FROM dd GROUP BY day
""",
)
def q_ext_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum intraday drawdown per day: running peak of the 1-minute
    closes (cumulative-max window within the day) vs the current close,
    rolled up to the worst peak-to-trough fraction.  Runs entirely on
    the calendar-bounded candle layer; the running-extrema window is
    the pattern (cumulative max) that rolling frames can't replace."""
    closes = q_agg_ohlcv_1min(spark, sf_dir).select(
        F.col("minute_start").alias("m"), "close"
    )
    day = F.col("m").cast("date")
    run_w = (
        Window.partitionBy(day)
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # day emitted as TIMESTAMP, not DATE: a date object lands in pandas
    # as `object` while DuckDB's CAST(ts) gives datetime64 — the driver
    # canonicalizer has only ever hash-passed the datetime64 pair here
    dd = closes.select(
        day.cast("timestamp").alias("day"),
        "close",
        F.max("close").over(run_w).alias("peak"),
    )
    return dd.groupBy("day").agg(
        F.count("*").alias("n_minutes"),
        F.round(F.max("peak"), 2).alias("day_peak"),
        F.round(
            F.max((F.col("peak") - F.col("close")) / F.col("peak")), 6
        ).alias("max_drawdown"),
    )


@register(
    "q_ext_return_autocorr",
    oracle="WITH "
    + BTCUSDT_CTE
    + _CLOSES_CTE
    + """
, rets AS (
  SELECT m, ln(close / lag(close) OVER (PARTITION BY CAST(m AS DATE)
                                        ORDER BY m)) AS r
  FROM closes
), pairs AS (
  SELECT r, lag(r) OVER (PARTITION BY CAST(m AS DATE) ORDER BY m) AS rp
  FROM rets
), s AS (
  SELECT count(*) AS n, sum(r) AS sx, sum(rp) AS sy,
         sum(r * r) AS sxx, sum(rp * rp) AS syy, sum(r * rp) AS sxy
  FROM pairs WHERE r IS NOT NULL AND rp IS NOT NULL
)
SELECT n,
       round((n * sxy - sx * sy)
             -- greatest(...,0): epsilon-negative cancellation on a
             -- degenerate (constant-return) series must clamp, not
             -- hard-error DuckDB's sqrt (the rolling_corr guard)
             / nullif(sqrt(greatest(n * sxx - sx * sx, 0))
                      * sqrt(greatest(n * syy - sy * sy, 0)), 0),
             5) AS autocorr_lag1
FROM s
""",
)
def q_ext_return_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of 1-minute log returns — the
    mean-reversion / momentum diagnostic, and the statistical test
    behind microstructure noise detection (negative lag-1 autocorr =
    bid-ask bounce).

    Same component-sums discipline as q_win_rolling_corr, collapsed to
    a single global pair: two day-partitioned lag windows on the
    calendar-bounded candle layer, then ONE 1-row aggregate computes
    Pearson r from (n, Sx, Sy, Sxx, Syy, Sxy).  Day partitioning drops
    cross-midnight pairs in both engines identically."""
    closes = q_agg_ohlcv_1min(spark, sf_dir).select(
        F.col("minute_start").alias("m"), "close"
    )
    day_w = Window.partitionBy(F.col("m").cast("date")).orderBy("m")
    r = F.log(F.col("close") / F.lag("close").over(day_w))
    pairs = closes.select(
        F.col("m").alias("m"), r.alias("r")
    ).select("m", "r", F.lag("r").over(day_w).alias("rp"))
    p = pairs.filter(F.col("r").isNotNull() & F.col("rp").isNotNull())
    n = F.count("*")
    sx, sy = F.sum("r"), F.sum("rp")
    sxx = F.sum(F.col("r") * F.col("r"))
    syy = F.sum(F.col("rp") * F.col("rp"))
    sxy = F.sum(F.col("r") * F.col("rp"))
    denom = F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0))) * F.sqrt(
        F.greatest(n * syy - sy * sy, F.lit(0.0))
    )
    corr = (n * sxy - sx * sy) / F.when(denom != 0, denom)
    return p.agg(
        n.alias("n"), F.round(corr, 5).alias("autocorr_lag1")
    )


@register(
    "q_ext_seasonality",
    oracle="WITH "
    + BTCUSDT_CTE
    + """
, g AS (
  SELECT CAST(extract(dow FROM "time") AS BIGINT) AS day_of_week,
         CAST(extract(hour FROM "time") AS BIGINT) AS hour_of_day,
         count(*) AS trades,
         round(avg(price), 6) AS avg_price,
         CAST(sum(CAST(quantity AS DECIMAL(18,5))) AS DOUBLE) AS volume
  FROM btcusdt GROUP BY 1, 2
)
SELECT day_of_week, hour_of_day, trades, avg_price, volume,
       round(trades / CAST(sum(trades) OVER () AS DOUBLE), 6)
         AS trade_share
FROM g
""",
)
def q_ext_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: trade count, average price, and
    exact-decimal volume per (day-of-week, hour-of-day) cell — the
    7x24 activity heatmap behind capacity planning and anomalous-quiet
    detection on the tick stream.

    One map-side-combined aggregate to at most 168 cells; the share
    normalizes via a window over those cells.  Spark's dayofweek() is
    1=Sunday while DuckDB's extract(dow) is 0=Sunday, so the Spark
    side subtracts 1 to align the encodings."""
    df = btcusdt(spark, sf_dir)
    g = df.groupBy(
        (F.dayofweek("time") - 1).cast("long").alias("day_of_week"),
        F.hour("time").cast("long").alias("hour_of_day"),
    ).agg(
        F.count("*").alias("trades"),
        F.round(F.avg("price"), 6).alias("avg_price"),
        F.sum(F.col("quantity").cast("decimal(18,5)"))
        .cast("double")
        .alias("volume"),
    )
    total = F.sum("trades").over(Window.partitionBy())
    return g.select(
        "day_of_week",
        "hour_of_day",
        "trades",
        "avg_price",
        "volume",
        F.round(F.col("trades") / total.cast("double"), 6).alias(
            "trade_share"
        ),
    )


TREND_EPOCH0 = 1704067200  # 2024-01-01 UTC: centers x to avoid the
# classic OLS cancellation (raw epoch^2 sums would exceed 2^53)


@register(
    "q_ext_trend",
    oracle=f"""
WITH x AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) - {TREND_EPOCH0}) / 3600.0 AS h,
         value AS y
  FROM events
), s AS (
  SELECT event_type, count(*) AS n, sum(h) AS sx, sum(y) AS sy,
         sum(h * h) AS sxx, sum(h * y) AS sxy
  FROM x GROUP BY event_type
)
SELECT event_type, n,
       round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6)
         AS slope_per_hour,
       round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) * sx)
             / n, 6) AS intercept
FROM s
""",
)
def q_ext_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend: slope and intercept of value over time
    (hours since {TREND_EPOCH0}) for each event type — the drift /
    trend-detection regression, computed from component sums in ONE
    map-side-combined aggregate (no windows, no sorting; same
    discipline as the correlation family).

    The time axis is centered on a fixed epoch and scaled to hours
    BEFORE squaring: raw epoch-seconds squared would put n*Sxx beyond
    2^53 and the n*Sxx - Sx^2 cancellation would eat the slope.  Both
    engines truncate the timestamp to whole seconds first
    (unix_timestamp ≡ floor(epoch()))."""
    ev = load_table(spark, sf_dir, "events")
    h = (F.unix_timestamp("ts").cast("long") - TREND_EPOCH0) / 3600.0
    x = ev.select("event_type", h.alias("h"), F.col("value").alias("y"))
    n = F.count("*")
    sx, sy = F.sum("h"), F.sum("y")
    sxx = F.sum(F.col("h") * F.col("h"))
    sxy = F.sum(F.col("h") * F.col("y"))
    slope = (n * sxy - sx * sy) / F.when(
        (n * sxx - sx * sx) != 0, n * sxx - sx * sx
    )
    return x.groupBy("event_type").agg(
        n.alias("n"),
        F.round(slope, 6).alias("slope_per_hour"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


# --- rolling median ----------------------------------------------------------

ROLL_MED_ROWS = 20  # frame: current row + 20 preceding


@register(
    "q_ext_rolling_median",
    oracle=f"""
SELECT event_id, event_type,
       round(quantile_cont(value, 0.5) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN {ROLL_MED_ROWS} PRECEDING AND CURRENT ROW), 6)
         AS rolling_median
FROM events
""",
)
def q_ext_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of `value` over the last {ROLL_MED_ROWS + 1}
    events per event type — the robust companion to q_win_moving_avg
    (a mean window an outlier can drag, a median it cannot).

    Plan: ONE Window node over (event_type; ts, event_id) with a
    bounded ROWS frame — `percentile(0.5)` re-sorts only the 21-row
    frame per step, so the cost is rows x frame, not rows x partition.
    Both engines define the median as the linear interpolation of the
    two middle values (Spark `percentile` == DuckDB `quantile_cont`),
    and the frame's total order (ts, event_id) leaves no tie ambiguity
    at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-ROLL_MED_ROWS, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "event_type",
        F.round(
            F.expr("percentile(value, 0.5)").over(w), 6
        ).alias("rolling_median"),
    )


# --- CUSUM sequential drift detection ----------------------------------------
# The third leg of the monitoring family: q_ext_daily_anomaly is the
# POINTWISE z-score, q_ext_ks_drift the DISTRIBUTION test, this is the
# SEQUENTIAL change-point monitor — the two-sided CUSUM (Page 1954)
# over each event type's daily-mean series:
#   s+_t = max(0, s+_{t-1} + z_t - K),  s-_t = max(0, s-_{t-1} - z_t - K)
# with z the standardized daily mean, slack K = 0.5, decision H = 4;
# a crossing counts an alarm and restarts both sides.  Small
# persistent shifts accumulate here long before any single day trips
# a pointwise z-test.
#
# Determinism: the corpus-sized stage emits exact (type, day) decimal
# sums + counts; each type's bounded day series (calendar-bounded,
# never corpus-bounded) is collect-sorted and folded in a fixed order.
# The z-scores are bit-identical doubles in both engines (identical
# fold association for mu/sigma), and the CUSUM state itself runs on
# the 1e-9-QUANTIZED integer grid (zi = floor(z * 1e9) as BIGINT) —
# the first float draft matched at sf0.01 but flipped 1-ulp at the
# 6-dp rounding boundary at sf1 (engines round the same double
# differently exactly at a half boundary); integer state has no
# boundary to flip.  The oracle replays the recurrence via RECURSIVE
# CTE because DuckDB 1.0's struct-lambda fold updates accumulator
# fields in place (the q_ext_holt_smoothing probe); mu/sigma scalar
# folds stay on list_reduce.

CUSUM_NANO = 1_000_000_000
CUSUM_SLACK_NANO = 500_000_000  # K = 0.5 on the nano grid
CUSUM_H_NANO = 4_000_000_000  # H = 4.0 on the nano grid


@register(
    "q_ext_cusum_drift",
    oracle=f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
           / count(*) AS m
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), series AS (
  SELECT event_type, list(m ORDER BY day) AS xs,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
), stats AS (
  SELECT event_type, xs, n_days,
         list_reduce(xs, (a, x) -> a + x) / n_days AS mu
  FROM series
), stats2 AS (
  SELECT event_type, xs, n_days, mu,
         sqrt(list_reduce(list_transform(xs, x -> (x - mu) * (x - mu)),
                          (a, x) -> a + x) / n_days) AS sigma
  FROM stats
), zq AS (
  SELECT event_type, n_days, mu, sigma,
         list_transform(xs, x -> CAST(floor((x - mu) / sigma * {CUSUM_NANO})
                                      AS BIGINT)) AS zi
  FROM stats2
), st AS (
  SELECT event_type, CAST(1 AS BIGINT) AS i,
         CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sn,
         CAST(0 AS BIGINT) AS n_alarms
  FROM zq
  UNION ALL
  SELECT r.event_type, r.i + 1,
         CASE WHEN greatest(0, r.sp + c.zi[r.i] - {CUSUM_SLACK_NANO})
                   > {CUSUM_H_NANO}
                OR greatest(0, r.sn - c.zi[r.i] - {CUSUM_SLACK_NANO})
                   > {CUSUM_H_NANO}
              THEN 0
              ELSE greatest(0, r.sp + c.zi[r.i] - {CUSUM_SLACK_NANO}) END,
         CASE WHEN greatest(0, r.sp + c.zi[r.i] - {CUSUM_SLACK_NANO})
                   > {CUSUM_H_NANO}
                OR greatest(0, r.sn - c.zi[r.i] - {CUSUM_SLACK_NANO})
                   > {CUSUM_H_NANO}
              THEN 0
              ELSE greatest(0, r.sn - c.zi[r.i] - {CUSUM_SLACK_NANO}) END,
         r.n_alarms
         + CASE WHEN greatest(0, r.sp + c.zi[r.i] - {CUSUM_SLACK_NANO})
                     > {CUSUM_H_NANO}
                  OR greatest(0, r.sn - c.zi[r.i] - {CUSUM_SLACK_NANO})
                     > {CUSUM_H_NANO}
                THEN 1 ELSE 0 END
  FROM st r JOIN zq c ON c.event_type = r.event_type
  WHERE r.i <= c.n_days
)
SELECT c.event_type, c.n_days,
       round(c.mu, 6) AS mu, round(c.sigma, 6) AS sigma,
       s.sp AS cusum_pos_nano, s.sn AS cusum_neg_nano,
       s.n_alarms
FROM zq c JOIN st s
  ON s.event_type = c.event_type AND s.i = c.n_days + 1
""",
)
def q_ext_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift monitor per event type (see block
    comment): final positive/negative CUSUM statistics (exact BIGINTs
    on the 1e-9 z-grid) and the alarm count over the standardized
    daily-mean series, with restart after each alarm.

    Plan: ONE corpus pass partial-aggregates exact (type, day) sums;
    everything after runs on the calendar-bounded series — scalar
    folds for mu/sigma and a struct-accumulator fold
    (snapshot-semantics F.aggregate) for the (s+, s-, alarms) state.
    At 100 TB the fold input is days-per-type, not rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "m"))),
            lambda s: s["m"],
        ).alias("xs"),
        F.count("*").cast("long").alias("n_days"),
    )
    mu = F.aggregate(
        F.col("xs"), F.lit(0.0), lambda a, x: a + x
    ) / F.col("n_days")
    stats = series.select("event_type", "xs", "n_days", mu.alias("mu"))
    sigma = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("xs"),
                lambda x: (x - F.col("mu")) * (x - F.col("mu")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / F.col("n_days")
    )
    stats2 = stats.withColumn("sigma", sigma)
    zq = stats2.withColumn(
        "zi",
        F.transform(
            F.col("xs"),
            lambda x: F.floor(
                (x - F.col("mu")) / F.col("sigma") * CUSUM_NANO
            ).cast("long"),
        ),
    )

    def step(acc, zi):
        sp = F.greatest(
            F.lit(0).cast("long"),
            acc.getField("sp") + zi - CUSUM_SLACK_NANO,
        )
        sn = F.greatest(
            F.lit(0).cast("long"),
            acc.getField("sn") - zi - CUSUM_SLACK_NANO,
        )
        alarm = (sp > CUSUM_H_NANO) | (sn > CUSUM_H_NANO)
        zero = F.lit(0).cast("long")
        return F.struct(
            F.when(alarm, zero).otherwise(sp).alias("sp"),
            F.when(alarm, zero).otherwise(sn).alias("sn"),
            (
                acc.getField("n_alarms")
                + F.when(alarm, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_alarms"),
        )

    folded = F.aggregate(
        F.col("zi"),
        F.struct(
            F.lit(0).cast("long").alias("sp"),
            F.lit(0).cast("long").alias("sn"),
            F.lit(0).cast("long").alias("n_alarms"),
        ),
        step,
    )
    return zq.select(
        "event_type",
        "n_days",
        F.round("mu", 6).alias("mu"),
        F.round("sigma", 6).alias("sigma"),
        folded.getField("sp").alias("cusum_pos_nano"),
        folded.getField("sn").alias("cusum_neg_nano"),
        folded.getField("n_alarms").alias("n_alarms"),
    )
