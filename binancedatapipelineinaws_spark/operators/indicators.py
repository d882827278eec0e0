"""Technical-indicator operators over the canonical BTCUSDT candle
layer — the signal queries a consumer of the reference's 1-minute OHLCV
product (reference main.py:26-40, the minute-bucket rotation;
lambda_function.py:26, the Aurora table those candles load into) runs
next: Bollinger bands, Donchian channels, on-balance volume, average
true range, and the stochastic oscillator.  (The recurrence-based pair
— Wilder RSI and MACD — lives in this module too, below the window
family.)

Exactness discipline (the r7/r8 sf1-drill lessons, see
q_win_rolling_corr): every rolling sum runs over INTEGER-scaled values
— prices are exact 2-dp (cents, x100 BIGINT) and quantities exact 5-dp
(x1e5 BIGINT) after canonicalization — so window sums are
order-independent across Spark frame folds and DuckDB segment trees.
Doubles appear only in the CLOSING scalar algebra, where both engines
evaluate the identical expression tree.

Scale notes (100 TB):
- Everything below the candle aggregate runs on the calendar-bounded
  candle layer (minutes in range, not ticks), the same argument as
  q_ext_gapfill / q_ext_drawdown.
- All rolling windows are PARTITIONED BY day — intraday indicator
  semantics (state resets at the session boundary, standard for
  exchange data) AND parallelism: no single global ordered partition;
  a year of minutes is 365 independent 1440-row frames.
- The candle aggregate itself is one uniform-key shuffle (minute
  buckets), partial-aggregated map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.canonical import BTCUSDT_CTE, btcusdt
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist

# ---------------------------------------------------------------------------
# shared integer-scaled candle layer
# ---------------------------------------------------------------------------

# DuckDB CTE chain: canonical ticks -> integer-scaled 1-minute candles
# (open/close tie-break identical to q_agg_ohlcv_1min's (time, bid)).
_CANDLES_CTE = (
    BTCUSDT_CTE
    + """
, pticks AS (
  SELECT date_trunc('minute', "time") AS m, "time", bid,
         CAST(round(price * 100, 0) AS BIGINT) AS price_c,
         CAST(round(quantity * 100000, 0) AS BIGINT) AS qty_u
  FROM btcusdt
), ranked AS (
  SELECT m, price_c, qty_u,
         row_number() OVER (PARTITION BY m ORDER BY "time", bid) AS rn_a,
         row_number() OVER (PARTITION BY m ORDER BY "time" DESC, bid DESC)
           AS rn_d
  FROM pticks
), candles AS MATERIALIZED (
  -- MATERIALIZED is an evaluation hint only (no semantic change) but
  -- load-bearing for the recursive oracles: without it DuckDB 1.0
  -- re-evaluates the whole tick->candle chain on EVERY recursion
  -- step, so a 1440-step fold oracle re-scanned the raw trades ~1440
  -- times — 15+ min per query at the 100x corpus vs 6 s materialized
  -- (probed on q_ext_rsi, r8).
  SELECT m, CAST(m AS DATE) AS day,
         max(CASE WHEN rn_a = 1 THEN price_c END) AS open_c,
         max(price_c) AS high_c,
         min(price_c) AS low_c,
         max(CASE WHEN rn_d = 1 THEN price_c END) AS close_c,
         CAST(sum(qty_u) AS BIGINT) AS vol_u,
         count(*) AS trades
  FROM ranked GROUP BY m
)
"""
)


def _candles_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-scaled 1-minute candles: prices in cents (x100 BIGINT),
    volume in 1e-5 units (x1e5 BIGINT), plus the session day — the
    exact-arithmetic substrate every indicator below rolls over."""
    btc = btcusdt(spark, sf_dir)
    pticks = btc.select(
        F.window("time", "1 minute").start.alias("m"),
        "time",
        "bid",
        F.round(F.col("price") * 100, 0).cast("long").alias("price_c"),
        F.round(F.col("quantity") * 100000, 0).cast("long").alias("qty_u"),
    )
    return (
        pticks.groupBy("m")
        .agg(
            F.min_by("price_c", F.struct("time", "bid")).alias("open_c"),
            F.max("price_c").alias("high_c"),
            F.min("price_c").alias("low_c"),
            F.max_by("price_c", F.struct("time", "bid")).alias("close_c"),
            F.sum("qty_u").alias("vol_u"),
            F.count("*").alias("trades"),
        )
        .withColumn("day", F.col("m").cast("date"))
    )


def _day_arrays(c: DataFrame, mapping: list[tuple[str, str]]) -> DataFrame:
    """Collect each day's bars ONCE as an `array_sort`ed struct array
    keyed by minute, then project the per-field arrays out of the
    single sorted column.  The naive form (one
    `array_sort(collect_list(...))` per extracted field) carries one
    aggregation buffer per field through the shuffle and sorts the
    day's array once per field — at 5 fields (Heikin-Ashi) that is 5x
    the shuffled bytes and 5x the sort work for identical output.

    `mapping` is [(alias, struct_field)]; the struct always leads with
    the minute `m` so the sort key (m, fields...) is byte-identical to
    the per-field form and results cannot move."""
    fields = list(dict.fromkeys(["m"] + [f for _, f in mapping]))
    agg = c.groupBy("day").agg(
        F.array_sort(F.collect_list(F.struct(*fields))).alias("_bars")
    )

    def _field(name):
        # NOT a default-arg lambda: transform() inspects arity, and a
        # 2-param lambda would receive the array index as arg 2
        return lambda s: s[name]

    return agg.select(
        "day",
        *[F.transform("_bars", _field(f)).alias(a) for a, f in mapping],
    )


# ---------------------------------------------------------------------------
# Bollinger bands
# ---------------------------------------------------------------------------

BOLL_N = 20  # SMA window (rows)
BOLL_K = 2  # band half-width in sample stddevs


@register(
    "q_ext_bollinger",
    oracle="WITH "
    + _CANDLES_CTE
    + f"""
, w AS (
  SELECT m, close_c,
         count(*) OVER fr AS n,
         -- exact BIGINT window sums over cents (order-independent);
         -- max close_c ~ 1e7 cents -> sxx term 1e14 x 20 rows = 2e15,
         -- inside int64
         CAST(sum(close_c) OVER fr AS DOUBLE) AS sx,
         CAST(sum(close_c * close_c) OVER fr AS DOUBLE) AS sxx
  FROM candles
  WINDOW fr AS (PARTITION BY day ORDER BY m
                ROWS BETWEEN {BOLL_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT m AS minute_start,
       round(close_c / 100.0, 2) AS close,
       CAST(n AS BIGINT) AS n,
       round(sx / n / 100.0, 6) AS sma,
       round((sx / n + {BOLL_K} * sqrt(greatest(n * sxx - sx * sx, 0)
                                       / (n * (n - 1)))) / 100.0, 6)
         AS upper_band,
       round((sx / n - {BOLL_K} * sqrt(greatest(n * sxx - sx * sx, 0)
                                       / (n * (n - 1)))) / 100.0, 6)
         AS lower_band
FROM w WHERE n > 1
""",
)
def q_ext_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the 1-minute closes: 20-row day-partitioned
    SMA +/- 2 sample standard deviations, computed from exact BIGINT
    component sums (n, Sx, Sxx) over ONE shared window frame — the
    q_win_rolling_corr discipline collapsed to a single series.  The
    warm-up edge keeps the conventional growing frame (band over however
    many rows exist), with n reported so consumers can mask; n=1 rows
    (undefined sample stddev) are dropped in both engines."""
    c = _candles_c(spark, sf_dir)
    fr = (
        Window.partitionBy("day")
        .orderBy("m")
        .rowsBetween(-(BOLL_N - 1), 0)
    )
    n = F.count("*").over(fr)
    sx = F.sum("close_c").over(fr).cast("double")
    sxx = (
        F.sum(F.col("close_c") * F.col("close_c")).over(fr).cast("double")
    )
    sd = F.sqrt(
        F.greatest(n * sxx - sx * sx, F.lit(0.0)) / (n * (n - 1))
    )
    return (
        c.select(
            F.col("m").alias("minute_start"),
            F.round(F.col("close_c") / 100.0, 2).alias("close"),
            n.cast("long").alias("n"),
            F.round(sx / n / 100.0, 6).alias("sma"),
            F.round((sx / n + BOLL_K * sd) / 100.0, 6).alias("upper_band"),
            F.round((sx / n - BOLL_K * sd) / 100.0, 6).alias("lower_band"),
        )
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# Donchian channel breakouts
# ---------------------------------------------------------------------------

DON_N = 20  # lookback (prior rows, current bar excluded)


@register(
    "q_ext_donchian",
    oracle="WITH "
    + _CANDLES_CTE
    + f"""
, w AS (
  SELECT m, close_c,
         count(*) OVER fr AS n_prior,
         max(high_c) OVER fr AS hh,
         min(low_c) OVER fr AS ll
  FROM candles
  WINDOW fr AS (PARTITION BY day ORDER BY m
                ROWS BETWEEN {DON_N} PRECEDING AND 1 PRECEDING)
)
SELECT m AS minute_start,
       round(close_c / 100.0, 2) AS close,
       CAST(n_prior AS BIGINT) AS n_prior,
       round(hh / 100.0, 2) AS upper_ch,
       round(ll / 100.0, 2) AS lower_ch,
       round((hh + ll) / 200.0, 3) AS mid_ch,
       CASE WHEN close_c > hh THEN 1 ELSE 0 END AS breakout_up,
       CASE WHEN close_c < ll THEN 1 ELSE 0 END AS breakout_down
FROM w WHERE n_prior > 0
""",
)
def q_ext_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel: rolling highest-high / lowest-low of the PRIOR
    20 bars (current bar excluded — the breakout test compares today's
    close against yesterday's channel, the turtle-trading rule), with
    integer breakout flags.  Pure integer min/max/compare — exact at
    any scale; the only doubles are the final /100 display divisions,
    the identical expression in both engines."""
    c = _candles_c(spark, sf_dir)
    fr = Window.partitionBy("day").orderBy("m").rowsBetween(-DON_N, -1)
    n_prior = F.count("*").over(fr)
    hh = F.max("high_c").over(fr)
    ll = F.min("low_c").over(fr)
    return (
        c.select(
            F.col("m").alias("minute_start"),
            F.round(F.col("close_c") / 100.0, 2).alias("close"),
            n_prior.cast("long").alias("n_prior"),
            F.round(hh / 100.0, 2).alias("upper_ch"),
            F.round(ll / 100.0, 2).alias("lower_ch"),
            F.round((hh + ll) / 200.0, 3).alias("mid_ch"),
            F.when(F.col("close_c") > hh, 1).otherwise(0).alias("breakout_up"),
            F.when(F.col("close_c") < ll, 1).otherwise(0).alias(
                "breakout_down"
            ),
        )
        .filter(F.col("n_prior") > 0)
    )


# ---------------------------------------------------------------------------
# On-balance volume
# ---------------------------------------------------------------------------


@register(
    "q_ext_obv",
    oracle="WITH "
    + _CANDLES_CTE
    + """
, d AS (
  SELECT m, day, close_c, vol_u,
         CASE
           WHEN lag(close_c) OVER dw IS NULL THEN 0
           WHEN close_c > lag(close_c) OVER dw THEN 1
           WHEN close_c < lag(close_c) OVER dw THEN -1
           ELSE 0
         END AS direction
  FROM candles
  WINDOW dw AS (PARTITION BY day ORDER BY m)
)
SELECT m AS minute_start, direction,
       -- exact BIGINT running sum of signed 1e-5-unit volume
       CAST(sum(direction * vol_u) OVER (
              PARTITION BY day ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS obv_u,
       round(CAST(sum(direction * vol_u) OVER (
              PARTITION BY day ORDER BY m
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 100000.0, 5) + 0.0 AS obv
FROM d
""",
)
def q_ext_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per session day: cumulative signed minute
    volume, direction = sign of the close-to-close change (first bar of
    the day contributes 0).  The running sum is exact BIGINT over
    1e-5-unit volumes — order-independent — and the display double is
    one deterministic division (+0.0 canonicalizes the signed zero a
    negative-then-flat day can produce)."""
    c = _candles_c(spark, sf_dir)
    dw = Window.partitionBy("day").orderBy("m")
    prev = F.lag("close_c").over(dw)
    direction = (
        F.when(prev.isNull(), 0)
        .when(F.col("close_c") > prev, 1)
        .when(F.col("close_c") < prev, -1)
        .otherwise(0)
    )
    d = c.select("m", "day", "vol_u", direction.alias("direction"))
    run = dw.rowsBetween(Window.unboundedPreceding, 0)
    obv_u = F.sum(F.col("direction") * F.col("vol_u")).over(run)
    return d.select(
        F.col("m").alias("minute_start"),
        "direction",
        obv_u.cast("long").alias("obv_u"),
        (F.round(obv_u.cast("double") / 100000.0, 5) + F.lit(0.0)).alias(
            "obv"
        ),
    )


# ---------------------------------------------------------------------------
# Average true range (SMA form)
# ---------------------------------------------------------------------------

ATR_N = 14


@register(
    "q_ext_atr",
    oracle="WITH "
    + _CANDLES_CTE
    + f"""
, tr AS (
  SELECT m, day,
         -- true range in cents: first bar of the day falls back to
         -- high-low (no prior close), the classic Wilder convention
         CASE
           WHEN lag(close_c) OVER dw IS NULL THEN high_c - low_c
           ELSE greatest(high_c - low_c,
                         abs(high_c - lag(close_c) OVER dw),
                         abs(low_c - lag(close_c) OVER dw))
         END AS tr_c
  FROM candles
  WINDOW dw AS (PARTITION BY day ORDER BY m)
)
SELECT m AS minute_start,
       round(tr_c / 100.0, 2) AS true_range,
       CAST(count(*) OVER fr AS BIGINT) AS n,
       round(CAST(sum(tr_c) OVER fr AS DOUBLE)
             / count(*) OVER fr / 100.0, 6) AS atr
FROM tr
WINDOW fr AS (PARTITION BY day ORDER BY m
              ROWS BETWEEN {ATR_N - 1} PRECEDING AND CURRENT ROW)
""",
)
def q_ext_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average true range (14-bar SMA form) per session day: true range
    in exact cents (greatest of high-low and the two gap terms against
    the prior close; first bar of the day = high-low), then a rolling
    integer-sum mean.  The Wilder-recurrence form is q_ext_rsi's
    machinery; the SMA form is the window-exact variant that
    parallelizes as a plain frame."""
    c = _candles_c(spark, sf_dir)
    dw = Window.partitionBy("day").orderBy("m")
    prev = F.lag("close_c").over(dw)
    tr_c = F.when(
        prev.isNull(), F.col("high_c") - F.col("low_c")
    ).otherwise(
        F.greatest(
            F.col("high_c") - F.col("low_c"),
            F.abs(F.col("high_c") - prev),
            F.abs(F.col("low_c") - prev),
        )
    )
    tr = c.select("m", "day", tr_c.alias("tr_c"))
    fr = (
        Window.partitionBy("day")
        .orderBy("m")
        .rowsBetween(-(ATR_N - 1), 0)
    )
    n = F.count("*").over(fr)
    return tr.select(
        F.col("m").alias("minute_start"),
        F.round(F.col("tr_c") / 100.0, 2).alias("true_range"),
        n.cast("long").alias("n"),
        F.round(
            F.sum("tr_c").over(fr).cast("double") / n / 100.0, 6
        ).alias("atr"),
    )


# ---------------------------------------------------------------------------
# Stochastic oscillator
# ---------------------------------------------------------------------------

STOCH_N = 14  # %K lookback
STOCH_D = 3  # %D smoothing (explicit 3-term mean via lags)


@register(
    "q_ext_stochastic",
    oracle="WITH "
    + _CANDLES_CTE
    + f"""
, w AS (
  SELECT m, day, close_c,
         count(*) OVER fr AS n,
         max(high_c) OVER fr AS hh,
         min(low_c) OVER fr AS ll
  FROM candles
  WINDOW fr AS (PARTITION BY day ORDER BY m
                ROWS BETWEEN {STOCH_N - 1} PRECEDING AND CURRENT ROW)
), k AS (
  -- %K only once the lookback is full; flat 14-bar range -> NULL
  SELECT m, day, n,
         CASE WHEN n = {STOCH_N}
              THEN 100.0 * (close_c - ll) / nullif(hh - ll, 0) END AS pct_k
  FROM w
)
SELECT m AS minute_start, CAST(n AS BIGINT) AS n,
       round(pct_k, 5) AS pct_k,
       -- explicit {STOCH_D}-term mean via lags: a deterministic
       -- expression tree, not an engine-ordered window sum of doubles
       round((pct_k + lag(pct_k, 1) OVER dw + lag(pct_k, 2) OVER dw)
             / {STOCH_D}.0, 5) AS pct_d
FROM k
WINDOW dw AS (PARTITION BY day ORDER BY m)
""",
)
def q_ext_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator per session day: %K = position of the
    close inside the trailing 14-bar high-low range (defined only once
    the lookback is full; NULL on a flat range), %D = 3-bar mean of %K
    written as an explicit lag sum — three doubles added in a fixed
    expression order, immune to the engine-ordered window-sum
    divergence the sf1 drill caught on double frames."""
    c = _candles_c(spark, sf_dir)
    fr = (
        Window.partitionBy("day")
        .orderBy("m")
        .rowsBetween(-(STOCH_N - 1), 0)
    )
    n = F.count("*").over(fr)
    hh = F.max("high_c").over(fr)
    ll = F.min("low_c").over(fr)
    rng = hh - ll
    pct_k = F.when(
        n == STOCH_N,
        100.0
        * (F.col("close_c") - ll)
        / F.when(rng != 0, rng),
    )
    k = c.select(
        "m", "day", n.cast("long").alias("n"), pct_k.alias("pct_k")
    )
    dw = Window.partitionBy("day").orderBy("m")
    return k.select(
        F.col("m").alias("minute_start"),
        "n",
        F.round("pct_k", 5).alias("pct_k"),
        F.round(
            (
                F.col("pct_k")
                + F.lag("pct_k", 1).over(dw)
                + F.lag("pct_k", 2).over(dw)
            )
            / float(STOCH_D),
            5,
        ).alias("pct_d"),
    )


def _q6(a: str) -> str:
    """Half-away-from-zero quantization of a cents x 1e9 fixed-point
    value to the 6-dp dollar grid (1e-6 $ = 1e5 fp units), entirely in
    integers, then ONE exact final division (quotient <= ~1e9 is
    double-exact).  Same text works in Spark SQL and DuckDB modulo the
    div operator, handled by the caller."""
    return (
        f"CAST((({a}) + (CASE WHEN ({a}) >= 0 THEN 50000 ELSE -50000 END))"
        f" DIVOP 100000 AS DOUBLE) / 1000000.0"
    )


# ---------------------------------------------------------------------------
# Parabolic SAR
# ---------------------------------------------------------------------------

_SAR_FP = 1_000_000_000  # SAR state scale: cents x 1e9
# af = k/50 for k in 1..10 (0.02 steps, 0.2 cap) -> the update
# sar' = sar + af*(ep - sar) = ((50-k)*sar + k*ep*FP) div 50 is an
# exact integer machine like MACD/Keltner.

# ONE step template instantiated for BOTH engines (placeholders:
# {H}/{L} = current bar's high/low (cents), {LP}/{HP} = prior bar's,
# {LPP}/{HPP} = two bars back (clamped to bar 1), {T}/{SAR}/{EP}/{K} =
# the pre-step state, {DIV} = the truncating integral div operator).
# Semantics (standard Wilder, documented in the query docstring):
#   raw  = ((50-k)*sar + k*ep*FP) div 50
#   clamp: uptrend SAR may not exceed the prior two lows (mirror for
#          downtrend with the prior two highs)
#   flip when the current bar penetrates the clamped SAR; the new SAR
#   is the prior trend's EP, af resets (k=1), EP restarts at the
#   penetrating extreme; otherwise EP/af ratchet on a new extreme.
_SAR_RAW = "(((50 - {K}) * {SAR} + {K} * ({EP} * 1000000000)) {DIV} 50)"
_SAR_CLAMP = (
    f"(CASE WHEN {{T}} = 1"
    f" THEN least({_SAR_RAW}, {{LP}} * 1000000000, {{LPP}} * 1000000000)"
    f" ELSE greatest({_SAR_RAW}, {{HP}} * 1000000000,"
    f" {{HPP}} * 1000000000) END)"
)
_SAR_FLIP = (
    f"(CASE WHEN {{T}} = 1 THEN {{L}} * 1000000000 < {_SAR_CLAMP}"
    f" ELSE {{H}} * 1000000000 > {_SAR_CLAMP} END)"
)
_SAR_NEW_T = f"(CASE WHEN {_SAR_FLIP} THEN -{{T}} ELSE {{T}} END)"
_SAR_NEW_SAR = (
    f"(CASE WHEN {_SAR_FLIP} THEN {{EP}} * 1000000000"
    f" ELSE {_SAR_CLAMP} END)"
)
_SAR_NEW_EP = (
    f"(CASE WHEN {_SAR_FLIP} THEN (CASE WHEN {{T}} = 1 THEN {{L}}"
    f" ELSE {{H}} END)"
    f" WHEN {{T}} = 1 THEN greatest({{EP}}, {{H}})"
    f" ELSE least({{EP}}, {{L}}) END)"
)
_SAR_NEW_K = (
    f"(CASE WHEN {_SAR_FLIP} THEN 1"
    f" WHEN {{T}} = 1 AND {{H}} > {{EP}} THEN least({{K}} + 1, 10)"
    f" WHEN {{T}} = -1 AND {{L}} < {{EP}} THEN least({{K}} + 1, 10)"
    f" ELSE {{K}} END)"
)


def _sar_step(field_tmpl: str, subs: dict) -> str:
    return field_tmpl.format(**subs)


_SAR_SPARK_SUBS = dict(
    H="element_at(hs, i)",
    L="element_at(ls, i)",
    HP="element_at(hs, i - 1)",
    LP="element_at(ls, i - 1)",
    HPP="element_at(hs, greatest(i - 2, 1))",
    LPP="element_at(ls, greatest(i - 2, 1))",
    T="acc.t",
    SAR="acc.sar",
    EP="acc.ep",
    K="acc.k",
    DIV="div",
)
_SAR_DUCK_SUBS = dict(
    H="b.hs[s.i + 1]",
    L="b.ls[s.i + 1]",
    HP="b.hs[s.i]",
    LP="b.ls[s.i]",
    HPP="b.hs[greatest(s.i - 1, 1)]",
    LPP="b.ls[greatest(s.i - 1, 1)]",
    T="s.t",
    SAR="s.sar",
    EP="s.ep",
    K="s.k",
    DIV="//",
)

_SAR_FOLD = f"""
aggregate(
  CASE WHEN size(ms) >= 2 THEN sequence(2, size(ms))
       ELSE CAST(array() AS ARRAY<INT>) END,
  named_struct(
    't', CASE WHEN size(ms) >= 2
               AND element_at(cs, 2) >= element_at(cs, 1)
              THEN 1 ELSE -1 END,
    'sar', CAST(CASE WHEN size(ms) >= 2
                      AND element_at(cs, 2) >= element_at(cs, 1)
                     THEN element_at(ls, 1) * 1000000000L
                     ELSE element_at(hs, 1) * 1000000000L END AS BIGINT),
    'ep', CASE WHEN size(ms) >= 2
                AND element_at(cs, 2) >= element_at(cs, 1)
               THEN element_at(hs, 1) ELSE element_at(ls, 1) END,
    'k', 1,
    'out', CAST(array() AS ARRAY<STRUCT<t: INT, sar: BIGINT>>)),
  (acc, i) -> named_struct(
    't', {_sar_step(_SAR_NEW_T, _SAR_SPARK_SUBS)},
    'sar', {_sar_step(_SAR_NEW_SAR, _SAR_SPARK_SUBS)},
    'ep', {_sar_step(_SAR_NEW_EP, _SAR_SPARK_SUBS)},
    'k', {_sar_step(_SAR_NEW_K, _SAR_SPARK_SUBS)},
    'out', concat(acc.out, array(named_struct(
      't', {_sar_step(_SAR_NEW_T, _SAR_SPARK_SUBS)},
      'sar', {_sar_step(_SAR_NEW_SAR, _SAR_SPARK_SUBS)})))
  )
).out
"""


@register(
    "q_ext_parabolic_sar",
    oracle="WITH RECURSIVE "
    + _CANDLES_CTE
    + f"""
, kbars AS (
  SELECT day, list(high_c ORDER BY m) AS hs, list(low_c ORDER BY m) AS ls,
         list(close_c ORDER BY m) AS cs, list(m ORDER BY m) AS ms
  FROM candles GROUP BY day
), eligible AS (
  SELECT * FROM kbars WHERE len(ms) >= 2
), st AS (
  -- the full 4-field SAR state advances per bar; the recursive CTE's
  -- SELECT has snapshot semantics (list_reduce struct lambdas update
  -- in place — probed r8 — so only the CTE form matches Spark's
  -- fold).  State: trend, SAR (cents x 1e9), EP (cents), af step k.
  SELECT day, CAST(1 AS BIGINT) AS i,
         CASE WHEN cs[2] >= cs[1] THEN 1 ELSE -1 END AS t,
         CAST(CASE WHEN cs[2] >= cs[1]
                   THEN ls[1] * 1000000000
                   ELSE hs[1] * 1000000000 END AS BIGINT) AS sar,
         CASE WHEN cs[2] >= cs[1] THEN hs[1] ELSE ls[1] END AS ep,
         1 AS k
  FROM eligible
  UNION ALL
  SELECT s.day, s.i + 1,
         {_sar_step(_SAR_NEW_T, _SAR_DUCK_SUBS)},
         {_sar_step(_SAR_NEW_SAR, _SAR_DUCK_SUBS)},
         {_sar_step(_SAR_NEW_EP, _SAR_DUCK_SUBS)},
         {_sar_step(_SAR_NEW_K, _SAR_DUCK_SUBS)}
  FROM st s JOIN eligible b ON b.day = s.day
  WHERE s.i < len(b.ms)
)
-- row i=1 is the seed (pre-step state) and is not emitted; rows
-- i >= 2 carry the post-step state for bar i
SELECT b.ms[s.i] AS minute_start,
       s.t AS trend,
       {_q6("s.sar").replace("DIVOP", "//")} AS sar
FROM st s JOIN eligible b ON b.day = s.day
WHERE s.i >= 2
""",
)
def q_ext_parabolic_sar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parabolic SAR per session day — the conditional-reset state
    machine: SAR accelerates toward the extreme point by af = k/50
    (0.02 steps, 0.2 cap), is clamped by the prior two bars' extremes,
    and FLIPS trend when the current bar penetrates it (the prior EP
    becomes the new SAR, af resets, EP restarts at the penetrating
    extreme).  af being an exact rational makes the whole 4-field
    state (trend, sar, ep, k) a BIGINT integer machine — one fold /
    one recursive CTE per day, bit-identical across engines; BOTH
    engine texts are instantiated from the SAME step template, so the
    semantics cannot drift.  Seed: trend from the first two closes,
    SAR at bar 1's opposite extreme, EP at its trend extreme; emitted
    from bar 2.  Output: post-step SAR and trend per bar, quantized
    half-away-from-zero on the 6-dp dollar grid.  Overflow: 50 x sar
    caps at ~$2M prices.  100 TB: O(1) state per day, (days x 1440)
    fold work — the q_ext_macd shape."""
    c = _candles_c(spark, sf_dir)
    bars = _day_arrays(
        c,
        [("hs", "high_c"), ("ls", "low_c"), ("cs", "close_c"), ("ms", "m")],
    ).filter(F.size("ms") >= 2)
    exploded = bars.select(
        "ms", F.posexplode(F.expr(_SAR_FOLD)).alias("pos", "s")
    )
    return exploded.select(
        F.element_at(F.col("ms"), F.col("pos") + 2).alias("minute_start"),
        F.col("s.t").alias("trend"),
        F.expr(_q6("s.sar").replace("DIVOP", "div")).alias("sar"),
    )


# ---------------------------------------------------------------------------
# Supertrend
# ---------------------------------------------------------------------------

ST_N = 10  # Wilder ATR lookback (recurrence (9*atr + tr*FP) div 10)
ST_MULT = 3  # band half-width in ATRs

# State (all BIGINT): atr = cents x 1e9; fub/flb = final upper/lower
# bands at 2x cents x 1e9 (the (H+L) midpoint is carried as the
# never-halved sum, so basic band = (H+L)*FP +/- 2*3*atr); t = trend.
# Conditional carry: a band only moves toward the price unless the
# prior close already broke it; trend flips when the close crosses
# the carried band.  ONE step template -> both engines.
_ST_TR = (
    "greatest({H} - {L}, abs({H} - {CP}), abs({L} - {CP}))"
)
_ST_NEW_ATR = f"((9 * {{ATR}} + ({_ST_TR}) * 1000000000) {{DIV}} 10)"
_ST_BUB = f"(({{H}} + {{L}}) * 1000000000 + {2 * ST_MULT} * {_ST_NEW_ATR})"
_ST_BLB = f"(({{H}} + {{L}}) * 1000000000 - {2 * ST_MULT} * {_ST_NEW_ATR})"
_ST_NEW_FUB = (
    f"(CASE WHEN {_ST_BUB} < {{FUB}}"
    f" OR {{CP}} * 2000000000 > {{FUB}}"
    f" THEN {_ST_BUB} ELSE {{FUB}} END)"
)
_ST_NEW_FLB = (
    f"(CASE WHEN {_ST_BLB} > {{FLB}}"
    f" OR {{CP}} * 2000000000 < {{FLB}}"
    f" THEN {_ST_BLB} ELSE {{FLB}} END)"
)
_ST_NEW_T = (
    f"(CASE WHEN {{C}} * 2000000000 > {_ST_NEW_FUB} THEN 1"
    f" WHEN {{C}} * 2000000000 < {_ST_NEW_FLB} THEN -1"
    f" ELSE {{T}} END)"
)

_ST_SPARK_SUBS = dict(
    H="element_at(hs, i)",
    L="element_at(ls, i)",
    C="element_at(cs, i)",
    CP="element_at(cs, i - 1)",
    ATR="acc.atr",
    FUB="acc.fub",
    FLB="acc.flb",
    T="acc.t",
    DIV="div",
)
_ST_DUCK_SUBS = dict(
    H="b.hs[s.i + 1]",
    L="b.ls[s.i + 1]",
    C="b.cs[s.i + 1]",
    CP="b.cs[s.i]",
    ATR="s.atr",
    FUB="s.fub",
    FLB="s.flb",
    T="s.t",
    DIV="//",
)

_ST_FOLD = f"""
aggregate(
  CASE WHEN size(ms) >= 2 THEN sequence(2, size(ms))
       ELSE CAST(array() AS ARRAY<INT>) END,
  named_struct(
    'atr', (element_at(hs, 1) - element_at(ls, 1)) * 1000000000L,
    'fub', (element_at(hs, 1) + element_at(ls, 1)) * 1000000000L
           + {2 * ST_MULT}L * ((element_at(hs, 1) - element_at(ls, 1))
                               * 1000000000L),
    'flb', (element_at(hs, 1) + element_at(ls, 1)) * 1000000000L
           - {2 * ST_MULT}L * ((element_at(hs, 1) - element_at(ls, 1))
                               * 1000000000L),
    't', 1,
    'out', CAST(array() AS
                ARRAY<STRUCT<t: INT, fub: BIGINT, flb: BIGINT>>)),
  (acc, i) -> named_struct(
    'atr', {_ST_NEW_ATR.format(**_ST_SPARK_SUBS)},
    'fub', {_ST_NEW_FUB.format(**_ST_SPARK_SUBS)},
    'flb', {_ST_NEW_FLB.format(**_ST_SPARK_SUBS)},
    't', {_ST_NEW_T.format(**_ST_SPARK_SUBS)},
    'out', concat(acc.out, array(named_struct(
      't', {_ST_NEW_T.format(**_ST_SPARK_SUBS)},
      'fub', {_ST_NEW_FUB.format(**_ST_SPARK_SUBS)},
      'flb', {_ST_NEW_FLB.format(**_ST_SPARK_SUBS)})))
  )
).out
"""


def _q6_2x(a: str) -> str:
    """Half-away-from-zero quantization of a (2x cents) x 1e9
    fixed-point value to the 6-dp dollar grid (1e-6 $ = 2e5 fp
    units); one exact final division."""
    return (
        f"CAST((({a}) + (CASE WHEN ({a}) >= 0 THEN 100000"
        f" ELSE -100000 END)) DIVOP 200000 AS DOUBLE) / 1000000.0"
    )


@register(
    "q_ext_supertrend",
    oracle="WITH RECURSIVE "
    + _CANDLES_CTE
    + f"""
, kbars AS (
  SELECT day, list(high_c ORDER BY m) AS hs, list(low_c ORDER BY m) AS ls,
         list(close_c ORDER BY m) AS cs, list(m ORDER BY m) AS ms
  FROM candles GROUP BY day
), eligible AS (
  SELECT * FROM kbars WHERE len(ms) >= 2
), st AS (
  -- 4-field integer state: Wilder ATR(10) (cents x 1e9), carried
  -- upper/lower bands (2x cents x 1e9 — (H+L) never halved), trend.
  -- Seed = bar 1 (TR_1 = high-low, bands at bar 1's basic bands,
  -- trend up); emitted from bar 2.
  SELECT day, CAST(1 AS BIGINT) AS i,
         (hs[1] - ls[1]) * 1000000000 AS atr,
         (hs[1] + ls[1]) * 1000000000
           + {2 * ST_MULT} * ((hs[1] - ls[1]) * 1000000000) AS fub,
         (hs[1] + ls[1]) * 1000000000
           - {2 * ST_MULT} * ((hs[1] - ls[1]) * 1000000000) AS flb,
         1 AS t
  FROM eligible
  UNION ALL
  SELECT s.day, s.i + 1,
         {_ST_NEW_ATR.format(**_ST_DUCK_SUBS)},
         {_ST_NEW_FUB.format(**_ST_DUCK_SUBS)},
         {_ST_NEW_FLB.format(**_ST_DUCK_SUBS)},
         {_ST_NEW_T.format(**_ST_DUCK_SUBS)}
  FROM st s JOIN eligible b ON b.day = s.day
  WHERE s.i < len(b.ms)
)
SELECT b.ms[s.i] AS minute_start,
       s.t AS trend,
       -- the supertrend line rides the band the price is above/below
       {_q6_2x("CASE WHEN s.t = 1 THEN s.flb ELSE s.fub END").replace(
           "DIVOP", "//"
       )} AS supertrend
FROM st s JOIN eligible b ON b.day = s.day
WHERE s.i >= 2
""",
)
def q_ext_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supertrend(10, 3) per session day — the conditional-carry band
    machine: basic bands = (H+L)/2 +/- 3 x Wilder ATR(10), the FINAL
    band only moves toward the price (carries otherwise) unless the
    prior close already broke it, and the trend flips when the close
    crosses the carried band; the plotted line rides the band on the
    trend's side.  All four state fields are exact BIGINTs (ATR at
    cents x 1e9 via the rational Wilder recurrence; bands at 2x cents
    x 1e9 — the (H+L) sum is never halved, the /2 commutes to the
    display quantizer), and BOTH engine texts are instantiated from
    ONE step template, so carry/flip semantics cannot drift.  Output
    quantizes half-away-from-zero on the 6-dp dollar grid.  Overflow:
    the 6xATR band term caps at ~$1.5M prices.  100 TB: O(1) state
    per day, (days x 1440) fold work — the q_ext_macd shape."""
    c = _candles_c(spark, sf_dir)
    bars = _day_arrays(
        c,
        [("hs", "high_c"), ("ls", "low_c"), ("cs", "close_c"), ("ms", "m")],
    ).filter(F.size("ms") >= 2)
    exploded = bars.select(
        "ms", F.posexplode(F.expr(_ST_FOLD)).alias("pos", "s")
    )
    line = "CASE WHEN s.t = 1 THEN s.flb ELSE s.fub END"
    return exploded.select(
        F.element_at(F.col("ms"), F.col("pos") + 2).alias("minute_start"),
        F.col("s.t").alias("trend"),
        F.expr(_q6_2x(line).replace("DIVOP", "div")).alias("supertrend"),
    )


# ---------------------------------------------------------------------------
# Keltner channels
# ---------------------------------------------------------------------------

KC_MID_N = 20  # midline EMA lookback (alpha = 2/21)
KC_ATR_N = 10  # true-range EMA lookback (alpha = 2/11)
KC_MULT = 2  # band half-width in ATRs
_KC_FP = 1_000_000_000  # state scale: cents x 1e9 (midline at 3x cents)

# Spark-SQL fragments.  The midline EMA runs on the 3x-cents typical
# price (H+L+C, never /3 — the division commutes to the display step),
# the band EMA on the cents true range; both are rational-coefficient
# integer machines like MACD (2/21 -> (2x + 19e) div 21, 2/11 ->
# (2x + 9e) div 11).
_KC_TP3 = (
    "(element_at(hs, i) + element_at(ls, i) + element_at(cs, i))"
    " * 1000000000L"
)
_KC_TR = (
    "greatest(element_at(hs, i) - element_at(ls, i),"
    " abs(element_at(hs, i) - element_at(cs, i - 1)),"
    " abs(element_at(ls, i) - element_at(cs, i - 1))) * 1000000000L"
)
_KC_NEW_MID = f"((2L * {_KC_TP3} + 19L * acc.mid) div 21)"
_KC_NEW_ATR = f"((2L * {_KC_TR} + 9L * acc.atr) div 11)"

_KC_SEED_MID = (
    "(element_at(hs, 1) + element_at(ls, 1) + element_at(cs, 1))"
    " * 1000000000L"
)
_KC_SEED_ATR = "(element_at(hs, 1) - element_at(ls, 1)) * 1000000000L"

_KC_FOLD = f"""
aggregate(
  CASE WHEN size(ms) >= 2 THEN sequence(2, size(ms))
       ELSE CAST(array() AS ARRAY<INT>) END,
  named_struct('mid', {_KC_SEED_MID},
               'atr', {_KC_SEED_ATR},
               'out', array(named_struct('mid', {_KC_SEED_MID},
                                         'atr', {_KC_SEED_ATR}))),
  (acc, i) -> named_struct(
    'mid', {_KC_NEW_MID},
    'atr', {_KC_NEW_ATR},
    'out', concat(acc.out,
                  array(named_struct('mid', {_KC_NEW_MID},
                                     'atr', {_KC_NEW_ATR})))
  )
).out
"""


def _q6_3x(a: str) -> str:
    """Half-away-from-zero quantization of a (3x cents) x 1e9
    fixed-point value to the 6-dp dollar grid (1e-6 $ = 3e5 fp units),
    entirely in integers, one exact final division (quotient <= ~3e11
    is double-exact).  The 3x scale is the never-divided typical-price
    sum; DIVOP is `div` (Spark) / `//` (DuckDB), both truncating."""
    return (
        f"CAST((({a}) + (CASE WHEN ({a}) >= 0 THEN 150000"
        f" ELSE -150000 END)) DIVOP 300000 AS DOUBLE) / 1000000.0"
    )


@register(
    "q_ext_keltner",
    oracle="WITH RECURSIVE "
    + _CANDLES_CTE
    + f"""
, kbars AS (
  SELECT day, list(high_c ORDER BY m) AS hs, list(low_c ORDER BY m) AS ls,
         list(close_c ORDER BY m) AS cs, list(m ORDER BY m) AS ms
  FROM candles GROUP BY day
), st AS (
  -- two BIGINT fixed-point EMAs: midline on the 3x-cents typical
  -- price (alpha 2/21), band width on the cents true range (alpha
  -- 2/11) — the MACD integer machine (identical double trees flip
  -- under FMA contraction; integers cannot).  Seeds: bar 1's typical
  -- price and its high-low range (the bar-1 TR convention).
  SELECT day, CAST(1 AS BIGINT) AS i,
         (hs[1] + ls[1] + cs[1]) * 1000000000 AS mid,
         (hs[1] - ls[1]) * 1000000000 AS atr
  FROM kbars
  UNION ALL
  SELECT s.day, s.i + 1,
         (2 * ((b.hs[s.i + 1] + b.ls[s.i + 1] + b.cs[s.i + 1])
               * 1000000000) + 19 * s.mid) // 21,
         (2 * (greatest(b.hs[s.i + 1] - b.ls[s.i + 1],
                        abs(b.hs[s.i + 1] - b.cs[s.i]),
                        abs(b.ls[s.i + 1] - b.cs[s.i]))
               * 1000000000) + 9 * s.atr) // 11
  FROM st s JOIN kbars b ON b.day = s.day
  WHERE s.i < len(b.ms)
)
SELECT b.ms[s.i] AS minute_start,
       {_q6_3x("s.mid").replace("DIVOP", "//")} AS middle,
       {_q6_3x(f"s.mid + {3 * KC_MULT} * s.atr").replace("DIVOP", "//")}
         AS upper_band,
       {_q6_3x(f"s.mid - {3 * KC_MULT} * s.atr").replace("DIVOP", "//")}
         AS lower_band
FROM st s JOIN kbars b ON b.day = s.day
""",
)
def q_ext_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channels per session day: midline = EMA(20) of the
    typical price (H+L+C)/3, bands = midline +/- 2 x EMA(10) of the
    true range.  Both recurrences run as BIGINT fixed-point integer
    machines (cents x 1e9; the typical price stays as the 3x sum —
    the /3 commutes through the linear EMA to the display step, where
    the band offset scales by 3x2 to match).  Coefficients are exact
    rationals (2/21, 2/11) -> integer mul-add + truncating division
    (`div` == `//`), so the state is bit-identical across engines by
    construction; outputs quantize half-away-from-zero on the 6-dp
    dollar grid (one exact final division).  Emits every bar from bar
    1 (seeds: bar 1's typical price; TR_1 = high-low).  Overflow
    headroom: 19 x tp3 x 1e9 caps at ~$1M prices.  100 TB: O(1) state
    per day, (days x 1440) fold work regardless of tick volume — the
    q_ext_macd shape."""
    c = _candles_c(spark, sf_dir)
    bars = _day_arrays(
        c,
        [("hs", "high_c"), ("ls", "low_c"), ("cs", "close_c"), ("ms", "m")],
    )
    exploded = bars.select(
        "ms", F.posexplode(F.expr(_KC_FOLD)).alias("pos", "s")
    )
    off = 3 * KC_MULT
    return exploded.select(
        F.element_at(F.col("ms"), F.col("pos") + 1).alias("minute_start"),
        F.expr(_q6_3x("s.mid").replace("DIVOP", "div")).alias("middle"),
        F.expr(
            _q6_3x(f"s.mid + {off} * s.atr").replace("DIVOP", "div")
        ).alias("upper_band"),
        F.expr(
            _q6_3x(f"s.mid - {off} * s.atr").replace("DIVOP", "div")
        ).alias("lower_band"),
    )


# ---------------------------------------------------------------------------
# Ichimoku cloud
# ---------------------------------------------------------------------------

ICHI_T = 9  # tenkan (conversion) lookback
ICHI_K = 26  # kijun (base) lookback; also the displacement
ICHI_S = 52  # senkou span B lookback


@register(
    "q_ext_ichimoku",
    oracle="WITH "
    + _CANDLES_CTE
    + f"""
, w AS (
  -- each line is a (HH+LL) integer midline sum at 2x cents scale:
  -- exact frames, NULL until the lookback is full
  SELECT m, day, close_c,
         CASE WHEN count(*) OVER f9 = {ICHI_T}
              THEN max(high_c) OVER f9 + min(low_c) OVER f9 END AS t2,
         CASE WHEN count(*) OVER f26 = {ICHI_K}
              THEN max(high_c) OVER f26 + min(low_c) OVER f26 END AS k2,
         CASE WHEN count(*) OVER f52 = {ICHI_S}
              THEN max(high_c) OVER f52 + min(low_c) OVER f52 END AS s2
  FROM candles
  WINDOW f9 AS (PARTITION BY day ORDER BY m
                ROWS BETWEEN {ICHI_T - 1} PRECEDING AND CURRENT ROW),
         f26 AS (PARTITION BY day ORDER BY m
                 ROWS BETWEEN {ICHI_K - 1} PRECEDING AND CURRENT ROW),
         f52 AS (PARTITION BY day ORDER BY m
                 ROWS BETWEEN {ICHI_S - 1} PRECEDING AND CURRENT ROW)
)
SELECT m AS minute_start,
       -- single IEEE divisions by exactly-representable constants:
       -- deterministic cross-engine, no rounding step needed
       CAST(t2 AS DOUBLE) / 200.0 AS tenkan,
       CAST(k2 AS DOUBLE) / 200.0 AS kijun,
       CAST(lag(t2 + k2, {ICHI_K}) OVER dw AS DOUBLE) / 400.0
         AS senkou_a,
       CAST(lag(s2, {ICHI_K}) OVER dw AS DOUBLE) / 200.0 AS senkou_b,
       CAST(lead(close_c, {ICHI_K}) OVER dw AS DOUBLE) / 100.0
         AS chikou
FROM w
WINDOW dw AS (PARTITION BY day ORDER BY m)
""",
)
def q_ext_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku cloud per session day: tenkan/kijun = midpoints of the
    9- and 26-bar high-low ranges, senkou span A/B = the cloud lines
    displaced 26 bars FORWARD (so the value plotted at bar t comes
    from bar t-26 — a lag), chikou = the close displaced 26 bars
    BACKWARD (a lead, NULL in the day's last 26 bars).  Every line is
    carried as an integer (HH+LL) sum at 2x (or 4x for span A) cents
    scale — exact frame max/min algebra — with NULL until the
    lookback fills, and ONE final IEEE division by an
    exactly-representable constant (200/400/100): deterministic
    cross-engine without any rounding step.  All three frames, both
    lags, and the lead share the single day exchange.  100 TB: the
    q_ext_bollinger shape — (days x 1440) frame work on the
    calendar-bounded candle layer, parallel across days."""
    c = _candles_c(spark, sf_dir)

    def mid2(n: int):
        f = (
            Window.partitionBy("day")
            .orderBy("m")
            .rowsBetween(-(n - 1), 0)
        )
        return F.when(
            F.count("*").over(f) == n,
            F.max("high_c").over(f) + F.min("low_c").over(f),
        )

    w = c.select(
        "m",
        "day",
        "close_c",
        mid2(ICHI_T).alias("t2"),
        mid2(ICHI_K).alias("k2"),
        mid2(ICHI_S).alias("s2"),
    )
    dw = Window.partitionBy("day").orderBy("m")
    return w.select(
        F.col("m").alias("minute_start"),
        (F.col("t2").cast("double") / 200.0).alias("tenkan"),
        (F.col("k2").cast("double") / 200.0).alias("kijun"),
        (
            F.lag(F.col("t2") + F.col("k2"), ICHI_K).over(dw).cast("double")
            / 400.0
        ).alias("senkou_a"),
        (F.lag("s2", ICHI_K).over(dw).cast("double") / 200.0).alias(
            "senkou_b"
        ),
        (F.lead("close_c", ICHI_K).over(dw).cast("double") / 100.0).alias(
            "chikou"
        ),
    )


# ---------------------------------------------------------------------------
# Chaikin Accumulation/Distribution line
# ---------------------------------------------------------------------------


@register(
    "q_ext_chaikin_ad",
    oracle="WITH "
    + _CANDLES_CTE
    + """
, clv AS (
  -- close-location value truncated toward zero on the 1e-6 grid
  -- BEFORE the volume product: every downstream term is then an
  -- exact integer in both engines.  Flat bars (H = L) contribute 0
  -- (standard Chaikin convention).
  SELECT m, day, vol_u,
         CASE WHEN high_c = low_c THEN 0
              ELSE CAST((2 * close_c - high_c - low_c) * 1000000
                        AS BIGINT) // (high_c - low_c) END AS clv_q6
  FROM candles
), mf AS (
  SELECT m, day, clv_q6, clv_q6 * vol_u AS mfv_q
  FROM clv
)
SELECT m AS minute_start,
       CAST(clv_q6 AS DOUBLE) / 1000000.0 AS clv,
       -- mfv_q <= ~1e15 stays double-exact; the running ad_q can
       -- exceed 2^53, so it is emitted as the exact BIGINT
       CAST(mfv_q AS DOUBLE) / 100000000000.0 AS mfv,
       CAST(sum(mfv_q) OVER (PARTITION BY day ORDER BY m
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ad_q
FROM mf
""",
)
def q_ext_chaikin_ad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin Accumulation/Distribution line per session day: CLV =
    ((C-L) - (H-C)) / (H-L) locates the close inside the bar's range
    (0 on a flat bar), money-flow volume = CLV x minute volume, A/D =
    the day's running sum — the volume-flow complement of OBV (which
    only signs the volume) and MFI (which ratios it over a frame).

    Exactness: CLV quantizes FIRST, truncating toward zero on the
    1e-6 grid ((2C-H-L)*1e6 div (H-L); numerator and denominator are
    cents BIGINTs, |numerator*1e6| <= 3e14 at $1M prices), so mfv_q =
    clv_q6 * vol_u and the running sum are exact integers with
    order-independent addition.  mfv_q stays double-exact (<= ~1e15)
    and is displayed in natural units; the cumulative ad_q can pass
    2^53 (1440 bars x 1e15), so it is emitted as the exact BIGINT
    (units: 1e-6 CLV x 1e-5 volume) rather than a lossy double.

    100 TB: map-only CLV on the calendar-bounded candle layer + ONE
    day-partitioned running-sum window — (days x 1440) work
    regardless of tick volume; at institutional volumes mfv_q swaps
    to DECIMAL(38,0) like q_ext_mfi, same plan."""
    c = _candles_c(spark, sf_dir)
    rng = F.col("high_c") - F.col("low_c")
    clv_q6 = F.when(rng == 0, F.lit(0).cast("long")).otherwise(
        F.expr(
            "(2 * close_c - high_c - low_c) * 1000000L"
            " div (high_c - low_c)"
        )
    )
    d = c.select(
        "m",
        "day",
        clv_q6.alias("clv_q6"),
        (clv_q6 * F.col("vol_u")).alias("mfv_q"),
    )
    run = (
        Window.partitionBy("day")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return d.select(
        F.col("m").alias("minute_start"),
        (F.col("clv_q6").cast("double") / 1000000.0).alias("clv"),
        (F.col("mfv_q").cast("double") / 100000000000.0).alias("mfv"),
        F.sum("mfv_q").over(run).cast("long").alias("ad_q"),
    )


# ---------------------------------------------------------------------------
# Money Flow Index
# ---------------------------------------------------------------------------

MFI_N = 14  # flow lookback (frame of classified deltas)


@register(
    "q_ext_mfi",
    oracle="WITH "
    + _CANDLES_CTE
    + f"""
, d AS (
  SELECT m, day, vol_u,
         high_c + low_c + close_c AS tp3,
         lag(high_c + low_c + close_c)
           OVER (PARTITION BY day ORDER BY m) AS prev3
  FROM candles
), fl AS (
  -- raw money flow = 3x typical price (cents) x volume (1e-5 units),
  -- classified by the typical-price delta; flat deltas feed NEITHER
  -- side (standard MFI).  HUGEINT keeps every product and window sum
  -- exact at any volume.
  SELECT m, day,
         CASE WHEN prev3 IS NOT NULL THEN 1 ELSE 0 END AS has_prev,
         CASE WHEN tp3 > prev3
              THEN CAST(tp3 AS HUGEINT) * vol_u ELSE 0 END AS pos_f,
         CASE WHEN tp3 < prev3
              THEN CAST(tp3 AS HUGEINT) * vol_u ELSE 0 END AS neg_f
  FROM d
), w AS (
  SELECT m, day,
         sum(has_prev) OVER fr AS n,
         sum(pos_f) OVER fr AS pf,
         sum(neg_f) OVER fr AS nf
  FROM fl
  WINDOW fr AS (PARTITION BY day ORDER BY m
                ROWS BETWEEN {MFI_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT m AS minute_start,
       -- half-up quantization of 100*pf/(pf+nf) on the 1e-5 grid,
       -- then ONE exact final division (quotient <= 1e7 is
       -- double-exact); NULL when all {MFI_N} deltas are flat
       CAST((20000000 * pf + (pf + nf))
            // nullif(2 * (pf + nf), 0) AS DOUBLE) / 100000.0 AS mfi
FROM w WHERE n = {MFI_N}
""",
)
def q_ext_mfi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money Flow Index(14) per session day: raw money flow = typical
    price x volume per bar, classified positive/negative by the
    typical-price delta vs the prior bar (flat deltas feed neither
    side), MFI = 100 * posflow / (posflow + negflow) over the trailing
    14-delta frame.  Arithmetic is EXACT end to end: typical price
    stays as the integer 3x-sum of cents (never /3), flows are
    integer products summed in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB) — order-independent window sums — and the ratio
    quantizes half-up on the 1e-5 grid via truncating integral
    division (`div` == `//`, both toward zero, operands nonnegative),
    with one exact final double division.  NOT DuckDB decimal `//`,
    which returns a fractional value (probed).  Emitted once the
    frame holds 14 classified deltas (bar 15 of the day on); NULL on
    an all-flat frame.  Overflow headroom: flow <= tp3(~3e8 at $1M) x
    minute-volume(1e-5 units); a 14-bar sum stays far inside 38
    digits at any real volume.  100 TB: one day-partitioned frame
    over the calendar-bounded candle layer — (days x 1440) work
    regardless of tick volume, the q_ext_bollinger shape."""
    c = _candles_c(spark, sf_dir)
    dw = Window.partitionBy("day").orderBy("m")
    tp3 = F.col("high_c") + F.col("low_c") + F.col("close_c")
    d = c.select("m", "day", "vol_u", tp3.alias("tp3")).withColumn(
        "prev3", F.lag("tp3").over(dw)
    )
    flow = F.col("tp3").cast("decimal(38,0)") * F.col("vol_u")
    zero = F.lit(0).cast("decimal(38,0)")
    fl = d.select(
        "m",
        "day",
        F.when(F.col("prev3").isNotNull(), 1).otherwise(0).alias(
            "has_prev"
        ),
        F.when(F.col("tp3") > F.col("prev3"), flow)
        .otherwise(zero)
        .alias("pos_f"),
        F.when(F.col("tp3") < F.col("prev3"), flow)
        .otherwise(zero)
        .alias("neg_f"),
    )
    fr = (
        Window.partitionBy("day")
        .orderBy("m")
        .rowsBetween(-(MFI_N - 1), 0)
    )
    w = fl.select(
        "m",
        F.sum("has_prev").over(fr).alias("n"),
        F.sum("pos_f").over(fr).alias("pf"),
        F.sum("neg_f").over(fr).alias("nf"),
    )
    mfi5 = F.expr(
        "(CAST(20000000 AS DECIMAL(38,0)) * pf + (pf + nf))"
        " div nullif(2 * (pf + nf), 0)"
    )
    return w.filter(F.col("n") == MFI_N).select(
        F.col("m").alias("minute_start"),
        (mfi5.cast("double") / 100000.0).alias("mfi"),
    )


# ---------------------------------------------------------------------------
# recurrence pair: Wilder RSI and MACD
# ---------------------------------------------------------------------------
# Both are sequential recurrences over the day's close series — the
# q_ext_holt_smoothing machinery: per-day collect-sorted bars, a
# struct-accumulator fold (snapshot semantics), and a RECURSIVE-CTE
# oracle (DuckDB 1.0's list_reduce struct lambdas update the
# accumulator IN PLACE — probed in r8 — so only the CTE's snapshot
# SELECT matches Spark's fold).
#
# Exactness: the state is BIGINT FIXED-POINT, not double.  A first cut
# ran the EMAs as double recurrences with identical literals and trees
# in both engines, and STILL flipped 1/8961 rows at sf0.01 — the two
# runtimes contract a*x + b*e differently (FMA), so "identical
# expression tree" is not a bit-equality guarantee for chained float
# arithmetic.  The EMA/Wilder coefficients are rational (2/13, 2/27,
# 2/10, 1/14), so the recurrences run exactly as scaled-integer
# truncating division — `div` (Spark) and `//` (DuckDB) both truncate
# toward zero (probed: -7//5 = -1 in both) — and outputs quantize to
# the display grid with a half-away-from-zero integer step.  The
# truncation bias is a geometric tail of <= ~30 fixed-point ulps
# (1e-9 cents for MACD, 1e-5 cents for RSI), orders of magnitude
# below the display grids.
#
# 100 TB: the fold state is O(1) per day and the per-day series is
# calendar-bounded (<= 1440 bars), so work is (days x 1440) regardless
# of tick volume, parallel across days; DuckDB recursion depth is
# likewise <= 1440.  Fixed-point headroom: MACD state = cents x 1e9
# (overflows int64 only past ~$3M prices), RSI final step needs
# 2e7 x ag_fp < 9.2e18, i.e. avg per-bar move < ~$46k — both far
# outside the data contract (price = value*0.997 + 20000).

RSI_N = 14
_RSI_FP = 100_000  # RSI state scale: cents x 1e5

# per-day bar/minute list CTE shared by both recurrences
_BARS_CTE = (
    _CANDLES_CTE
    + """
, bars AS (
  SELECT day, list(close_c ORDER BY m) AS xs, list(m ORDER BY m) AS ms
  FROM candles GROUP BY day
)
"""
)

# Spark-SQL fragments for the RSI fold (shared shape with the oracle).
_RSI_SEED_AG = (
    "(aggregate(transform(sequence(2, 15), "
    "j -> greatest(element_at(xs, j) - element_at(xs, j - 1), 0L)), "
    "0L, (a, x) -> a + x) * 100000L) div 14"
)
_RSI_SEED_AL = (
    "(aggregate(transform(sequence(2, 15), "
    "j -> greatest(element_at(xs, j - 1) - element_at(xs, j), 0L)), "
    "0L, (a, x) -> a + x) * 100000L) div 14"
)
_RSI_NEW_AG = (
    "((acc.ag * 13L + greatest(element_at(xs, i) - element_at(xs, i - 1), 0L)"
    " * 100000L) div 14)"
)
_RSI_NEW_AL = (
    "((acc.al * 13L + greatest(element_at(xs, i - 1) - element_at(xs, i), 0L)"
    " * 100000L) div 14)"
)


def _rsi_out(ag: str, al: str) -> str:
    # round-half-up integer grid: (2e7*ag + tot) div (2*tot) ==
    # floor(1e7*ag/tot + 0.5) for the non-negative ag/al; NULL on an
    # all-flat history (tot = 0)
    return (
        f"CAST((20000000L * ({ag}) + (({ag}) + ({al}))) "
        f"div nullif(2L * (({ag}) + ({al})), 0L) AS DOUBLE) / 100000.0D"
    )


_RSI_FOLD = f"""
aggregate(
  CASE WHEN size(xs) >= {RSI_N + 2} THEN sequence({RSI_N + 2}, size(xs))
       ELSE CAST(array() AS ARRAY<INT>) END,
  named_struct('ag', {_RSI_SEED_AG}, 'al', {_RSI_SEED_AL},
               'out', array({_rsi_out(_RSI_SEED_AG, _RSI_SEED_AL)})),
  (acc, i) -> named_struct(
     'ag', {_RSI_NEW_AG},
     'al', {_RSI_NEW_AL},
     'out', concat(acc.out, array({_rsi_out(_RSI_NEW_AG, _RSI_NEW_AL)}))
  )
).out
"""


@register(
    "q_ext_rsi",
    oracle="WITH RECURSIVE "
    + _BARS_CTE
    + f"""
, eligible AS (
  SELECT day, xs, ms FROM bars WHERE len(xs) >= {RSI_N + 1}
), st AS (
  -- BIGINT fixed-point state (cents x 1e5): Wilder-smoothed avg
  -- gain/loss over deltas d_j = xs[j] - xs[j-1]; seed = simple mean
  -- of the first {RSI_N} deltas.  `//` truncates toward zero exactly
  -- like Spark's `div`; all state is non-negative so the recurrences
  -- are bit-identical integer machines in both engines.
  SELECT day, CAST({RSI_N + 1} AS BIGINT) AS i,
         (CAST(list_sum(list_transform(generate_series(2, {RSI_N + 1}),
                j -> greatest(xs[j] - xs[j - 1], 0))) AS BIGINT)
          * {_RSI_FP}) // {RSI_N} AS ag,
         (CAST(list_sum(list_transform(generate_series(2, {RSI_N + 1}),
                j -> greatest(xs[j - 1] - xs[j], 0))) AS BIGINT)
          * {_RSI_FP}) // {RSI_N} AS al
  FROM eligible
  UNION ALL
  SELECT s.day, s.i + 1,
         (s.ag * {RSI_N - 1} + greatest(e.xs[s.i + 1] - e.xs[s.i], 0)
          * {_RSI_FP}) // {RSI_N},
         (s.al * {RSI_N - 1} + greatest(e.xs[s.i] - e.xs[s.i + 1], 0)
          * {_RSI_FP}) // {RSI_N}
  FROM st s JOIN eligible e ON e.day = s.day
  WHERE s.i < len(e.xs)
)
SELECT e.ms[s.i] AS minute_start,
       -- round-half-up integer grid, then ONE exact final division
       -- (numerator <= 1e7 is double-exact); engine round() on chained
       -- float state flipped rows at this precision, integers cannot
       CAST((20000000 * s.ag + (s.ag + s.al))
            // nullif(2 * (s.ag + s.al), 0) AS DOUBLE) / 100000.0 AS rsi
FROM st s JOIN eligible e ON e.day = s.day
""",
)
def q_ext_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder RSI(14) per session day in exact BIGINT fixed-point
    (cents x 1e5): average gain / average loss over close-to-close
    deltas, seeded with the simple mean of the first 14 deltas, then
    the Wilder recurrence avg' = (avg*13 + x*FP) div 14 with
    truncating integer division — identical semantics in Spark (`div`)
    and DuckDB (`//`), so the state is bit-equal by construction, not
    by float luck (the MACD first cut proved identical double trees
    still diverge under FMA contraction).  RSI = 100*ag/(ag+al)
    quantized half-up to 5 dp on the integer grid; NULL on an all-flat
    history.  Emits one row per bar from bar 15 on.  Fixed-point
    headroom and the 100 TB shape are in the block comment above."""
    c = _candles_c(spark, sf_dir)
    bars = _day_arrays(c, [("xs", "close_c"), ("ms", "m")])
    elig = bars.filter(F.size("xs") >= RSI_N + 1)
    exploded = elig.select(
        "ms", F.posexplode(F.expr(_RSI_FOLD)).alias("pos", "rsi")
    )
    return exploded.select(
        F.element_at(F.col("ms"), F.col("pos") + RSI_N + 1).alias(
            "minute_start"
        ),
        "rsi",
    )


MACD_FAST = 12
MACD_SLOW = 26
MACD_SIG = 9
_MACD_FP = 1_000_000_000  # MACD state scale: cents x 1e9

# Spark-SQL fragments for the MACD fold.  EMA coefficients are exact
# rationals (2/13, 2/27, 2/10 -> 1/5 after reduction), so each update
# is one integer multiply-add and one truncating division.
_MACD_X = "(element_at(xs, i) * 1000000000L)"
_MACD_NEW_E12 = f"((2L * {_MACD_X} + 11L * acc.e12) div 13)"
_MACD_NEW_E26 = f"((2L * {_MACD_X} + 25L * acc.e26) div 27)"
_MACD_LINE = f"({_MACD_NEW_E12} - {_MACD_NEW_E26})"
_MACD_NEW_SIG = f"(({_MACD_LINE} + 4L * acc.sig) div 5)"

_MACD_FOLD = f"""
aggregate(
  CASE WHEN size(xs) >= 2 THEN sequence(2, size(xs))
       ELSE CAST(array() AS ARRAY<INT>) END,
  named_struct('e12', element_at(xs, 1) * 1000000000L,
               'e26', element_at(xs, 1) * 1000000000L,
               'sig', 0L,
               'out', array(named_struct('line', 0L, 'sig', 0L))),
  (acc, i) -> named_struct(
    'e12', {_MACD_NEW_E12},
    'e26', {_MACD_NEW_E26},
    'sig', {_MACD_NEW_SIG},
    'out', concat(acc.out,
                  array(named_struct('line', {_MACD_LINE},
                                     'sig', {_MACD_NEW_SIG})))
  )
).out
"""


@register(
    "q_ext_macd",
    oracle="WITH RECURSIVE "
    + _BARS_CTE
    + f"""
, st AS (
  -- BIGINT fixed-point EMAs in cents x 1e9 (linear, so the /100
  -- display division commutes to the end); seeded at bar 1 with the
  -- first close, signal seeded 0 — the standard chart convention.
  -- Coefficients are exact rationals: e' = (2x + 11e)//13 (fast),
  -- (2x + 25e)//27 (slow), sig' = (line + 4 sig)//5.  `//` truncates
  -- toward zero exactly like Spark's `div` (probed both on -7/5), so
  -- the state is a bit-identical integer machine in both engines —
  -- the double form of this very recurrence flipped 1/8961 rows at
  -- sf0.01 under runtime FMA contraction.
  SELECT day, CAST(1 AS BIGINT) AS i,
         xs[1] * 1000000000 AS e12,
         xs[1] * 1000000000 AS e26,
         CAST(0 AS BIGINT) AS sig
  FROM bars
  UNION ALL
  SELECT s.day, s.i + 1,
         (2 * (b.xs[s.i + 1] * 1000000000) + 11 * s.e12) // 13,
         (2 * (b.xs[s.i + 1] * 1000000000) + 25 * s.e26) // 27,
         (((2 * (b.xs[s.i + 1] * 1000000000) + 11 * s.e12) // 13)
          - ((2 * (b.xs[s.i + 1] * 1000000000) + 25 * s.e26) // 27)
          + 4 * s.sig) // 5
  FROM st s JOIN bars b ON b.day = s.day
  WHERE s.i < len(b.xs)
)
SELECT b.ms[s.i] AS minute_start,
       {_q6("s.e12 - s.e26").replace("DIVOP", "//")} AS macd,
       {_q6("s.sig").replace("DIVOP", "//")} AS signal,
       {_q6("(s.e12 - s.e26) - s.sig").replace("DIVOP", "//")} AS histogram
FROM st s JOIN bars b ON b.day = s.day
""",
)
def q_ext_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12, 26, 9) per session day in exact BIGINT fixed-point
    (cents x 1e9): fast/slow EMAs of the close (seeded with the first
    bar), MACD line = fast - slow, signal = 9-bar EMA of the line
    (seeded 0), histogram = line - signal; one row per bar.  All three
    EMAs advance in ONE fold / ONE recursive CTE as integer
    multiply-add + truncating division (coefficients are the exact
    rationals 2/13, 2/27, 1/5), making the state bit-identical across
    engines by construction — the double form with identical literals
    and trees still flipped 1/8961 rows at sf0.01 (FMA contraction).
    Outputs quantize half-away-from-zero to the 6-dp dollar grid on
    the integer state; truncation bias is a <= ~30-ulp geometric tail
    at 1e-9 cents, invisible at the grid.  See the block comment for
    the 100 TB shape and overflow headroom (~$3M prices)."""
    c = _candles_c(spark, sf_dir)
    bars = _day_arrays(c, [("xs", "close_c"), ("ms", "m")])
    exploded = bars.select(
        "ms", F.posexplode(F.expr(_MACD_FOLD)).alias("pos", "s")
    )
    return exploded.select(
        F.element_at(F.col("ms"), F.col("pos") + 1).alias("minute_start"),
        F.expr(_q6("s.line").replace("DIVOP", "div")).alias("macd"),
        F.expr(_q6("s.sig").replace("DIVOP", "div")).alias("signal"),
        F.expr(_q6("s.line - s.sig").replace("DIVOP", "div")).alias(
            "histogram"
        ),
    )


# ---------------------------------------------------------------------------
# microstructure trio: order-flow imbalance, Roll spread, Amihud
# ---------------------------------------------------------------------------


@register(
    "q_ext_flow_imbalance",
    oracle="WITH "
    + BTCUSDT_CTE
    + """
, f AS (
  SELECT date_trunc('minute', "time") AS m,
         CAST(sum(CASE WHEN maker = 0
                       THEN CAST(round(quantity * 100000, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS buy_u,
         CAST(sum(CASE WHEN maker = 1
                       THEN CAST(round(quantity * 100000, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS sell_u,
         CAST(sum(CASE WHEN maker = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS buy_trades,
         CAST(sum(CASE WHEN maker = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS sell_trades
  FROM btcusdt GROUP BY 1
)
SELECT m AS minute_start, buy_u, sell_u, buy_trades, sell_trades,
       -- one closing double ratio over exact integers; +0.0
       -- canonicalizes the signed zero of an all-sell minute
       round(CAST(buy_u - sell_u AS DOUBLE)
             / nullif(CAST(buy_u + sell_u AS DOUBLE), 0), 6) + 0.0
         AS imbalance
FROM f
""",
)
def q_ext_flow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute order-flow imbalance from the aggressor side: the
    reference's `m` flag (is_buyer_maker, main.py:57-59) marks the
    passive side, so maker=0 rows are taker BUYS.  Exact 1e-5-unit
    BIGINT volume sums per side, one uniform minute-bucket shuffle
    (map-side combined), and a single closing ratio — the flow signal
    VPIN-style toxicity metrics build on."""
    btc = btcusdt(spark, sf_dir)
    qty_u = F.round(F.col("quantity") * 100000, 0).cast("long")
    is_buy = F.col("maker") == 0
    f = btc.groupBy(
        F.window("time", "1 minute").start.alias("minute_start")
    ).agg(
        F.sum(F.when(is_buy, qty_u).otherwise(F.lit(0))).alias("buy_u"),
        F.sum(F.when(~is_buy, qty_u).otherwise(F.lit(0))).alias("sell_u"),
        F.sum(F.when(is_buy, 1).otherwise(0)).cast("long").alias(
            "buy_trades"
        ),
        F.sum(F.when(~is_buy, 1).otherwise(0)).cast("long").alias(
            "sell_trades"
        ),
    )
    num = (F.col("buy_u") - F.col("sell_u")).cast("double")
    den = (F.col("buy_u") + F.col("sell_u")).cast("double")
    return f.select(
        "minute_start",
        "buy_u",
        "sell_u",
        "buy_trades",
        "sell_trades",
        (F.round(num / F.when(den != 0, den), 6) + F.lit(0.0)).alias(
            "imbalance"
        ),
    )


@register(
    "q_ext_roll_spread",
    oracle="WITH "
    + _CANDLES_CTE
    + """
, d AS (
  SELECT day, close_c - lag(close_c) OVER dw AS x,
         lag(close_c) OVER dw - lag(close_c, 2) OVER dw AS y
  FROM candles
  WINDOW dw AS (PARTITION BY day ORDER BY m)
), s AS (
  -- exact BIGINT component sums over cents deltas (|d| bounded by the
  -- day's price range; products <= ~3e9 x 1440 rows, inside int64)
  SELECT day, count(*) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy
  FROM d WHERE x IS NOT NULL AND y IS NOT NULL
  GROUP BY day
)
SELECT CAST(day AS TIMESTAMP) AS day, CAST(n AS BIGINT) AS n_pairs,
       round((sxy - sx * sy / n) / (n - 1), 6) AS autocov,
       CASE WHEN (sxy - sx * sy / n) / (n - 1) < 0
            THEN round(2 * sqrt(-((sxy - sx * sy / n) / (n - 1))) / 100.0, 6)
       END AS roll_spread
FROM s WHERE n > 1
""",
)
def q_ext_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll's implied effective spread per session day: 2*sqrt(-cov)
    of adjacent close-to-close changes (Roll 1984 — bid-ask bounce
    makes successive price changes negatively autocorrelated, and the
    magnitude prices the spread).  Sample autocovariance from exact
    BIGINT component sums over cents deltas; NULL spread when the
    autocovariance is non-negative (trending day, no bounce signal) —
    the standard convention.  Day emitted as TIMESTAMP per the
    q_ext_drawdown dtype note."""
    c = _candles_c(spark, sf_dir)
    dw = Window.partitionBy("day").orderBy("m")
    d = c.select(
        "day",
        (F.col("close_c") - F.lag("close_c").over(dw)).alias("x"),
        (F.lag("close_c").over(dw) - F.lag("close_c", 2).over(dw)).alias(
            "y"
        ),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    s = d.groupBy("day").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    ).filter(F.col("n") > 1)
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    return s.select(
        F.col("day").cast("timestamp").alias("day"),
        n.cast("long").alias("n_pairs"),
        F.round(cov, 6).alias("autocov"),
        F.when(cov < 0, F.round(2 * F.sqrt(-cov) / 100.0, 6)).alias(
            "roll_spread"
        ),
    )


@register(
    "q_ext_amihud",
    oracle="WITH "
    + _CANDLES_CTE
    + """
, dv AS (
  -- exact decimal dollar volume per minute: DECIMAL(18,2) price x
  -- DECIMAL(18,5) quantity products summed in decimal (int64 would
  -- overflow at ~3e18 unit-products per day)
  SELECT date_trunc('minute', "time") AS m,
         sum(CAST(price AS DECIMAL(18,2)) * CAST(quantity AS DECIMAL(18,5)))
           AS dollar_vol
  FROM btcusdt GROUP BY 1
), byday AS (
  SELECT c.day,
         min(c.m) AS first_m, max(c.m) AS last_m,
         CAST(sum(dv.dollar_vol) AS DOUBLE) AS dollar_vol,
         CAST(count(*) AS BIGINT) AS n_minutes
  FROM candles c JOIN dv ON dv.m = c.m
  GROUP BY c.day
), oc AS (
  SELECT b.day, b.dollar_vol, b.n_minutes,
         fc.open_c AS open_c, lc.close_c AS close_c
  FROM byday b
  JOIN candles fc ON fc.m = b.first_m
  JOIN candles lc ON lc.m = b.last_m
)
SELECT CAST(day AS TIMESTAMP) AS day, n_minutes,
       round(dollar_vol, 2) AS dollar_vol,
       round(abs(CAST(close_c AS DOUBLE) / CAST(open_c AS DOUBLE) - 1)
             / nullif(dollar_vol, 0) * 1e9, 6) AS amihud_x1e9
FROM oc
""",
)
def q_ext_amihud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity per session day: |open-to-close return| per
    dollar of volume (x1e9 for a readable scale) — the standard
    price-impact proxy.  Dollar volume is summed in exact DECIMAL
    (price x quantity products are exact 7-dp decimals; int64
    fixed-point would overflow at day volume), the return comes from
    the exact cents open/close, and the closing ratio is one shared
    double tree.  Plan: candle aggregate reused, one extra
    minute-bucket decimal aggregate, day rollup + two
    first/last-minute self-joins on the tiny candle layer."""
    c = _candles_c(spark, sf_dir).transform(scoped_persist)
    btc = btcusdt(spark, sf_dir)
    from binancedatapipelineinaws_spark.operators._util import dec

    dv = btc.groupBy(
        F.window("time", "1 minute").start.alias("m")
    ).agg(F.sum(dec("price", 2) * dec("quantity", 5)).alias("dollar_vol"))
    byday = (
        c.join(dv, "m")
        .groupBy("day")
        .agg(
            F.min("m").alias("first_m"),
            F.max("m").alias("last_m"),
            F.sum("dollar_vol").cast("double").alias("dollar_vol"),
            F.count("*").cast("long").alias("n_minutes"),
        )
    )
    fc = c.select(F.col("m").alias("first_m"), F.col("open_c"))
    lc = c.select(F.col("m").alias("last_m"), F.col("close_c"))
    oc = byday.join(fc, "first_m").join(lc, "last_m")
    ret = F.abs(
        F.col("close_c").cast("double") / F.col("open_c").cast("double") - 1
    )
    dvol = F.col("dollar_vol")
    return oc.select(
        F.col("day").cast("timestamp").alias("day"),
        "n_minutes",
        F.round(dvol, 2).alias("dollar_vol"),
        F.round(ret / F.when(dvol != 0, dvol) * 1e9, 6).alias(
            "amihud_x1e9"
        ),
    )


# ---------------------------------------------------------------------------
# VPIN (volume-synchronized probability of informed trading)
# ---------------------------------------------------------------------------

VPIN_BUCKET_U = 50_000_000  # volume-clock bucket: 500 qty units x 1e5


@register(
    "q_ext_vpin",
    oracle="WITH "
    + BTCUSDT_CTE
    + f"""
, t AS (
  SELECT CAST(CAST("time" AS DATE) AS TIMESTAMP) AS day,
         CAST(round(quantity * 100000, 0) AS BIGINT) AS qty_u,
         CASE WHEN maker = 0 THEN 1 ELSE 0 END AS is_buy,
         sum(CAST(round(quantity * 100000, 0) AS BIGINT)) OVER (
           PARTITION BY CAST("time" AS DATE) ORDER BY "time", bid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_u
  FROM btcusdt
), b AS (
  SELECT day, (cum_u - qty_u) // {VPIN_BUCKET_U} AS bucket,
         CAST(sum(CASE WHEN is_buy = 1 THEN qty_u ELSE 0 END) AS BIGINT)
           AS buy_u,
         CAST(sum(CASE WHEN is_buy = 0 THEN qty_u ELSE 0 END) AS BIGINT)
           AS sell_u
  FROM t GROUP BY day, bucket
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(buy_u + sell_u) AS BIGINT) AS vol_u,
       round(CAST(sum(abs(buy_u - sell_u)) AS DOUBLE)
             / nullif(CAST(sum(buy_u + sell_u) AS DOUBLE), 0), 6) AS vpin
FROM b GROUP BY day
""",
)
def q_ext_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN per session day (Easley/Lopez de Prado/O'Hara): ticks are
    re-bucketed on the VOLUME clock (each bucket = 500 qty of traded
    volume, assigned by the exact BIGINT running volume at the trade's
    start; trades are not split — the standard discretization), per
    bucket the buy/sell legs come from the aggressor flag, and the
    day's VPIN is the volume-weighted |buy - sell| fraction — all
    integer sums until one closing division.

    Scale note: the volume clock is a prefix sum, inherently
    sequential WITHIN a day; at 100 TB/day the day window becomes a
    two-phase scan prefix (per-split partial volumes + broadcast
    offsets) — the operator's semantics don't change, only the
    prefix-sum implementation.  Tick-level precedent: q_ext_twap's
    hour-partitioned lead()."""
    btc = btcusdt(spark, sf_dir)
    day = F.col("time").cast("date")
    qty_u = F.round(F.col("quantity") * 100000, 0).cast("long")
    dw = (
        Window.partitionBy(day)
        .orderBy("time", "bid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = btc.select(
        day.cast("timestamp").alias("day"),
        qty_u.alias("qty_u"),
        F.when(F.col("maker") == 0, 1).otherwise(0).alias("is_buy"),
        F.sum(qty_u).over(dw).alias("cum_u"),
    )
    b = t.groupBy(
        "day",
        F.expr(f"(cum_u - qty_u) div {VPIN_BUCKET_U}").alias("bucket"),
    ).agg(
        F.sum(F.when(F.col("is_buy") == 1, F.col("qty_u")).otherwise(0))
        .cast("long")
        .alias("buy_u"),
        F.sum(F.when(F.col("is_buy") == 0, F.col("qty_u")).otherwise(0))
        .cast("long")
        .alias("sell_u"),
    )
    tot = F.sum(F.col("buy_u") + F.col("sell_u")).cast("long")
    return b.groupBy("day").agg(
        F.count("*").cast("long").alias("n_buckets"),
        tot.alias("vol_u"),
        F.round(
            F.sum(F.abs(F.col("buy_u") - F.col("sell_u"))).cast("double")
            / F.when(tot.cast("double") != 0, tot.cast("double")),
            6,
        ).alias("vpin"),
    )


# ---------------------------------------------------------------------------
# Heikin-Ashi candles
# ---------------------------------------------------------------------------

_HA_FP = 1_000_000  # Heikin-Ashi state scale: cents x 1e6


@register(
    "q_ext_heikin_ashi",
    oracle="WITH RECURSIVE "
    + _CANDLES_CTE
    + """
, habars AS (
  SELECT day,
         list(open_c ORDER BY m) AS os, list(high_c ORDER BY m) AS hs,
         list(low_c ORDER BY m) AS ls, list(close_c ORDER BY m) AS cs,
         list(m ORDER BY m) AS ms
  FROM candles GROUP BY day
), st AS (
  -- BIGINT fixed-point (cents x 1e6): ha_close = (o+h+l+c)*FP//4
  -- (exact: FP divisible by 4), ha_open recurrence = midpoint with
  -- truncating halving — identical in both engines
  SELECT day, CAST(1 AS BIGINT) AS i,
         ((os[1] + cs[1]) * 1000000) // 2 AS ha_open,
         ((os[1] + hs[1] + ls[1] + cs[1]) * 1000000) // 4 AS ha_close
  FROM habars
  UNION ALL
  SELECT s.day, s.i + 1,
         (s.ha_open + s.ha_close) // 2,
         ((b.os[s.i + 1] + b.hs[s.i + 1] + b.ls[s.i + 1] + b.cs[s.i + 1])
          * 1000000) // 4
  FROM st s JOIN habars b ON b.day = s.day
  WHERE s.i < len(b.ms)
)
SELECT b.ms[s.i] AS minute_start,
       CAST((s.ha_open + 50) // 100 AS DOUBLE) / 1000000.0 AS ha_open,
       CAST((greatest(b.hs[s.i] * 1000000, s.ha_open, s.ha_close) + 50)
            // 100 AS DOUBLE) / 1000000.0 AS ha_high,
       CAST((least(b.ls[s.i] * 1000000, s.ha_open, s.ha_close) + 50)
            // 100 AS DOUBLE) / 1000000.0 AS ha_low,
       CAST((s.ha_close + 50) // 100 AS DOUBLE) / 1000000.0 AS ha_close
FROM st s JOIN habars b ON b.day = s.day
""",
)
def q_ext_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi smoothed candles per session day: ha_close =
    (O+H+L+C)/4, ha_open = midpoint of the previous HA open/close
    (seeded with the bar-1 O/C midpoint), ha_high/ha_low = extremes
    against the raw bar.  The recurrence is the q_ext_macd BIGINT
    fixed-point machine (cents x 1e6; /4 exact by scale choice, the
    midpoint halves with truncating division identical in both
    engines), outputs quantized half-up to the 6-dp dollar grid (all
    state positive).  One fold per day / recursive CTE, <= 1440
    steps."""
    c = _candles_c(spark, sf_dir)
    habars = _day_arrays(
        c,
        [
            ("os", "open_c"),
            ("hs", "high_c"),
            ("ls", "low_c"),
            ("cs", "close_c"),
            ("ms", "m"),
        ],
    )
    fold = """
aggregate(
  CASE WHEN size(ms) >= 2 THEN sequence(2, size(ms))
       ELSE CAST(array() AS ARRAY<INT>) END,
  named_struct(
    'ho', ((element_at(os, 1) + element_at(cs, 1)) * 1000000L) div 2,
    'hc', ((element_at(os, 1) + element_at(hs, 1) + element_at(ls, 1)
            + element_at(cs, 1)) * 1000000L) div 4,
    'out', array(named_struct(
      'ho', ((element_at(os, 1) + element_at(cs, 1)) * 1000000L) div 2,
      'hc', ((element_at(os, 1) + element_at(hs, 1) + element_at(ls, 1)
              + element_at(cs, 1)) * 1000000L) div 4))),
  (acc, i) -> named_struct(
    'ho', (acc.ho + acc.hc) div 2,
    'hc', ((element_at(os, i) + element_at(hs, i) + element_at(ls, i)
            + element_at(cs, i)) * 1000000L) div 4,
    'out', concat(acc.out, array(named_struct(
      'ho', (acc.ho + acc.hc) div 2,
      'hc', ((element_at(os, i) + element_at(hs, i) + element_at(ls, i)
              + element_at(cs, i)) * 1000000L) div 4))))
).out
"""
    exploded = habars.select(
        "ms", "hs", "ls", F.posexplode(F.expr(fold)).alias("pos", "s")
    )
    ho = F.col("s").getField("ho")
    hc = F.col("s").getField("hc")
    hi = F.element_at(F.col("hs"), F.col("pos") + 1) * F.lit(1000000).cast(
        "long"
    )
    lo = F.element_at(F.col("ls"), F.col("pos") + 1) * F.lit(1000000).cast(
        "long"
    )

    def gridq(v):
        return (
            F.expr(f"CAST((({v}) + 50L) div 100L AS DOUBLE)") / 1000000.0
        )

    qcols = exploded.select(
        F.element_at(F.col("ms"), F.col("pos") + 1).alias("minute_start"),
        ho.alias("_ho"),
        hc.alias("_hc"),
        F.greatest(hi, ho, hc).alias("_hh"),
        F.least(lo, ho, hc).alias("_ll"),
    )
    return qcols.select(
        "minute_start",
        gridq("_ho").alias("ha_open"),
        gridq("_hh").alias("ha_high"),
        gridq("_ll").alias("ha_low"),
        gridq("_hc").alias("ha_close"),
    )


# ---------------------------------------------------------------------------
# anchored VWAP
# ---------------------------------------------------------------------------


@register(
    "q_ext_anchored_vwap",
    oracle="WITH "
    + BTCUSDT_CTE
    + """
, mins AS (
  SELECT date_trunc('minute', "time") AS m,
         CAST(date_trunc('minute', "time") AS DATE) AS day,
         sum(CAST(price AS DECIMAL(18,2)) * CAST(quantity AS DECIMAL(18,5)))
           AS pv,
         sum(CAST(quantity AS DECIMAL(18,5))) AS v,
         max(CASE WHEN rn_d = 1 THEN price END) AS close
  FROM (SELECT *, row_number() OVER (
          PARTITION BY date_trunc('minute', "time")
          ORDER BY "time" DESC, bid DESC) AS rn_d FROM btcusdt)
  GROUP BY 1, 2
), cum AS (
  -- DECIMAL window sums: exact and order-independent, unlike double
  -- segment trees vs frame folds
  SELECT m, close,
         sum(pv) OVER dw AS cum_pv, sum(v) OVER dw AS cum_v
  FROM mins
  WINDOW dw AS (PARTITION BY day ORDER BY m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT m AS minute_start,
       round(CAST(cum_pv AS DOUBLE) / CAST(cum_v AS DOUBLE), 6) AS avwap,
       round((close - CAST(cum_pv AS DOUBLE) / CAST(cum_v AS DOUBLE))
             / (CAST(cum_pv AS DOUBLE) / CAST(cum_v AS DOUBLE)) * 10000,
             4) + 0.0 AS dev_bps
FROM cum
""",
)
def q_ext_anchored_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored VWAP per session day: the cumulative price*volume /
    volume ratio from the day's open, per minute, plus the close's
    deviation in basis points — the institutional execution benchmark
    (\"am I filling above or below the day's VWAP?\").

    Exactness: per-minute pv/v are exact DECIMAL sums (the amihud
    discipline — int64 fixed-point overflows at day-cumulative
    price*qty), the day-cumulative window rides DECIMAL too
    (order-independent), and both engines cast the SAME exact decimals
    to double for the two closing divisions.  Plan: one minute-bucket
    shuffle, day-partitioned running window on the calendar-bounded
    minute layer."""
    btc = btcusdt(spark, sf_dir)
    from binancedatapipelineinaws_spark.operators._util import dec

    key = F.struct(F.col("time"), F.col("bid"))
    mins = btc.groupBy(
        F.window("time", "1 minute").start.alias("m")
    ).agg(
        F.sum(dec("price", 2) * dec("quantity", 5)).alias("pv"),
        F.sum(dec("quantity", 5)).alias("v"),
        F.max_by("price", key).alias("close"),
    ).withColumn("day", F.col("m").cast("date"))
    dw = (
        Window.partitionBy("day")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_pv = F.sum("pv").over(dw).cast("double")
    cum_v = F.sum("v").over(dw).cast("double")
    avwap = cum_pv / cum_v
    return mins.select(
        F.col("m").alias("minute_start"),
        F.round(avwap, 6).alias("avwap"),
        (
            F.round((F.col("close") - avwap) / avwap * 10000, 4)
            + F.lit(0.0)
        ).alias("dev_bps"),
    )


# ---------------------------------------------------------------------------
# CCI (commodity channel index)
# ---------------------------------------------------------------------------

CCI_N = 20


@register(
    "q_ext_cci",
    oracle="WITH "
    + _CANDLES_CTE
    + f"""
, tp AS (
  SELECT m, day, high_c + low_c + close_c AS x  -- 3x typical price
  FROM candles
), w AS (
  SELECT m, x,
         count(*) OVER fr AS n,
         CAST(sum(x) OVER fr AS BIGINT) AS sx,
         list(x) OVER fr AS xs
  FROM tp
  WINDOW fr AS (PARTITION BY day ORDER BY m
                ROWS BETWEEN {CCI_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT m AS minute_start, CAST(n AS BIGINT) AS n,
       -- cci = (tp - sma) / (0.015 * mad) with everything scaled by
       -- n: numerator n*(n*x - Sx), denominator 0.015 * sum|n*xj - Sx|
       -- — both integers, scale cancels, ONE closing division
       round(CAST(n * (n * x - sx) AS DOUBLE)
             / nullif(0.015 * CAST(list_sum(
                 list_transform(xs, xj -> abs(n * xj - sx))) AS DOUBLE), 0),
             5) + 0.0 AS cci
FROM w WHERE n = {CCI_N}
""",
)
def q_ext_cci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commodity channel index (20-bar) per session day: deviation of
    the typical price from its SMA in units of 0.015x the mean
    absolute deviation.  MAD over a sliding frame is NOT a plain
    window sum (each row's deviations depend on that frame's own
    mean), so the frame is collected (<= 20 values) and folded —
    exactly, because cci scales as n*(n*x - Sx) over sum|n*xj - Sx|:
    both integers (the typical price stays as the h+l+c cents sum,
    never /3), with one closing double division.  NULL on a flat
    frame; emitted only for full frames (the standard convention)."""
    c = _candles_c(spark, sf_dir)
    tp = c.select(
        "m",
        "day",
        (F.col("high_c") + F.col("low_c") + F.col("close_c")).alias("x"),
    )
    fr = (
        Window.partitionBy("day")
        .orderBy("m")
        .rowsBetween(-(CCI_N - 1), 0)
    )
    n = F.count("*").over(fr)
    sx = F.sum("x").over(fr)
    xs = F.collect_list("x").over(fr)
    w = tp.select(
        "m",
        "x",
        n.cast("long").alias("n"),
        sx.alias("sx"),
        xs.alias("xs"),
    ).filter(F.col("n") == CCI_N)
    s_abs = F.expr("aggregate(xs, 0L, (a, xj) -> a + abs(n * xj - sx))")
    num = (F.col("n") * (F.col("n") * F.col("x") - F.col("sx"))).cast(
        "double"
    )
    den = F.lit(0.015) * s_abs.cast("double")
    return w.select(
        F.col("m").alias("minute_start"),
        "n",
        (F.round(num / F.when(den != 0, den), 5) + F.lit(0.0)).alias(
            "cci"
        ),
    )


# ---------------------------------------------------------------------------
# DMI (directional movement: +DI / -DI / DX)
# ---------------------------------------------------------------------------

DMI_N = 14
_DMI_FP = 100_000  # Wilder state scale: cents x 1e5


@register(
    "q_ext_dmi",
    oracle="WITH RECURSIVE "
    + _CANDLES_CTE
    + f"""
, dm AS (
  SELECT day,
         list(high_c ORDER BY m) AS hs, list(low_c ORDER BY m) AS ls,
         list(close_c ORDER BY m) AS cs, list(m ORDER BY m) AS ms
  FROM candles GROUP BY day
), eligible AS (
  SELECT * FROM dm WHERE len(ms) >= {DMI_N + 1}
), st AS (
  -- BIGINT fixed-point Wilder averages (cents x 1e5) of +DM, -DM and
  -- TR; seeds = simple means of the first {DMI_N} bar-2.. values.
  -- +DM_j = up if up > dn AND up > 0 else 0 (up = h_j - h_j-1,
  -- dn = l_j-1 - l_j); TR_j as in q_ext_atr.
  SELECT day, CAST({DMI_N + 1} AS BIGINT) AS i,
         (CAST(list_sum(list_transform(generate_series(2, {DMI_N + 1}),
            j -> CASE WHEN hs[j] - hs[j-1] > ls[j-1] - ls[j]
                       AND hs[j] - hs[j-1] > 0
                      THEN hs[j] - hs[j-1] ELSE 0 END)) AS BIGINT)
          * {_DMI_FP}) // {DMI_N} AS dmp,
         (CAST(list_sum(list_transform(generate_series(2, {DMI_N + 1}),
            j -> CASE WHEN ls[j-1] - ls[j] > hs[j] - hs[j-1]
                       AND ls[j-1] - ls[j] > 0
                      THEN ls[j-1] - ls[j] ELSE 0 END)) AS BIGINT)
          * {_DMI_FP}) // {DMI_N} AS dmm,
         (CAST(list_sum(list_transform(generate_series(2, {DMI_N + 1}),
            j -> greatest(hs[j] - ls[j], abs(hs[j] - cs[j-1]),
                          abs(ls[j] - cs[j-1])))) AS BIGINT)
          * {_DMI_FP}) // {DMI_N} AS tr
  FROM eligible
  UNION ALL
  SELECT s.day, s.i + 1,
         (s.dmp * {DMI_N - 1}
          + (CASE WHEN e.hs[s.i+1] - e.hs[s.i] > e.ls[s.i] - e.ls[s.i+1]
                   AND e.hs[s.i+1] - e.hs[s.i] > 0
                  THEN e.hs[s.i+1] - e.hs[s.i] ELSE 0 END)
            * {_DMI_FP}) // {DMI_N},
         (s.dmm * {DMI_N - 1}
          + (CASE WHEN e.ls[s.i] - e.ls[s.i+1] > e.hs[s.i+1] - e.hs[s.i]
                   AND e.ls[s.i] - e.ls[s.i+1] > 0
                  THEN e.ls[s.i] - e.ls[s.i+1] ELSE 0 END)
            * {_DMI_FP}) // {DMI_N},
         (s.tr * {DMI_N - 1}
          + greatest(e.hs[s.i+1] - e.ls[s.i+1],
                     abs(e.hs[s.i+1] - e.cs[s.i]),
                     abs(e.ls[s.i+1] - e.cs[s.i])) * {_DMI_FP}) // {DMI_N}
  FROM st s JOIN eligible e ON e.day = s.day
  WHERE s.i < len(e.ms)
)
SELECT e.ms[s.i] AS minute_start,
       -- half-up integer grids over the exact states (5 dp)
       CAST((20000000 * s.dmp + s.tr) // nullif(2 * s.tr, 0) AS DOUBLE)
         / 100000.0 AS di_plus,
       CAST((20000000 * s.dmm + s.tr) // nullif(2 * s.tr, 0) AS DOUBLE)
         / 100000.0 AS di_minus,
       CAST((20000000 * abs(s.dmp - s.dmm) + (s.dmp + s.dmm))
            // nullif(2 * (s.dmp + s.dmm), 0) AS DOUBLE)
         / 100000.0 AS dx
FROM st s JOIN eligible e ON e.day = s.day
""",
)
def q_ext_dmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional movement (Wilder, 14-bar) per session day: +DI /
    -DI measure trend direction as the Wilder-averaged up/down moves
    over the averaged true range, DX = |+DI - -DI| / (+DI + -DI) — the
    TR cancels, so DX comes straight off the integer +DM/-DM states.
    All three recurrences are the q_ext_rsi BIGINT fixed-point machine
    (avg-form Wilder smoothing, cents x 1e5); outputs quantize half-up
    to 5 dp on the integer grid (DI as 100*dm/tr; NULL when TR or
    DM+DM is zero).  Emitted from bar 15 on."""
    c = _candles_c(spark, sf_dir)
    dm = _day_arrays(
        c,
        [("hs", "high_c"), ("ls", "low_c"), ("cs", "close_c"), ("ms", "m")],
    )
    elig = dm.filter(F.size("ms") >= DMI_N + 1)
    pdm = (
        "(CASE WHEN element_at(hs, {i}) - element_at(hs, {i} - 1)"
        " > element_at(ls, {i} - 1) - element_at(ls, {i})"
        " AND element_at(hs, {i}) - element_at(hs, {i} - 1) > 0"
        " THEN element_at(hs, {i}) - element_at(hs, {i} - 1) ELSE 0L END)"
    )
    mdm = (
        "(CASE WHEN element_at(ls, {i} - 1) - element_at(ls, {i})"
        " > element_at(hs, {i}) - element_at(hs, {i} - 1)"
        " AND element_at(ls, {i} - 1) - element_at(ls, {i}) > 0"
        " THEN element_at(ls, {i} - 1) - element_at(ls, {i}) ELSE 0L END)"
    )
    trx = (
        "greatest(element_at(hs, {i}) - element_at(ls, {i}),"
        " abs(element_at(hs, {i}) - element_at(cs, {i} - 1)),"
        " abs(element_at(ls, {i}) - element_at(cs, {i} - 1)))"
    )

    def seed(term):
        return (
            f"(aggregate(transform(sequence(2, {DMI_N + 1}),"
            f" j -> {term.format(i='j')}), 0L, (a, x) -> a + x)"
            f" * {_DMI_FP}L) div {DMI_N}"
        )

    def step(acc_field, term):
        return (
            f"((acc.{acc_field} * {DMI_N - 1}L + {term.format(i='i')}"
            f" * {_DMI_FP}L) div {DMI_N})"
        )

    fold = f"""
aggregate(
  CASE WHEN size(ms) >= {DMI_N + 2} THEN sequence({DMI_N + 2}, size(ms))
       ELSE CAST(array() AS ARRAY<INT>) END,
  named_struct('dmp', {seed(pdm)}, 'dmm', {seed(mdm)}, 'tr', {seed(trx)},
               'out', array(named_struct(
                 'dmp', {seed(pdm)}, 'dmm', {seed(mdm)}, 'tr', {seed(trx)}))),
  (acc, i) -> named_struct(
    'dmp', {step('dmp', pdm)},
    'dmm', {step('dmm', mdm)},
    'tr', {step('tr', trx)},
    'out', concat(acc.out, array(named_struct(
      'dmp', {step('dmp', pdm)},
      'dmm', {step('dmm', mdm)},
      'tr', {step('tr', trx)})))
  )
).out
"""
    exploded = elig.select(
        "ms", F.posexplode(F.expr(fold)).alias("pos", "s")
    )

    def grid5(num, den):
        # (2e7*num + den) div (2*den), NULL-guarded, as 5-dp double
        return F.expr(
            f"CAST((20000000L * ({num}) + ({den}))"
            f" div nullif(2L * ({den}), 0L) AS DOUBLE) / 100000.0D"
        )

    return exploded.select(
        F.element_at(F.col("ms"), F.col("pos") + DMI_N + 1).alias(
            "minute_start"
        ),
        grid5("s.dmp", "s.tr").alias("di_plus"),
        grid5("s.dmm", "s.tr").alias("di_minus"),
        grid5("abs(s.dmp - s.dmm)", "s.dmp + s.dmm").alias("dx"),
    )


@register(
    "q_ext_var_cvar",
    oracle="WITH "
    + _CANDLES_CTE
    + """
, d AS (
  SELECT day, m,
         close_c - lag(close_c) OVER (PARTITION BY day ORDER BY m) AS dp
  FROM candles
), r AS (
  SELECT day, dp,
         row_number() OVER (PARTITION BY day ORDER BY dp, m) AS rn,
         count(*) OVER (PARTITION BY day) AS n
  FROM d WHERE dp IS NOT NULL
), t AS (
  SELECT day, max(n) AS n,
         max(CASE WHEN rn = (n + 19) // 20 THEN dp END) AS var_c,
         CAST(sum(CASE WHEN rn <= (n + 19) // 20 THEN dp ELSE 0 END)
              AS BIGINT) AS tail_sum
  FROM r GROUP BY day
)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(n AS BIGINT) AS n_rets,
       CAST((n + 19) // 20 AS BIGINT) AS tail_k,
       CAST(var_c AS BIGINT) AS var_c,
       round(CAST(tail_sum AS DOUBLE) / ((n + 19) // 20), 4) + 0.0
         AS cvar_c
FROM t
""",
)
def q_ext_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session 95% Value-at-Risk and Conditional VaR (expected
    shortfall) of 1-minute close-to-close changes, in cents: VaR is
    the k-th smallest delta where k = ceil(0.05 n) as the INTEGER
    (n + 19) DIV 20 (an exact order statistic, not a float quantile —
    no interpolation-mode or percentile-boundary flip between
    engines, the r7 drill's quantile lesson), and CVaR is the mean of
    the k tail deltas (exact BIGINT tail sum, one closing division).
    The risk numbers a desk derives from the reference's 1-minute
    product (main.py:26-40 minute rotation).

    Plan: candle layer (one uniform minute shuffle) -> day-partitioned
    lag -> ONE day-partitioned (dp, m) ordering shared by the
    row_number and count windows -> day-keyed aggregate.  Everything
    after the candles is calendar-bounded (<=1440 rows/day/partition),
    the indicator tier's standard 100 TB argument."""
    c = _candles_c(spark, sf_dir)
    dw = Window.partitionBy("day").orderBy("m")
    d = c.select(
        "day",
        "m",
        (F.col("close_c") - F.lag("close_c").over(dw)).alias("dp"),
    ).filter(F.col("dp").isNotNull())
    rw = Window.partitionBy("day").orderBy("dp", "m")
    r = d.select(
        "day",
        "dp",
        F.row_number().over(rw).alias("rn"),
        F.count("*").over(Window.partitionBy("day")).alias("n"),
    )
    k = F.expr("(n + 19) DIV 20")
    t = r.groupBy("day").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == k, F.col("dp"))).alias("var_c"),
        F.sum(
            F.when(F.col("rn") <= k, F.col("dp")).otherwise(F.lit(0))
        ).alias("tail_sum"),
    )
    kk = F.expr("(n + 19) DIV 20")
    return t.select(
        F.col("day").cast("timestamp").alias("day"),
        F.col("n").cast("long").alias("n_rets"),
        kk.cast("long").alias("tail_k"),
        F.col("var_c").cast("long").alias("var_c"),
        (
            F.round(F.col("tail_sum").cast("double") / kk, 4) + F.lit(0.0)
        ).alias("cvar_c"),
    )


@register(
    "q_ext_kyle_lambda",
    oracle="WITH "
    + _CANDLES_CTE
    + """
, flow AS (
  SELECT date_trunc('minute', "time") AS m,
         sum(CASE WHEN maker = 0
                  THEN CAST(round(quantity * 100000, 0) AS HUGEINT)
                  ELSE -CAST(round(quantity * 100000, 0) AS HUGEINT)
             END) AS net_u
  FROM btcusdt GROUP BY 1
), d AS (
  SELECT c.day,
         c.close_c - lag(c.close_c)
           OVER (PARTITION BY c.day ORDER BY c.m) AS dp,
         f.net_u
  FROM candles c JOIN flow f ON f.m = c.m
), mo AS (
  -- exact HUGEINT moments (see q_ext_regr): net flow <= ~1e9 units
  -- per minute, sxx <= 1e18 x 1440 rows, n * sxx <= ~2e24 -- far
  -- inside HUGEINT / Spark DECIMAL(38,0)
  SELECT day, CAST(count(*) AS HUGEINT) AS n,
         sum(CAST(net_u AS HUGEINT)) AS sx,
         sum(CAST(dp AS HUGEINT)) AS sy,
         sum(CAST(net_u AS HUGEINT) * CAST(net_u AS HUGEINT)) AS sxx,
         sum(CAST(dp AS HUGEINT) * CAST(dp AS HUGEINT)) AS syy,
         sum(CAST(net_u AS HUGEINT) * CAST(dp AS HUGEINT)) AS sxy
  FROM d WHERE dp IS NOT NULL GROUP BY day
)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(n AS BIGINT) AS n_mins,
       -- HUGEINT -> VARCHAR -> DOUBLE: DuckDB's direct hugeint/
       -- decimal128 -> double cast double-rounds (upper*2^64 + lower,
       -- ~1.6% of >2^53 integers land 1 ulp off the correctly-rounded
       -- value — fuzz-verified r10); the string parse is correctly
       -- rounded, matching Spark's BigDecimal.doubleValue exactly.
       CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
         / nullif(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE), 0)
         AS kyle_lambda,
       (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
          / nullif(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE), 0))
       * (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
          / nullif(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE), 0))
         AS r2
FROM mo
""",
)
def q_ext_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda per session day: the price-impact slope
    regressing 1-minute close-to-close change (cents) on the minute's
    NET signed flow (taker buys minus taker sells, 1e-5 units — the
    aggressor-side signing of q_ext_flow_imbalance, reference
    main.py:57-59 maker flag), plus the regression r2.  The canonical
    microstructure impact measure (Kyle 1985) alongside the Amihud /
    Roll / VPIN tier.

    Exactness: the q_ext_regr discipline — per-day moments are exact
    integer sums (DECIMAL(38,0) / HUGEINT) over integer-scaled cents
    and flow units; each output is a single IEEE division of the same
    exact integers in both engines, no rounding step, no FMA chain.

    Plan: ONE tick-sized minute-bucket shuffle computes the signed
    flow (map-side combined; the candle layer reuses the identical
    partitioning for its own aggregate), a co-keyed minute equi-join,
    the day-partitioned lag, then a day-keyed 6-number moment
    aggregate.  100 TB: both tick passes are uniform-key partial
    aggregates; everything after is calendar-bounded."""
    btc = btcusdt(spark, sf_dir)
    qty_u = F.round(F.col("quantity") * 100000, 0).cast("long")
    flow = btc.groupBy(
        F.window("time", "1 minute").start.alias("fm")
    ).agg(
        F.sum(
            F.when(F.col("maker") == 0, qty_u).otherwise(-qty_u)
        ).alias("net_u")
    )
    c = _candles_c(spark, sf_dir)
    dw = Window.partitionBy("day").orderBy("m")
    d = (
        c.join(flow, c["m"] == flow["fm"])
        .select(
            "day",
            "m",
            (F.col("close_c") - F.lag("close_c").over(dw)).alias("dp"),
            "net_u",
        )
        .filter(F.col("dp").isNotNull())
    )
    x = F.col("net_u").cast("decimal(18,0)")
    y = F.col("dp").cast("decimal(18,0)")
    mo = d.groupBy("day").agg(
        F.count("*").cast("decimal(18,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (
        F.col(cn) for cn in ("n", "sx", "sy", "sxx", "syy", "sxy")
    )

    def div(a, b):
        return a.cast("double") / F.when(
            b.cast("double") != 0, b.cast("double")
        )

    num = n * sxy - sx * sy
    return mo.select(
        F.col("day").cast("timestamp").alias("day"),
        n.cast("long").alias("n_mins"),
        div(num, n * sxx - sx * sx).alias("kyle_lambda"),
        (div(num, n * sxx - sx * sx) * div(num, n * syy - sy * sy)).alias(
            "r2"
        ),
    )


# ---------------------------------------------------------------------------
# range-based daily volatility estimators (Parkinson / Garman-Klass /
# Rogers-Satchell)
# ---------------------------------------------------------------------------


@register(
    "q_ext_range_vol",
    oracle="WITH "
    + _CANDLES_CTE
    + """
, byday AS (
  SELECT day, min(m) AS first_m, max(m) AS last_m,
         max(high_c) AS high_c, min(low_c) AS low_c,
         CAST(count(*) AS BIGINT) AS n_minutes
  FROM candles GROUP BY day
), d AS (
  SELECT b.day, b.n_minutes, fc.open_c AS open_c, b.high_c, b.low_c,
         lc.close_c AS close_c
  FROM byday b
  JOIN candles fc ON fc.m = b.first_m
  JOIN candles lc ON lc.m = b.last_m
), r AS (
  SELECT day, n_minutes, open_c, high_c, low_c, close_c,
         ln(CAST(high_c AS DOUBLE) / CAST(low_c AS DOUBLE)) AS hl,
         ln(CAST(close_c AS DOUBLE) / CAST(open_c AS DOUBLE)) AS co,
         ln(CAST(high_c AS DOUBLE) / CAST(close_c AS DOUBLE)) AS hc,
         ln(CAST(high_c AS DOUBLE) / CAST(open_c AS DOUBLE)) AS ho,
         ln(CAST(low_c AS DOUBLE) / CAST(close_c AS DOUBLE)) AS lc2,
         ln(CAST(low_c AS DOUBLE) / CAST(open_c AS DOUBLE)) AS lo
  FROM d
)
SELECT CAST(day AS TIMESTAMP) AS day, n_minutes,
       open_c, high_c, low_c, close_c,
       round(sqrt(hl * hl / (4 * ln(2))), 6) + 0.0 AS parkinson,
       round(sqrt(greatest(
         0.5 * hl * hl - (2 * ln(2) - 1) * co * co, 0)), 6) + 0.0
         AS garman_klass,
       round(sqrt(greatest(hc * ho + lc2 * lo, 0)), 6) + 0.0
         AS rogers_satchell
FROM r
""",
)
def q_ext_range_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based daily volatility estimators from the session's
    OHLC: Parkinson (high-low range), Garman-Klass (range + body),
    and Rogers-Satchell (drift-robust) — the standard trio a desk
    computes per session when tick-level realized vol
    (q_ext_realized_vol) is too noisy or too expensive.  Public
    formulae (Parkinson 1980; Garman & Klass 1980; Rogers & Satchell
    1991); reference has no analytics tier.

    Exactness: daily OHLC comes from the integer-cents candle layer
    (first/last-minute joins, the q_ext_amihud pattern), so every
    log ratio is a single shared double expression tree — no
    accumulated float anywhere; both sqrt arguments are clamped at
    zero in BOTH engines (epsilon-negative guard, the r7 drill
    pattern) and `+ 0.0` normalizes any signed zero after rounding.

    Plan: candle aggregate (ONE tick shuffle, reused via persist) ->
    day rollup + two first/last-minute joins on the tiny candle
    layer -> map-only closing algebra.  Day count is calendar-bounded
    at any corpus size."""
    c = _candles_c(spark, sf_dir).transform(scoped_persist)
    byday = c.groupBy("day").agg(
        F.min("m").alias("first_m"),
        F.max("m").alias("last_m"),
        F.max("high_c").alias("high_c"),
        F.min("low_c").alias("low_c"),
        F.count("*").cast("long").alias("n_minutes"),
    )
    fc = c.select(F.col("m").alias("first_m"), F.col("open_c"))
    lc = c.select(F.col("m").alias("last_m"), F.col("close_c"))
    d = byday.join(fc, "first_m").join(lc, "last_m")

    def lg(a, b):
        return F.log(F.col(a).cast("double") / F.col(b).cast("double"))

    hl, co = lg("high_c", "low_c"), lg("close_c", "open_c")
    hc, ho = lg("high_c", "close_c"), lg("high_c", "open_c")
    lc2, lo = lg("low_c", "close_c"), lg("low_c", "open_c")
    ln2 = F.log(F.lit(2.0))
    return d.select(
        F.col("day").cast("timestamp").alias("day"),
        "n_minutes",
        "open_c",
        "high_c",
        "low_c",
        "close_c",
        (F.round(F.sqrt(hl * hl / (F.lit(4.0) * ln2)), 6) + F.lit(0.0))
        .alias("parkinson"),
        (
            F.round(
                F.sqrt(
                    F.greatest(
                        F.lit(0.5) * hl * hl
                        - (F.lit(2.0) * ln2 - F.lit(1.0)) * co * co,
                        F.lit(0.0),
                    )
                ),
                6,
            )
            + F.lit(0.0)
        ).alias("garman_klass"),
        (
            F.round(
                F.sqrt(F.greatest(hc * ho + lc2 * lo, F.lit(0.0))), 6
            )
            + F.lit(0.0)
        ).alias("rogers_satchell"),
    )


@register(
    "q_ext_intraday_profile",
    oracle="WITH "
    + _CANDLES_CTE
    + """
SELECT CAST(date_part('hour', m) * 60 + date_part('minute', m) AS BIGINT)
         AS minute_of_day,
       CAST(count(*) AS BIGINT) AS n_days,
       -- integer floor division to a 4-dp grid: the means are exact
       -- rationals of integer sums, and round() on the half-way
       -- values (e.g. 2.76285) splits engines — floor on the scaled
       -- integers cannot
       CAST((sum(vol_u) * 10000) // (count(*) * 100000) AS DOUBLE)
         / 10000 AS avg_volume,
       CAST((sum(abs(close_c - open_c)) * 10000) // (count(*) * 100)
            AS DOUBLE) / 10000 AS avg_abs_move,
       CAST((sum(trades) * 10000) // count(*) AS DOUBLE) / 10000
         AS avg_trades
FROM candles
GROUP BY 1
ORDER BY minute_of_day
""",
)
def q_ext_intraday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday activity profile (the microstructure 'U-curve'): mean
    volume, mean absolute open-to-close move, and mean trade count
    per minute-of-day, averaged across all session days.  The seasonal
    baseline every intraday anomaly/liquidity model subtracts first
    (Admati & Pfleiderer 1988's deterministic intraday pattern);
    reference has no analytics tier.

    Exactness: every numerator is an INTEGER sum over the
    integer-scaled candle layer (volume units, cents, trade counts) —
    order-independent across partial-agg schedules — and the means
    land on a 4-dp grid by integer FLOOR division (round() would
    split engines on the exact half-way rationals these sums
    produce, observed at sf0.01).

    Plan: candle aggregate (one tick shuffle) -> one 1440-key
    aggregate, partial map-side; output is calendar-bounded (<= 1440
    rows) at any corpus size."""
    c = _candles_c(spark, sf_dir)
    mod = (F.hour("m") * 60 + F.minute("m")).cast("long")
    n = F.count("*")

    def grid4(num, denom_scale):
        return (
            F.expr(f"CAST(({num} * 10000L) div (cnt * {denom_scale}L)"
                   " AS DOUBLE) / 10000")
        )

    agg = c.groupBy(mod.alias("minute_of_day")).agg(
        n.cast("long").alias("n_days"),
        F.sum("vol_u").alias("sv"),
        F.sum(F.abs(F.col("close_c") - F.col("open_c"))).alias("sm"),
        F.sum("trades").alias("st"),
        n.alias("cnt"),
    )
    return agg.select(
        "minute_of_day",
        "n_days",
        grid4("sv", 100000).alias("avg_volume"),
        grid4("sm", 100).alias("avg_abs_move"),
        grid4("st", 1).alias("avg_trades"),
    ).orderBy("minute_of_day")
