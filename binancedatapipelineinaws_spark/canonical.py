"""Canonical BTCUSDT layer — the reference's only bespoke compute.

The reference pipeline transforms a raw Binance trade dict into the
Aurora row ``(bid, parameter, price, quantity, time, maker)`` with
deliberately lossy semantics (reference ``main.py:56-66``):

- price: parse string -> float -> round to 2 dp -> ``%.2f``   (main.py:63)
- quantity: **string-truncate** the 8-dp string to 5 dp        (main.py:64)
- time: epoch-ms integer-divided to seconds                    (main.py:56)
- maker: bool -> 1/0 tinyint                                   (main.py:57-59)
- symbol -> fixed-width CHAR(7) column ``parameter``           (start_all_pipeline.py:463)

The driver's parquet tables don't include a raw-ticks table, so the
engine *derives* a deterministic ticks stream from ``events`` (same
derivation in Spark and in the DuckDB oracle), then canonicalizes it.
Rounding is done on the *decimal string* (cast DECIMAL(18,8) ->
DECIMAL(18,2)) in both engines so ties are exact-decimal ties with
identical half-up behavior, not double-noise coin flips.

Everything here is built-in Catalyst expressions — whole-stage codegen,
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.tables import load_table

# ---------------------------------------------------------------------------
# ticks: deterministic wire-format stream derived from `events`
# (FIXTURES.md A1: trade_id, symbol, price/qty as decimal strings,
#  trade_time_ms epoch-ms, is_buyer_maker bool)
# ---------------------------------------------------------------------------


def ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-format trade stream: what `await tscm.recv()` yields in the
    reference (main.py:35-36), minus the network."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("trade_id"),
        F.lit("BTCUSDT").alias("symbol"),
        # 8-dp decimal strings, exactly like the Binance wire format
        F.format_string("%.8f", F.col("value") * 997.0 / 1000.0 + 20000.0).alias(
            "price_str"
        ),
        F.format_string("%.8f", F.col("value") / 7.0).alias("qty_str"),
        F.unix_millis(F.col("ts")).alias("trade_time_ms"),
        (F.col("event_id") % 2 == 0).alias("is_buyer_maker"),
    )


# DuckDB rendering of the identical derivation, shared by every
# pipeline-domain oracle below (printf == Java format_string for %.8f on
# non-tie doubles; ties require the double to be an exact 8-dp decimal,
# which the /7 and *997/1000 derivations cannot produce).
TICKS_CTE = """
ticks AS (
  SELECT
    event_id AS trade_id,
    'BTCUSDT' AS symbol,
    printf('%.8f', value * 997.0 / 1000.0 + 20000.0) AS price_str,
    printf('%.8f', value / 7.0) AS qty_str,
    epoch_ms(ts) AS trade_time_ms,
    (event_id % 2 = 0) AS is_buyer_maker
  FROM events
)
"""


# ---------------------------------------------------------------------------
# canonicalization: ticks -> BTCUSDT rows (main.py:56-66 semantics)
# ---------------------------------------------------------------------------


def canonicalize_btcusdt(df: DataFrame) -> DataFrame:
    """Project a wire-format ticks DataFrame to the canonical BTCUSDT
    schema. Pure built-in expressions; reusable over batch & streaming
    inputs (unresolved columns, no bound session)."""
    return df.select(
        F.col("trade_id").alias("bid"),
        F.substring(F.col("symbol"), 1, 7).alias("parameter"),  # CHAR(7)
        # round(float(p), 2) — decimal-string rounding, half-up on exact ties
        F.col("price_str")
        .cast("decimal(18,8)")
        .cast("decimal(18,2)")
        .cast("double")
        .alias("price"),
        # str(q)[:-3] — *truncation*, not rounding (main.py:64)
        F.substring(
            F.col("qty_str"), 1, F.length(F.col("qty_str")) - F.lit(3)
        )
        .cast("double")
        .alias("quantity"),
        # int(T/1000) -> '%Y-%m-%d %H:%M:%S' (second granularity)
        F.timestamp_seconds(
            (F.col("trade_time_ms") / F.lit(1000)).cast("long")
        ).alias("time"),
        F.when(F.col("is_buyer_maker"), F.lit(1)).otherwise(F.lit(0))
        .cast("int")
        .alias("maker"),
    )


BTCUSDT_CTE = (
    TICKS_CTE
    + """,
btcusdt AS (
  SELECT
    trade_id AS bid,
    substr(symbol, 1, 7) AS parameter,
    -- DuckDB's decimal downscale CAST truncates; round() is half-up like
    -- Spark's decimal cast
    CAST(round(CAST(price_str AS DECIMAL(18,8)), 2) AS DOUBLE) AS price,
    CAST(substr(qty_str, 1, length(qty_str) - 3) AS DOUBLE) AS quantity,
    make_timestamp((trade_time_ms // 1000) * 1000000) AS "time",
    CASE WHEN is_buyer_maker THEN 1 ELSE 0 END AS maker
  FROM ticks
)
"""
)


def btcusdt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical table the Lambda loads into Aurora
    (lambda_function.py:26), as a DataFrame."""
    return canonicalize_btcusdt(ticks(spark, sf_dir))


@register(
    "q_canonicalize_btcusdt",
    oracle="WITH " + BTCUSDT_CTE + "SELECT * FROM btcusdt",
)
def q_canonicalize_btcusdt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full canonicalization layer end-to-end (main.py:56-66)."""
    return btcusdt(spark, sf_dir)
