"""Pipeline-domain projection / filter / scalar transforms
(SURVEY.md §2.2) — the reference's explicit per-record logic, re-expressed
as Catalyst projections over the derived ticks stream.

Reference citations per query: main.py:56-66 (transform loop),
lambda_function.py:13-48 (key handling), start_all_pipeline.py:448-450
(prefix/suffix routing), main.py:26-41 (minute bucketing + file naming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.canonical import TICKS_CTE, ticks
from binancedatapipelineinaws_spark.registry import register


@register(
    "q_project_rename",
    oracle="WITH "
    + TICKS_CTE
    + """
SELECT trade_id AS bid, symbol AS parameter, price_str, qty_str,
       trade_time_ms, is_buyer_maker
FROM ticks
""",
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select/reorder/rename the 6 wire fields (t,s,p,q,T,m ->
    bid,parameter,...), main.py:61-66."""
    return ticks(spark, sf_dir).select(
        F.col("trade_id").alias("bid"),
        F.col("symbol").alias("parameter"),
        "price_str",
        "qty_str",
        "trade_time_ms",
        "is_buyer_maker",
    )


@register(
    "q_cast_price_2dp",
    oracle="WITH "
    + TICKS_CTE
    + """
SELECT trade_id,
       CAST(round(CAST(price_str AS DECIMAL(18,8)), 2) AS DOUBLE) AS price,
       printf('%.2f', CAST(round(CAST(price_str AS DECIMAL(18,8)), 2) AS DOUBLE))
         AS price_fmt
FROM ticks
""",
)
def q_cast_price_2dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round(float(p), 2) then '%.2f' (main.py:63)."""
    t = ticks(spark, sf_dir)
    price = (
        F.col("price_str").cast("decimal(18,8)").cast("decimal(18,2)").cast("double")
    )
    return t.select(
        "trade_id",
        price.alias("price"),
        F.format_string("%.2f", price).alias("price_fmt"),
    )


@register(
    "q_trunc_qty_5dp",
    oracle="WITH "
    + TICKS_CTE
    + """
SELECT trade_id, qty_str,
       substr(qty_str, 1, length(qty_str) - 3) AS qty_trunc_str,
       CAST(substr(qty_str, 1, length(qty_str) - 3) AS DOUBLE) AS quantity
FROM ticks
""",
)
def q_trunc_qty_5dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str(q)[:-3] — string truncation, NOT rounding (main.py:64)."""
    t = ticks(spark, sf_dir)
    trunc = F.substring(
        F.col("qty_str"), 1, F.length(F.col("qty_str")) - F.lit(3)
    )
    return t.select(
        "trade_id",
        "qty_str",
        trunc.alias("qty_trunc_str"),
        trunc.cast("double").alias("quantity"),
    )


@register(
    "q_epoch_ms_to_ts",
    oracle="WITH "
    + TICKS_CTE
    + """
SELECT trade_id, trade_time_ms,
       trade_time_ms // 1000 AS epoch_s,
       make_timestamp((trade_time_ms // 1000) * 1000000) AS ts_second,
       strftime(make_timestamp((trade_time_ms // 1000) * 1000000),
                '%Y-%m-%d %H:%M:%S') AS ts_formatted
FROM ticks
""",
)
def q_epoch_ms_to_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epoch-ms -> second-granularity timestamp, '%Y-%m-%d %H:%M:%S'
    (main.py:56): millisecond precision deliberately discarded."""
    t = ticks(spark, sf_dir)
    epoch_s = F.expr("trade_time_ms DIV 1000")
    return t.select(
        "trade_id",
        "trade_time_ms",
        epoch_s.alias("epoch_s"),
        F.timestamp_seconds(epoch_s).alias("ts_second"),
        F.date_format(F.timestamp_seconds(epoch_s), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_formatted"
        ),
    )


@register(
    "q_bool_to_flag",
    oracle="WITH "
    + TICKS_CTE
    + """
SELECT trade_id, is_buyer_maker,
       CASE WHEN is_buyer_maker THEN 1 ELSE 0 END AS maker,
       CASE WHEN is_buyer_maker THEN '1' ELSE '0' END AS maker_str
FROM ticks
""",
)
def q_bool_to_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool -> 1/0 tinyint encoding (main.py:57-59)."""
    t = ticks(spark, sf_dir)
    flag = F.when(F.col("is_buyer_maker"), 1).otherwise(0)
    return t.select(
        "trade_id",
        "is_buyer_maker",
        flag.cast("int").alias("maker"),
        flag.cast("string").alias("maker_str"),
    )


@register(
    "q_filter_symbol",
    oracle="WITH "
    + TICKS_CTE
    + """
SELECT trade_id, symbol, trade_time_ms FROM ticks
WHERE symbol = 'BTCUSDT' AND trade_id % 3 = 0
""",
)
def q_filter_symbol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol predicate, the manual 'pushdown' of subscribing to one
    stream (main.py:32); Catalyst pushes it into the parquet scan."""
    return (
        ticks(spark, sf_dir)
        .filter((F.col("symbol") == "BTCUSDT") & (F.col("trade_id") % 3 == 0))
        .select("trade_id", "symbol", "trade_time_ms")
    )


# S3-key domain: object keys as the Lambda sees them
# (lambda_function.py:12-18; naming main.py:40-41)
_KEYS_CTE = (
    TICKS_CTE
    + """,
keys AS (
  SELECT trade_id,
         'data_1_min/' || CAST((trade_time_ms // 60000) * 60 AS VARCHAR)
           || '.tsv' AS key,
         'my%20bucket' AS bucket_enc
  FROM ticks
)
"""
)


def _keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = ticks(spark, sf_dir)
    return t.select(
        "trade_id",
        F.concat(
            F.lit("data_1_min/"),
            (F.expr("trade_time_ms DIV 60000") * 60).cast("string"),
            F.lit(".tsv"),
        ).alias("key"),
        F.lit("my%20bucket").alias("bucket_enc"),
    )


@register(
    "q_filter_prefix_suffix",
    oracle="WITH "
    + _KEYS_CTE
    + """
SELECT trade_id, key FROM keys
WHERE starts_with(key, 'data_1_min/') AND key LIKE '%.tsv'
  AND trade_id % 4 = 0
""",
)
def q_filter_prefix_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix/suffix routing of object keys (start_all_pipeline.py:448-450)."""
    k = _keys(spark, sf_dir)
    return k.filter(
        F.col("key").startswith("data_1_min/")
        & F.col("key").endswith(".tsv")
        & (F.col("trade_id") % 4 == 0)
    ).select("trade_id", "key")


@register(
    "q_url_decode",
    oracle="WITH "
    + _KEYS_CTE
    + """
-- DuckDB 1.0 has no url_decode; inputs only contain %20 / %2F
SELECT trade_id, bucket_enc, replace(bucket_enc, '%20', ' ') AS bucket,
       replace(replace(key, '/', '%2F'), '%2F', '/') AS key_roundtrip
FROM keys WHERE trade_id % 100 = 0
""",
)
def q_url_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unquote_plus on the S3 key (lambda_function.py:13)."""
    k = _keys(spark, sf_dir)
    return k.filter(F.col("trade_id") % 100 == 0).select(
        "trade_id",
        "bucket_enc",
        F.url_decode("bucket_enc").alias("bucket"),
        F.url_decode(F.replace(F.col("key"), F.lit("/"), F.lit("%2F"))).alias(
            "key_roundtrip"
        ),
    )


@register(
    "q_string_concat_fmt",
    oracle="WITH "
    + _KEYS_CTE
    + """
SELECT trade_id,
       's3://' || replace(bucket_enc, '%20', ' ') || '/' || key AS s3_url,
       printf('%d.tsv', (trade_id // 60) * 60) AS fmt_name,
       concat_ws('/', 'data_1_min', CAST(trade_id AS VARCHAR)) AS joined
FROM keys WHERE trade_id % 50 = 0
""",
)
def q_string_concat_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f-string/concat assembly of s3://bucket/key and file names
    (lambda_function.py:18, main.py:40-41,61-66)."""
    k = _keys(spark, sf_dir)
    return k.filter(F.col("trade_id") % 50 == 0).select(
        "trade_id",
        F.concat(
            F.lit("s3://"), F.url_decode("bucket_enc"), F.lit("/"), F.col("key")
        ).alias("s3_url"),
        F.format_string("%d.tsv", (F.expr("trade_id DIV 60") * 60)).alias(
            "fmt_name"
        ),
        F.concat_ws(
            "/", F.lit("data_1_min"), F.col("trade_id").cast("string")
        ).alias("joined"),
    )


@register(
    "q_split_part",
    oracle="WITH "
    + _KEYS_CTE
    + """
SELECT trade_id, key,
       key[len('data_1_min/') + 1 :] AS after_prefix,
       list_extract(string_split(key, '/'), -1) AS basename,
       split_part(key, '/', 1) AS prefix_part
FROM keys WHERE trade_id % 25 = 0
""",
)
def q_split_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key.split('/')[-1] basename extraction (lambda_function.py:35-48)."""
    k = _keys(spark, sf_dir)
    return k.filter(F.col("trade_id") % 25 == 0).select(
        "trade_id",
        "key",
        F.substring(F.col("key"), F.lit(len("data_1_min/") + 1), F.lit(10_000))
        .alias("after_prefix"),
        F.element_at(F.split("key", "/"), -1).alias("basename"),
        F.substring_index(F.col("key"), "/", 1).alias("prefix_part"),
    )


@register(
    "q_minute_bucket",
    oracle="WITH "
    + TICKS_CTE
    + """
SELECT trade_id, trade_time_ms,
       trade_time_ms // 60000 AS minute_bucket,
       (trade_time_ms // 60000) * 60 AS file_epoch_s,
       CAST(date_trunc('minute',
            make_timestamp((trade_time_ms // 1000) * 1000000)) AS TIMESTAMP)
         AS window_start
FROM ticks
""",
)
def q_minute_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int(T/60000) bucketing and the *60 file-name epoch (main.py:26-41),
    plus the window() equivalence: window('1 minute').start ==
    timestamp of bucket*60."""
    t = ticks(spark, sf_dir)
    bucket = F.expr("trade_time_ms DIV 60000")
    ts = F.timestamp_seconds(F.expr("trade_time_ms DIV 1000"))
    return t.select(
        "trade_id",
        "trade_time_ms",
        bucket.alias("minute_bucket"),
        (bucket * 60).alias("file_epoch_s"),
        F.window(ts, "1 minute").start.alias("window_start"),
    )
