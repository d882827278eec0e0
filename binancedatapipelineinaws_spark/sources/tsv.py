"""Sources & sinks (SURVEY.md §2.1): the reference's TSV file format and
table load path, Spark-native.

The reference writes one headerless tab-separated file per event-time
minute (main.py:61-67) and bulk-loads it with `LOAD DATA FROM S3 ...
FIELDS TERMINATED BY '\\t'` (lambda_function.py:26).  Here both ends are
the DataFrameReader/Writer csv codepath with sep='\\t' — schema-applied,
vectorized, and identical for local paths or s3a:// URIs.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binancedatapipelineinaws_spark.canonical import BTCUSDT_CTE, btcusdt
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.tables import load_table

# The Aurora DDL (start_all_pipeline.py:463-464), with price/quantity as
# double (engine-canonical numeric form; the DECIMAL(7,2)/(7,5) text
# forms are produced by the sink projection below).
BTCUSDT_SCHEMA = T.StructType(
    [
        T.StructField("bid", T.LongType()),
        T.StructField("parameter", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("quantity", T.DoubleType()),
        T.StructField("time", T.TimestampType()),
        T.StructField("maker", T.IntegerType()),
    ]
)

TS_FMT = "yyyy-MM-dd HH:mm:ss"  # main.py:56


def _tmp_path(slug: str, sf_dir: str) -> str:
    """Deterministic scratch dir: stable content digest (not Python's
    per-process-randomized str hash) + pid so concurrent processes never
    race on the same directory while reruns in one process reuse it."""
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(), f"{slug}_{digest}_{os.getpid()}"
    )


def write_btcusdt_tsv(df: DataFrame, path: str) -> None:
    """TSV sink with the reference's exact line format (main.py:61-67):
    tab-separated, no header, no quoting, '%Y-%m-%d %H:%M:%S' timestamps.
    Text formatting is applied as a projection so the payload matches the
    reference byte-for-byte: %.2f price, %.5f quantity, 1/0 maker."""
    sink_projection(df).write.mode("overwrite").option("sep", "\t").option(
        "emptyValue", ""
    ).csv(path)


def sink_projection(df: DataFrame) -> DataFrame:
    """Canonical rows -> TSV text columns, exactly main.py:56-66."""
    return df.select(
        F.col("bid").cast("string").alias("bid"),
        F.col("parameter"),
        F.format_string("%.2f", F.col("price")).alias("price"),
        F.format_string("%.5f", F.col("quantity")).alias("quantity"),
        F.date_format("time", TS_FMT).alias("time"),
        F.col("maker").cast("string").alias("maker"),
    )


def read_btcusdt_tsv(spark: SparkSession, path: str) -> DataFrame:
    """TSV scan with applied schema (no inference), the engine's
    equivalent of the Aurora LOAD DATA parse (lambda_function.py:26)."""
    return (
        spark.read.option("sep", "\t")
        .option("timestampFormat", TS_FMT)
        .schema(BTCUSDT_SCHEMA)
        .csv(path)
    )


@register(
    "q_scan_parquet",
    oracle="""
SELECT l_orderkey, l_extendedprice, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_quantity < 5
""",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan with filter pushdown + column pruning: the plan
    reads 4 of 11 columns and ships the predicates to the parquet
    reader (asserted in tests via PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-06-01") & (F.col("l_quantity") < 5)
    ).select("l_orderkey", "l_extendedprice", "l_shipdate")


@register(
    "q_scan_tsv",
    oracle="WITH " + BTCUSDT_CTE + "SELECT * FROM btcusdt",
)
def q_scan_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: canonical rows -> per-minute TSV files -> schema-applied
    scan.  The oracle is the canonical table itself — the round trip must
    be lossless given the reference's formats."""
    path = _tmp_path("btcusdt_tsv", sf_dir)
    write_btcusdt_tsv(btcusdt(spark, sf_dir), path)
    return read_btcusdt_tsv(spark, path)


@register(
    "q_sink_tsv",
    oracle="WITH "
    + BTCUSDT_CTE
    + """
SELECT CAST(bid AS VARCHAR) AS bid, parameter,
       printf('%.2f', price) AS price,
       printf('%.5f', quantity) AS quantity,
       strftime("time", '%Y-%m-%d %H:%M:%S') AS "time",
       CAST(maker AS VARCHAR) AS maker
FROM btcusdt
""",
)
def q_sink_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serialization projection: exact reference line fields
    (main.py:56-66).  File writing itself is exercised by q_scan_tsv and
    the streaming tests."""
    return sink_projection(btcusdt(spark, sf_dir))


@register(
    "q_sink_table_append",
    oracle="WITH "
    + BTCUSDT_CTE
    + """,
appended AS (
  SELECT * FROM btcusdt
  UNION ALL
  SELECT * FROM btcusdt WHERE maker = 1
)
SELECT maker, count(*) AS n, min(bid) AS min_bid, max(bid) AS max_bid
FROM appended GROUP BY maker
""",
)
def q_sink_table_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk append into a persisted table (the LOAD DATA step,
    lambda_function.py:26-32): overwrite a fresh table dir, append the
    maker==1 partition, read back and aggregate.  The oracle describes
    the APPENDED table (base UNION ALL appended half) directly — no
    arithmetic correction."""
    path = _tmp_path("btcusdt_tbl", sf_dir)
    df = btcusdt(spark, sf_dir)
    df.write.mode("overwrite").parquet(path)  # fresh epoch each run
    # append path: second writer adds files to the same table directory
    df.filter(F.col("maker") == 1).write.mode("append").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("maker").agg(
        F.count("*").alias("n"),
        F.min("bid").alias("min_bid"),
        F.max("bid").alias("max_bid"),
    )


@register(
    "q_scan_tsv_quarantine",
    oracle="WITH "
    + BTCUSDT_CTE.rstrip()
    + """,
wire AS (
  SELECT CAST(bid AS VARCHAR) AS bid, parameter,
         CASE WHEN bid % 97 = 0 THEN 'X9.9X'
              ELSE printf('%.2f', price) END AS price,
         CASE WHEN bid % 89 = 0 THEN 'bad_qty'
              ELSE printf('%.5f', quantity) END AS quantity,
         strftime("time", '%Y-%m-%d %H:%M:%S') AS "time",
         CAST(maker AS VARCHAR) AS maker
  FROM btcusdt
),
classified AS (
  SELECT CASE WHEN TRY_CAST(price AS DOUBLE) IS NULL THEN 'bad_price'
              WHEN TRY_CAST(quantity AS DOUBLE) IS NULL THEN 'bad_qty'
              ELSE 'ok' END AS reason,
         CAST(bid AS BIGINT) AS bid
  FROM wire
)
SELECT reason, count(*) AS n, min(bid) AS min_bid, max(bid) AS max_bid
FROM classified GROUP BY reason
""",
)
def q_scan_tsv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row quarantine — the ingest-robustness surface the
    reference's `LOAD DATA` path lacks (a bad line aborts or silently
    zeroes the Aurora load; lambda_function.py:26).  A deterministic
    subset of rows is corrupted at the string level, round-tripped
    through the TSV sink/scan as raw strings, then classified with
    try_cast: unparseable rows are counted per reason instead of
    failing the job.  At 100 TB the same projection splits the stream
    into a clean table and a quarantine table in one pass."""
    wire = sink_projection(btcusdt(spark, sf_dir)).select(
        "bid",
        "parameter",
        F.when(F.col("bid").cast("long") % 97 == 0, "X9.9X")
        .otherwise(F.col("price"))
        .alias("price"),
        F.when(F.col("bid").cast("long") % 89 == 0, "bad_qty")
        .otherwise(F.col("quantity"))
        .alias("quantity"),
        "time",
        "maker",
    )
    path = _tmp_path("btcusdt_tsv_q", sf_dir)
    wire.write.mode("overwrite").option("sep", "\t").csv(path)
    raw_schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in wire.columns]
    )
    back = spark.read.option("sep", "\t").schema(raw_schema).csv(path)
    reason = (
        F.when(F.col("price").try_cast("double").isNull(), "bad_price")
        .when(F.col("quantity").try_cast("double").isNull(), "bad_qty")
        .otherwise("ok")
    )
    return (
        back.select(reason.alias("reason"), F.col("bid").cast("long").alias("bid"))
        .groupBy("reason")
        .agg(
            F.count("*").alias("n"),
            F.min("bid").alias("min_bid"),
            F.max("bid").alias("max_bid"),
        )
    )


def write_btcusdt_jdbc(
    df: DataFrame,
    url: str,
    table: str = "btcusdt",
    mode: str = "append",
    properties: dict | None = None,
) -> None:
    """JDBC bulk append — the engine-native equivalent of the reference's
    Aurora load (lambda_function.py:26-32 `LOAD DATA FROM S3 ... INTO
    TABLE btcusdt`): every partition opens a connection and ships
    batched INSERTs, so ingest parallelism == partition count.  Needs
    the target database's JDBC driver jar on the Spark classpath;
    tests round-trip it against embedded Derby, which pyspark ships in
    its own jars directory (tests/test_sources_jdbc.py) — against
    Aurora only the URL and driver class change."""
    (
        df.write.mode(mode)
        .option("batchsize", 10000)
        .option("isolationLevel", "READ_COMMITTED")
        .jdbc(url, table, properties=properties or {})
    )


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """JDBC read — the verification side of the round-trip.  Without a
    partition column the whole table arrives through one connection
    (fine for dimension-sized reads); pass `partition_column` (a
    numeric/date column) to split the scan into `num_partitions`
    range-bounded queries for large tables — the reader probes
    min/max once and fans out WHERE-clause slices."""
    reader = spark.read
    if partition_column is not None:
        bounds = spark.read.jdbc(
            url,
            f"(SELECT min({partition_column}) lo,"
            f" max({partition_column}) hi FROM {table}) b",
            properties=properties or {},
        ).first()
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(bounds["LO"]))
            .option("upperBound", str(bounds["HI"]))
            .option("numPartitions", str(num_partitions))
        )
    return reader.jdbc(url, table, properties=properties or {})


@register(
    "q_scan_orc",
    oracle="""
SELECT l_returnflag, count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
FROM lineitem GROUP BY l_returnflag
""",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: parquet lineitem -> ORC files -> schema-preserved
    scan -> aggregate.  Spark's second columnar format, exercised the
    same way as the TSV round trip — the oracle describes the LOGICAL
    table (from the original parquet), so any loss in the ORC
    write/read (types, timestamps, nulls) breaks the gate.  The
    read-back scan keeps pushdown/pruning (ORC carries min/max strides
    like parquet; the filter lands in PushedFilters the same way).
    100 TB: format choice changes the scan layer only — every plan in
    the registry runs identically over an ORC lake."""
    li = load_table(spark, sf_dir, "lineitem")
    path = _tmp_path("lineitem_orc", sf_dir)
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("sum_price_cents"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )
