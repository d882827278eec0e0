"""Driver-table loaders (TESTDATA.md).

All queries take ``(spark, sf_dir)`` and read parquet from ``sf_dir``
through ``load_table``, the one way to read a table.  Loading is lazy —
Catalyst prunes columns and pushes filters to the parquet scan, so
"load the table" costs nothing until an action runs.  Loading is also
pure: it writes no session conf and registers no view.  SQL builders
pass the frames they read to ``spark.sql`` as ``{name}`` arguments.
``TABLE_NAMES`` is the one list of driver tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize `events.ts` to TIMESTAMP (LTZ, UTC session) across the
    parquet encodings the driver has shipped:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; the
      session contract's ``nanosAsLong`` reads it as a long, truncated
      here nanos -> micros, matching DuckDB's ns->us truncation.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ, which `unix_millis`/`window` reject.  The session
      contract pins the timezone to UTC, so casting NTZ -> TIMESTAMP
      reinterprets the wall-clock micros as epoch micros — exactly what
      DuckDB's `epoch_ms(ts)` does with its naive timestamps.

    Both conf values come from ``session`` (``get_spark``/``prepare``);
    this read sets neither.
    """
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # integer DIV: float division would lose precision at int64 scale
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
