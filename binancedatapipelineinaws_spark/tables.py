"""Driver-table loaders (TESTDATA.md).

All queries take ``(spark, sf_dir)`` and read parquet from ``sf_dir``
through ``load_table``, the one way to read a table.  Loading is pure:
it writes no session conf and registers no view.  SQL builders pass the
frames they read to ``spark.sql`` as ``{name}`` arguments.
``TABLE_NAMES`` is the one list of driver tables.

A bare ``spark.read.parquet`` runs one Spark job to infer the schema
from the footers.  ``load_table`` infers each table's schema once per
session and then reads with it pinned (``spark.read.schema(...)``),
which runs no job, so building a query plan runs none either; Catalyst
still prunes columns and pushes filters to the scan.  The cache key is
everything the inferred schema depends on:

- the session;
- the table path;
- the files' signature: the path's ``os.stat`` mtime and size, and for a
  Spark-written directory table the name, size and mtime of each entry,
  so a rewritten table is inferred afresh;
- the session's values of ``SCHEMA_CONFS``, the confs that change the
  inferred types, so a session never reads with a schema inferred under
  other confs.

Schemas are cached, not DataFrames: two loads of one table must carry
distinct attribute ids, or a self-join of them is ambiguous.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref

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

# parquet schema-inference confs that change the inferred fields or types
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# session -> {(path, files signature, conf values): inferred schema}
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}")
    path = f"{sf_dir}/{name}.parquet"
    schema = _schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    return _events_ts_as_timestamp(df, schema) if name == "events" else df


def _files_signature(path: str) -> tuple:
    """mtime and size of ``path`` and, for a directory, of each entry;
    ``()`` when it does not exist (the inferring read then raises)."""
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return ()
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    with os.scandir(path) as entries:
        files = sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in entries)
    return (st.st_mtime_ns, st.st_size, *files)


def _schema(spark: SparkSession, path: str) -> T.StructType:
    key = (
        path,
        _files_signature(path),
        tuple(spark.conf.get(k) for k in SCHEMA_CONFS),
    )
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.setdefault(spark, {}).get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _SCHEMAS_LOCK:
            _SCHEMAS[spark][key] = schema
    return schema


def _events_ts_as_timestamp(df: DataFrame, schema: T.StructType) -> DataFrame:
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

    The encoding is read off the cached ``schema``, so it is detected
    once per session.  Both conf values come from ``session``
    (``get_spark``/``prepare``); loading sets neither.
    """
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # integer DIV: float division would lose precision at int64 scale
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
