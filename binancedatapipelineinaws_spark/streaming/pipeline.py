"""Structured Streaming parity for the reference ingest pipeline
(SURVEY.md §2.8, §3).

The reference runs two cooperating processes:

- EP1 (main.py): WebSocket ticks -> per-record transform -> one TSV file
  per event-time minute, uploaded on rotation (main.py:26-47);
- EP2 (lambda_function.py): S3 PUT event -> bulk LOAD into the table ->
  archive the file (lambda_function.py:11-53).

Here both collapse into ONE streaming query: file source (the recorded
tick stream; Kafka in production) -> canonicalize projection ->
event-time windowing with a watermark -> partitioned sink + table
append, exactly-once via checkpoint + the file-sink commit log.  The
`_spark_metadata` commit log provides the atomic visibility the S3 PUT
gave; `cleanSource=archive` replaces the Lambda's copy-then-delete.

The two merge sinks (`upsert_table_sink`, `merge_state_sink`) rewrite
their table every micro-batch and share one commit,
`_versioned_table_sink`: the batch's version is staged beside the live
one and made visible by ONE directory rename to `v-<batch_id>`, which
is also the record that the batch was applied.  `read_sink_table`
reads the live version.

Documented divergences (strict improvements, SURVEY §2.8):
- late data: the reference re-opens and silently overwrites a closed
  minute file (rotation is `!=`, main.py:38); the engine drops events
  older than the watermark instead of corrupting closed windows.
- crash durability: the reference loses the in-flight minute
  (no fsync, main.py:29); checkpoint recovery here is exactly-once.
- the Lambda is not idempotent (retry double-loads); the commit log is.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from binancedatapipelineinaws_spark.canonical import canonicalize_btcusdt

# Wire-format schema of a recorded tick file (FIXTURES.md A1 /
# main.py:36,56-66 fields).
TICKS_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("trade_id", T.LongType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("price_str", T.StringType()),
        T.StructField("qty_str", T.StringType()),
        T.StructField("trade_time_ms", T.LongType()),
        T.StructField("is_buyer_maker", T.BooleanType()),
    ]
)


def read_tick_stream(
    spark: SparkSession,
    source_dir: str,
    archive_dir: str | None = None,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source tick stream: directory listing replaces the S3 event
    notification (prefix/suffix filter -> pathGlobFilter), micro-batch
    trigger replaces the Lambda invocation.  With `archive_dir`,
    processed files move aside like data_1_min/ -> data_finished/
    (lambda_function.py:38-48)."""
    reader = (
        spark.readStream.schema(TICKS_WIRE_SCHEMA)
        .option("sep", "\t")
        .option("pathGlobFilter", "*.tsv")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    return reader.csv(source_dir)


def canonical_stream(ticks: DataFrame) -> DataFrame:
    """The same canonicalization projection as batch (canonical.py) —
    one logical plan, two execution modes."""
    return canonicalize_btcusdt(ticks)


def parse_tick_lines(lines: DataFrame) -> DataFrame:
    """TSV wire lines (a `value` string column) -> typed tick columns.
    The socket path has no schema-applied CSV reader, so the parse is an
    explicit projection with the same casts the file source applies."""
    parts = F.split(F.col("value"), "\t")
    return lines.select(
        parts.getItem(0).cast("long").alias("trade_id"),
        parts.getItem(1).alias("symbol"),
        parts.getItem(2).alias("price_str"),
        parts.getItem(3).alias("qty_str"),
        parts.getItem(4).cast("long").alias("trade_time_ms"),
        parts.getItem(5).cast("boolean").alias("is_buyer_maker"),
    )


def read_tick_stream_socket(
    spark: SparkSession, host: str = "127.0.0.1", port: int = 9999
) -> DataFrame:
    """EP1 live-source parity: the reference consumes a WebSocket feed
    (main.py:30-35, BinanceSocketManager trade socket); the Spark-native
    live-TCP equivalent is the socket source -> line parse -> the same
    canonicalization plan the file replay uses.  (In production the
    socket source's at-most-once delivery makes Kafka the real ingest
    edge; the transform pipeline is identical either way.)"""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return parse_tick_lines(lines)


# The record schema the kafka source emits (Spark's documented
# contract); the decode projection below is written against it and the
# contract test pins both, so connector drift fails fast even though
# the jar isn't in this container.
KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int,"
    " offset long, timestamp timestamp, timestampType int"
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str = "ticks",
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """The exact option map `read_tick_stream_kafka` passes to the
    kafka source — factored out so the contract test can pin it
    without a broker or connector jar on the classpath."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def decode_kafka_ticks(raw: DataFrame) -> DataFrame:
    """Kafka-shaped records (`KAFKA_SOURCE_SCHEMA`) -> typed ticks:
    UTF-8 decode of the value bytes, then the same TSV wire parse as
    the socket and file sources.  Works identically on a static
    DataFrame (the contract test's canned rows) and the stream."""
    return parse_tick_lines(
        raw.select(F.col("value").cast("string").alias("value"))
    )


def read_tick_stream_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "ticks",
    starting_offsets: str = "latest",
) -> DataFrame:
    """Production ingest-edge parity: the reference's WebSocket loop
    (main.py:30-35) is at-most-once with no replay; the durable
    equivalent is Kafka -> the same wire parse and canonicalization as
    every other source.  Offsets live in the checkpoint, so the sink's
    exactly-once guarantee extends to the broker.  The kafka connector
    jar isn't baked into this container, so the reader is built lazily
    and tests gate on its availability (`kafka_source_available`);
    the option map and value-decode projection are contract-tested
    against canned kafka-shaped rows (tests/test_streaming.py)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topic, starting_offsets
    ).items():
        reader = reader.option(k, v)
    return decode_kafka_ticks(reader.load())


def kafka_source_available(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def read_tick_stream_rate(
    spark: SparkSession, rows_per_second: int = 1000
) -> DataFrame:
    """Synthetic live source for load-testing the same pipeline: the
    rate source's monotonic `value` becomes the trade id and a
    deterministic price/qty synthesis fills the wire columns, so every
    downstream stage (canonicalize, OHLCV, sinks) runs unmodified at a
    controlled input rate."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return rate.select(
        F.col("value").alias("trade_id"),
        F.lit("BTCUSDT").alias("symbol"),
        F.format_string(
            "%.2f", F.lit(30000.0) + F.pmod(F.col("value") * 7919, 1000000) / 100.0
        ).alias("price_str"),
        # wire format is an 8-dp decimal string (FIXTURES.md A1); the
        # canonical layer string-truncates it to 5 dp like the reference
        F.format_string(
            "%.8f", (F.pmod(F.col("value") * 104729, 99999) + 1) / 100000.0
        ).alias("qty_str"),
        (F.unix_millis(F.col("timestamp"))).alias("trade_time_ms"),
        (F.pmod(F.col("value"), 2) == 0).alias("is_buyer_maker"),
    )


def minute_file_sink(
    canonical: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """EP1 parity: per-minute TSV output.  The reference names files by
    the minute's epoch second (main.py:40-41); here the minute bucket is
    a partition column, so readers prune by it and the commit log makes
    each minute's files appear atomically."""
    from binancedatapipelineinaws_spark.sources.tsv import sink_projection

    partitioned = sink_projection(canonical).withColumn(
        "minute_epoch_s",
        (F.unix_timestamp(F.to_timestamp("time")) / 60).cast("long") * 60,
    )
    return (
        partitioned.writeStream.format("csv")
        .option("sep", "\t")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", out_dir)
        .partitionBy("minute_epoch_s")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def table_append_sink(
    canonical: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """EP2 parity: continuous bulk append into the engine's table
    (parquet), replacing LOAD DATA FROM S3 — exactly-once through the
    checkpoint + commit log instead of the non-idempotent Lambda."""
    return (
        canonical.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", table_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _live_version(table_dir: str) -> int:
    """Batch id of the live version of a versioned table: the highest
    `v-<batch_id>` under `table_dir`, or -1 before the first commit."""
    versions = glob.glob(os.path.join(table_dir, "v-*"))
    return max((int(v.rsplit("-", 1)[1]) for v in versions), default=-1)


def _read_live(
    spark: SparkSession, table_dir: str, schema: T.StructType | None = None
) -> DataFrame:
    """The live version of a versioned table.  With `schema` the read
    is pinned and runs no schema-inference job."""
    live = _live_version(table_dir)
    if live < 0:
        raise FileNotFoundError(f"no committed version under {table_dir}")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(table_dir, f"v-{live}"))


def read_sink_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The live version of a table written by `upsert_table_sink` or
    `merge_state_sink`."""
    return _read_live(spark, table_dir)


def _versioned_table_sink(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> StreamingQuery:
    """A table that each micro-batch rewrites as `merge(batch_df,
    current)`, where `current` is the live version (None before the
    first commit).

    Layout: `table_dir/v-<batch_id>/` holds one full version of the
    table and the highest `v-*` is live (`read_sink_table`).  A batch
    stages its version in `table_dir/_staging-<batch_id>` and commits
    it with ONE `os.rename` to `v-<batch_id>`: the version's name is
    its commit record, as in the Delta Lake log (Armbrust et al., VLDB
    2020), so the table is never absent and never half-written.  Then
    the old version is dropped.

    foreachBatch delivers at least once; the commit makes it exactly
    once.  A crash before the rename leaves the old version live and
    the batch re-merges on restart; a crash after it leaves the new
    version live and the re-delivered batch (`batch_id <= live`) is a
    no-op.  Every batch first removes what a crash can leave behind:
    `_staging-*` and versions below the live one.

    One table, one checkpoint: version names are the checkpoint's
    batch ids.  A fresh checkpoint numbers its batches from 0 again,
    so each of its batches at or below the live version is skipped.
    """

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(table_dir, exist_ok=True)
        live = _live_version(table_dir)
        for name in os.listdir(table_dir):
            if name.startswith("_staging-") or (
                name.startswith("v-") and int(name[2:]) < live
            ):
                shutil.rmtree(os.path.join(table_dir, name))
        if batch_id <= live:
            return  # re-delivered batch: committed before the crash
        # the live version has the merge's schema: read it pinned, with
        # no inference job (`.schema` only analyses the plan)
        current = (
            _read_live(
                batch_df.sparkSession, table_dir, merge(batch_df, None).schema
            )
            if live >= 0
            else None
        )
        staging = os.path.join(table_dir, f"_staging-{batch_id}")
        merge(batch_df, current).write.parquet(staging)
        os.rename(staging, os.path.join(table_dir, f"v-{batch_id}"))
        if live >= 0:
            shutil.rmtree(os.path.join(table_dir, f"v-{live}"))

    return (
        stream.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def upsert_table_sink(
    canonical: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming CDC compaction: each micro-batch merges into the table
    with latest-wins semantics on the trade id `bid` (a replayed or
    corrected trade replaces the stored record instead of duplicating
    it — the compacted complement of `table_append_sink`'s pure
    append).

    The per-batch plan is the batch operator
    `operators/cdc.q_ext_upsert_latest`: union the version-stamped
    sides, and one key-partitioned row_number keeps each key's newest
    record (the batch's latest `time`, then highest `price`, wins
    inside the batch).  On a cluster the target is an ACID table format
    (Delta/Iceberg MERGE INTO); here each merged table is committed as
    a new version by `_versioned_table_sink`.
    """
    from pyspark.sql import Window

    def merge(batch_df: DataFrame, current: DataFrame | None) -> DataFrame:
        rows = batch_df.withColumn("version", F.lit(1))
        if current is not None:
            rows = current.withColumn("version", F.lit(0)).unionByName(rows)
        newest = Window.partitionBy("bid").orderBy(
            F.desc("version"), F.desc("time"), F.desc("price")
        )
        return (
            rows.withColumn("rn", F.row_number().over(newest))
            .filter(F.col("rn") == 1)
            .drop("rn", "version")
        )

    return _versioned_table_sink(canonical, table_dir, checkpoint_dir, merge)


def ohlcv_stream(
    canonical: DataFrame,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming 1-minute OHLCV candles with watermark-driven window
    close: append-mode emission when the watermark passes window end —
    the engine's version of upload-on-rotation (main.py:38-43), without
    the late-data corruption."""
    return (
        canonical.withWatermark("time", watermark)
        .groupBy(F.window("time", "1 minute").alias("w"))
        .agg(
            F.min_by("price", F.struct("time", "bid")).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", F.struct("time", "bid")).alias("close"),
            F.sum(F.col("quantity").cast("decimal(18,5)"))
            .cast("double")
            .alias("volume"),
            F.count("*").alias("trades"),
        )
        .select(
            F.col("w.start").alias("minute_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "trades",
        )
    )


def ohlcv_rollup_stream(
    canonical: DataFrame,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Chained streaming aggregation: 1-minute candles re-aggregated
    into 5-minute candles inside ONE streaming query — the streaming
    form of the batch hypertable chain (q_agg_ohlcv_rollup_5min),
    using the window-of-window overload (multiple stateful operators,
    Spark >= 3.4).  The first stage's window struct is kept as the
    event-time column so the second stage's watermark bookkeeping
    composes; a 5-minute bucket emits when the watermark passes its
    end, i.e. after its last minute closed.

    Scale: state for stage 1 is (symbol-minute) candles within the
    watermark; stage 2 holds one partial candle per open 5-minute
    bucket — both bounded by the calendar, not the tick rate."""
    one = (
        canonical.withWatermark("time", watermark)
        .groupBy(F.window("time", "1 minute").alias("w"))
        .agg(
            F.min_by("price", F.struct("time", "bid")).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", F.struct("time", "bid")).alias("close"),
            F.sum(F.col("quantity").cast("decimal(18,5)")).alias("volume"),
            F.count("*").alias("trades"),
        )
    )
    return (
        one.groupBy(F.window(F.col("w"), "5 minutes").alias("w5"))
        .agg(
            F.min_by("open", F.col("w.start")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("w.start")).alias("close"),
            F.sum("volume").cast("double").alias("volume"),
            F.sum("trades").alias("trades"),
        )
        .select(
            F.col("w5.start").alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "trades",
        )
    )


def interval_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "2 hours",
    horizon: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to every
    click by the same user in the preceding `horizon` — the streaming
    attribution join (SURVEY §2.4's as-of idiom, event-to-event form).

    Both sides carry watermarks and the join condition bounds purchase
    time against click time, so Spark can expire click state once the
    purchase-side watermark passes click_ts + horizon: state per user
    is `horizon` worth of clicks, independent of stream length.  The
    shuffle key is user_id (uniform); late events beyond `watermark`
    drop instead of corrupting emitted matches.

    ``how="leftOuter"`` is the ABANDONMENT stream: a click with no
    purchase inside the horizon emits exactly once with NULL purchase
    columns — but only after the watermark passes click_ts + horizon
    proves no match can still arrive, which is why outer stream-stream
    joins REQUIRE both the watermark and the time-bound condition
    (Spark rejects the query otherwise).  Same state bound as inner;
    null rows trail the watermark by the horizon."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    ).withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts > click_ts AND
            purchase_ts <= click_ts + INTERVAL {horizon}
            """
        ),
        how,
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "amount",
    )


def enrich_stream(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static enrichment: join each streaming record against a
    static dimension on `key` — the most common production streaming
    pattern (attach user profile / instrument metadata at ingest).
    The static side is re-read per micro-batch by Spark (so a dim
    refresh is picked up) and broadcasts when small; no state, no
    watermark needed for an inner stream-static join."""
    return stream.join(F.broadcast(dim), key, "left")


def dedup_stream(canonical: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Engine superset (SURVEY §2.8): stateful dedup on trade id within
    the watermark — duplicate trades pass straight through the
    reference."""
    return canonical.withWatermark("time", watermark).dropDuplicatesWithinWatermark(
        ["bid"]
    )


def session_window_stream(
    canonical: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Engine superset: session windows (trade bursts separated by a
    quiet gap), per symbol — streaming session windows require a
    grouping key, and per-key state is what scales anyway."""
    return (
        canonical.withWatermark("time", watermark)
        .groupBy("parameter", F.session_window("time", gap).alias("w"))
        .agg(F.count("*").alias("trades"))
        .select(
            "parameter",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "trades",
        )
    )


def sliding_window_stream(
    canonical: DataFrame,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Engine superset: 10-minute window sliding by 1 minute."""
    return (
        canonical.withWatermark("time", watermark)
        .groupBy(F.window("time", "10 minutes", "1 minute").alias("w"))
        .agg(
            F.sum(F.col("quantity").cast("decimal(18,5)"))
            .cast("double")
            .alias("volume")
        )
        .select(F.col("w.start").alias("w_start"), "volume")
    )


def merge_state_sink(
    events: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming MERGE INTO with ACCUMULATE semantics — the stream twin
    of the batch operator `operators/cdc.q_ext_merge_into`.  Each
    micro-batch of raw events aggregates to per-user deltas (purchase
    count/cents) plus an error-dominance tombstone (errors > 2x
    purchases in the batch), then merges into the state table:
    matched+tombstone -> DELETE, matched -> UPDATE (n += d_n,
    cents += d_cents), not-matched (non-tombstone, has purchases) ->
    INSERT.  A tombstoned user can re-insert in a later batch.

    Accumulation would double-count a re-delivered batch; the version
    commit of `_versioned_table_sink` skips it (as Delta's txn
    appId/version does natively), so the state is exactly-once.

    Scale: the per-batch plan is the batch MERGE's — one user-keyed
    partial aggregate of the (small) batch, one co-keyed full outer
    join against the state table.  State stays user-cardinality sized.
    """

    def merge(batch_df: DataFrame, current: DataFrame | None) -> DataFrame:
        cents = F.round(F.col("value") * 100, 0).cast("long")
        is_p = F.col("event_type") == "purchase"
        delta = (
            batch_df.filter(F.col("event_type").isin("purchase", "error"))
            .groupBy("user_id")
            .agg(
                F.count_if(is_p).alias("d_n"),
                F.coalesce(
                    F.sum(F.when(is_p, cents)), F.lit(0).cast("long")
                ).alias("d_cents"),
                (
                    F.count_if(F.col("event_type") == "error")
                    > 2 * F.count_if(is_p)
                ).alias("tombstone"),
            )
        )
        if current is None:
            current = batch_df.sparkSession.createDataFrame(
                [], "user_id bigint, n_purchases bigint, total_cents bigint"
            )
        t, s = current.alias("t"), delta.alias("s")
        return (
            t.join(s, F.col("t.user_id") == F.col("s.user_id"), "full_outer")
            .filter(
                ~F.coalesce(F.col("s.tombstone"), F.lit(False))
                & ~(F.col("t.user_id").isNull() & (F.col("s.d_n") == 0))
            )
            .select(
                F.coalesce(F.col("t.user_id"), F.col("s.user_id")).alias(
                    "user_id"
                ),
                (
                    F.coalesce(F.col("t.n_purchases"), F.lit(0).cast("long"))
                    + F.coalesce(F.col("s.d_n"), F.lit(0).cast("long"))
                ).alias("n_purchases"),
                (
                    F.coalesce(F.col("t.total_cents"), F.lit(0).cast("long"))
                    + F.coalesce(F.col("s.d_cents"), F.lit(0).cast("long"))
                ).alias("total_cents"),
            )
        )

    return _versioned_table_sink(events, table_dir, checkpoint_dir, merge)
