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

Documented divergences (strict improvements, SURVEY §2.8):
- late data: the reference re-opens and silently overwrites a closed
  minute file (rotation is `!=`, main.py:38); the engine drops events
  older than the watermark instead of corrupting closed windows.
- crash durability: the reference loses the in-flight minute
  (no fsync, main.py:29); checkpoint recovery here is exactly-once.
- the Lambda is not idempotent (retry double-loads); the commit log is.
"""

from __future__ import annotations

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


def upsert_table_sink(
    canonical: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str = "bid",
) -> StreamingQuery:
    """Streaming CDC compaction: each micro-batch MERGES into the table
    with latest-wins semantics on `key_col` (a replayed/corrected trade
    id replaces the stored record instead of duplicating it — the
    compacted complement of `table_append_sink`'s pure append).

    foreachBatch + merge is Structured Streaming's canonical upsert
    pattern; on a cluster the merge target is an ACID table format
    (Delta/Iceberg MERGE INTO) and the per-batch plan is identical to
    the batch operator `operators/cdc.q_ext_upsert_latest`: union the
    version-stamped sides, one key-partitioned row_number keeps each
    key's newest record.  This plain-parquet stand-in rewrites to a
    fresh directory and renames it in (`_publish`), so readers never see
    a half-written table; `_recover` at the top of every batch restores
    the last published table after a crash between the two publish
    renames.  The whole merge is idempotent under batch replay
    (re-merging the same records is a no-op), which restores
    exactly-once on top of foreachBatch's at-least-once contract.
    """
    import os

    from pyspark.sql import Window

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover(table_dir)
        in_batch = Window.partitionBy(key_col).orderBy(
            F.desc("time"), F.desc("price")
        )
        incoming = (
            batch_df.withColumn("rn", F.row_number().over(in_batch))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .withColumn("version", F.lit(1))
        )
        if os.path.isdir(table_dir):
            existing = spark.read.parquet(table_dir).withColumn(
                "version", F.lit(0)
            )
            w = Window.partitionBy(key_col).orderBy(F.desc("version"))
            merged = (
                existing.unionByName(incoming)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn", "version")
            )
        else:
            merged = incoming.drop("version")
        tmp_dir = f"{table_dir}.tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp_dir)
        _publish(tmp_dir, table_dir, batch_id)

    return (
        canonical.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


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


def _merge_applied_max(table_dir: str) -> int:
    """Highest batch id merged into the published table (-1 if none)."""
    import os

    try:
        with open(os.path.join(table_dir, "_applied_max")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return -1


def _publish(tmp_dir: str, table_dir: str, batch_id: int) -> None:
    """Publish a staged table version: rename(table -> .old-N), then
    rename(.tmp-N -> table), then drop the snapshot.  POSIX rename(2)
    can't swap two directories in one call, so a crash between the two
    renames leaves the table absent with `.old-N` intact; `_recover`
    at the top of the next batch restores it."""
    import os
    import shutil

    old_dir = f"{table_dir}.old-{batch_id}"
    if os.path.isdir(table_dir):
        os.rename(table_dir, old_dir)
    os.rename(tmp_dir, table_dir)
    shutil.rmtree(old_dir, ignore_errors=True)


def _recover(table_dir: str) -> None:
    """Finish or roll back a `_publish` interrupted by a crash: if the
    table is absent, restore the newest `.old-N` snapshot, then drop
    any leftover `.old-*` / `.tmp-*` staging directories."""
    import glob
    import os
    import shutil

    olds = glob.glob(f"{table_dir}.old-*")
    if not os.path.isdir(table_dir) and olds:
        # the restored snapshot predates the batch that was being
        # published, so that batch simply re-merges
        newest = max(olds, key=lambda p: int(p.rsplit("-", 1)[1]))
        os.rename(newest, table_dir)
        olds.remove(newest)
    for p in olds + glob.glob(f"{table_dir}.tmp-*"):
        shutil.rmtree(p, ignore_errors=True)


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

    Unlike latest-wins (`upsert_table_sink`, idempotent by
    construction), ACCUMULATION double-counts if foreachBatch
    re-delivers a batch (its contract is at-least-once).  Exactly-once
    is restored the way ACID formats do it natively (Delta txn
    appId/version): the staged table version carries a `_applied_max`
    file holding the highest batch id merged into it (checkpoint batch
    ids are monotonic, so one integer replaces a per-batch marker set),
    and the version is published by renaming the staged directory into
    place.  Re-delivery of batch_id <= _applied_max is a no-op.  The
    marker rides the checkpoint's batch numbering; deleting the
    checkpoint resets numbering and is out of scope, as with Delta's
    txn tracking.

    Crash safety: `_recover` runs at the top of every batch (and
    therefore on restart) before the marker check, so after a crash
    between `_publish`'s two renames the restarted query sees the last
    published state + marker and simply re-merges the in-flight batch.
    Without that restore, a crash in the publish window would silently
    zero the state table AND its markers (r9 advice, medium).

    Scale: the per-batch plan is the batch MERGE's — one user-keyed
    partial aggregate of the (small) batch, one co-keyed full outer
    join against the state table.  State stays user-cardinality sized.
    """
    import os
    import shutil

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover(table_dir)
        if os.path.isdir(table_dir) and batch_id <= _merge_applied_max(
            table_dir
        ):
            return  # re-delivered batch: already merged, no-op
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
        if os.path.isdir(table_dir):
            state = spark.read.parquet(
                os.path.join(table_dir, "data")
            ).alias("t")
        else:
            state = (
                spark.createDataFrame(
                    [],
                    "user_id bigint, n_purchases bigint, total_cents bigint",
                ).alias("t")
            )
        s = delta.alias("s")
        merged = (
            state.join(s, F.col("t.user_id") == F.col("s.user_id"), "full_outer")
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
        # stage the new table version + its max-applied marker, then
        # publish; _recover makes the two-rename window safe
        tmp_dir = f"{table_dir}.tmp-{batch_id}"
        shutil.rmtree(tmp_dir, ignore_errors=True)
        merged.write.mode("overwrite").parquet(os.path.join(tmp_dir, "data"))
        with open(os.path.join(tmp_dir, "_applied_max"), "w") as f:
            f.write(str(batch_id))
        _publish(tmp_dir, table_dir, batch_id)

    return (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
