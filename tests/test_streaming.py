"""Replay tests for the streaming pipeline (SURVEY.md §5.2): recorded
tick files fed through the streaming job with availableNow; outputs must
equal the batch computation, and the documented late-data divergence is
asserted."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.canonical import btcusdt, ticks
from binancedatapipelineinaws_spark.sources.tsv import sink_projection
from binancedatapipelineinaws_spark.streaming.pipeline import (
    canonical_stream,
    minute_file_sink,
    ohlcv_stream,
    read_sink_table,
    read_tick_stream,
    table_append_sink,
    upsert_table_sink,
)

SF = "/root/testdata/sf0.001"

_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture
def arrow_chunks_of_7(spark):
    """Hand pandas kernels their input in 7-row Arrow chunks, so a key
    with more than 7 rows in a micro-batch arrives as several chunks;
    the session's setting is restored afterwards."""
    before = spark.conf.getAll.get(_ARROW_BATCH)
    spark.conf.set(_ARROW_BATCH, "7")
    yield
    if before is None:
        spark.conf.unset(_ARROW_BATCH)
    else:
        spark.conf.set(_ARROW_BATCH, before)


@pytest.fixture(scope="module")
def tick_files(spark, tmp_path_factory):
    """Record the derived tick stream as TSV input files (3 chunks, as
    if three uploads arrived)."""
    src = str(tmp_path_factory.mktemp("tick_src"))
    t = ticks(spark, SF).orderBy("trade_time_ms")
    t.withColumn("chunk", F.col("trade_id") % 3).repartition(3, "chunk").drop(
        "chunk"
    ).write.option("sep", "\t").mode("overwrite").csv(src)
    # rename part files to *.tsv to exercise pathGlobFilter
    for i, p in enumerate(sorted(glob.glob(f"{src}/part-*"))):
        os.rename(p, f"{src}/chunk{i}.tsv")
    # a decoy file that must be ignored
    with open(f"{src}/ignore.json", "w") as fh:
        fh.write("{}")
    return src


def test_table_append_replay(spark, tick_files, tmp_path):
    table_dir = str(tmp_path / "table")
    q = table_append_sink(
        canonical_stream(read_tick_stream(spark, tick_files)),
        table_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = spark.read.parquet(table_dir)
    want = btcusdt(spark, SF)
    assert got.count() == want.count()
    assert got.columns == want.columns
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_upsert_sink_latest_wins_on_correction_replay(spark, tmp_path):
    """First run loads the table; a correction file replaying 5 trade
    ids with new prices arrives later; the second run on the SAME
    checkpoint must replace those records (same row count, new prices),
    not append duplicates."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = ticks(spark, SF).orderBy("trade_time_ms").limit(200)
    base.coalesce(1).write.option("sep", "\t").mode("overwrite").csv(
        src + "/batch0"
    )
    for i, p in enumerate(sorted(glob.glob(f"{src}/batch0/part-*"))):
        os.rename(p, f"{src}/base{i}.tsv")

    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = upsert_table_sink(
            canonical_stream(read_tick_stream(spark, src)), table_dir, ckpt
        )
        q.awaitTermination(120)

    run()
    got1 = read_sink_table(spark, table_dir)
    assert got1.count() == 200

    corrected = (
        base.orderBy("trade_id")
        .limit(5)
        .withColumn("price_str", F.format_string("%.8f", F.lit(99999.25)))
        # later wall-time so the in-batch dedup (latest time wins) is
        # exercised even if a base row replays alongside
        .withColumn("trade_time_ms", F.col("trade_time_ms") + 60000)
    )
    corrected.coalesce(1).write.option("sep", "\t").mode("overwrite").csv(
        src + "/batch1"
    )
    for i, p in enumerate(sorted(glob.glob(f"{src}/batch1/part-*"))):
        os.rename(p, f"{src}/corr{i}.tsv")

    run()
    got2 = read_sink_table(spark, table_dir)
    assert got2.count() == 200  # replaced, not appended
    fixed = got2.filter(F.col("price") == 99999.25)
    assert fixed.count() == 5
    corrected_ids = {r.trade_id for r in corrected.select("trade_id").collect()}
    assert {r.bid for r in fixed.select("bid").collect()} == corrected_ids
    # untouched records keep their original values
    untouched = got2.filter(~F.col("bid").isin(*corrected_ids))
    want = btcusdt(spark, SF).filter(~F.col("bid").isin(*corrected_ids))
    assert untouched.exceptAll(
        want.join(untouched.select("bid"), "bid").select(*untouched.columns)
    ).count() == 0


def test_minute_file_sink_partitions(spark, tick_files, tmp_path):
    out = str(tmp_path / "tsv_out")
    q = minute_file_sink(
        canonical_stream(read_tick_stream(spark, tick_files)),
        out,
        str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(120)
    # one directory per event-time minute, named by epoch second of the
    # minute boundary (reference file naming, main.py:40-41)
    parts = sorted(glob.glob(f"{out}/minute_epoch_s=*"))
    assert parts, "no minute partitions written"
    buckets = {int(p.rsplit("=", 1)[1]) for p in parts}
    want = {
        r[0]
        for r in btcusdt(spark, SF)
        .select(((F.unix_timestamp("time") / 60).cast("long") * 60))
        .distinct()
        .collect()
    }
    assert buckets == want
    # content parity: read back all partitions as TSV text columns
    got = (
        spark.read.option("sep", "\t")
        .schema(
            "bid string, parameter string, price string, quantity string, "
            "time string, maker string"
        )
        .csv(f"{out}/minute_epoch_s=*/")
    )
    want_rows = sink_projection(btcusdt(spark, SF))
    assert got.count() == want_rows.count()
    assert got.exceptAll(want_rows).count() == 0


def test_archive_moves_processed_files(spark, tick_files, tmp_path):
    # private copy: cleanSource=archive MOVES inputs, and tick_files is
    # shared by the other tests
    import shutil

    src = str(tmp_path / "src_copy")
    shutil.copytree(tick_files, src)
    tick_files = src
    archive = str(tmp_path / "archive")
    q = table_append_sink(
        canonical_stream(
            # one file per micro-batch: archival of a file happens at the
            # start of a LATER batch, so a single batch would archive none
            read_tick_stream(
                spark, tick_files, archive_dir=archive, max_files_per_trigger=1
            )
        ),
        str(tmp_path / "table_a"),
        str(tmp_path / "ckpt3"),
    )
    q.awaitTermination(120)
    # cleanSource=archive moves inputs aside (data_finished/ parity);
    # archival is asynchronous/best-effort per batch, so require at
    # least one file moved
    archived = glob.glob(f"{archive}/**/*.tsv", recursive=True)
    assert archived, "no input files were archived"


def test_streaming_ohlcv_matches_batch(spark, tick_files, tmp_path):
    out = str(tmp_path / "ohlcv")
    stream = ohlcv_stream(
        canonical_stream(read_tick_stream(spark, tick_files)),
        watermark="0 seconds",
    )
    q = (
        stream.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # the final no-data batch that advances the watermark races query
    # termination under availableNow; a second pass over the same
    # checkpoint deterministically flushes the remaining closed windows
    q2 = (
        ohlcv_stream(
            canonical_stream(read_tick_stream(spark, tick_files)),
            watermark="0 seconds",
        )
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got = spark.read.parquet(out)
    batch = (
        btcusdt(spark, SF)
        .groupBy(F.window("time", "1 minute").start.alias("minute_start"))
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
    )
    # append mode emits only windows closed by the final watermark; all
    # emitted windows must match the batch result exactly
    merged = got.alias("g").join(batch.alias("b"), "minute_start")
    assert merged.count() == got.count(), "stream emitted unknown window"
    mismatches = merged.filter(
        (F.col("g.open") != F.col("b.open"))
        | (F.col("g.high") != F.col("b.high"))
        | (F.col("g.low") != F.col("b.low"))
        | (F.col("g.close") != F.col("b.close"))
        | (F.col("g.volume") != F.col("b.volume"))
        | (F.col("g.trades") != F.col("b.trades"))
    )
    assert mismatches.count() == 0
    # nearly all windows close under availableNow (the final batch
    # advances the watermark to max event time)
    assert got.count() >= batch.count() - 1


def test_late_data_dropped_not_corrupting(spark, tmp_path):
    """Documented divergence (SURVEY §2.8): a trade older than the
    watermark is dropped; the reference would silently rewrite the
    closed minute file (main.py:36-47)."""
    src = str(tmp_path / "late_src")
    os.makedirs(src)
    base_ms = 1_700_000_000_000  # minute boundary multiple
    rows1 = [
        f"1\tBTCUSDT\t100.00000000\t0.10000000\t{base_ms}\ttrue",
        f"2\tBTCUSDT\t101.00000000\t0.20000000\t{base_ms + 60_000}\tfalse",
        f"3\tBTCUSDT\t102.00000000\t0.30000000\t{base_ms + 600_000}\ttrue",
    ]
    with open(f"{src}/a.tsv", "w") as fh:
        fh.write("\n".join(rows1) + "\n")
    out = str(tmp_path / "late_out")
    stream = ohlcv_stream(
        canonical_stream(read_tick_stream(spark, src)), watermark="1 minute"
    )
    q = (
        stream.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = {r.minute_start for r in spark.read.parquet(out).collect()}

    # second batch: one very late trade into the long-closed first minute
    with open(f"{src}/b.tsv", "w") as fh:
        fh.write(f"9\tBTCUSDT\t999.00000000\t9.00000000\t{base_ms + 1_000}\ttrue\n")
    q2 = (
        ohlcv_stream(
            canonical_stream(read_tick_stream(spark, src)), watermark="1 minute"
        )
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    after = spark.read.parquet(out)
    # the closed first-minute window was NOT rewritten: its candle still
    # shows the original trade only
    first_minute = after.filter(
        F.col("minute_start") == F.lit("2023-11-14 22:13:00").cast("timestamp")
    ).collect()
    for row in first_minute:
        assert row.trades == 1
        assert row.high == 100.0
    assert {r.minute_start for r in after.collect()} >= first


def _run_append_twice(stream_factory, out, ckpt):
    """availableNow races the final watermark-advancing batch with query
    termination; a second pass over the same checkpoint flushes the
    remaining closed windows deterministically."""
    for _ in range(2):
        q = (
            stream_factory()
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)


def test_streaming_dedup_removes_replayed_file(spark, tick_files, tmp_path):
    """dropDuplicatesWithinWatermark (engine superset, SURVEY §2.8):
    the same upload delivered twice — the reference's non-idempotent
    Lambda double-loads it — must land exactly once."""
    import shutil

    from binancedatapipelineinaws_spark.streaming.pipeline import dedup_stream

    src = str(tmp_path / "dup_src")
    shutil.copytree(tick_files, src)
    first = sorted(glob.glob(f"{src}/*.tsv"))[0]
    shutil.copy(first, f"{src}/replayed_upload.tsv")  # duplicate delivery

    out = str(tmp_path / "dedup_out")
    _run_append_twice(
        lambda: dedup_stream(
            canonical_stream(read_tick_stream(spark, src)),
            watermark="24 hours",
        ),
        out,
        str(tmp_path / "dedup_ckpt"),
    )
    got = spark.read.parquet(out)
    want = btcusdt(spark, SF)
    assert got.count() == want.count()  # not count + |replayed file|
    assert got.select("bid").distinct().count() == got.count()
    assert got.exceptAll(want).count() == 0


def test_streaming_session_window_matches_batch(spark, tick_files, tmp_path):
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        session_window_stream,
    )

    out = str(tmp_path / "sess_out")
    _run_append_twice(
        lambda: session_window_stream(
            canonical_stream(read_tick_stream(spark, tick_files)),
            gap="5 minutes",
            watermark="0 seconds",
        ),
        out,
        str(tmp_path / "sess_ckpt"),
    )
    got = spark.read.parquet(out)
    batch = (
        btcusdt(spark, SF)
        .groupBy(
            "parameter", F.session_window("time", "5 minutes").alias("w")
        )
        .agg(F.count("*").alias("trades"))
        .select(
            "parameter",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "trades",
        )
    )
    merged = got.alias("g").join(
        batch.alias("b"), ["parameter", "session_start", "session_end"]
    )
    assert merged.count() == got.count(), "stream emitted unknown session"
    assert (
        merged.filter(F.col("g.trades") != F.col("b.trades")).count() == 0
    )
    assert got.count() >= batch.count() - 1


def test_streaming_sliding_window_matches_batch(spark, tick_files, tmp_path):
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        sliding_window_stream,
    )

    out = str(tmp_path / "slide_out")
    _run_append_twice(
        lambda: sliding_window_stream(
            canonical_stream(read_tick_stream(spark, tick_files)),
            watermark="0 seconds",
        ),
        out,
        str(tmp_path / "slide_ckpt"),
    )
    got = spark.read.parquet(out)
    batch = (
        btcusdt(spark, SF)
        .groupBy(F.window("time", "10 minutes", "1 minute").alias("w"))
        .agg(
            F.sum(F.col("quantity").cast("decimal(18,5)"))
            .cast("double")
            .alias("volume")
        )
        .select(F.col("w.start").alias("w_start"), "volume")
    )
    merged = got.alias("g").join(batch.alias("b"), "w_start")
    assert merged.count() == got.count(), "stream emitted unknown window"
    assert (
        merged.filter(F.col("g.volume") != F.col("b.volume")).count() == 0
    )
    # a 10-min/1-min sliding window closes only when the watermark passes
    # window END; the last ~10 windows stay open
    assert got.count() >= batch.count() - 11


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_stateful_rotation_detector(spark, tick_files, tmp_path):
    """applyInPandasWithState rotation detector: emitted closed minutes
    must match the batch per-minute aggregation for every minute except
    the last (still open when the stream drains)."""
    from binancedatapipelineinaws_spark.streaming.stateful import rotation_stream

    out = str(tmp_path / "rotations")
    q = (
        rotation_stream(canonical_stream(read_tick_stream(spark, tick_files)))
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "rot_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    batch = (
        btcusdt(spark, SF)
        .groupBy(
            "parameter",
            ((F.unix_timestamp("time") / 60).cast("long") * 60).alias(
                "minute_epoch_s"
            ),
        )
        .agg(
            F.count("*").alias("trades"),
            F.sum("quantity").alias("volume"),
        )
    )
    last_minute = batch.agg(F.max("minute_epoch_s")).first()[0]
    batch_closed = batch.filter(F.col("minute_epoch_s") != last_minute)
    assert got.count() == batch_closed.count()
    j = got.alias("g").join(
        batch_closed.alias("b"), ["parameter", "minute_epoch_s"]
    )
    assert j.count() == got.count()
    bad = j.filter(
        (F.col("g.trades") != F.col("b.trades"))
        | (F.abs(F.col("g.volume") - F.col("b.volume")) > 1e-6)
    )
    assert bad.count() == 0


def test_streaming_rollup_chain_matches_batch(spark, tick_files, tmp_path):
    """Chained 1-min -> 5-min streaming aggregation: every emitted
    5-minute candle must equal the batch 5-minute OHLCV computed
    directly from the ticks (the two are mathematically identical
    because OHLCV is mergeable and the tie-breaks align)."""
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        ohlcv_rollup_stream,
    )

    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt_rollup")

    def run():
        q = (
            ohlcv_rollup_stream(
                canonical_stream(read_tick_stream(spark, tick_files)),
                watermark="0 seconds",
            )
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    run()  # second pass flushes windows closed by the final watermark
    got = spark.read.parquet(out)
    batch = (
        btcusdt(spark, SF)
        .groupBy(F.window("time", "5 minutes").start.alias("bucket_start"))
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
    )
    merged = got.alias("g").join(batch.alias("b"), "bucket_start")
    assert merged.count() == got.count(), "stream emitted unknown bucket"
    mismatches = merged.filter(
        (F.col("g.open") != F.col("b.open"))
        | (F.col("g.high") != F.col("b.high"))
        | (F.col("g.low") != F.col("b.low"))
        | (F.col("g.close") != F.col("b.close"))
        | (F.col("g.volume") != F.col("b.volume"))
        | (F.col("g.trades") != F.col("b.trades"))
    )
    assert mismatches.count() == 0
    # all but the last (watermark-open) bucket must have emitted
    assert got.count() >= batch.count() - 1


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Click->purchase attribution as a watermarked stream-stream
    interval join must equal the batch interval join over the same
    events."""
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        interval_join_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    ev.filter(F.col("event_type") == "click").write.parquet(clicks_dir)
    ev.filter(F.col("event_type") == "purchase").write.parquet(purch_dir)

    def stream(d):
        return (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .parquet(d)
        )

    out = str(tmp_path / "joined")
    ckpt = str(tmp_path / "ckpt_ssj")
    q = (
        interval_join_stream(stream(clicks_dir), stream(purch_dir))
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    want = c.join(
        p,
        F.expr(
            "c_user = p_user AND purchase_ts > click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 HOUR"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id", "click_ts", "purchase_id", "purchase_ts", "amount",
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Streaming events enriched with a static per-user profile must
    equal the batch left join."""
    from binancedatapipelineinaws_spark.streaming.pipeline import enrich_stream
    from binancedatapipelineinaws_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    src = str(tmp_path / "ev_src")
    ev.write.parquet(src)
    profile = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"), F.count("*").alias("lifetime_events")
    )

    out = str(tmp_path / "enriched")
    q = (
        enrich_stream(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
            profile,
            "user_id",
        )
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = ev.join(profile, "user_id", "left")
    assert got.count() == want.count()
    assert got.exceptAll(want.select(*got.columns)).count() == 0


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer replayed over the events table
    must label every event exactly like the batch gaps-and-islands
    query (q_ext_sessionize)."""
    import shutil

    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        sessionize_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    src = str(tmp_path / "events_src")
    # stage the events table (normalized ts) as the stream input
    load_table(spark, SF, "events").write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "sessions")
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    want = queries()["q_ext_sessionize"](spark, SF)
    assert got.count() == want.count()
    j = got.alias("g").join(want.alias("w"), "event_id")
    bad = j.filter(
        (F.col("g.session_idx") != F.col("w.session_idx"))
        | (F.col("g.user_event_seq") != F.col("w.user_event_seq"))
        | (F.col("g.user_id") != F.col("w.user_id"))
    )
    assert bad.count() == 0


def test_sessionizer_state_bounded_by_distinct_keys(spark, tmp_path):
    """The O(1)-state-per-key claim, machine-asserted: replay the events
    table in multiple micro-batches (maxFilesPerTrigger=1) and read the
    state store metrics from StreamingQueryProgress — total state rows
    must never exceed the number of distinct users, in any batch."""
    from binancedatapipelineinaws_spark.streaming.stateful import (
        sessionize_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    n_users = ev.select("user_id").distinct().count()
    src = str(tmp_path / "events_batches")
    ev.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "session_out")
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    stateful = [p for p in q.recentProgress if p.get("stateOperators")]
    # the replay must actually have run as a multi-batch incremental
    # computation, or the bound proves nothing
    assert len(stateful) >= 3, [p.get("batchId") for p in q.recentProgress]
    for p in stateful:
        rows_total = p["stateOperators"][0]["numRowsTotal"]
        assert rows_total <= n_users, (p["batchId"], rows_total, n_users)
    # final batch: every user seen exactly once in state
    assert stateful[-1]["stateOperators"][0]["numRowsTotal"] == n_users
    # and the output still matches the batch labels end-to-end
    got = spark.read.parquet(out)
    assert got.count() == ev.count()


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_gapband_matches_batch_histogram(spark, tmp_path):
    """The stateful gap-band counter replayed over the events table
    must reproduce the batch inter-arrival histogram
    (q_ext_interarrival) exactly — same integer band edges, same
    floored-epoch gaps, state is one long per (user, type) key."""
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        gapband_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    src = str(tmp_path / "events_src")
    load_table(spark, SF, "events").write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "gapbands")
    q = (
        gapband_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "gap_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.read.parquet(out)
        .groupBy("event_type", "band")
        .agg(F.count("*").alias("n_gaps"))
    )
    want = queries()["q_ext_interarrival"](spark, SF)
    assert got.count() == want.count()
    j = got.alias("g").join(want.alias("w"), ["event_type", "band"])
    assert j.count() == want.count()  # same (type, band) cells
    bad = j.filter(F.col("g.n_gaps") != F.col("w.n_gaps"))
    assert bad.count() == 0


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_attribution_matches_batch(spark, tmp_path):
    """The stateful last-touch attributor replayed over the events
    table must produce per-channel purchase counts identical to the
    batch q_ext_first_touch rollup."""
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        attribution_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    src = str(tmp_path / "events_src")
    load_table(spark, SF, "events").write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "attrib")
    q = (
        attribution_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "attrib_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.read.parquet(out)
        .groupBy("channel")
        .agg(F.count("*").alias("n_purchases"))
    )
    want = queries()["q_ext_first_touch"](spark, SF)
    j = got.alias("g").join(want.alias("w"), "channel", "full")
    bad = j.filter(
        F.col("g.n_purchases").isNull()
        | F.col("w.n_purchases").isNull()
        | (F.col("g.n_purchases") != F.col("w.n_purchases"))
    )
    assert bad.count() == 0
    assert got.count() == want.count()


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop-and-restart recovery: a second query run sharing the first
    run's checkpoint must pick up exactly the files that arrived while
    the pipeline was down — no reprocessing of already-committed input,
    no loss — so the final table equals the batch computation over ALL
    input exactly once.  (The reference's Lambda load step is NOT
    idempotent on redelivery; the checkpoint + commit log is the
    exactly-once upgrade, and this is the test that proves it survives
    a restart, not just a single run.)"""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t = ticks(spark, SF).orderBy("trade_time_ms")
    chunks = t.withColumn("chunk", F.col("trade_id") % 4)

    def drop_file(i: int) -> None:
        one = str(tmp_path / f"stage{i}")
        chunks.filter(F.col("chunk") == i).drop("chunk").coalesce(
            1
        ).write.option("sep", "\t").mode("overwrite").csv(one)
        part = glob.glob(f"{one}/part-*")[0]
        os.rename(part, f"{src}/chunk{i}.tsv")

    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # run 1: two files arrive, pipeline drains and STOPS
    drop_file(0)
    drop_file(1)
    q1 = table_append_sink(
        canonical_stream(read_tick_stream(spark, src)), table_dir, ckpt
    )
    q1.awaitTermination(120)
    n_after_first = spark.read.parquet(table_dir).count()
    assert n_after_first > 0

    # pipeline down: two more files arrive
    drop_file(2)
    drop_file(3)

    # run 2: NEW query object, SAME checkpoint — must resume, not redo
    q2 = table_append_sink(
        canonical_stream(read_tick_stream(spark, src)), table_dir, ckpt
    )
    q2.awaitTermination(120)

    got = spark.read.parquet(table_dir)
    want = btcusdt(spark, SF)
    assert got.count() == want.count()  # no dupes from run-1 files
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_heavy_hitters_spacesaving_guarantees(spark, tmp_path):
    """SpaceSaving invariants against exact batch counts, replayed over
    multiple micro-batches (maxFilesPerTrigger=1 so state evolves
    across batches): (a) state per shard never exceeds k counters,
    (b) every user with true shard frequency > n_shard/k is tracked,
    (c) est - err <= true <= est for every tracked user, and (d) the
    per-shard processed totals equal the true shard sizes."""
    from binancedatapipelineinaws_spark.streaming.stateful import (
        HH_K,
        HH_SHARDS,
        heavy_hitters_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    src = str(tmp_path / "events_src")
    ev = load_table(spark, SF, "events")
    # three hash-sliced chunks -> three micro-batches (the invariants
    # under test are order-independent; what matters is that state
    # evolves across MULTIPLE batches, not the slices' time ranges)
    ev.withColumn(
        "c", (F.unix_micros("ts") % 3)
    ).repartition(3, "c").drop("c").write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", "1").parquet(src)
    out = str(tmp_path / "hh")
    q = (
        heavy_hitters_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    snaps = spark.read.parquet(out)
    # final snapshot per shard = rows carrying its max n_processed
    import pyspark.sql.window as W

    w = W.Window.partitionBy("shard")
    final = snaps.withColumn(
        "n_max", F.max("n_processed").over(w)
    ).filter(F.col("n_processed") == F.col("n_max"))
    true = (
        ev.groupBy((F.col("user_id") % HH_SHARDS).alias("shard"), "user_id")
        .agg(F.count("*").alias("true_n"))
        .cache()
    )
    shard_tot = true.groupBy("shard").agg(F.sum("true_n").alias("n_shard"))
    # (a) bounded state
    per_shard = final.groupBy("shard").agg(F.count("*").alias("k_used"))
    assert per_shard.filter(F.col("k_used") > HH_K).count() == 0
    # (d) nothing lost: processed totals match true shard sizes
    got_tot = final.groupBy("shard").agg(F.max("n_processed").alias("n"))
    mismatch = got_tot.join(shard_tot, "shard").filter(
        F.col("n") != F.col("n_shard")
    )
    assert mismatch.count() == 0
    # (b) guarantee: true frequency > n_shard/k must be tracked
    musts = true.join(shard_tot, "shard").filter(
        F.col("true_n") * HH_K > F.col("n_shard")
    )
    missing = musts.join(
        final.select("shard", F.col("item").alias("user_id")),
        ["shard", "user_id"],
        "left_anti",
    )
    assert missing.count() == 0
    # (c) estimate bounds for every tracked item
    j = final.join(
        true.select("shard", F.col("user_id").alias("item"), "true_n"),
        ["shard", "item"],
    )
    bad = j.filter(
        (F.col("est") < F.col("true_n"))
        | (F.col("est") - F.col("err") > F.col("true_n"))
    )
    assert bad.count() == 0
    # (e) wire to the ORACLE-GATED batch twin (q_ext_topk_talkers):
    # every exact top-k talker whose count clears the SpaceSaving
    # tracking guarantee must be in the final sketch with its bounds
    from binancedatapipelineinaws_spark.registry import queries

    twin = queries()["q_ext_topk_talkers"](spark, SF)
    twin_musts = twin.join(shard_tot, "shard").filter(
        F.col("cnt") * HH_K > F.col("n_shard")
    )
    twin_missing = twin_musts.join(
        final.select("shard", "item", "est", "err"), ["shard", "item"],
        "left",
    ).filter(
        F.col("est").isNull()
        | (F.col("est") < F.col("cnt"))
        | (F.col("est") - F.col("err") > F.col("cnt"))
    )
    assert twin_missing.count() == 0


def test_stateful_operator_state_survives_restart(spark, tmp_path):
    """Custom applyInPandasWithState state must survive a query
    restart: run the heavy-hitter sketch over batch 1, STOP, deliver
    batch 2, restart on the SAME checkpoint — the final per-shard
    counters must equal a single continuous run over both batches
    (the state store, not the JVM, owns the counters)."""
    from binancedatapipelineinaws_spark.streaming.stateful import (
        heavy_hitters_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    ev = load_table(spark, SF, "events").orderBy("ts", "event_id")
    half = ev.count() // 2
    batch1 = ev.limit(half)
    batch2 = ev.subtract(batch1)

    def run_stream(src, out, ckpt):
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            heavy_hitters_stream(stream)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # interrupted pipeline: batch 1, stop, batch 2 arrives, restart
    src_a = str(tmp_path / "src_a")
    out_a = str(tmp_path / "out_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    batch1.write.mode("append").parquet(src_a)
    run_stream(src_a, out_a, ckpt_a)
    batch2.write.mode("append").parquet(src_a)
    run_stream(src_a, out_a, ckpt_a)

    # continuous reference: both batches in one run
    src_b = str(tmp_path / "src_b")
    out_b = str(tmp_path / "out_b")
    batch1.write.mode("append").parquet(src_b)
    batch2.write.mode("append").parquet(src_b)
    run_stream(src_b, out_b, str(tmp_path / "ckpt_b"))

    def final_counters(out):
        import pyspark.sql.window as W

        snaps = spark.read.parquet(out)
        w = W.Window.partitionBy("shard")
        return (
            snaps.withColumn("n_max", F.max("n_processed").over(w))
            .filter(F.col("n_processed") == F.col("n_max"))
            .select("shard", "item", "est", "err")
        )

    got = final_counters(out_a)
    want = final_counters(out_b)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_kafka_reader_contract_without_broker(spark):
    """The kafka ingest path has never executed in this container (no
    broker, no connector jar) — this contract test pins everything
    around the missing jar so drift fails fast: (a) the exact option
    map the reader passes to the source, (b) the decode projection
    run on canned rows shaped exactly like Spark's documented kafka
    source schema, producing the same typed ticks as the file/socket
    wire parse."""
    from datetime import datetime, timezone

    from binancedatapipelineinaws_spark.streaming.pipeline import (
        KAFKA_SOURCE_SCHEMA,
        decode_kafka_ticks,
        kafka_reader_options,
    )

    # (a) option construction: exact map, no silent renames/additions
    assert kafka_reader_options("broker1:9092,broker2:9092") == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "ticks",
        "startingOffsets": "latest",
    }
    assert kafka_reader_options("b:9092", "t2", "earliest") == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t2",
        "startingOffsets": "earliest",
    }
    # (b) deserialization projection on kafka-shaped rows
    line = "12345\tBTCUSDT\t42000.12345678\t0.04400000\t1690000000123\ttrue"
    ts = datetime(2023, 7, 22, 5, 6, 40, tzinfo=timezone.utc)
    canned = spark.createDataFrame(
        [
            (None, line.encode(), "ticks", 0, 7, ts, 0),
            (b"k", b"9\tETHUSDT\t1.50000000\t2.00000000\t1690000000999\tfalse",
             "ticks", 1, 8, ts, 0),
        ],
        KAFKA_SOURCE_SCHEMA,
    )
    got = {r["trade_id"]: r for r in decode_kafka_ticks(canned).collect()}
    assert set(decode_kafka_ticks(canned).columns) == {
        "trade_id", "symbol", "price_str", "qty_str",
        "trade_time_ms", "is_buyer_maker",
    }
    r = got[12345]
    assert r["symbol"] == "BTCUSDT"
    assert r["price_str"] == "42000.12345678"
    assert r["qty_str"] == "0.04400000"
    assert r["trade_time_ms"] == 1690000000123
    assert r["is_buyer_maker"] is True
    assert got[9]["is_buyer_maker"] is False
    # the decoded ticks must feed the SAME canonicalization plan the
    # file replay uses (one logical pipeline, any source)
    canon = canonical_stream(decode_kafka_ticks(canned))
    rows = {r["bid"]: r for r in canon.collect()}
    assert rows[12345]["price"] is not None


def test_streaming_dedup_first_events_within_horizon_twin(
    spark, tmp_path
):
    """Tie the streaming dedup path to the oracle-gated batch twin
    (q_ext_dedup_horizon): with a never-expiring watermark,
    dropDuplicatesWithinWatermark keeps exactly the first occurrence
    of every (user_id, event_type) key, and every one of those events
    must be a keep in the greedy-chain twin (the first event of a key
    always starts its chain).  Replayed over multiple micro-batches so
    state actually carries across batches."""
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.tables import load_table

    src = str(tmp_path / "ev_src")
    ev = load_table(spark, SF, "events")
    ev.withColumn("c", F.col("event_id") % 3).repartition(3, "c").drop(
        "c"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    dedup = stream.withWatermark(
        "ts", "3650 days"
    ).dropDuplicatesWithinWatermark(["user_id", "event_type"])
    out = str(tmp_path / "dd_out")
    q = (
        dedup.writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out)
    # one survivor per key
    n_keys = ev.select("user_id", "event_type").distinct().count()
    assert got.count() == n_keys
    assert (
        got.select("user_id", "event_type").distinct().count() == n_keys
    )
    # NOTE: with multi-batch replay the stream keeps the first ARRIVAL
    # of a key, which under out-of-order delivery need not be the
    # event-time-first; the twin invariant that must hold is that the
    # stream's kept count per key (exactly 1) never exceeds the greedy
    # twin's n_kept, and every key appears in the twin
    twin = queries()["q_ext_dedup_horizon"](spark, SF)
    joined = got.select("user_id", "event_type").join(
        twin.select("user_id", "event_type", "n_kept"),
        ["user_id", "event_type"],
        "left",
    )
    assert joined.filter(F.col("n_kept").isNull()).count() == 0
    assert joined.filter(F.col("n_kept") < 1).count() == 0


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_ewma_matches_batch_fold(spark, tmp_path):
    """In-order replay of the O(1)-state streaming EWMA kernel must
    equal the oracle-gated batch fold (q_ext_ewma) at 6 dp for every
    user.  Files are TIME-sliced (not hash-sliced) so micro-batches
    deliver events in event-time order and the recurrence sees the
    same sequence as the batch sort."""
    from binancedatapipelineinaws_spark.operators.analytics import (
        EWMA_ALPHA,
    )
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        ewma_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    src = str(tmp_path / "ev_time_sliced")
    ev = load_table(spark, SF, "events")
    # three contiguous time slices, one file each, fed one per
    # micro-batch (maxFilesPerTrigger=1) in mtime order — pinned below
    import pyspark.sql.window as W

    w = W.Window.orderBy("ts", "event_id")
    sliced = ev.withColumn("rn", F.row_number().over(w))
    n = ev.count()
    os.makedirs(src)
    for i in range(3):
        lo, hi = i * n // 3, (i + 1) * n // 3
        part = sliced.filter(
            (F.col("rn") > lo) & (F.col("rn") <= hi)
        ).drop("rn")
        part.coalesce(1).write.mode("overwrite").parquet(
            f"{src}_stage{i}"
        )
        import glob as _g
        import shutil

        f = _g.glob(f"{src}_stage{i}/part-*.parquet")[0]
        shutil.copy(f, f"{src}/slice{i}.parquet")
        # FileStreamSource orders new files by MODIFICATION TIME, not
        # name: pin strictly increasing mtimes so a coarse-granularity
        # filesystem cannot feed slices out of event-time order
        os.utime(f"{src}/slice{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "ewma_out")
    q = (
        ewma_stream(stream, EWMA_ALPHA)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    snaps = spark.read.parquet(out)
    wu = W.Window.partitionBy("user_id")
    final = (
        snaps.withColumn("n_max", F.max("n_events").over(wu))
        .filter(F.col("n_events") == F.col("n_max"))
        .select("user_id", "n_events", F.round("ewma", 6).alias("ewma"))
        .dropDuplicates(["user_id"])
    )
    batch = queries()["q_ext_ewma"](spark, SF)
    got = {r["user_id"]: (r["n_events"], r["ewma"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["ewma"]) for r in batch.collect()}
    assert got == want


def test_stream_stream_left_outer_interval_join_abandonment(spark, tmp_path):
    """leftOuter interval join (the abandonment stream): matched rows
    must equal the batch interval join exactly; unmatched clicks emit
    with NULL purchase columns once the watermark proves no match can
    arrive (click_ts + horizon < watermark), so the null set equals
    the batch left-join's null rows RESTRICTED to clicks old enough
    to have expired — the documented trailing-edge divergence of any
    watermarked outer join (nulls for the stream's last
    watermark+horizon of clicks are still pending at shutdown)."""
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        interval_join_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    ev = load_table(spark, SF, "events")
    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    ev.filter(F.col("event_type") == "click").write.parquet(clicks_dir)
    ev.filter(F.col("event_type") == "purchase").write.parquet(purch_dir)

    def stream(d):
        return (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .parquet(d)
        )

    out = str(tmp_path / "joined_lo")
    ckpt = str(tmp_path / "ckpt_lo")

    def run():
        q = (
            interval_join_stream(
                stream(clicks_dir), stream(purch_dir), how="leftOuter"
            )
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    run()  # second pass: watermark advance emits the expired nulls
    got = spark.read.parquet(out)

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    matched_want = c.join(
        p,
        F.expr(
            "c_user = p_user AND purchase_ts > click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 HOUR"
        ),
    ).select("click_id", "purchase_id", "amount")
    matched_got = got.filter(F.col("purchase_id").isNotNull()).select(
        "click_id", "purchase_id", "amount"
    )
    assert matched_got.count() == matched_want.count()
    assert matched_got.exceptAll(matched_want).count() == 0
    assert matched_want.exceptAll(matched_got).count() == 0

    # null rows: exactly the batch-unmatched clicks, up to the
    # trailing watermark+horizon edge
    unmatched_want = c.join(
        p,
        F.expr(
            "c_user = p_user AND purchase_ts > click_ts "
            "AND purchase_ts <= click_ts + INTERVAL 1 HOUR"
        ),
        "left_anti",
    )
    nulls_got = got.filter(F.col("purchase_id").isNull())
    # every emitted null is a genuinely unmatched click
    assert (
        nulls_got.join(unmatched_want, "click_id", "left_anti").count() == 0
    )
    # and no matched click ever emitted a null
    assert (
        nulls_got.join(
            matched_want.select("click_id").distinct(), "click_id"
        ).count()
        == 0
    )
    # completeness below the expiry edge: the query watermark is the
    # MIN over both inputs' (max event time - 2h), plus the 1h
    # horizon and a 1-minute guard band against boundary semantics
    (max_c,) = c.agg(F.max("click_ts")).first()
    (max_p,) = p.agg(F.max("purchase_ts")).first()
    import datetime

    cutoff = min(max_c, max_p) - datetime.timedelta(hours=3, minutes=1)
    missing = (
        unmatched_want.filter(F.col("click_ts") < F.lit(cutoff))
        .join(nulls_got, "click_id", "left_anti")
    )
    assert missing.count() == 0
    assert nulls_got.count() > 0  # the corpus must exercise the null path


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_holt_matches_batch(spark, tmp_path):
    """The O(1)-state streaming Holt kernel replayed over time-sliced
    event files must equal the oracle-gated batch fold
    (q_ext_holt_smoothing) at 6 dp for every user."""
    from binancedatapipelineinaws_spark.operators.analytics import (
        HOLT_ALPHA,
        HOLT_BETA,
    )
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        holt_stream,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    import pyspark.sql.window as W

    src = str(tmp_path / "ev_sliced")
    ev = load_table(spark, SF, "events")
    w = W.Window.orderBy("ts", "event_id")
    n = ev.count()
    sliced = ev.withColumn("rn", F.row_number().over(w))
    for i in range(3):
        sliced.filter(
            (F.col("rn") > i * n // 3) & (F.col("rn") <= (i + 1) * n // 3)
        ).drop("rn").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "holt_out")
    q = (
        holt_stream(stream, HOLT_ALPHA, HOLT_BETA)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "holt_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    snaps = spark.read.parquet(out)
    wmax = W.Window.partitionBy("user_id")
    final = (
        snaps.withColumn("n_max", F.max("n_events").over(wmax))
        .filter(F.col("n_events") == F.col("n_max"))
        .select(
            "user_id",
            "n_events",
            F.round("level", 6).alias("level"),
            F.round("trend", 6).alias("trend"),
        )
    )
    want = queries()["q_ext_holt_smoothing"](spark, SF).select(
        "user_id", "n_events", "level", "trend"
    )
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_macd_matches_batch_exactly(spark, tmp_path):
    """The O(1)-state streaming MACD kernel replayed over time-sliced
    candle files must equal the oracle-gated batch fold (q_ext_macd)
    EXACTLY — both are the same BIGINT fixed-point machine, so the
    comparison is equality, not tolerance."""
    from binancedatapipelineinaws_spark.operators.indicators import (
        _candles_c,
    )
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        macd_stream,
    )

    import pyspark.sql.window as W

    src = str(tmp_path / "candles_sliced")
    candles = _candles_c(spark, SF).select("m", "close_c")
    w = W.Window.orderBy("m")
    n = candles.count()
    sliced = candles.withColumn("rn", F.row_number().over(w))
    for i in range(3):
        sliced.filter(
            (F.col("rn") > i * n // 3) & (F.col("rn") <= (i + 1) * n // 3)
        ).drop("rn").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "macd_out")
    q = (
        macd_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "macd_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    snaps = spark.read.parquet(out)
    wmax = W.Window.partitionBy("day")
    final = (
        snaps.withColumn("n_max", F.max("n_bars").over(wmax))
        .filter(F.col("n_bars") == F.col("n_max"))
        .select("day", "macd", "signal", "histogram")
    )
    # batch: last bar per day
    batch = queries()["q_ext_macd"](spark, SF)
    wday = W.Window.partitionBy(F.col("minute_start").cast("date"))
    want = (
        batch.withColumn(
            "m_max", F.max("minute_start").over(wday)
        )
        .filter(F.col("minute_start") == F.col("m_max"))
        .select(
            F.col("minute_start").cast("date").alias("day"),
            "macd",
            "signal",
            "histogram",
        )
    )
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_sar_matches_batch_exactly(spark, tmp_path):
    """The O(1)-state streaming Parabolic SAR kernel replayed over
    time-sliced candle files must equal the oracle-gated batch fold
    (q_ext_parabolic_sar) EXACTLY — the conditional-reset machine is
    pure integer state, so the comparison is equality, not tolerance."""
    from binancedatapipelineinaws_spark.operators.indicators import (
        _candles_c,
    )
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        sar_stream,
    )

    import pyspark.sql.window as W

    src = str(tmp_path / "candles_sliced")
    candles = _candles_c(spark, SF).select(
        "m", "high_c", "low_c", "close_c"
    )
    w = W.Window.orderBy("m")
    n = candles.count()
    sliced = candles.withColumn("rn", F.row_number().over(w))
    for i in range(3):
        sliced.filter(
            (F.col("rn") > i * n // 3) & (F.col("rn") <= (i + 1) * n // 3)
        ).drop("rn").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "sar_out")
    q = (
        sar_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "sar_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    snaps = spark.read.parquet(out)
    wmax = W.Window.partitionBy("day")
    final = (
        snaps.withColumn("n_max", F.max("n_bars").over(wmax))
        .filter(F.col("n_bars") == F.col("n_max"))
        .select("day", "trend", "sar")
    )
    batch = queries()["q_ext_parabolic_sar"](spark, SF)
    wday = W.Window.partitionBy(F.col("minute_start").cast("date"))
    want = (
        batch.withColumn("m_max", F.max("minute_start").over(wday))
        .filter(F.col("minute_start") == F.col("m_max"))
        .select(
            F.col("minute_start").cast("date").alias("day"),
            "trend",
            "sar",
        )
    )
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_supertrend_matches_batch_exactly(spark, tmp_path):
    """The O(1)-state streaming Supertrend kernel replayed over
    time-sliced candle files must equal the oracle-gated batch fold
    (q_ext_supertrend) EXACTLY — conditional band carry included."""
    from binancedatapipelineinaws_spark.operators.indicators import (
        _candles_c,
    )
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        supertrend_stream,
    )

    import pyspark.sql.window as W

    src = str(tmp_path / "candles_sliced")
    candles = _candles_c(spark, SF).select(
        "m", "high_c", "low_c", "close_c"
    )
    w = W.Window.orderBy("m")
    n = candles.count()
    sliced = candles.withColumn("rn", F.row_number().over(w))
    for i in range(3):
        sliced.filter(
            (F.col("rn") > i * n // 3) & (F.col("rn") <= (i + 1) * n // 3)
        ).drop("rn").coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    out = str(tmp_path / "st_out")
    q = (
        supertrend_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .option("path", out)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    snaps = spark.read.parquet(out)
    wmax = W.Window.partitionBy("day")
    final = (
        snaps.withColumn("n_max", F.max("n_bars").over(wmax))
        .filter(F.col("n_bars") == F.col("n_max"))
        .select("day", "trend", "supertrend")
    )
    batch = queries()["q_ext_supertrend"](spark, SF)
    wday = W.Window.partitionBy(F.col("minute_start").cast("date"))
    want = (
        batch.withColumn("m_max", F.max("minute_start").over(wday))
        .filter(F.col("minute_start") == F.col("m_max"))
        .select(
            F.col("minute_start").cast("date").alias("day"),
            "trend",
            "supertrend",
        )
    )
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0


def test_streaming_merge_state_matches_sequential_batch(spark, tmp_path):
    """merge_state_sink: the streamed accumulate-MERGE equals applying
    the same per-batch MERGE sequentially in batch, batch ids at or
    below the live version are no-ops (the exactly-once restore), and
    a tombstoned user re-inserts on later activity."""
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        merge_state_sink,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    schema = ev.schema
    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    # two arrivals split by time (whole files appear atomically)
    cut = "2024-01-16 00:00:00"
    b0 = ev.filter(F.col("ts") <= F.lit(cut).cast("timestamp_ntz"))
    b1 = ev.filter(F.col("ts") > F.lit(cut).cast("timestamp_ntz"))
    b0.coalesce(1).write.mode("overwrite").parquet(src + "/stage0")
    table_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for i, p in enumerate(sorted(glob.glob(f"{src}/stage0/part-*"))):
        os.rename(p, f"{src}/b0_{i}.parquet")

    def run():
        q = merge_state_sink(
            spark.readStream.schema(schema).parquet(src), table_dir, ckpt
        )
        q.awaitTermination(120)

    run()
    state1 = read_sink_table(spark, table_dir)

    # sequential batch replica of batch 0
    def batch_merge(state, batch):
        cents = F.round(F.col("value") * 100, 0).cast("long")
        is_p = F.col("event_type") == "purchase"
        delta = (
            batch.filter(F.col("event_type").isin("purchase", "error"))
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
            .alias("s")
        )
        t = state.alias("t")
        return (
            t.join(delta, F.col("t.user_id") == F.col("s.user_id"), "full_outer")
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

    empty = spark.createDataFrame(
        [], "user_id bigint, n_purchases bigint, total_cents bigint"
    )
    want1 = batch_merge(empty, b0)
    assert state1.exceptAll(want1).count() == 0
    assert want1.exceptAll(state1).count() == 0

    # second arrival on the SAME checkpoint accumulates
    b1.coalesce(1).write.mode("overwrite").parquet(src + "/stage1")
    for i, p in enumerate(sorted(glob.glob(f"{src}/stage1/part-*"))):
        os.rename(p, f"{src}/b1_{i}.parquet")
    run()
    state2 = read_sink_table(spark, table_dir)
    want2 = batch_merge(want1, b1)
    assert state2.exceptAll(want2).count() == 0
    assert want2.exceptAll(state2).count() == 0

    # accumulate really accumulated: some user's total grew
    grew = (
        want1.alias("a")
        .join(state2.alias("b"), "user_id")
        .filter(F.col("b.total_cents") > F.col("a.total_cents"))
    )
    assert grew.count() > 0

    # the live version's name is the last applied batch id (two
    # batches applied), and the version before it is gone
    assert sorted(os.listdir(table_dir)) == ["v-1"]
    # a fresh checkpoint numbers from 0 again and delivers every file
    # as its batch 0: at or below the live version, so a no-op
    q = merge_state_sink(
        spark.readStream.schema(schema).parquet(src),
        table_dir,
        str(tmp_path / "ckpt_replay"),
    )
    q.awaitTermination(120)
    state3 = read_sink_table(spark, table_dir)
    assert state3.exceptAll(state2).count() == 0
    assert state2.exceptAll(state3).count() == 0
    # the same checkpoint with no new files leaves the state as it is
    q = merge_state_sink(
        spark.readStream.schema(schema).parquet(src), table_dir, ckpt
    )
    q.awaitTermination(120)
    state4 = read_sink_table(spark, table_dir)
    assert state4.exceptAll(state3).count() == 0
    assert state3.exceptAll(state4).count() == 0


def _drop_commit(ckpt: str, batch_id: int) -> None:
    """Lose the checkpoint's commit of `batch_id`, as a kill before the
    commit-log write does (its Hadoop .crc shadow too: left behind, it
    fails the re-write as a concurrent writer)."""
    for p in (f"{ckpt}/commits/{batch_id}", f"{ckpt}/commits/.{batch_id}.crc"):
        if os.path.exists(p):
            os.remove(p)


def test_merge_state_publish_crash_recovery(spark, tmp_path):
    """A crash inside a batch's commit must NOT lose the accumulated
    state.  Before the rename it leaves a half-written `_staging-N`
    beside the live version: the table still reads as last committed,
    and batch N, never applied, re-merges.  After the rename it leaves
    the older version beside the new one: the re-delivered batch is a
    no-op (no double count).  Either leftover is gone after the next
    batch (r9 advice, medium)."""
    import shutil

    from binancedatapipelineinaws_spark.streaming.pipeline import (
        merge_state_sink,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    schema = ev.schema
    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    ordered = ev.orderBy("event_id")
    table_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def add_file(df, tag):
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/{tag}")
        for i, p in enumerate(sorted(glob.glob(f"{src}/{tag}/part-*"))):
            os.rename(p, f"{src}/{tag}_{i}.parquet")

    def run(table, checkpoint):
        q = merge_state_sink(
            spark.readStream.schema(schema).parquet(src), table, checkpoint
        )
        q.awaitTermination(120)

    def rows(table):
        return sorted(map(tuple, read_sink_table(spark, table).collect()))

    # a clean twin drains the same arrivals into its own table
    clean, clean_ckpt = str(tmp_path / "clean"), str(tmp_path / "clean_ckpt")
    add_file(ordered.limit(500), "b0")
    run(table_dir, ckpt)
    run(clean, clean_ckpt)
    published = rows(table_dir)
    shutil.copytree(f"{table_dir}/v-0", str(tmp_path / "v0_copy"))

    # killed before batch 1's rename: half-written staging, no commit
    os.makedirs(f"{table_dir}/_staging-1")
    with open(f"{table_dir}/_staging-1/part-00000.parquet", "wb") as f:
        f.write(b"PAR1 torn")
    assert rows(table_dir) == published  # the table never went away
    add_file(ordered.offset(500).limit(500), "b1")
    run(table_dir, ckpt)
    run(clean, clean_ckpt)
    want = rows(clean)
    assert want != published
    assert rows(table_dir) == want  # batch 1 merged once
    assert sorted(os.listdir(table_dir)) == ["v-1"]

    # killed after batch 1's rename, before the old version was dropped
    # and before the checkpoint committed: Spark re-delivers batch 1
    shutil.copytree(str(tmp_path / "v0_copy"), f"{table_dir}/v-0")
    _drop_commit(ckpt, 1)
    assert rows(table_dir) == want  # the highest version is live
    run(table_dir, ckpt)
    assert rows(table_dir) == want  # no double count
    assert sorted(os.listdir(table_dir)) == ["v-1"]


def test_upsert_publish_crash_recovery(spark, tmp_path):
    """A crash inside the upsert sink's commit, before its rename, must
    not lose the table: the half-written `_staging-N` is dropped on
    restart and the batch merges into the last committed version,
    instead of merging into nothing and publishing only its own rows."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    t = ticks(spark, SF).orderBy("trade_time_ms").limit(250)
    late = F.col("trade_id") % 5 == 0

    def spool(df, name):
        df.coalesce(1).write.option("sep", "\t").mode("overwrite").csv(
            f"{src}/{name}"
        )
        for i, p in enumerate(sorted(glob.glob(f"{src}/{name}/part-*"))):
            os.rename(p, f"{src}/{name}{i}.tsv")

    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = upsert_table_sink(
            canonical_stream(read_tick_stream(spark, src)), table_dir, ckpt
        )
        q.awaitTermination(120)

    spool(t.filter(~late), "base")
    run()
    n_base = read_sink_table(spark, table_dir).count()
    assert n_base == t.filter(~late).count()

    # crash inside the commit of batch 1: a half-staged version is left
    # beside the live one
    os.makedirs(f"{table_dir}/_staging-1")
    with open(f"{table_dir}/_staging-1/part-00000.parquet", "wb") as f:
        f.write(b"PAR1 torn")
    assert read_sink_table(spark, table_dir).count() == n_base
    spool(t.filter(late), "late")
    run()

    got = read_sink_table(spark, table_dir)
    assert got.count() == 250
    want = {r.trade_id for r in t.select("trade_id").collect()}
    assert {r.bid for r in got.select("bid").collect()} == want
    assert sorted(os.listdir(table_dir)) == ["v-1"]


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_sentence_freq_matches_batch(spark, tmp_path):
    """Streaming twin of q_ext_sentence_dedup (VERDICT r11 item 7):
    replay the documents corpus in 3 micro-batches through the
    sentence-frequency state kernel; the LAST emission per
    (sentence, source) must reconstruct the batch id's per-source
    accounting EXACTLY — the state carries the global sentence
    frequency across batches, so a duplicate whose copies arrive in
    different batches is still counted as duplicated."""
    from pyspark.sql import Window

    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        sentence_freq_stream,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    src = str(tmp_path / "doc_src")
    docs.withColumn("c", F.col("doc_id") % 3).repartition(3, "c").drop(
        "c"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "sf_out")

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    q = (
        sentence_freq_stream(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "sf_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.read.parquet(out)
    # multiple micro-batches must actually have run (state carried)
    assert emitted.select("batch_id").distinct().count() >= 2
    last = (
        emitted.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("s", "source").orderBy(
                    F.desc("batch_id")
                )
            ),
        )
        .filter("rn = 1")
    )
    got = (
        last.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_sentences"),
            F.count("*").cast("long").alias("n_distinct"),
            F.sum(
                F.when(F.col("c_total") > 1, F.col("cnt")).otherwise(0)
            ).alias("n_duplicated"),
        )
        .collect()
    )
    want = (
        queries()["q_ext_sentence_dedup"](spark, SF)
        .select("source", "n_sentences", "n_distinct", "n_duplicated")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.usefixtures("arrow_chunks_of_7")
def test_streaming_perplexity_buckets_match_batch(spark, tmp_path):
    """Streaming twin of q_ext_perplexity_buckets (VERDICT r12 item 7):
    replay the documents corpus in 3 micro-batches through the
    per-source bucket state kernel with the full-corpus bigram LM as
    the static side input; the LAST emission per (source, bucket) must
    reconstruct the batch id's head/middle/tail table EXACTLY — the
    state carries every source's score set across batches, so the
    ntile cuts converge to the batch cuts once the replay completes."""
    from pyspark.sql import Window

    from binancedatapipelineinaws_spark.functions.retrieval import (
        bigram_lm,
        bigram_rows,
    )
    from binancedatapipelineinaws_spark.registry import queries
    from binancedatapipelineinaws_spark.streaming.stateful import (
        perplexity_bucket_stream,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lm = bigram_lm(bigram_rows(docs.select("doc_id", "text")))
    src = str(tmp_path / "ppl_src")
    docs.withColumn("c", F.col("doc_id") % 3).repartition(3, "c").drop(
        "c"
    ).write.parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = str(tmp_path / "ppl_out")

    def sink(batch_df, batch_id):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    q = (
        perplexity_bucket_stream(stream, lm)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ppl_ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = spark.read.parquet(out)
    # multiple micro-batches must actually have run (state carried)
    assert emitted.select("batch_id").distinct().count() >= 2
    last = emitted.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source", "bucket").orderBy(
                F.desc("batch_id")
            )
        ),
    ).filter("rn = 1")
    got = last.select(
        "source", "bucket", "n_docs", "avg_lm_score"
    ).collect()
    want = queries()["q_ext_perplexity_buckets"](spark, SF).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# a driver started outside the checkout: the package is on its own
# sys.path only, so the Python workers cannot import it
_STATEFUL_OUTSIDE_CHECKOUT = """
import sys
sys.path.insert(0, sys.argv[1])
from binancedatapipelineinaws_spark.session import get_spark
from binancedatapipelineinaws_spark.streaming import stateful
spark = get_spark("stateful-outside-checkout")
candles, events, out = sys.argv[2:5]
for name, src in (("macd", candles), ("sar", candles),
                  ("supertrend", candles), ("gapband", events)):
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (getattr(stateful, name + "_stream")(stream).writeStream
         .format("parquet").option("path", f"{out}/{name}")
         .option("checkpointLocation", f"{out}/{name}_ckpt")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    print(name, spark.read.parquet(f"{out}/{name}").count())
spark.stop()
"""


def test_stateful_helpers_run_outside_the_checkout(spark, tmp_path):
    """The MACD, SAR, Supertrend and gap-band folds call module-level
    helpers (`_tdiv`, `_q6`, `_band_of`); from a driver whose workers
    cannot import the package, those helpers must still reach the
    workers, by value.  One micro-batch each: one snapshot row per
    session day, and one gap per event after each key's first."""
    import subprocess
    import sys

    from conftest import REPO

    from binancedatapipelineinaws_spark.operators.indicators import (
        _candles_c,
    )
    from binancedatapipelineinaws_spark.tables import load_table

    candles = _candles_c(spark, SF).select("m", "high_c", "low_c", "close_c")
    events = load_table(spark, SF, "events")
    candles.write.parquet(str(tmp_path / "candles"))
    events.write.parquet(str(tmp_path / "events"))
    days = candles.select(F.col("m").cast("date")).distinct().count()
    gaps = events.count() - events.select("user_id", "event_type").distinct().count()

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            _STATEFUL_OUTSIDE_CHECKOUT,
            REPO,
            str(tmp_path / "candles"),
            str(tmp_path / "events"),
            str(tmp_path / "out"),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    # a worker's Python error sits above the JVM's stack trace
    errors = [line for line in out.stderr.splitlines() if "Error:" in line]
    assert out.returncode == 0, "\n".join(errors[:5]) or out.stderr[-3000:]
    counts = dict(line.split() for line in out.stdout.splitlines())
    assert counts == {
        "macd": str(days),
        "sar": str(days),
        "supertrend": str(days),
        "gapband": str(gaps),
    }
