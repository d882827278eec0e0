"""Checkpoint compatibility across CODE EVOLUTION (VERDICT r7 item 7):
a stateful streaming query must restart cleanly from a checkpoint
written by a PREVIOUS commit's kernels — the production upgrade path
(stop the job, deploy new code, resume on the same checkpoint) that
the reference's systemd `Restart=always` unit (ec2_setup.sh:18-32)
exercised only for identical code.

Mechanics: batch 1 runs through the stateful kernels AS OF the pinned
base commit (tests/fixtures/state_compat_base.txt — the previous
round's head, materialized via `git show` and imported as a throwaway
module), writing a real checkpoint (offsets + state store + state
schema files).  Batch 2 then restarts on that SAME checkpoint through
the CURRENT kernels.  The run must (a) not throw Spark's state-schema
incompatibility error and (b) produce exactly the final state of a
continuous current-code run over both batches.

When a kernel's state schema changes INTENTIONALLY, bump the pin to
the first commit of the new schema and record the migration decision
there — this test is the gate that makes that a decision instead of
an accident.

A second pin (tests/fixtures/state_compat_parent.txt) is the last
commit before the kernels were folded into one `_keyed_fold`
scaffold.  Every one of the 12 stateful streams resumes a checkpoint
written there: the final per-key state, or the full output of the
event-emitting streams, must equal a continuous current-code run.  The
two update-mode streams write through a `foreachBatch` parquet append.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.operators.analytics import (
    EWMA_ALPHA,
    HOLT_ALPHA,
    HOLT_BETA,
)

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIXTURES = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures"
)
_BASE_FILE = os.path.join(_FIXTURES, "state_compat_base.txt")
_PARENT_FILE = os.path.join(_FIXTURES, "state_compat_parent.txt")
_STATEFUL_PATH = "binancedatapipelineinaws_spark/streaming/stateful.py"


def _base_stateful_module(tmp_path, pin_file=_BASE_FILE):
    """Import streaming/stateful.py as of the commit in `pin_file`.
    The module is pickled by value: the Python workers cannot import
    it by name."""
    from pyspark import cloudpickle

    with open(pin_file) as fh:
        sha = fh.read().strip()
    try:
        src = subprocess.run(
            ["git", "show", f"{sha}:{_STATEFUL_PATH}"],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError) as e:
        pytest.skip(f"base commit {sha[:9]} not reachable: {e}")
    name = f"stateful_compat_{sha[:9]}"
    path = tmp_path / f"{name}.py"
    path.write_text(src)
    spec = importlib.util.spec_from_file_location(name, str(path))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    cloudpickle.register_pickle_by_value(mod)
    return mod


def _split_events(spark):
    """The events table as two time-contiguous batches (batch 2 is
    strictly later event time, like a real resumed ingest)."""
    from binancedatapipelineinaws_spark.tables import load_table

    import pyspark.sql.window as W

    ev = load_table(spark, SF, "events")
    w = W.Window.orderBy("ts", "event_id")
    n = ev.count()
    sliced = ev.withColumn("rn", F.row_number().over(w))
    b1 = sliced.filter(F.col("rn") <= n // 2).drop("rn")
    b2 = sliced.filter(F.col("rn") > n // 2).drop("rn")
    return b1, b2


def _run(spark, stream_builder, src, out, ckpt, mode="append"):
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    writer = stream_builder(stream).writeStream.option(
        "checkpointLocation", ckpt
    )
    if mode == "append":
        writer = writer.format("parquet").option("path", out)
    else:

        def sink(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        writer = writer.foreachBatch(sink)
    q = writer.outputMode(mode).trigger(availableNow=True).start()
    q.awaitTermination(180)


def _final_ewma(spark, out):
    import pyspark.sql.window as W

    snaps = spark.read.parquet(out)
    w = W.Window.partitionBy("user_id")
    return (
        snaps.withColumn("n_max", F.max("n_events").over(w))
        .filter(F.col("n_events") == F.col("n_max"))
        .select("user_id", "n_events", F.round("ewma", 6).alias("ewma"))
    )


def test_ewma_checkpoint_written_by_previous_commit_resumes(
    spark, tmp_path
):
    from binancedatapipelineinaws_spark.operators.analytics import (
        EWMA_ALPHA,
    )
    from binancedatapipelineinaws_spark.streaming import stateful as cur

    base = _base_stateful_module(tmp_path)
    b1, b2 = _split_events(spark)

    # upgrade path: batch 1 under the BASE commit's kernel
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    b1.write.mode("append").parquet(src)
    _run(spark, lambda s: base.ewma_stream(s, EWMA_ALPHA), src, out, ckpt)
    # deploy: batch 2 resumes the SAME checkpoint under CURRENT code
    b2.write.mode("append").parquet(src)
    _run(spark, lambda s: cur.ewma_stream(s, EWMA_ALPHA), src, out, ckpt)

    # continuous current-code reference
    src_c = str(tmp_path / "src_c")
    out_c = str(tmp_path / "out_c")
    b1.write.mode("append").parquet(src_c)
    b2.write.mode("append").parquet(src_c)
    _run(
        spark,
        lambda s: cur.ewma_stream(s, EWMA_ALPHA),
        src_c,
        out_c,
        str(tmp_path / "ckpt_c"),
    )

    got = _final_ewma(spark, out)
    want = _final_ewma(spark, out_c)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_sessionize_checkpoint_written_by_previous_commit_resumes(
    spark, tmp_path
):
    from binancedatapipelineinaws_spark.streaming import stateful as cur

    base = _base_stateful_module(tmp_path)
    b1, b2 = _split_events(spark)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    b1.write.mode("append").parquet(src)
    _run(spark, base.sessionize_stream, src, out, ckpt)
    b2.write.mode("append").parquet(src)
    _run(spark, cur.sessionize_stream, src, out, ckpt)

    src_c = str(tmp_path / "src_c")
    out_c = str(tmp_path / "out_c")
    b1.write.mode("append").parquet(src_c)
    b2.write.mode("append").parquet(src_c)
    _run(spark, cur.sessionize_stream, src_c, out_c, str(tmp_path / "ckpt_c"))

    got = spark.read.parquet(out)
    want = spark.read.parquet(out_c)
    assert got.count() == want.count()
    cols = ["event_id", "user_id", "session_idx", "user_event_seq"]
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0


# --- every stateful stream, resumed from the parent pin ----------------


def _split_ticks(spark):
    """Canonical ticks as two batches split at a minute boundary, so
    no minute's volume is summed across the two batches."""
    from binancedatapipelineinaws_spark.canonical import btcusdt

    minute = (F.unix_timestamp("time") / 60).cast("long")
    ticks = btcusdt(spark, SF).select("parameter", "bid", "quantity", "time")
    minutes = sorted(
        r[0] for r in ticks.select(minute).distinct().collect()
    )
    cut = minutes[len(minutes) // 2]
    return ticks.filter(minute < cut), ticks.filter(minute >= cut)


def _split_candles(spark):
    from binancedatapipelineinaws_spark.operators.indicators import (
        _candles_c,
    )

    import pyspark.sql.window as W

    candles = _candles_c(spark, SF).select("m", "high_c", "low_c", "close_c")
    n = candles.count()
    sliced = candles.withColumn(
        "rn", F.row_number().over(W.Window.orderBy("m"))
    )
    return (
        sliced.filter(F.col("rn") <= n // 2).drop("rn"),
        sliced.filter(F.col("rn") > n // 2).drop("rn"),
    )


def _split_docs(spark):
    """Documents by doc_id parity: every document lands whole in one
    batch, and each source spans both."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    even = F.col("doc_id") % 2 == 0
    return docs.filter(even), docs.filter(~even)


def _perplexity(mod, stream):
    from binancedatapipelineinaws_spark.functions.retrieval import (
        bigram_lm,
        bigram_rows,
    )

    docs = stream.sparkSession.read.parquet(f"{SF}/documents.parquet")
    lm = bigram_lm(bigram_rows(docs.select("doc_id", "text")))
    return mod.perplexity_bucket_stream(stream, lm)


def _latest(keys, by):
    """The rows of each key's highest `by` (a snapshot stream's final
    state, or an update stream's last emission)."""
    import pyspark.sql.window as W

    def pick(df):
        top = F.max(by).over(W.Window.partitionBy(*keys))
        return df.withColumn("_top", top).filter(F.col(by) == F.col("_top"))

    return pick


def _everything(df):
    return df


_CASES = {
    # stream: (split, build(module, stream), output mode, final rows)
    "rotation": (
        _split_ticks,
        lambda m, s: m.rotation_stream(s),
        "append",
        _everything,
    ),
    "sessionize": (
        _split_events,
        lambda m, s: m.sessionize_stream(s),
        "append",
        _everything,
    ),
    "gapband": (
        _split_events,
        lambda m, s: m.gapband_stream(s),
        "append",
        _everything,
    ),
    "attribution": (
        _split_events,
        lambda m, s: m.attribution_stream(s),
        "append",
        _everything,
    ),
    "heavy_hitters": (
        _split_events,
        lambda m, s: m.heavy_hitters_stream(s),
        "append",
        _latest(["shard"], "n_processed"),
    ),
    "ewma": (
        _split_events,
        lambda m, s: m.ewma_stream(s, EWMA_ALPHA),
        "append",
        _latest(["user_id"], "n_events"),
    ),
    "holt": (
        _split_events,
        lambda m, s: m.holt_stream(s, HOLT_ALPHA, HOLT_BETA),
        "append",
        _latest(["user_id"], "n_events"),
    ),
    "macd": (
        _split_candles,
        lambda m, s: m.macd_stream(s.select("m", "close_c")),
        "append",
        _latest(["day"], "n_bars"),
    ),
    "sar": (
        _split_candles,
        lambda m, s: m.sar_stream(s),
        "append",
        _latest(["day"], "n_bars"),
    ),
    "supertrend": (
        _split_candles,
        lambda m, s: m.supertrend_stream(s),
        "append",
        _latest(["day"], "n_bars"),
    ),
    "sentence_freq": (
        _split_docs,
        lambda m, s: m.sentence_freq_stream(s),
        "update",
        _latest(["s", "source"], "batch_id"),
    ),
    "perplexity_buckets": (
        _split_docs,
        _perplexity,
        "update",
        _latest(["source", "bucket"], "batch_id"),
    ),
}


@pytest.mark.parametrize("stream", list(_CASES))
def test_checkpoint_written_by_parent_commit_resumes(spark, tmp_path, stream):
    """Batch 1 under the parent pin's kernel, batch 2 resumed on the
    same checkpoint under the current one: the final state (or the
    full output) equals a continuous current-code run over both."""
    from binancedatapipelineinaws_spark.streaming import stateful as cur

    split, build, mode, final = _CASES[stream]
    parent = _base_stateful_module(tmp_path, _PARENT_FILE)
    b1, b2 = split(spark)

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    b1.write.mode("append").parquet(src)
    _run(spark, lambda s: build(parent, s), src, out, ckpt, mode)
    b2.write.mode("append").parquet(src)
    _run(spark, lambda s: build(cur, s), src, out, ckpt, mode)

    src_c, out_c = str(tmp_path / "src_c"), str(tmp_path / "out_c")
    b1.write.mode("append").parquet(src_c)
    b2.write.mode("append").parquet(src_c)
    _run(
        spark,
        lambda s: build(cur, s),
        src_c,
        out_c,
        str(tmp_path / "ckpt_c"),
        mode,
    )

    got_all, want_all = spark.read.parquet(out), spark.read.parquet(out_c)
    cols = [c for c in want_all.columns if c != "batch_id"]
    got = final(got_all).select(cols)
    want = final(want_all).select(cols)
    assert want.count() > 0
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
