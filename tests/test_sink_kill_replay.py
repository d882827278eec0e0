"""Kill-and-replay at each commit step of the two versioned table sinks.

A child process drains seeded files, one per micro-batch, through
`upsert_table_sink` (ticks, keyed by `bid`) or `merge_state_sink`
(events, keyed by `user_id`), and SIGKILLs its own process group, JVM
included, at one step of batch 2's commit:

- ``staged``: after the staged write, before the rename;
- ``renamed``: after the rename, before the old version is dropped;
- ``returned``: after the batch function returns, before ``commits/2``.

After the kill the table must read, with no duplicate key.  Restarting
on the same checkpoint must then leave it equal, both ways, to a clean
drain's table: no batch lost, none applied twice.
"""

from __future__ import annotations

import glob
import os
import signal
import subprocess
import sys

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.streaming.pipeline import (
    canonical_stream,
    merge_state_sink,
    read_sink_table,
    read_tick_stream,
    upsert_table_sink,
)
from perfbench.datagen import write_tick_files

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_FILES = 4  # one micro-batch per file
KILL_BATCH = 2
KEYS = {"upsert": "bid", "merge": "user_id"}

# the killed drain: a fresh interpreter and JVM in their own session,
# so one killpg ends both
_CHILD = """
import sys
sys.path[:0] = sys.argv[1:3]
from test_sink_kill_replay import drain, kill_at
kill_at(sys.argv[3])
from binancedatapipelineinaws_spark.session import get_spark
drain(get_spark("sink-kill-replay"), *sys.argv[4:7])
"""


def drain(spark, sink: str, src: str, out: str) -> None:
    """Every file of ``src`` through ``sink``, one file per micro-batch,
    into ``out/table`` with its checkpoint at ``out/ckpt``."""
    if sink == "upsert":
        q = upsert_table_sink(
            canonical_stream(read_tick_stream(spark, src, max_files_per_trigger=1)),
            f"{out}/table",
            f"{out}/ckpt",
        )
    else:
        events = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = merge_state_sink(events, f"{out}/table", f"{out}/ckpt")
    q.awaitTermination()
    assert q.exception() is None, q.exception()


def kill_at(step: str) -> None:
    """Make this process SIGKILL its own process group at ``step`` of
    batch KILL_BATCH's commit."""

    def die():
        os.killpg(0, signal.SIGKILL)

    if step == "returned":
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        foreach_batch = DataStreamWriter.foreachBatch

        def then_die(self, fn):
            def run(batch_df, batch_id):
                fn(batch_df, batch_id)
                if batch_id == KILL_BATCH:
                    die()

            return foreach_batch(self, run)

        DataStreamWriter.foreachBatch = then_die
        return

    rename = os.rename

    def rename_then_die(src, dst):
        committing = os.path.basename(dst) == f"v-{KILL_BATCH}"
        if committing and step == "staged":
            die()
        rename(src, dst)
        if committing and step == "renamed":
            die()

    os.rename = rename_then_die


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """Seeded input files per sink, their modification times one second
    apart so each run reads them in the same order."""
    ticks = str(tmp_path_factory.mktemp("ticks"))
    write_tick_files(ticks, 11, N_FILES, 300)
    events = str(tmp_path_factory.mktemp("events"))
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ev.repartitionByRange(N_FILES, "event_id").write.mode("overwrite").parquet(
        events
    )
    parts = sorted(glob.glob(f"{events}/part-*.parquet"))
    assert len(parts) == N_FILES
    for i, p in enumerate(parts):
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return {"upsert": ticks, "merge": events}


@pytest.fixture(scope="module")
def clean(spark, sources, tmp_path_factory):
    """Each sink's table after an uninterrupted drain."""
    out = {}
    for sink, src in sources.items():
        d = str(tmp_path_factory.mktemp(f"clean_{sink}"))
        drain(spark, sink, src, d)
        out[sink] = read_sink_table(spark, f"{d}/table")
    return out


@pytest.mark.parametrize("step", ["staged", "renamed", "returned"])
@pytest.mark.parametrize("sink", ["upsert", "merge"])
def test_kill_inside_commit_then_replay_equals_clean_drain(
    spark, sources, clean, tmp_path, sink, step
):
    killed = str(tmp_path / "killed")
    with open(tmp_path / "child.log", "wb") as log:
        child = subprocess.Popen(
            [sys.executable, "-c", _CHILD, REPO, os.path.dirname(__file__),
             step, sink, sources[sink], killed],
            cwd=tmp_path,
            env={**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEM": "1g"},
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    try:
        child.wait(timeout=300)
    finally:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    assert child.returncode == -signal.SIGKILL, (
        (tmp_path / "child.log").read_text()[-2000:]
    )

    # the kill landed where it was aimed
    table = f"{killed}/table"
    left = {
        "staged": ["_staging-2", "v-1"],
        "renamed": ["v-1", "v-2"],
        "returned": ["v-2"],
    }[step]
    assert sorted(os.listdir(table)) == left
    assert not os.path.exists(f"{killed}/ckpt/commits/{KILL_BATCH}")

    # the table reads, with one row per key
    key = KEYS[sink]
    now = read_sink_table(spark, table)
    assert now.count() > 0
    assert now.groupBy(key).count().filter(F.col("count") > 1).count() == 0

    # restart on the same checkpoint
    drain(spark, sink, sources[sink], killed)
    got, want = read_sink_table(spark, table), clean[sink]
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0, "rows beyond a clean drain"
    assert want.exceptAll(got).count() == 0, "rows missing after replay"
    assert sorted(os.listdir(table)) == [f"v-{N_FILES - 1}"]
