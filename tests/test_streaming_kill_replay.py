"""Kill-and-replay for the reference's own ingest.

Seeded minute tick files (late, out-of-order and duplicate-id ticks)
drain through read_tick_stream -> canonical_stream -> table_append_sink
and, on the same file stream, ohlcv_stream into a second table sink.  A
subprocess runs that drain and is SIGKILLed, its JVM with it, once the
canonical query has committed its second micro-batch.  Restarting both
queries on the same checkpoints must leave the canonical table and the
closed candles equal, row for row, to a clean drain's: no batch lost,
none applied twice.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

from binancedatapipelineinaws_spark.streaming.pipeline import (
    canonical_stream,
    ohlcv_stream,
    read_tick_stream,
    table_append_sink,
)
from perfbench.datagen import write_tick_files

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_FILES = 10  # one micro-batch per file: max_files_per_trigger=1

# the killed drain: a fresh interpreter and JVM in their own session,
# so one killpg ends both
_CHILD = """
import sys
sys.path[:0] = sys.argv[1:3]
from binancedatapipelineinaws_spark.session import get_spark
from test_streaming_kill_replay import drain
drain(get_spark("kill-replay"), sys.argv[3], sys.argv[4])
"""


def drain(spark, src: str, out: str) -> None:
    """Both ingest queries over ``src``, into ``out/table`` and
    ``out/candles`` with checkpoints beside them; returns once both
    have drained every file."""
    queries = [
        table_append_sink(
            shape(canonical_stream(read_tick_stream(spark, src, max_files_per_trigger=1))),
            f"{out}/{name}",
            f"{out}/{name}_ckpt",
        )
        for name, shape in (("table", lambda c: c), ("candles", ohlcv_stream))
    ]
    for q in queries:
        q.awaitTermination()
        assert q.exception() is None, q.exception()


def test_kill_mid_drain_then_replay_equals_clean_drain(spark, tmp_path):
    src = str(tmp_path / "ticks")
    write_tick_files(src, 5, N_FILES, 500)
    killed, clean = str(tmp_path / "killed"), str(tmp_path / "clean")

    with open(tmp_path / "child.log", "wb") as log:
        child = subprocess.Popen(
            [sys.executable, "-c", _CHILD, REPO, os.path.dirname(__file__), src, killed],
            cwd=tmp_path,
            env={**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEM": "1g"},
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    second_commit = f"{killed}/table_ckpt/commits/1"
    try:
        deadline = time.monotonic() + 300
        while not os.path.exists(second_commit):
            assert child.poll() is None, (tmp_path / "child.log").read_text()[-2000:]
            assert time.monotonic() < deadline, "no second commit within 300 s"
            time.sleep(0.02)
    finally:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    # the kill landed mid-drain: the last file's batch was not committed
    assert not os.path.exists(f"{killed}/table_ckpt/commits/{N_FILES - 1}")

    drain(spark, src, killed)  # restart on the killed run's checkpoints
    drain(spark, src, clean)
    for name in ("table", "candles"):
        got = spark.read.parquet(f"{killed}/{name}")
        want = spark.read.parquet(f"{clean}/{name}")
        assert want.count() > 0
        assert got.exceptAll(want).count() == 0, f"{name}: rows beyond a clean drain"
        assert want.exceptAll(got).count() == 0, f"{name}: rows missing after replay"
