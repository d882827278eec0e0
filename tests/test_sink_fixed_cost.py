"""Per-micro-batch fixed cost the streaming sinks must not pay.

- Processes: without ``libhadoop`` (a pip-installed PySpark has none),
  Hadoop's local file system runs a shell command for some file
  operations.  A checkpoint rename through the ``FileContext`` manager
  stats both paths with ``readlink`` processes; ``session.get_spark``
  picks the ``FileSystem`` manager, which spawns none.  A child driver
  drains seeded files with counting shims first on its PATH.
- Jobs: a versioned table sink reads its live version with the merge's
  schema pinned, so the read runs no schema-inference job.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from conftest import spawn_counts, spawn_shims
from pyspark.sql.readwriter import DataFrameReader
from test_sink_kill_replay import N_FILES
from test_sink_kill_replay import drain as drain_versioned
from test_sink_kill_replay import sources  # noqa: F401 - fixture

from binancedatapipelineinaws_spark.streaming.pipeline import (
    canonical_stream,
    ohlcv_stream,
    read_sink_table,
    read_tick_stream,
    table_append_sink,
    upsert_table_sink,
)
from perfbench.datagen import write_tick_files
from perfbench.workloads import FILES_PER_TRIGGER, TICK_MINUTES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import sys
sys.path[:0] = sys.argv[1:3]
from test_sink_fixed_cost import drain
from binancedatapipelineinaws_spark.session import get_spark
drain(get_spark("sink-fixed-cost"), *sys.argv[3:5])
"""


def drain(spark, src: str, out: str) -> None:
    """The benchmark's drain shape (canonical table, then candles, each
    a table append) plus the upsert sink, one query after another."""

    def ticks():
        return canonical_stream(
            read_tick_stream(spark, src, max_files_per_trigger=FILES_PER_TRIGGER)
        )

    for start in (
        lambda: table_append_sink(ticks(), f"{out}/table", f"{out}/table_ckpt"),
        lambda: table_append_sink(
            ohlcv_stream(ticks()), f"{out}/candles", f"{out}/candles_ckpt"
        ),
        lambda: upsert_table_sink(ticks(), f"{out}/upsert", f"{out}/upsert_ckpt"),
    ):
        q = start()
        q.awaitTermination()
        assert q.exception() is None, q.exception()


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_a_drain_spawns_no_readlink(spark, tmp_path):
    src = str(tmp_path / "ticks")
    write_tick_files(src, 31, TICK_MINUTES, 300)
    log = str(tmp_path / "spawns.log")
    env = spawn_shims(str(tmp_path / "bin"), log)
    shimmed = str(tmp_path / "shimmed")
    with open(tmp_path / "child.log", "wb") as out:
        child = subprocess.run(
            [sys.executable, "-c", _CHILD, REPO, os.path.dirname(__file__),
             src, shimmed],
            cwd=tmp_path,
            env={**env, "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEM": "1g"},
            stdout=out,
            stderr=subprocess.STDOUT,
            timeout=600,
        )
    assert child.returncode == 0, (tmp_path / "child.log").read_text()[-2000:]
    spawned = spawn_counts(log)
    # the shims see the JVM's spawns: local creates still run chmod
    assert spawned["chmod"] > 0, dict(spawned)
    assert spawned["readlink"] == 0, dict(spawned)

    clean = str(tmp_path / "clean")
    drain(spark, src, clean)
    for name in ("table", "candles"):
        want = _rows(spark.read.parquet(f"{clean}/{name}"))
        assert want and _rows(spark.read.parquet(f"{shimmed}/{name}")) == want, name
    want = _rows(read_sink_table(spark, f"{clean}/upsert"))
    assert want and _rows(read_sink_table(spark, f"{shimmed}/upsert")) == want


@pytest.mark.parametrize("sink", ["upsert", "merge"])
def test_a_batch_reads_the_live_version_without_a_job(
    spark, sources, tmp_path, monkeypatch, sink  # noqa: F811 - fixture
):
    """Every read of a ``v-*`` version runs under a job group of its
    own, read back from the status tracker after the drain."""
    sc = spark.sparkContext
    parquet = DataFrameReader.parquet
    groups = []

    def tagged(self, *paths, **options):
        if not os.path.basename(paths[0]).startswith("v-"):
            return parquet(self, *paths, **options)
        group = f"sink-read-{sink}-{len(groups)}"
        groups.append(group)
        # the batch function's calls run on the stream's own thread
        before = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return parquet(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", before)

    monkeypatch.setattr(DataFrameReader, "parquet", tagged)
    drain_versioned(spark, sink, sources[sink], str(tmp_path))
    monkeypatch.undo()
    # every batch after the first reads the version before it
    assert len(groups) == N_FILES - 1
    jobs = {g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups}
    assert sum(jobs.values()) == 0, jobs
