"""SparkSession factory and the engine's one session contract.

Local mode is the test harness; the configs are chosen to also be the
right defaults on a large cluster: AQE on (runtime join re-planning,
skew-join splitting, partition coalescing), UTC session timezone
(parity with the reference's naive second-granularity timestamps,
main.py:56), Arrow enabled for the Pandas-UDF slow path, and streaming
checkpoints written through ``FileSystem.create`` + ``rename``: Hadoop's
default ``FileContext`` rename stats both paths through ``readlink``
processes when ``libhadoop`` is absent (as in a pip-installed PySpark).
The generated-code class cache holds ``CODEGEN_CACHE_ENTRIES`` classes,
not Spark's 100: the registry's working set is thousands of classes,
and a cache smaller than one repeated pass evicts each class before it
is needed again, so every query would recompile its code with Janino.

The runtime contract every query assumes is ``_SESSION_CONTRACT``.
``get_spark`` bakes it into the sessions it builds, and ``prepare``
applies it to a session built elsewhere; ``__spark_entry__`` calls
``prepare`` where a foreign session enters.  Query builders write no
session state of their own.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


# The runtime confs every query assumes.  Timezone matters most: every
# epoch<->timestamp query assumes UTC, matching DuckDB's naive
# timestamps.  nanosAsLong lets the parquet reader open TIMESTAMP(NANOS)
# columns (as longs; ``tables._events_ts_as_timestamp`` truncates them
# to micros).
_SESSION_CONTRACT = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


# Spark's generated-code class cache (``spark.sql.codegen.cache.maxEntries``,
# a static JVM-wide conf; the default is 100).  Measured at sf0.01, one
# session building every registered id and writing it to noop, two passes:
# at 4096 the first pass compiles 3,273 distinct classes and the second 79.
# At 100 an id evicts its own classes mid-query, so both passes compile
# about 4,480 (the second 147 s against 123 s).  The query_mix ids alone
# compile about 110 a pass, just over 100.  The larger cache holds about
# 26 MB more Metaspace (231 MB against 205 MB).  4096 leaves room above
# the 3,273 for ids added later.
CODEGEN_CACHE_ENTRIES = 4096


def mem_total_kb(meminfo: str = "/proc/meminfo") -> int | None:
    """Physical memory in KiB (``MemTotal``), or None when unreadable."""
    try:
        with open(meminfo) as fh:
            return next(
                int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return None


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """About 60% of physical memory, capped at 24g (24g when
    ``MemTotal`` can't be read)."""
    kb = mem_total_kb(meminfo)
    if kb is None:
        return "24g"
    return f"{min(24 * 1024, kb * 6 // 10240)}m"


def get_spark(
    app_name: str = "binance-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # default: the CPUs this process may run on (what ``nproc`` prints)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=_SESSION_CONTRACT)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(),
        )
        # static conf (fixed at context creation): the oracle gate
        # collects FULL results by design, and at sf10 a 10M-row window
        # query serializes >1 GiB of task results — the 1g default
        # aborted q_win_rolling_corr's 60M-row compare.  On a real
        # cluster this bounds driver-side collects the same way.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_MAX_RESULT", "16g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # FileContext's renameInternal is itself stat-dst-then-rename on
        # this same ChecksumFileSystem: same files and .crc, no readlink.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                os.environ.get("TMPDIR", "/tmp"), "spark_graft_warehouse"
            ),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prepare(spark: SparkSession) -> SparkSession:
    """Idempotently apply the session contract to a session we did not
    create (the driver hands us one).  Query builders never call this:
    it runs once where a foreign session enters.  Static confs such as
    the codegen cache size cannot be set on a running session, so a
    foreign session entering through ``__spark_entry__`` keeps its own
    driver's cache size."""
    for key, value in _SESSION_CONTRACT.items():
        spark.conf.set(key, value)
    return spark


# --- persist lifecycle (ADVICE r12 item 3) ----------------------------------
# Query builders persist intermediates their plan reuses (LSH
# signatures, edge lists, ...) but cannot unpersist them: the builder
# returns a LAZY DataFrame and unpersisting before the caller's action
# would just force a recompute.  Long multi-id runs in ONE session
# (the sweep's 30-id chunks, the pytest parity replica) would therefore
# accumulate cached blocks without a bound.  scoped_persist + the
# persist_scope context manager close that loop mechanically: the
# runner opens a scope per id, builders register what they persist, and
# the scope unpersists everything once the id's action has completed.
# Outside any scope (ad-hoc notebook use) scoped_persist degrades to a
# plain persist().

_PERSIST_SCOPE = threading.local()


def scoped_persist(df: DataFrame) -> DataFrame:
    """persist() that registers the frame with the innermost
    persist_scope on this thread (no-op registration outside one)."""
    df = df.persist()
    frames = getattr(_PERSIST_SCOPE, "frames", None)
    if frames is not None:
        frames.append(df)
    return df


@contextmanager
def persist_scope() -> Iterator[None]:
    """Unpersist every scoped_persist()-ed frame on exit.  Safe to
    nest (each scope only releases its own frames) and safe per
    thread (thread-local), so the gate's 4-way ThreadPool cannot
    release a sibling id's in-flight cache."""
    prev = getattr(_PERSIST_SCOPE, "frames", None)
    _PERSIST_SCOPE.frames = []
    try:
        yield
    finally:
        frames, _PERSIST_SCOPE.frames = _PERSIST_SCOPE.frames, prev
        for df in frames:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — best-effort release
                pass
