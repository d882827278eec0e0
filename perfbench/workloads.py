"""The benchmark's workloads.

Each workload runs in one driver process on ``local[nproc]`` with one
closed-loop client: the next op starts only when the previous one has
returned.  A run has three phases:

1. verify: every op once, checked against DuckDB over the same input
   (outside any timing);
2. warm-up: a fixed number of passes over the op list, identical on
   every commit, so the JIT has compiled the hot code before timing;
3. timed: a fixed number of passes over the op list, sized so they take
   about ``seconds`` on a quiet host; every op's result size is checked
   against the verified one.  In a traced run every second timed pass
   is traced.

A pass is the fixed amount of work a wall/CPU figure is taken over.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen, hostenv
from perfbench.stats import OpLog
from perfbench.trace import Tracer, cached_mb, job_counts

# query_mix: market-data ids from each family the analysts query --
# 1-minute candles, a moving-average window, an order-flow indicator
# (VPIN), the as-of join, two TPC-H-shaped multi-way joins (Q5, Q18), the
# canonical projection itself -- plus one LLM-pipeline id (TF-IDF) so the
# `functions` layer is on a measured path too.  Eight ids keep a pass
# near 6.5 s, so a run fits the cold verify pass, two warm-up passes and
# three timed passes (24 ops).
QUERY_MIX = (
    "q_agg_ohlcv_1min",
    "q_win_moving_avg",
    "q_ext_vpin",
    "q_join_asof",
    "q_ext_tpch_q5",
    "q_ext_tpch_q18",
    "q_canonicalize_btcusdt",
    "q_ext_tfidf",
)
# the shipped sf0.01 tables (TESTDATA.md), those the ids above read
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# two, not one: over five alternating runs of each, the run-to-run spread
# of wall_s was 0.12 with two and 0.32 with one (perfbench/README.md)
QUERY_WARMUP_PASSES = 2
QUERY_PASS_S = 6.5  # nominal: 20 s of measuring is 3 passes, 24 ops

# ingest_replay: 8 minute files of 4000 ticks, 4 files per trigger, so
# every micro-batch holds 16 k rows; a drain is 2 canonical batches and
# 3 candle batches (the last one closes the final windows)
TICK_MINUTES = 8
TICKS_PER_MINUTE = 4000
FILES_PER_TRIGGER = 4
INGEST_WARMUP_PASSES = 1  # after the verify drain
INGEST_PASS_S = 3.8  # nominal: 20 s of measuring is 5 drains, 25 ops
WATERMARK_S = 120  # streaming.pipeline.ohlcv_stream's default delay


@dataclass
class Timed:
    """What a timed phase measured."""

    log: OpLog = field(default_factory=OpLog)
    pass_wall_s: list[float] = field(default_factory=list)
    pass_cpu_s: list[float] = field(default_factory=list)
    pass_jit_s: list[float] = field(default_factory=list)
    traced_wall_s: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def phase(self, name: str, t0: float) -> None:
        self.detail.setdefault("phase_s", {})[name] = round(time.perf_counter() - t0, 2)


def layer_of(fn) -> str:
    """The engine layer a registered query lives in: the package
    sub-module (``operators``, ``functions``) or top module
    (``canonical``)."""
    return fn.__module__.split(".")[1]


def timed_passes(seconds: float, pass_s: float) -> int:
    """The fixed number of timed passes for ``seconds`` of measuring at
    the nominal pass time ``pass_s`` (quiet 4-CPU host): the work, and
    so the sample count behind every percentile, is the same in every
    run whatever the host's pace."""
    return max(3, round(seconds / pass_s))


def run_passes(n: int, run_pass, traced: bool, out: Timed) -> None:
    """``n`` timed passes.  In a traced run every second pass is traced,
    so the tracing overhead is measured against the untraced passes of
    the same process."""
    for k in range(n):
        trace_this = traced and k % 2 == 1
        c0, j0, t0 = hostenv.tree_cpu_s(), hostenv.jit_cpu_s(), time.perf_counter()
        run_pass(k, trace_this)
        wall = time.perf_counter() - t0
        if trace_this:
            out.traced_wall_s.append(wall)
        else:
            # the JIT compiler threads' CPU is left out: it is warm-up
            # work whose timing varies from process to process
            jit = hostenv.jit_cpu_s() - j0
            out.pass_wall_s.append(wall)
            out.pass_jit_s.append(jit)
            out.pass_cpu_s.append(hostenv.tree_cpu_s() - c0 - jit)


def warm_up_and_time(run_pass, warmup_passes: int, timed: int, traced: bool, out: Timed) -> None:
    """The fixed warm-up, then the timed passes.  Warm-up failures are
    failed ops too."""
    t0 = time.perf_counter()
    warm = OpLog()
    for k in range(warmup_passes):
        run_pass(-1 - k, False, warm)
    for reason in warm.failures:
        out.log.fail(reason)
    out.phase("warmup", t0)
    t0 = time.perf_counter()
    run_passes(timed, lambda k, t: run_pass(k, t, out.log), traced, out)
    out.phase("timed", t0)


def check_op(log: OpLog, op_id: str, ms: float, rows: int, expected_rows: int) -> None:
    """Count one finished op: a row count other than the verified one
    makes it a failed op."""
    if rows != expected_rows:
        log.fail(f"{op_id}: {rows} rows, verified {expected_rows}")
    else:
        log.ok(ms)


def timed_op(log: OpLog, op_id: str, expected_rows: int, action) -> None:
    """Time ``action()``, which returns the op's result row count.  An
    exception is a failed op."""
    t0 = time.perf_counter()
    try:
        rows = action()
    except Exception as e:  # noqa: BLE001 - the loop must go on and count it
        log.fail(f"{op_id}: {type(e).__name__}: {str(e)[:200]}")
        return
    check_op(log, op_id, (time.perf_counter() - t0) * 1000.0, rows, expected_rows)


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------


def query_mix(spark, work: str, seed: int, seconds: float, traced: bool) -> Timed:
    import duckdb
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from binancedatapipelineinaws_spark.registry import all_specs
    from binancedatapipelineinaws_spark.session import persist_scope
    from tools import check_oracle

    t0 = time.perf_counter()
    data = DATA_DIR
    order = np.random.default_rng([seed, 3]).permutation(len(QUERY_MIX))
    ids = [QUERY_MIX[i] for i in order]
    specs = all_specs()
    out = Timed()
    out.detail["ids"] = ids

    # 1. verify each id once against its DuckDB oracle
    check_oracle.SF_DIR = data
    con = duckdb.connect()
    con.execute(f"SET threads TO {hostenv.cpus()}")
    con.execute("SET memory_limit='1GB'")
    for t in check_oracle.TABLES:
        if not os.path.exists(f"{data}/{t}.parquet"):
            continue  # read by no id of the mix
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    verified: dict[str, int] = {}
    for qid in ids:
        try:
            with persist_scope():
                status, nrows, msg = check_oracle.run_one(spark, con, qid, specs[qid])
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            status, nrows, msg = "ERROR", -1, f"{type(e).__name__}: {str(e)[:300]}"
        if status != "OK":
            out.log.fail(f"{qid}: oracle {status}: {msg}")
        verified[qid] = nrows
    con.close()
    out.phase("verify", t0)
    if out.log.failed:
        return out

    sc = spark.sparkContext
    tracer = Tracer()
    per_op: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    groups: dict[str, tuple[str, str]] = {}  # job group -> (layer, qid)
    cached_peak = [0.0]

    def run_pass(k: int, trace_this: bool, log: OpLog) -> None:
        for qid in ids:
            fn = specs[qid].fn
            op_id = f"{qid}#{k}"
            span = tracer.span if trace_this else (lambda *_: nullcontext())

            def action() -> int:
                if trace_this:
                    sc.setJobGroup(op_id, qid)
                    groups[op_id] = (layer_of(fn), qid)
                with span("op", op_id), persist_scope():
                    with span("build", op_id):
                        df = fn(spark, data)
                    obs = Observation()
                    with span("exec", op_id):
                        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                            "noop"
                        ).mode("overwrite").save()
                        rows = obs.get["rows"]
                    if trace_this:
                        cached_peak[0] = max(cached_peak[0], cached_mb(spark))
                if trace_this:
                    for key, v in job_counts(sc, op_id).items():
                        per_op[op_id][key] = v
                return rows

            timed_op(log, op_id, verified[qid], action)
        if trace_this:
            sc.setJobGroup("", "")

    warm_up_and_time(
        run_pass, QUERY_WARMUP_PASSES, timed_passes(seconds, QUERY_PASS_S), traced, out
    )

    if traced:
        by_layer: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        for s in tracer.spans:
            if s.name in ("build", "exec"):
                by_layer[groups[s.op_id][0]][f"{s.name}_ms"].append(s.ms)
        out.detail["spans"] = tracer
        out.detail["groups"] = groups
        out.detail["per_op"] = per_op
        out.layers["session.cached_mb_peak"] = cached_peak[0]
        for layer, d in by_layer.items():
            for key, xs in d.items():
                out.layers[f"{layer}.{key}"] = statistics.median(xs)
    return out


# --------------------------------------------------------------------------
# ingest_replay
# --------------------------------------------------------------------------


def _drain(spark, src: str, pass_dir: str) -> tuple[list[dict], list[dict]]:
    """One pass of the reference ingest: the tick files through
    read_tick_stream -> canonical_stream -> table_append_sink, then the
    same stream through ohlcv_stream into a table sink (watermark state
    on the path).  Returns both queries' progress records."""
    from binancedatapipelineinaws_spark.streaming.pipeline import (
        canonical_stream,
        ohlcv_stream,
        read_tick_stream,
        table_append_sink,
    )

    table, candles = f"{pass_dir}/table", f"{pass_dir}/candles"
    progress = []
    for sink_dir, shape in ((table, canonical_stream), (candles, lambda t: ohlcv_stream(canonical_stream(t)))):
        ticks = read_tick_stream(spark, src, max_files_per_trigger=FILES_PER_TRIGGER)
        q = table_append_sink(shape(ticks), sink_dir, f"{sink_dir}_ckpt")
        q.awaitTermination()
        err = q.exception()
        if err is not None:
            raise RuntimeError(f"streaming query failed: {err}")
        progress.append([dict(p) for p in q.recentProgress])
    return progress[0], progress[1]


def _watermark(progress: list[dict]) -> datetime:
    wm = progress[-1]["eventTime"]["watermark"]
    return datetime.strptime(wm, "%Y-%m-%dT%H:%M:%S.%fZ")


def _check_ingest(spark, con, pass_dir: str, cand_progress: list[dict]) -> list[str]:
    """Row conservation and candle counts against DuckDB over the same
    TSV files.  Returns the problems found."""
    from binancedatapipelineinaws_spark.canonical import BTCUSDT_CTE, TICKS_CTE
    from tools.check_oracle import normalize

    btc = "WITH ticks AS (SELECT * FROM wire)" + BTCUSDT_CTE[len(TICKS_CTE):]
    problems = []
    res = con.execute(btc + "SELECT * FROM btcusdt")
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()
    got_df = spark.read.parquet(f"{pass_dir}/table")
    got = [tuple(r) for r in got_df.collect()]
    if len(got) != len(want):
        problems.append(f"canonical table: {len(got)} rows, DuckDB {len(want)}")
    elif normalize(got, got_df.columns) != normalize(want, want_cols):
        problems.append("canonical table rows differ from DuckDB")

    # Closed minutes: window end at or below the final watermark.  A
    # tick can be dropped as late only if it is older than the start of
    # the minute file it arrived in minus the watermark delay.
    wm = _watermark(cand_progress)
    rows = con.execute(
        f"""SELECT make_timestamp((trade_time_ms // 1000 // 60) * 60000000) AS m,
                   count(*) AS n,
                   count(*) FILTER (WHERE trade_time_ms // 1000 < file_s - {WATERMARK_S})
               FROM wire GROUP BY m"""
    ).fetchall()
    duck = {m: (n, d) for m, n, d in rows}
    max_time = con.execute(btc + "SELECT max(\"time\") FROM btcusdt").fetchone()[0]
    if wm != max_time - timedelta(seconds=WATERMARK_S):
        problems.append(f"final watermark {wm}, DuckDB max time {max_time} - {WATERMARK_S}s")
    emitted = {r["minute_start"]: r["trades"] for r in spark.read.parquet(f"{pass_dir}/candles").collect()}
    must = {m for m in duck if m + timedelta(minutes=1) < wm}
    may = {m for m in duck if m + timedelta(minutes=1) <= wm}
    if not (must <= set(emitted) <= may):
        problems.append(f"{len(emitted)} candles emitted, DuckDB closed minutes {len(must)}..{len(may)}")
    for m, n in emitted.items():
        dn, may_drop = duck.get(m, (0, 0))
        if not dn - may_drop <= n <= dn:
            problems.append(f"candle {m}: {n} trades, DuckDB {dn} ({may_drop} droppable)")
            break
    return problems


def _sink_files(path: str) -> list[str]:
    """The parquet files a file sink wrote under ``path`` (not its
    ``_spark_metadata`` log)."""
    out = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return out


def _sink_rows(path: str) -> int:
    """Rows in a file sink's output, from the parquet footers: no Spark
    job, so checking a timed drain adds next to nothing to its time."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _sink_files(path))


def ingest_replay(spark, work: str, seed: int, seconds: float, traced: bool) -> Timed:
    import duckdb

    t0 = time.perf_counter()
    src = os.path.join(work, "ticks")
    paths = datagen.write_tick_files(src, seed, TICK_MINUTES, TICKS_PER_MINUTE)
    in_bytes = sum(os.path.getsize(p) for p in paths)
    out = Timed()
    con = duckdb.connect()
    con.execute(f"SET threads TO {hostenv.cpus()}")
    cols = (
        "{'trade_id': 'BIGINT', 'symbol': 'VARCHAR', 'price_str': 'VARCHAR', "
        "'qty_str': 'VARCHAR', 'trade_time_ms': 'BIGINT', 'is_buyer_maker': 'BOOLEAN'}"
    )
    # the wire columns plus the epoch second of the minute file a tick came in
    con.execute(
        f"CREATE VIEW wire AS SELECT *, CAST(regexp_extract(filename, '(\\d+)\\.tsv$', 1) "
        f"AS BIGINT) AS file_s FROM read_csv('{src}/*.tsv', delim='\\t', header=false, "
        f"columns={cols}, filename=true)"
    )

    # 1. verify one drain against DuckDB
    passes = [0]

    def drain() -> tuple[list[dict], list[dict], str]:
        passes[0] += 1
        pass_dir = os.path.join(work, f"pass{passes[0]}")
        return (*_drain(spark, src, pass_dir), pass_dir)

    try:
        canon_p, cand_p, pass_dir = drain()
        problems = _check_ingest(spark, con, pass_dir, cand_p)
        want_candles = _sink_rows(f"{pass_dir}/candles")
    except Exception as e:  # noqa: BLE001 - reported as a failed check
        problems = [f"{type(e).__name__}: {str(e)[:300]}"]
    con.close()
    out.phase("verify", t0)
    for p in problems:
        out.log.fail(f"verify: {p}")
    if problems:
        return out
    shutil.rmtree(pass_dir)
    want_batches = [[p["numInputRows"] for p in canon_p], [p["numInputRows"] for p in cand_p]]
    want_table = sum(want_batches[0])

    layer_samples: dict[str, list[float]] = defaultdict(list)
    groups: dict[str, tuple[str, str]] = {}

    def run_pass(k: int, trace_this: bool, log: OpLog) -> None:
        try:
            canon, cand, pass_dir = drain()
        except Exception as e:  # noqa: BLE001 - the loop must go on and count it
            log.fail(f"drain#{k}: {type(e).__name__}: {str(e)[:200]}")
            return
        for qi, (progress, want) in enumerate(((canon, want_batches[0]), (cand, want_batches[1]))):
            for b, p in enumerate(progress):
                op_id = f"drain#{k}/q{qi}/batch{b}"
                exp = want[b] if b < len(want) else -1
                check_op(log, op_id, p["durationMs"]["triggerExecution"], p["numInputRows"], exp)
            if len(progress) != len(want):
                log.fail(f"drain#{k}/q{qi}: {len(progress)} batches, verified {len(want)}")
        n_table, n_candles = _sink_rows(f"{pass_dir}/table"), _sink_rows(f"{pass_dir}/candles")
        if (n_table, n_candles) != (want_table, want_candles):
            log.fail(f"drain#{k}: table {n_table}/{want_table} rows, {n_candles}/{want_candles} candles")
        if trace_this:
            _stream_layers(layer_samples, canon, cand, pass_dir, len(paths), in_bytes)
            # micro-batch jobs run under the query's run id as job group
            for p in canon + cand:
                groups[str(p["runId"])] = ("streaming", f"drain#{k}")
        shutil.rmtree(pass_dir)

    warm_up_and_time(
        run_pass, INGEST_WARMUP_PASSES, timed_passes(seconds, INGEST_PASS_S), traced, out
    )
    out.detail["batches_per_pass"] = [len(w) for w in want_batches]
    out.detail["groups"] = groups
    for key, xs in layer_samples.items():
        out.layers[key] = statistics.median(xs)
    return out


def _stream_layers(acc, canon, cand, pass_dir, n_files, in_bytes) -> None:
    """Per-layer samples of one traced drain, from the progress records
    and the sink directories."""
    both = canon + cand
    acc["streaming.batches"].append(len(both))
    acc["streaming.rows_in"].append(sum(p["numInputRows"] for p in both))
    for phase in ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch"):
        acc[f"streaming.{phase}_ms"].extend(p["durationMs"].get(phase, 0) for p in both)
    acc["canonical.exec_ms"].extend(p["durationMs"].get("addBatch", 0) for p in canon)
    ops = [p["stateOperators"][0] for p in cand if p.get("stateOperators")]
    acc["streaming.state_rows"].append(max((o["numRowsTotal"] for o in ops), default=0))
    acc["streaming.state_mb"].append(max((o["memoryUsedBytes"] for o in ops), default=0) / 1e6)
    acc["streaming.late_rows_dropped"].append(sum(o["numRowsDroppedByWatermark"] for o in ops))
    acc["sources.files_in"].append(2 * n_files)
    acc["sources.bytes_in"].append(2 * in_bytes)
    files = _sink_files(f"{pass_dir}/table") + _sink_files(f"{pass_dir}/candles")
    files_out, bytes_out = len(files), sum(os.path.getsize(f) for f in files)
    acc["sink.files_out"].append(files_out)
    acc["sink.bytes_out"].append(bytes_out)
    acc["sink.bytes_per_in_byte"].append(bytes_out / (2 * in_bytes))


def add_event_log_layers(out: Timed, event_log_dir: str) -> None:
    """Per-pass totals of the traced ops' job/stage/task counts and task
    metrics, summed by layer (``tables.input_mb`` over every layer: it
    is the parquet scans')."""
    from perfbench.trace import event_log_by_group

    by_group = event_log_by_group(event_log_dir)
    per_op = out.detail.get("per_op", {})
    totals: dict[str, float] = defaultdict(float)
    for group, (layer, _) in out.detail.get("groups", {}).items():
        m = by_group.get(group, {})
        for key in ("shuffle_write_mb", "spill_mb", "gc_ms", "executor_cpu_s", "tasks_failed"):
            totals[f"{layer}.{key}"] += m.get(key, 0.0)
        if layer != "streaming":  # streaming reads are the TSV source's
            totals["tables.input_mb"] += m.get("input_mb", 0.0)
        for key, v in per_op.get(group, {}).items():
            totals[f"{layer}.{key}"] += v
    n = max(1, len(out.traced_wall_s))
    for key, v in totals.items():
        out.layers[key] = v / n
