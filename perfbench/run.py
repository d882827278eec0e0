"""Benchmark of the engine's ingest path and query surface.

    python3 perfbench/run.py --workload {ingest_replay,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Makes the workload's inputs from the seed
(tick files under ``.perfbench_work/``, or the order of the query ids
over the shipped tables in ``perfbench/data``), starts the engine in
this process on ``local[nproc]``, verifies results against DuckDB, warms
up, then measures whole passes over the workload's ops for ``--seconds``.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the end-to-end metrics when ``--trace 0`` and the per-layer
metrics when ``--trace 1``.  The line before it is a record of the run
environment, host interference, the tail percentile and its sample
count, and (traced) the per-op numbers.  Exit status: 0 when every check
passed, 1 when a result was wrong or the run failed, 2 when the engine
package cannot be imported (no result line then).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from perfbench import hostenv, workloads  # noqa: E402

WORKLOADS = {
    "ingest_replay": workloads.ingest_replay,
    "query_mix": workloads.query_mix,
}

END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_ms_p50", "ms"),
    ("op_ms_tail", "ms"),
    ("cpu_s", "s"),
    ("ok_ratio", "ratio"),
)

_LAYER_OPS = (
    ("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"), ("stages", "count"),
    ("tasks", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("gc_ms", "ms"), ("executor_cpu_s", "s"), ("tasks_failed", "count"),
)
PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.load_s", "s"),
    ("session.cached_mb_peak", "MB"),
    ("streaming.batches", "count"),
    ("streaming.rows_in", "count"),
    ("streaming.latestOffset_ms", "ms"),
    ("streaming.getBatch_ms", "ms"),
    ("streaming.queryPlanning_ms", "ms"),
    ("streaming.walCommit_ms", "ms"),
    ("streaming.commitOffsets_ms", "ms"),
    ("streaming.addBatch_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
    ("streaming.late_rows_dropped", "count"),
    ("streaming.tasks_failed", "count"),
    ("sources.files_in", "count"),
    ("sources.bytes_in", "bytes"),
    ("sink.files_out", "count"),
    ("sink.bytes_out", "bytes"),
    ("sink.bytes_per_in_byte", "ratio"),
    ("canonical.exec_ms", "ms"),
    ("canonical.tasks_failed", "count"),
    ("tables.input_mb", "MB"),
    *((f"operators.{k}", u) for k, u in _LAYER_OPS),
    *((f"functions.{k}", u) for k, u in _LAYER_OPS),
    ("trace.overhead_s", "s"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def end_to_end(setup_s: float, t: workloads.Timed) -> tuple[dict[str, float], dict]:
    # a failed op sorts as +inf; if one lands on a reported rank, report
    # the whole timed phase instead (no op took longer than that)
    phase_ms = 1000.0 * sum(t.pass_wall_s)
    p50 = t.log.p50()
    tail, pct, n = t.log.tail()
    values = {
        "setup_s": setup_s,
        "wall_s": statistics.median(t.pass_wall_s),
        "op_ms_p50": p50 if p50 != float("inf") else phase_ms,
        "op_ms_tail": tail if tail != float("inf") else phase_ms,
        "cpu_s": statistics.median(t.pass_cpu_s),
        "ok_ratio": 1.0 - t.log.fail_ratio(),
    }
    return values, {
        "tail_percentile": pct,
        "tail_samples": n,
        "pass_wall_s": [round(w, 3) for w in t.pass_wall_s],
        "pass_jit_cpu_s": [round(j, 2) for j in t.pass_jit_s],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = hostenv.pinned_env(work)
    if any(os.environ.get(k) != v for k, v in env.items()):
        # PYTHONHASHSEED only takes effect at interpreter start: re-exec
        # (same pid, so the same work dir) with the pinned environment
        os.environ.update(env)
        os.execv(sys.executable, [sys.executable, *sys.argv])
    # a terminated run still stops Spark, its JVM and every other
    # process it started, and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    hostenv.become_subreaper()
    os.makedirs(env["TMPDIR"], exist_ok=True)
    event_log = os.path.join(work, "events") if args.trace else None
    hostenv.write_spark_conf(env["SPARK_CONF_DIR"], env["TMPDIR"], event_log)
    steal0, load0 = hostenv.steal_ticks(), hostenv.load_avg()
    try:
        return _run(args, work, env, event_log, steal0, load0)
    finally:
        stop_jvm()
        hostenv.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm(timeout_s: float = 30.0) -> None:
    """End the driver JVM and wait for it.  ``spark.stop()`` leaves the
    JVM running until it reads end-of-file on its stdin, which would
    otherwise only come when this process exits, and then nothing waits
    for it."""
    try:
        from pyspark import SparkContext
    except ImportError:  # no engine was started
        return
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run(args, work, env, event_log, steal0, load0) -> int:
    try:
        from binancedatapipelineinaws_spark import registry, session
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    t1 = time.perf_counter()
    registry.queries()
    t2 = time.perf_counter()
    setup_s = t2 - T_START

    try:
        timed = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, bool(args.trace))
    finally:
        spark.stop()
    measured = bool(timed.pass_wall_s)  # verification passed, passes ran
    correct = measured and timed.log.failed == 0

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "PYTHONHASHSEED", "TZ")}
        | {"SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT), "jvm": hostenv.JVM_OPTS},
        # diagnosis only: never a metric, never a reason to drop a run
        "host": {"steal_ticks": hostenv.steal_ticks() - steal0, "loadavg_start": load0},
        "failures": timed.log.failures[:10],
        "phase_s": {"setup": round(setup_s, 2), **timed.detail.get("phase_s", {})},
        # the seed-ordered query ids, or the micro-batches per drain
        "ops": timed.detail.get("ids") or timed.detail.get("batches_per_pass"),
    }
    if args.trace:
        layers = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
        if measured:
            workloads.add_event_log_layers(timed, event_log)
            layers.update(timed.layers)
            layers["session.start_s"] = t1 - t0
            layers["registry.load_s"] = t2 - t1
            layers["trace.overhead_s"] = statistics.median(timed.traced_wall_s) - statistics.median(
                timed.pass_wall_s
            )
            tracer = timed.detail.get("spans")
            if tracer is not None:
                spans_path = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json")
                tracer.dump(spans_path)
                record["spans"] = os.path.relpath(spans_path, ROOT)
            record["per_op"] = {
                g: {"layer": layer, "id": qid, **timed.detail.get("per_op", {}).get(g, {})}
                for g, (layer, qid) in timed.detail.get("groups", {}).items()
            }
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER}
    else:
        values = dict.fromkeys((name for name, _ in END_TO_END), 0.0)
        if measured:
            values, extra = end_to_end(setup_s, timed)
            record.update(extra)
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
    print(json.dumps({"perfbench": record}))
    print(json.dumps({
        "correct": correct,
        "attempted": timed.log.attempted,
        "failed": timed.log.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
