"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

from perfbench import datagen, run, workloads
from perfbench.stats import TAIL_MIN_BEYOND, OpLog, tail
from perfbench.workloads import check_op, timed_op, timed_passes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- tail percentile -------------------------------------------------------


def test_tail_of_100_samples_is_p90_with_10_beyond():
    value, pct, n = tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90, 100)


@pytest.mark.parametrize("n", [11, 12, 19, 20, 37, 64, 100, 101, 999, 1000, 5000])
def test_tail_is_highest_percentile_with_enough_samples_beyond(n):
    xs = [float(i) for i in range(n)]
    value, pct, count = tail(xs)
    assert count == n
    beyond = sum(1 for x in xs if x > value)
    assert beyond >= TAIL_MIN_BEYOND
    if pct < 99:
        # one percentile higher would leave fewer than ten beyond
        assert n - math.ceil((pct + 1) / 100 * n) < TAIL_MIN_BEYOND


def test_tail_falls_back_to_median_below_eleven_samples():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50, 3)
    with pytest.raises(ValueError):
        tail([])


def test_tail_ignores_input_order():
    xs = [float((i * 37) % 101) for i in range(101)]
    assert tail(xs) == tail(sorted(xs))


def test_timed_pass_count_is_fixed_by_seconds_not_by_pace():
    assert timed_passes(22, 5.0) == 4
    assert timed_passes(22, 5.5) == 4
    assert timed_passes(4, 5.0) == 3  # never fewer than three


# --- fail_ratio accounting --------------------------------------------------


def test_exception_is_a_failed_op():
    log = OpLog()

    def boom():
        raise RuntimeError("executor lost")

    timed_op(log, "q#0", 5, boom)
    timed_op(log, "q#1", 5, lambda: 5)
    assert (log.attempted, log.failed) == (2, 1)
    assert log.fail_ratio() == 0.5
    assert "q#0: RuntimeError: executor lost" in log.failures[0]


def test_wrong_row_count_is_a_failed_op():
    log = OpLog()
    timed_op(log, "q#0", 5, lambda: 4)
    check_op(log, "batch0", 300.0, 1000, 1000)
    check_op(log, "batch1", 300.0, 999, 1000)
    assert (log.attempted, log.failed) == (3, 2)
    assert log.latencies_ms == [300.0]
    assert log.failures[0] == "q#0: 4 rows, verified 5"


def test_failed_ops_sort_above_the_tail():
    log = OpLog()
    for i in range(30):
        log.ok(float(i))
    log.fail("x")
    value, pct, n = log.tail()
    assert n == 31 and value < math.inf
    for _ in range(10):
        log.fail("y")
    assert log.tail()[0] == math.inf
    assert log.fail_ratio() == 11 / 41


# --- generator determinism ---------------------------------------------------


def _files(d):
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as fh:
            out[n] = fh.read()
    return out


def test_same_seed_gives_byte_identical_tick_files(tmp_path):
    a = _files_after(tmp_path / "a", 7)
    b = _files_after(tmp_path / "b", 7)
    assert a == b and len(a) == 6


def test_different_seeds_give_different_tick_files(tmp_path):
    a = _files_after(tmp_path / "a", 7)
    c = _files_after(tmp_path / "c", 8)
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def _files_after(d, seed):
    datagen.write_tick_files(str(d), seed, n_minutes=6, ticks_per_minute=400)
    return _files(str(d))


def test_tick_files_hold_late_and_duplicate_ticks():
    minutes = datagen.tick_minutes(3, n_minutes=10, ticks_per_minute=2000)
    start = 1704067200000
    late = very_late = 0
    ids = []
    for m, lines in enumerate(minutes):
        for line in lines:
            f = line.split("\t")
            assert len(f) == 6 and f[1] == "BTCUSDT"
            t = int(f[4])
            late += t < start + m * 60_000
            very_late += t < start + m * 60_000 - 180_000
            ids.append(int(f[0]))
    n = len(ids)
    assert 0.005 < late / n < 0.03
    assert very_late > 0
    assert 0.002 < 1 - len(set(ids)) / n < 0.01


def test_query_mix_reads_only_shipped_tables():
    # the query workload generates nothing: its tables are the shipped
    # sf0.01 dataset, and the seed only orders the ids
    names = sorted(os.listdir(workloads.DATA_DIR))
    assert names and all(n.endswith(".parquet") for n in names)


# --- the tail is above the median at the run's sample counts -----------------


def test_timed_ops_put_the_tail_above_the_median():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    q_ops = timed_passes(seconds, workloads.QUERY_PASS_S) * len(workloads.QUERY_MIX)
    # a drain is 2 canonical and 3 candle micro-batches
    i_ops = timed_passes(seconds, workloads.INGEST_PASS_S) * 5
    for n in (q_ops, i_ops):
        _, pct, count = tail([float(i) for i in range(n)])
        assert count == n and pct > 50


# --- BENCHMARK.json matches what run.py prints -------------------------------


def test_benchmark_json_matches_run_py():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


# --- a run leaves no process behind -----------------------------------------

_LEAVER = """
import os, subprocess, sys, time
from perfbench import hostenv
hostenv.become_subreaper()
# a child that exits at once, leaving its own child orphaned, and a
# child that ignores SIGTERM
subprocess.Popen(["sh", "-c", "sleep 60 & echo $!"], stdout=sys.stdout).wait()
subprocess.Popen(["sh", "-c", "trap '' TERM; sleep 60"])
time.sleep(0.2)
hostenv.stop_descendants(grace_s=0.5)
print(sorted(pid for pid in hostenv._tree() if pid != os.getpid()))
"""


def test_stop_descendants_ends_orphans_and_stubborn_children():
    out = subprocess.run(
        [sys.executable, "-c", _LEAVER], cwd=ROOT, capture_output=True, text=True, timeout=30, check=True
    ).stdout.split()
    orphan, left = int(out[0]), out[1]
    assert left == "[]"
    assert not os.path.exists(f"/proc/{orphan}")
