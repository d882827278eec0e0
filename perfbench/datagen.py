"""Seeded tick-file generator for the benchmark's ingest workload.

``write_tick_files`` writes one headerless TSV file per event-time minute
in the Binance trade wire format (trade_id, symbol, price, qty,
trade_time_ms, is_buyer_maker), with out-of-order ticks, very late ticks
and duplicated trade ids.  The program under test receives only these
files.  (The query workload reads the shipped sf0.01 tables under
``perfbench/data``; nothing is generated for it.)

The same seed gives byte-identical files.  Only numpy's PCG64 stream
and fixed string formatting are used, never Python's ``hash``.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np

_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000


def tick_minutes(seed: int, n_minutes: int, ticks_per_minute: int) -> list[list[str]]:
    """Lines of each minute file, in the Binance wire format.

    Per minute: ticks in event-time order with ~1% out-of-order ticks
    (stamped 5-60 s earlier, kept by a 2-minute watermark), ~0.3% very
    late ticks (stamped 3-5 minutes earlier, dropped once the watermark
    has passed them) and ~0.5% repeated trade ids.
    """
    rng = np.random.default_rng([seed, 2])
    start_ms = _EPOCH_2024 // 1000
    trade_id = 1_000_000
    price = 27_000.0
    minutes = []
    for m in range(n_minutes):
        n = ticks_per_minute
        t = start_ms + m * 60_000 + np.sort(rng.integers(0, 60_000, n))
        u = rng.random(n)
        t = np.where(u < 0.010, t - rng.integers(5_000, 60_000, n), t)
        if m >= 5:
            t = np.where((u >= 0.010) & (u < 0.013), t - rng.integers(180_000, 300_000, n), t)
        steps = np.round(rng.normal(0.0, 0.35, n), 2)
        prices = np.round(price + np.cumsum(steps), 2)
        price = float(prices[-1])
        ids = trade_id + np.arange(n)
        dup = rng.random(n) < 0.005
        ids = np.where(dup, ids - 1, ids)
        trade_id += n
        qty = rng.integers(1, 2_000_000, n)
        maker = rng.random(n) < 0.5
        minutes.append([
            f"{i}\tBTCUSDT\t{p:.8f}\t{q / 1e8:.8f}\t{ts}\t{'true' if mk else 'false'}"
            for i, p, q, ts, mk in zip(ids.tolist(), prices.tolist(), qty.tolist(), t.tolist(), maker.tolist())
        ])
    return minutes


def write_tick_files(src_dir: str, seed: int, n_minutes: int, ticks_per_minute: int) -> list[str]:
    """Write one ``{epoch_second}.tsv`` file per minute (FIXTURES.md A3
    naming) and return their paths in minute order.  Modification times
    are set one second apart so the file source reads them in minute
    order and each micro-batch holds the same files on every run."""
    os.makedirs(src_dir, exist_ok=True)
    paths = []
    start_s = _EPOCH_2024 // 1_000_000
    for m, lines in enumerate(tick_minutes(seed, n_minutes, ticks_per_minute)):
        path = os.path.join(src_dir, f"{start_s + 60 * m}.tsv")
        with open(path, "w", encoding="ascii", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (1_700_000_000 + m, 1_700_000_000 + m))
        paths.append(path)
    return paths
