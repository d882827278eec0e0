"""Keyed-state streams via applyInPandasWithState (SURVEY.md §2.8/§2.9).

The reference keeps one piece of streaming state, `active_file_time`,
and closes a minute file whenever a trade lands in a later minute
(main.py:36-47).  `rotation_stream` is that detector as per-symbol
state in the state store: fault-tolerant (state survives restarts via
the checkpoint) and per-key parallel.  The other eleven streams are
keyed-state twins of batch queries: sessionizer, gap bands,
attribution, SpaceSaving, EWMA, Holt, MACD, SAR, Supertrend, sentence
frequency and perplexity buckets.

Every stream is one `_keyed_fold`.  A kernel is only its fold body,
`fold(key, state, batch) -> (state, rows)`; the scaffold loads the
key's state (or the kernel's `init`), hands the fold the key's whole
micro-batch as one sorted frame, stores the new state and emits the
rows.

Chunking: `applyInPandasWithState` yields one pandas chunk per Arrow
batch, so a key whose micro-batch exceeds
`spark.sql.execution.arrow.maxRecordsPerBatch` arrives as SEVERAL
chunks whose composition depends on shuffle arrival order.  A fold
over each chunk would see an order (sorted(chunk1) ++ sorted(chunk2))
or a partial group that varies run to run, which breaks replay
determinism for order-sensitive state.  The scaffold therefore
concatenates the chunks and sorts the whole batch ONCE by the kernel's
`sort_cols`, which must fix every order the fold depends on (float
summation order included).

Folds are closures (pickled by value) like every Python kernel in this
engine.  Some call module-level helpers (`_tdiv`, `_q6`, `_band_of`),
and cloudpickle sends a module's functions by import path, which the
Python workers of a driver started outside the checkout cannot
resolve.  The module is therefore registered to pickle by value: each
helper travels with the fold that calls it, from one definition.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

cloudpickle.register_pickle_by_value(sys.modules[__name__])

ROTATION_SCHEMA = (
    "parameter string, minute_epoch_s long, trades long, volume double"
)
STATE_SCHEMA = "minute_epoch_s long, trades long, volume double"


def _keyed_fold(
    keyed: DataFrame,
    keys: list[str],
    fold,
    init: tuple,
    sort_cols: list[str],
    out_schema: str,
    state_schema: str,
    mode: str = "append",
) -> DataFrame:
    """`keyed` grouped by `keys`, each key's micro-batch folded into
    its state by `fold(key, state, batch) -> (state, rows)`.

    `batch` is the key's whole micro-batch, sorted by `sort_cols`;
    `state` is the stored tuple (field order of `state_schema`) or
    `init` for a new key; `rows` are tuples in `out_schema` column
    order.  `mode` is the output mode: the two streams that re-emit a
    key's whole table every batch run in "update", the rest append.
    """
    cols = [field.split()[0] for field in out_schema.split(",")]

    def run(key, pdfs, state):
        import pandas as pd

        # without timeouts Spark calls a key only when the micro-batch
        # holds rows for it, so at least one chunk is non-empty
        batch = pd.concat([c for c in pdfs if len(c)]).sort_values(sort_cols)
        new_state, rows = fold(key, state.get if state.exists else init, batch)
        state.update(new_state)
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return keyed.groupBy(*keys).applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _events_keyed(events: DataFrame) -> DataFrame:
    """The projection every events-keyed stream reads.  `ts_us` is the
    event time at full microsecond precision: the batch queries order
    by (ts, event_id) with sub-second ts, so the folds sort by
    (ts_us, event_id); a second-truncated sort key could order
    same-second events differently."""
    from pyspark.sql import functions as F

    return events.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.unix_micros("ts").alias("ts_us"),
    )


def _candles_by_day(candles: DataFrame, *cents: str) -> DataFrame:
    """Candle stream -> (m timestamp, day, the named cents columns as
    long), keyed by the session day."""
    from pyspark.sql import functions as F

    return candles.select(
        F.col("m").cast("timestamp").alias("m"),
        F.col("m").cast("date").alias("day"),
        *[F.col(c).cast("long").alias(c) for c in cents],
    )


def rotation_stream(canonical: DataFrame) -> DataFrame:
    """canonical tick stream -> stream of CLOSED minute buckets
    (the reference's per-minute upload events).  State per symbol:
    the open minute bucket and its running (trades, volume); a tick
    for a LATER bucket emits the closed one."""
    from pyspark.sql import functions as F

    def fold(key, state, batch):
        (symbol,) = key
        open_min, trades, volume = state
        closed: list[tuple[str, int, int, float]] = []
        for minute, grp in batch.groupby("minute_epoch_s", sort=True):
            if open_min is None:
                open_min = int(minute)
            elif minute > open_min:
                # rotation: the open minute closes (main.py:38-43)
                closed.append((symbol, open_min, trades, volume))
                open_min, trades, volume = int(minute), 0, 0.0
            elif minute < open_min:
                # late data: the reference would corrupt the closed
                # file (main.py:44); we drop — documented divergence
                continue
            trades += int(len(grp))
            volume += float(grp["quantity"].sum())
        return (open_min, trades, volume), closed

    keyed = canonical.select(
        "parameter",
        "bid",
        "quantity",
        ((F.unix_timestamp("time") / 60).cast("long") * 60).alias(
            "minute_epoch_s"
        ),
    )
    return _keyed_fold(
        keyed,
        ["parameter"],
        fold,
        (None, 0, 0.0),
        ["minute_epoch_s", "bid"],
        ROTATION_SCHEMA,
        STATE_SCHEMA,
    )


# --- streaming sessionizer ---------------------------------------------------
# Event-level session labels as keyed state: the streaming counterpart
# of the batch gaps-and-islands query (operators/analytics.py
# q_ext_sessionize), holding (last event time, open session index,
# event seq) per user — O(1) state per key, like the rotation detector.

SESSIONIZE_SCHEMA = (
    "event_id long, user_id long, session_idx long, user_event_seq long"
)
SESSION_STATE_SCHEMA = "last_ts_s long, session_idx long, seq long"


def sessionize_stream(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """events stream (event_id, ts, user_id, ...) -> per-event session
    labels, keyed state per user."""

    def fold(key, state, batch):
        (user_id,) = key
        last_ts, session_idx, seq = state
        out: list[tuple[int, int, int, int]] = []
        # the gap test stays on floored seconds (matching
        # unix_timestamp in the batch query).  Across batches the state
        # carries the frontier (late events beyond it join the open
        # session — documented divergence, same policy as the rotation
        # detector's late-data drop)
        for ts_us, event_id in zip(batch["ts_us"], batch["event_id"]):
            ts_s = int(ts_us) // 1_000_000
            if last_ts is None or ts_s - last_ts > gap_s:
                session_idx += 1
            seq += 1
            last_ts = ts_s
            out.append((int(event_id), int(user_id), session_idx, seq))
        return (last_ts, session_idx, seq), out

    return _keyed_fold(
        _events_keyed(events),
        ["user_id"],
        fold,
        (None, 0, 0),
        ["ts_us", "event_id"],
        SESSIONIZE_SCHEMA,
        SESSION_STATE_SCHEMA,
    )


# --- streaming inter-arrival band counter ------------------------------------
# Streaming counterpart of the batch gap histogram
# (operators/analytics.py q_ext_interarrival): keyed on the
# high-cardinality (user_id, event_type), state is ONE long (the last
# floored-epoch second), each arriving event emits its gap band row.
# Bands are the same integer CASE edges as the batch query — no log(),
# no float thresholds, so a replayed stream reproduces the batch
# histogram exactly.

GAPBAND_SCHEMA = "event_type string, band string"
GAPBAND_STATE_SCHEMA = "last_ts_s long"

_GAP_EDGES = ((1, "00_lt1s"), (10, "01_1_9s"), (60, "02_10_59s"),
              (600, "03_1_9m"), (3600, "04_10_59m"))
_GAP_TOP = "05_ge1h"


def _band_of(gap_s: int) -> str:
    for edge, name in _GAP_EDGES:
        if gap_s < edge:
            return name
    return _GAP_TOP


def gapband_stream(events: DataFrame) -> DataFrame:
    """events stream -> one (event_type, band) row per inter-arrival
    gap of that user's events of that type; a downstream rollup (or
    the consumer) counts per band.  State per key is a single long."""

    def fold(key, state, batch):
        _user_id, event_type = key
        (last_ts,) = state
        out: list[tuple[str, str]] = []
        # the gap is floored-epoch seconds, matching unix_timestamp in
        # the batch query
        for ts_us in batch["ts_us"]:
            ts_s = int(ts_us) // 1_000_000
            if last_ts is not None:
                out.append((event_type, _band_of(ts_s - last_ts)))
            last_ts = ts_s
        return (last_ts,), out

    return _keyed_fold(
        _events_keyed(events),
        ["user_id", "event_type"],
        fold,
        (None,),
        ["ts_us", "event_id"],
        GAPBAND_SCHEMA,
        GAPBAND_STATE_SCHEMA,
    )


# --- streaming last-touch attribution ----------------------------------------
# Streaming counterpart of the batch attribution rollup
# (operators/analytics.py q_ext_first_touch): state per user is the
# single last-seen marketing channel; every purchase emits its
# attribution row at arrival time — the live conversion feed.

ATTRIB_SCHEMA = "event_id long, channel string"
ATTRIB_STATE_SCHEMA = "channel string"
_ATTRIB_CHANNELS = ("view", "click")


def attribution_stream(events: DataFrame) -> DataFrame:
    """events stream -> one (purchase event_id, channel) row per
    purchase, attributed to the user's most recent preceding
    view/click ('none' if untouched).  State per user: one string."""

    def fold(key, state, batch):
        (channel,) = state
        out: list[tuple[int, str]] = []
        for event_id, etype in zip(batch["event_id"], batch["event_type"]):
            if etype == "purchase":
                out.append((int(event_id), channel if channel else "none"))
            if etype in _ATTRIB_CHANNELS:
                channel = etype
        return (channel,), out

    return _keyed_fold(
        _events_keyed(events),
        ["user_id"],
        fold,
        (None,),
        ["ts_us", "event_id"],
        ATTRIB_SCHEMA,
        ATTRIB_STATE_SCHEMA,
    )


# --- streaming heavy hitters (SpaceSaving) -----------------------------------
# Top talkers over an UNBOUNDED key domain with O(k) state: the
# SpaceSaving sketch (Metwally et al., public algorithm) per hash
# shard.  A counter set of size k per shard guarantees every item with
# true shard frequency > n_shard/k is tracked, and each estimate
# overshoots its true count by at most the recorded error term.  The
# state store holds N_SHARDS * k counters TOTAL, independent of how
# many distinct users ever appear — the bounded-state contract the
# exact per-key counters cannot make.

HH_K = 16  # counters per shard
HH_SHARDS = 8

HH_SCHEMA = (
    "shard long, item long, est long, err long, n_processed long"
)
HH_STATE_SCHEMA = (
    "items array<long>, counts array<long>, errs array<long>, n long"
)


def heavy_hitters_stream(events: DataFrame, k: int = HH_K) -> DataFrame:
    """events stream -> per-shard SpaceSaving top-talker snapshots
    (item = user_id).  State per shard: k (item, count, err) counters
    — bounded regardless of the user-id domain.  Every batch emits the
    shard's counters; consumers keep each shard's rows with the
    highest n_processed (the final state)."""
    from pyspark.sql import functions as F

    def fold(key, state, batch):
        (shard,) = key
        items, counts, errs, n = state
        items, counts, errs = list(items), list(counts), list(errs)
        pos = {it: i for i, it in enumerate(items)}
        for it in batch["user_id"]:
            it = int(it)
            n += 1
            i = pos.get(it)
            if i is not None:
                counts[i] += 1
            elif len(items) < k:
                pos[it] = len(items)
                items.append(it)
                counts.append(1)
                errs.append(0)
            else:
                # evict the min-count entry (ties: smallest item id,
                # so replay order cannot change the victim)
                j = min(
                    range(len(items)),
                    key=lambda x: (counts[x], items[x]),
                )
                del pos[items[j]]
                pos[it] = j
                errs[j] = counts[j]
                counts[j] += 1
                items[j] = it
        rows = [
            (int(shard), it, c, e, n) for it, c, e in zip(items, counts, errs)
        ]
        return (items, counts, errs, n), rows

    keyed = _events_keyed(events).withColumn(
        "shard", F.col("user_id") % HH_SHARDS
    )
    return _keyed_fold(
        keyed,
        ["shard"],
        fold,
        ([], [], [], 0),
        ["ts_us", "event_id"],
        HH_SCHEMA,
        HH_STATE_SCHEMA,
    )


# --- streaming EWMA (online recurrence) --------------------------------------
# The streaming twin of the oracle-gated batch fold (operators/
# analytics.py:q_ext_ewma): state per user is ONE double + a count —
# the O(1)-state form of the recurrence whose batch reference collects
# and folds the (capped) per-user sequence.  Parity: the batch cap at
# EWMA_TAIL events changes the value by < (1-a)^EWMA_TAIL ~ 4e-24 of
# the value range, invisible under the 6-dp round, so an in-order
# replay of this kernel must equal the batch query exactly after
# rounding (tests/test_streaming.py).

EWMA_SCHEMA = "user_id long, n_events long, ewma double"
EWMA_STATE_SCHEMA = "ewma double, n long"


def ewma_stream(events: DataFrame, alpha: float) -> DataFrame:
    """events stream -> per-user EWMA snapshots (one row per user per
    micro-batch; the max-n_events row per user is the final state)."""

    def fold(key, state, batch):
        (user_id,) = key
        ewma, n = state
        for v in batch["value"]:
            x = float(v)
            # identical expression shape to the batch fold:
            # a * x + (1 - a) * acc, same IEEE double ops/order
            ewma = x if ewma is None else alpha * x + (1 - alpha) * ewma
            n += 1
        return (ewma, n), [(int(user_id), n, ewma)]

    return _keyed_fold(
        _events_keyed(events),
        ["user_id"],
        fold,
        (None, 0),
        ["ts_us", "event_id"],
        EWMA_SCHEMA,
        EWMA_STATE_SCHEMA,
    )


# The streaming twin of the oracle-gated Holt batch fold (operators/
# analytics.py:q_ext_holt_smoothing): state per user is (level, trend,
# count) — O(1), vs the batch reference's collect-and-fold of the
# (HOLT_TAIL-capped) sequence.  Parity: the batch cap changes values
# by < (1-beta)^HOLT_TAIL ~ 2e-14 of the value range, invisible under
# the 6-dp round, so an in-order replay of this kernel equals the
# batch query exactly after rounding (tests/test_streaming.py).

HOLT_SCHEMA = "user_id long, n_events long, level double, trend double"
HOLT_STATE_SCHEMA = "l double, b double, n long"


def holt_stream(
    events: DataFrame, alpha: float, beta: float
) -> DataFrame:
    """events stream -> per-user Holt (level, trend) snapshots (one
    row per user per micro-batch; the max-n_events row per user is
    the final state)."""

    def fold(key, state, batch):
        (user_id,) = key
        level, trend, n = state
        for v in batch["value"]:
            x = float(v)
            n += 1
            if n == 1:
                level, trend = x, 0.0
            elif n == 2:
                # init consumes x1 and x2: (l, b) = (x1, x2 - x1),
                # the batch fold's initial state
                trend = x - level
            else:
                # identical expression shape to the batch fold
                new_l = alpha * x + (1 - alpha) * (level + trend)
                trend = beta * (new_l - level) + (1 - beta) * trend
                level = new_l
        return (level, trend, n), [(int(user_id), n, level, trend)]

    return _keyed_fold(
        _events_keyed(events),
        ["user_id"],
        fold,
        (None, None, 0),
        ["ts_us", "event_id"],
        HOLT_SCHEMA,
        HOLT_STATE_SCHEMA,
    )


# The streaming twin of the oracle-gated MACD batch fold (operators/
# indicators.py:q_ext_macd): state per session day is the BIGINT
# fixed-point (e12, e26, sig, n) machine — O(1), and EXACT: the batch
# fold is integer arithmetic (cents x 1e9, truncating division), so an
# in-order replay of this kernel equals the batch query bit-for-bit,
# no rounding tolerance (tests/test_streaming.py), a strictly stronger
# parity than the float Holt twin's 6-dp equality.

MACD_STREAM_SCHEMA = (
    "day date, n_bars long, macd double, signal double, histogram double"
)
MACD_STREAM_STATE_SCHEMA = "e12 long, e26 long, sig long, n long"


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division toward zero — Spark `div` / DuckDB
    `//` semantics (Python's // floors, which differs on negatives)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _q6(a: int) -> float:
    """A price in 1e-11 units (cents x 1e9) -> its 6-dp double,
    HALF_UP (away from zero)."""
    return _tdiv(a + (50000 if a >= 0 else -50000), 100000) / 1e6


def macd_stream(candles: DataFrame) -> DataFrame:
    """Candle stream (m timestamp, close_c cents) -> per-day MACD
    snapshots (one row per day per micro-batch; the max-n_bars row per
    day is the final state)."""

    def fold(key, state, batch):
        (day,) = key
        e12, e26, sig, n = state
        for c in batch["close_c"]:
            x = int(c) * 1_000_000_000
            n += 1
            if n == 1:
                e12 = e26 = x
                sig = 0
            else:
                # identical integer machine to the batch fold
                e12 = _tdiv(2 * x + 11 * e12, 13)
                e26 = _tdiv(2 * x + 25 * e26, 27)
                sig = _tdiv((e12 - e26) + 4 * sig, 5)
        line = e12 - e26
        row = (day, n, _q6(line), _q6(sig), _q6(line - sig))
        return (e12, e26, sig, n), [row]

    return _keyed_fold(
        _candles_by_day(candles, "close_c"),
        ["day"],
        fold,
        (0, 0, 0, 0),
        ["m"],
        MACD_STREAM_SCHEMA,
        MACD_STREAM_STATE_SCHEMA,
    )


# The streaming twin of the oracle-gated Parabolic SAR batch fold
# (operators/indicators.py:q_ext_parabolic_sar): the full conditional-
# reset machine — accelerating pursuit, two-prior-bar clamp, trend
# flips with af reset — as O(1) BIGINT state per session day.  Like
# macd_stream, the state is pure integer arithmetic, so an in-order
# replay equals the batch query BIT-EXACTLY (tests/test_streaming.py);
# the prior two bars' extremes ride along in the state, which is what
# lets a conditional-reset recurrence stream with O(1) memory at all.

SAR_STREAM_SCHEMA = "day date, n_bars long, trend int, sar double"
SAR_STREAM_STATE_SCHEMA = (
    "t long, sar long, ep long, k long, n long,"
    " hp long, lp long, hpp long, lpp long, c1 long"
)

_SAR_STREAM_FP = 1_000_000_000


def sar_stream(candles: DataFrame) -> DataFrame:
    """Candle stream (m timestamp, high_c/low_c/close_c cents) ->
    per-day Parabolic SAR snapshots (one row per day per micro-batch;
    the max-n_bars row per day is the final state)."""

    def fold(key, state, batch):
        FP = _SAR_STREAM_FP
        (day,) = key
        t, sar, ep, k, n, hp, lp, hpp, lpp, c1 = state
        for h, l, c in zip(batch["high_c"], batch["low_c"], batch["close_c"]):
            h, l, c = int(h), int(l), int(c)
            n += 1
            if n == 1:
                hp = hpp = h
                lp = lpp = l
                c1 = c
                continue
            if n == 2:
                # seed from the first two closes (batch semantics)
                t = 1 if c >= c1 else -1
                sar = (lp if t == 1 else hp) * FP
                ep = hp if t == 1 else lp
                k = 1
            # one step of the batch machine (identical integers)
            raw = _tdiv((50 - k) * sar + k * ep * FP, 50)
            if t == 1:
                clamped = min(raw, lp * FP, lpp * FP)
                flip = l * FP < clamped
            else:
                clamped = max(raw, hp * FP, hpp * FP)
                flip = h * FP > clamped
            if flip:
                sar = ep * FP
                ep = l if t == 1 else h
                t, k = -t, 1
            else:
                if t == 1:
                    if h > ep:
                        k = min(k + 1, 10)
                    ep = max(ep, h)
                else:
                    if l < ep:
                        k = min(k + 1, 10)
                    ep = min(ep, l)
                sar = clamped
            hpp, lpp = hp, lp
            hp, lp = h, l
        new_state = (t, sar, ep, k, n, hp, lp, hpp, lpp, c1)
        return new_state, [(day, n, int(t), _q6(sar))]

    return _keyed_fold(
        _candles_by_day(candles, "high_c", "low_c", "close_c"),
        ["day"],
        fold,
        (0,) * 10,
        ["m"],
        SAR_STREAM_SCHEMA,
        SAR_STREAM_STATE_SCHEMA,
    )


# The streaming twin of the oracle-gated Supertrend batch fold
# (operators/indicators.py:q_ext_supertrend): Wilder ATR recurrence +
# conditional band carry + trend flip as O(1) BIGINT state per day.
# Bit-exact vs the batch fold, like macd_stream / sar_stream; only the
# prior close rides along (the carry rule references it, not the prior
# extremes).

ST_STREAM_SCHEMA = "day date, n_bars long, trend int, supertrend double"
ST_STREAM_STATE_SCHEMA = (
    "atr long, fub long, flb long, t long, n long, cp long"
)


def supertrend_stream(candles: DataFrame) -> DataFrame:
    """Candle stream (m, high_c/low_c/close_c cents) -> per-day
    Supertrend snapshots (max-n_bars row per day = final state)."""

    def fold(key, state, batch):
        FP = 1_000_000_000
        (day,) = key
        atr, fub, flb, t, n, cp = state
        for h, l, c in zip(batch["high_c"], batch["low_c"], batch["close_c"]):
            h, l, c = int(h), int(l), int(c)
            n += 1
            if n == 1:
                atr = (h - l) * FP
                fub = (h + l) * FP + 6 * atr
                flb = (h + l) * FP - 6 * atr
                t = 1
                cp = c
                continue
            tr = max(h - l, abs(h - cp), abs(l - cp))
            atr = _tdiv(9 * atr + tr * FP, 10)
            bub = (h + l) * FP + 6 * atr
            blb = (h + l) * FP - 6 * atr
            if bub < fub or cp * 2 * FP > fub:
                fub = bub
            if blb > flb or cp * 2 * FP < flb:
                flb = blb
            if c * 2 * FP > fub:
                t = 1
            elif c * 2 * FP < flb:
                t = -1
            cp = c
        # the bands hold (h + l): twice the price, halved while rounding
        band = flb if t == 1 else fub
        q2 = _tdiv(band + (100000 if band >= 0 else -100000), 200000) / 1e6
        return (atr, fub, flb, t, n, cp), [(day, n, int(t), q2)]

    return _keyed_fold(
        _candles_by_day(candles, "high_c", "low_c", "close_c"),
        ["day"],
        fold,
        (0,) * 6,
        ["m"],
        ST_STREAM_SCHEMA,
        ST_STREAM_STATE_SCHEMA,
    )


# --- sentence-frequency state (streaming twin of q_ext_sentence_dedup) ------
# The batch id computes per-source sentence-dedup accounting off a
# global sentence-frequency table; the streaming twin maintains that
# table AS STATE keyed by the normalized sentence, so each micro-batch
# of crawled documents updates corpus-wide duplicate knowledge without
# a recompute — the dropDuplicatesWithinWatermark shape generalized to
# carry per-source counts and the global total (needed because the
# batch statistic's "duplicated" predicate reads the GLOBAL frequency,
# not the per-source one).

SENTFREQ_SCHEMA = "s string, source string, cnt long, c_total long"
SENTFREQ_STATE_SCHEMA = "sources array<string>, counts array<long>"


def sentence_freq_stream(
    docs: DataFrame, min_chars: int | None = None
) -> DataFrame:
    """documents stream (doc_id, source, text) -> per-(sentence,
    source) running counts + the sentence's global count.  The
    sentence projection IS the batch id's (corpus.normalized_sentences
    with corpus.SENT_MIN_CHARS — ADVICE r12 item 2: one definition, so
    the twin cannot silently diverge from q_ext_sentence_dedup); the
    explode is map-local exactly like the batch plan and the only
    shuffle is the state-store key (the normalized sentence) — the
    same ONE corpus-sized key the batch id shuffles on."""
    from binancedatapipelineinaws_spark.functions.corpus import (
        SENT_MIN_CHARS,
        normalized_sentences,
    )

    def fold(key, state, batch):
        (s,) = key
        counts = dict(zip(*state))
        for src in batch["source"]:
            counts[src] = counts.get(src, 0) + 1
        keys = sorted(counts)
        total = sum(counts.values())
        # UPDATE semantics: re-emit every source row of this sentence
        # with the refreshed global total, so a downstream consumer's
        # latest row per (s, source) always carries a consistent
        # (cnt, c_total) pair
        rows = [(s, src, counts[src], total) for src in keys]
        return (keys, [counts[k] for k in keys]), rows

    sents = normalized_sentences(
        docs, SENT_MIN_CHARS if min_chars is None else min_chars
    )
    return _keyed_fold(
        sents,
        ["s"],
        fold,
        ([], []),
        ["source"],
        SENTFREQ_SCHEMA,
        SENTFREQ_STATE_SCHEMA,
        mode="update",
    )


# --- per-source perplexity buckets (streaming twin of ---------------------
# q_ext_perplexity_buckets, VERDICT r12 item 7).  The batch id scores
# every document under a corpus bigram LM and ntile(3)-splits each
# source into head/middle/tail by score.  The streaming twin treats
# the LM as a STATIC side input (production CCNet trains it on a
# reference corpus, then streams the crawl through it) and maintains
# each source's observed (doc_id, score) set as keyed state; every
# micro-batch re-cuts the ntile boundaries over everything seen so
# far and re-emits the source's bucket table (update semantics).
#
# Scale notes: state here is the exact per-source score list — the
# faithful twin of the batch ntile, replay-testable bit-for-bit.  At
# 100 TB per-source doc counts make the exact list the bottleneck;
# the production swap is a KLL/t-digest quantile sketch in state
# (approximate cuts, same emission schema).  Scores are kept in
# integer 1e-6 units so re-summing per batch stays exact.
#
# Assumption (same as the batch scorer's granularity): a document's
# rows arrive within ONE micro-batch — the kernel finalizes each
# doc's average score from the rows it sees together.  Document
# streams deliver whole documents, so this is the natural contract;
# a doc split across batches would need per-doc partial-sum state.

PPLBUCKET_SCHEMA = (
    "source string, bucket string, n_docs long, avg_lm_score double"
)
PPLBUCKET_STATE_SCHEMA = "doc_ids array<long>, scores array<long>"

PPL_BUCKET_NAMES = ("head", "middle", "tail")


def perplexity_bucket_stream(
    docs: DataFrame, lm: DataFrame, n_buckets: int | None = None
) -> DataFrame:
    """documents stream (doc_id, source, text) + STATIC (w1, w2, logp)
    bigram LM -> per-(source, bucket) running head/middle/tail table.
    The bigram projection IS the batch id's
    (retrieval.bigram_rows — one shared definition, like the sentence
    twin); the LM join is a static-side broadcast legal in streaming;
    the only stateful key is the source.  The batch is sorted by
    (doc_id, logp), which fixes each document's float summation
    order."""
    from pyspark.sql import functions as F

    from binancedatapipelineinaws_spark.functions.retrieval import (
        PPL_N_BUCKETS,
        bigram_rows,
    )

    if n_buckets is None:
        n_buckets = PPL_N_BUCKETS

    def fold(key, state, batch):
        (source,) = key
        seen = dict(zip(*state))
        g = batch.groupby("doc_id")["logp"]
        sums, counts = g.sum(), g.count()
        for d in sums.index:
            # the batch id rounds avg(logp) to 6dp (HALF_UP on a
            # double) before ranking; mirror on the 1e-6 integer
            # grid, away-from-zero for the negative log scores
            avg = sums[d] / counts[d]
            micro = avg * 1e6
            seen[int(d)] = int(
                -int(-micro + 0.5) if micro < 0 else int(micro + 0.5)
            )
        ids = sorted(seen)
        # ntile over everything seen: ORDER BY score DESC, doc_id ASC
        # (the batch id's total order), first (n % k) buckets one doc
        # larger — Spark/DuckDB ntile semantics
        order = sorted(seen.items(), key=lambda kv: (-kv[1], kv[0]))
        n = len(order)
        base, extra = divmod(n, n_buckets)
        rows, pos = [], 0
        for b in range(n_buckets):
            size = base + (1 if b < extra else 0)
            chunk = order[pos : pos + size]
            pos += size
            if not chunk:
                continue
            # ntile 1 -> head, 2 -> middle, everything else -> tail
            # (the batch id's CASE)
            name = PPL_BUCKET_NAMES[min(b, len(PPL_BUCKET_NAMES) - 1)]
            # exact integer HALF_UP (away from zero) on the micro-unit
            # rational tot/len: the bucket mean CAN land exactly on a
            # half-way 6dp decimal (len divides into a ...5 tail), and
            # Python round() is banker's while Spark round() is
            # HALF_UP — the replay diverged by 1e-6 on exactly such a
            # tie before this
            tot = sum(s for _, s in chunk)  # exact int micro-units
            n_c = len(chunk)
            q = (2 * abs(tot) + n_c) // (2 * n_c)
            rows.append(
                (source, name, n_c, (q if tot >= 0 else -q) / 1e6)
            )
        return (ids, [seen[i] for i in ids]), rows

    bg = bigram_rows(docs.select("doc_id", "source", "text"))
    scored = bg.join(F.broadcast(lm), ["w1", "w2"]).select(
        "source", "doc_id", "logp"
    )
    return _keyed_fold(
        scored,
        ["source"],
        fold,
        ([], []),
        ["doc_id", "logp"],
        PPLBUCKET_SCHEMA,
        PPLBUCKET_STATE_SCHEMA,
        mode="update",
    )
