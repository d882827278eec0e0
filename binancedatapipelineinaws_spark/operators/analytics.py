"""Event-analytics operators over `events`: ordered funnel conversion
and cohort retention — the product-analytics query shapes the
reference's Aurora warehouse would serve (SURVEY.md §2: the reference
delegates ALL querying to SQL consumers; these are the canonical
consumer queries, re-expressed as Spark plans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.operators.graph import (
    basket_pairs,
    order_baskets,
)
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "q_ext_funnel",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_view
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
       1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
         + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END AS funnel_stage
FROM s1
LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
""",
)
def q_ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase, strictly increasing
    timestamps) in ONE user-keyed shuffle: the funnel-typed events
    collect into a sorted per-user array, then each stage's timestamp
    is a JVM array filter over it (first view; first click after that
    view; first purchase after that click).  The r5 staged-join form
    (3 conditional-min aggregates + 4 user-keyed joins) computed the
    same rows with 3 shuffles of the filtered stream — measured 1.6x
    slower at sf0.1; per-task state here is one user's funnel events
    (the per-user-window bound, same as q_ext_ewma).  `F.get` (not
    element_at) keeps empty-filter results NULL under ANSI mode."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.filter(F.col("event_type").isin(*FUNNEL_STEPS))
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_type"))
            ).alias("seq")
        )
    )
    first_view = F.get(
        F.filter("seq", lambda x: x["event_type"] == F.lit("view")), 0
    )["ts"]
    t_click = F.get(
        F.filter(
            "seq",
            lambda x: (x["event_type"] == F.lit("click"))
            & (x["ts"] > F.col("t_view")),
        ),
        0,
    )["ts"]
    t_purchase = F.get(
        F.filter(
            "seq",
            lambda x: (x["event_type"] == F.lit("purchase"))
            & (x["ts"] > F.col("t_click")),
        ),
        0,
    )["ts"]
    stage = (
        F.lit(1)
        + F.when(F.col("t_click").isNull(), 0).otherwise(1)
        + F.when(F.col("t_purchase").isNull(), 0).otherwise(1)
    )
    return (
        seq.withColumn("t_view", first_view)
        .filter(F.col("t_view").isNotNull())
        .withColumn("t_click", t_click)
        .withColumn("t_purchase", t_purchase)
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            stage.alias("funnel_stage"),
        )
    )


@register(
    "q_ext_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
  FROM events
), sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY cohort_week
), ret AS (
  SELECT f.cohort_week,
         date_diff('day', f.cohort_week, a.active_week) // 7 AS week_index,
         count(*) AS n_active
  FROM activity a JOIN firsts f ON a.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT CAST(r.cohort_week AS DATE) AS cohort_week, r.week_index, r.n_active,
       s.cohort_size,
       CAST(r.n_active AS DOUBLE) / s.cohort_size AS retention
FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
""",
)
def q_ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, the
    fraction active in each subsequent week.  Plan: two user-keyed
    aggregates, a user-keyed join, then a tiny (cohort, week) rollup;
    the (week x week) output is bounded by the calendar, not the data,
    so the final join is broadcast at any scale."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    ret = (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(
                    F.col("active_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            )
            .cast("long")
            .alias("week_index"),
        )
        .agg(F.count("*").alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), "cohort_week").select(
        F.col("cohort_week").cast("date").alias("cohort_week"),
        "week_index",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


EWMA_ALPHA = 0.1
# EWMA state cap: contributions beyond the last EWMA_TAIL events decay
# below (1-a)^(EWMA_TAIL-1) ~ 4e-24 of the value range — provably
# invisible under the 6-dp output round — so per-user state is a
# CONSTANT-length array, not the user's full history (the 100 TB bound
# a hot key would otherwise break)
EWMA_TAIL = 512


@register(
    "q_ext_ewma",
    oracle=f"""
WITH seq AS (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs
  FROM events GROUP BY user_id
), capped AS (
  -- same constant tail cap as the Spark side: identical lists in, so
  -- the folds agree bit-for-bit
  SELECT user_id, len(xs) AS n_events,
         CASE WHEN len(xs) > {EWMA_TAIL}
              THEN list_slice(xs, len(xs) - {EWMA_TAIL} + 1, len(xs))
              ELSE xs END AS xt
  FROM seq
)
SELECT user_id, n_events,
       round(list_reduce(xt, (acc, x) -> {EWMA_ALPHA} * x
                                         + {1 - EWMA_ALPHA} * acc), 6)
         AS ewma
FROM capped
""",
)
def q_ext_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values —
    a sequential recurrence (state_t = a*x_t + (1-a)*state_{{t-1}}) that
    windows can't express, computed JVM-side as collect-sorted + linear
    fold: no Python UDF.  Per-user state is capped at the last
    {EWMA_TAIL} events — older contributions decay below
    (1-a)^{EWMA_TAIL} ~ 4e-24, provably invisible under the 6-dp
    round, so a hot key costs O({EWMA_TAIL}) instead of its history.
    Both engines truncate and fold the identically-ordered list, so
    the doubles agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.col("value").cast("double").alias("value"),
                    )
                )
            ),
            lambda s: s["value"],
        ).alias("xs")
    )
    capped = seq.select(
        "user_id",
        # cast: F.size is INT but DuckDB len(list) is BIGINT — the
        # driver canonicalizes through pandas where int32 != int64
        F.size("xs").cast("long").alias("n_events"),
        F.when(
            F.size("xs") > EWMA_TAIL,
            F.slice(F.col("xs"), -EWMA_TAIL, EWMA_TAIL),
        )
        .otherwise(F.col("xs"))
        .alias("xt"),
    )
    ewma = F.aggregate(
        F.slice(F.col("xt"), 2, F.greatest(F.size("xt") - 1, F.lit(0))),
        F.element_at(F.col("xt"), 1),
        lambda acc, x: F.lit(EWMA_ALPHA) * x + F.lit(1 - EWMA_ALPHA) * acc,
    )
    return capped.select(
        "user_id",
        "n_events",
        F.round(ewma, 6).alias("ewma"),
    )


@register(
    "q_ext_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
), pairs AS (
  SELECT prev, event_type AS next, count(*) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
)
SELECT prev, next, n,
       round(n / CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE), 6) AS p
FROM pairs
""",
)
def q_ext_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next event type | current), estimated from per-user
    lag pairs — the behavioral model behind next-action prediction and
    anomaly scoring on the event stream.

    One lag window per user partition (state = one row), one pair
    aggregate (map-side combined, #types^2-bounded output), and the
    row normalization runs as a window over the TINY pair table — the
    same no-totals-join discipline as q_ext_lang_confusion."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next"),
        F.lag("event_type").over(w).alias("prev"),
    )
    pairs = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "next")
        .agg(F.count("*").alias("n"))
    )
    row_total = F.sum("n").over(Window.partitionBy("prev"))
    return pairs.select(
        "prev",
        "next",
        "n",
        F.round(F.col("n") / row_total.cast("double"), 6).alias("p"),
    )


CHURN_IDLE = "INTERVAL 1 DAY"


@register(
    "q_ext_churn",
    oracle=f"""
WITH lasts AS (
  SELECT user_id, max(ts) AS last_ts, count(*) AS n_events
  FROM events GROUP BY user_id
), horizon AS (SELECT max(ts) AS h FROM events)
SELECT l.user_id, l.n_events, l.last_ts,
       CASE WHEN h.h - l.last_ts > {CHURN_IDLE} THEN 1 ELSE 0 END
         AS churned
FROM lasts l CROSS JOIN horizon h
""",
)
def q_ext_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity churn flag: a user is churned when their last event
    is more than a day behind the stream horizon (the corpus's max
    event time — computed from the data so the query is reproducible,
    where wall-clock `now()` would not be).

    Two aggregates: per-user last-seen (uniform key, map-side
    combined) and the 1-row horizon, broadcast back — the comparison
    is then map-only.  Timestamp arithmetic stays in the timestamp
    domain in both engines (no epoch doubles)."""
    ev = load_table(spark, sf_dir, "events")
    lasts = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("n_events")
    )
    horizon = ev.agg(F.max("ts").alias("h"))
    return lasts.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "n_events",
        "last_ts",
        F.when(
            F.col("h") > F.col("last_ts") + F.expr(CHURN_IDLE), 1
        )
        .otherwise(0)
        .alias("churned"),
    )


ACTIVE_WINDOW_DAYS = 7


@register(
    "q_ext_active_users",
    oracle=f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), days AS (SELECT DISTINCT day FROM du),
contrib AS (
  SELECT d.day, u.user_id, u.day AS active_day
  FROM days d JOIN du u
    ON u.day <= d.day AND u.day > d.day - {ACTIVE_WINDOW_DAYS}
)
SELECT day,
       count(DISTINCT CASE WHEN active_day = day THEN user_id END) AS dau,
       count(DISTINCT user_id) AS wau
FROM contrib GROUP BY day
""",
)
def q_ext_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-{ACTIVE_WINDOW_DAYS}-day active users per
    day — the DAU/WAU engagement staple.  Distinct-over-sliding-window
    can't use a window frame (no windowed COUNT DISTINCT), so each
    (day, user) activity row is EXPLODED to the {ACTIVE_WINDOW_DAYS}
    window anchors it contributes to (map-only, x{ACTIVE_WINDOW_DAYS})
    and anchors re-aggregate with countDistinct — no range join, no
    day-spine nested loop.

    The (day, user) table is persisted: it feeds both the observed-day
    spine (a semi-join keeps anchors inside the observed range) and
    the explode.  At 100 TB the exploded stream is users x days x
    {ACTIVE_WINDOW_DAYS} — linear, uniform keys; swap countDistinct
    for approx_count_distinct (mergeable HLL) for the sketch path."""
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
        .transform(scoped_persist)
    )
    days = du.select("day").distinct()
    contrib = du.select(
        "user_id",
        F.col("day").alias("active_day"),
        F.explode(F.sequence(F.lit(0), F.lit(ACTIVE_WINDOW_DAYS - 1))).alias(
            "off"
        ),
    ).select(
        "user_id",
        "active_day",
        F.date_add("active_day", F.col("off")).alias("day"),
    )
    return (
        contrib.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(
            F.countDistinct(
                F.when(F.col("active_day") == F.col("day"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct("user_id").alias("wau"),
        )
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95
# approx_percentile sketch accuracy for the scale path: error <=
# 1/ACCURACY of the rank, mergeable across partitions
PCTL_ACCURACY = 10_000


def winsorize_frame(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Winsorize with a path knob.  exact=True (the registered oracle
    path) computes boundaries with whole-partition `percentile`
    windows — bit-exact vs quantile_cont, but one task buffers one
    event type's full row set.  exact=False is the 100 TB path: ONE
    grouped `approx_percentile` aggregate (mergeable KLL-style sketch,
    partial-aggregated map-side) over event_type, broadcast-joined
    back — no whole-partition window anywhere, rank error bounded by
    1/{PCTL_ACCURACY}."""
    ev = load_table(spark, sf_dir, "events")
    if exact:
        b = ev.selectExpr(
            "event_id",
            "event_type",
            "value",
            f"percentile(value, {WINSOR_LO})"
            " OVER (PARTITION BY event_type) AS lo",
            f"percentile(value, {WINSOR_HI})"
            " OVER (PARTITION BY event_type) AS hi",
        )
    else:
        bounds = ev.groupBy("event_type").agg(
            F.expr(
                f"approx_percentile(value, array({WINSOR_LO}, {WINSOR_HI}),"
                f" {PCTL_ACCURACY})"
            ).alias("b")
        ).select(
            "event_type",
            F.col("b")[0].alias("lo"),
            F.col("b")[1].alias("hi"),
        )
        b = ev.join(F.broadcast(bounds), "event_type")
    # boundaries rounded to 6 dp BEFORE the clip (the equidepth-hist
    # discipline): an interpolation ulp between the engines' percentile
    # implementations flipped was_clipped on 50/1M boundary rows in the
    # r7 sf1 drill; both engines comparing against the same 6-dp
    # boundary cannot disagree
    lo6, hi6 = F.round(F.col("lo"), 6), F.round(F.col("hi"), 6)
    return b.select(
        "event_id",
        "event_type",
        "value",
        F.round(F.least(F.greatest(F.col("value"), lo6), hi6), 6).alias(
            "clipped"
        ),
        F.when((F.col("value") < lo6) | (F.col("value") > hi6), 1)
        .otherwise(0)
        .alias("was_clipped"),
    )


@register(
    "q_ext_winsorize",
    oracle=f"""
WITH b AS (
  SELECT event_id, event_type, value,
         -- 6-dp-rounded boundaries before the clip: an interpolation
         -- ulp between engines flipped 50/1M boundary rows at sf1
         round(quantile_cont(value, {WINSOR_LO})
               OVER (PARTITION BY event_type), 6) AS lo,
         round(quantile_cont(value, {WINSOR_HI})
               OVER (PARTITION BY event_type), 6) AS hi
  FROM events
)
SELECT event_id, event_type, value,
       round(least(greatest(value, lo), hi), 6) AS clipped,
       CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END AS was_clipped
FROM b
""",
)
def q_ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each group's values to its [{WINSOR_LO},
    {WINSOR_HI}] percentile band — the outlier treatment that keeps
    rows (unlike q_ext_mad_outliers, which flags them).  Same
    single-scan shape as MAD: both boundaries come from ONE
    whole-partition percentile window (no stats join back), then the
    clip is scalar algebra; `percentile` and `quantile_cont`
    interpolate identically so the boundaries agree across engines.

    This exact form is the oracle; `winsorize_frame(exact=False)` is
    the sketch-based scale path (grouped approx_percentile + broadcast
    join-back, no whole-partition window) for event types too large to
    buffer in one task — plan pinned in tests/test_plans.py."""
    return winsorize_frame(spark, sf_dir, exact=True)


@register(
    "q_ext_audience_overlap",
    oracle="""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, count(*) AS n FROM du GROUP BY event_type
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS ni
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, i.ni AS n_common,
       sa.n AS n_a, sb.n AS n_b,
       round(i.ni / CAST(sa.n + sb.n - i.ni AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
""",
)
def q_ext_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: Jaccard similarity between the user
    sets of every event-type pair — the segment-overlap question every
    analytics warehouse answers (and the exact-set ground truth for a
    MinHash/HLL-sketch variant at extreme scale).

    The corpus collapses to the DISTINCT (type, user) table first
    (persisted — it feeds the self-join's both sides and the size
    aggregate); the self-join is keyed on user_id (uniform) and each
    user contributes at most types^2 pairs, so the join output is
    users x types^2-bounded, never event-count-bounded."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct().transform(scoped_persist)
    sizes = du.groupBy("event_type").agg(F.count("*").alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


# --- sessionization ----------------------------------------------------------

SESSION_GAP_S = 1800  # 30-minute inactivity gap, the industry default


@register(
    "q_ext_sessionize",
    oracle=f"""
WITH gapped AS (
  SELECT event_id, user_id, ts,
         -- floor() before CAST: DuckDB CAST(double AS BIGINT) ROUNDS
         -- half-up while Spark's unix_timestamp FLOORS; a gap within
         -- 1s of the threshold would otherwise flip is_new between
         -- engines (same discipline as the q_ext_trend oracle)
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > {SESSION_GAP_S}
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
-- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
-- hash-mismatches Spark's bigint in the driver's canonicalizer
SELECT event_id, user_id,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS session_idx,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS BIGINT) AS user_event_seq
FROM gapped
""",
)
def q_ext_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level session assignment: a new session starts after
    {SESSION_GAP_S} s of inactivity; every event gets its user-scoped
    session index and sequence number.  The row-level complement of
    q_agg_session_window (which emits per-session aggregates via
    `session_window` — this keeps the events and labels them).

    Plan: the classic gaps-and-islands pair — lag + running sum over
    the SAME (user_id; ts, event_id) window spec, so Catalyst plans ONE
    Window node and one exchange.  Total order within user is
    (ts, event_id); tied timestamps cannot flip sessions between
    engines.  At 100 TB users hash uniformly across tasks and no
    global sort exists."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_S), F.lit(1)
    ).otherwise(F.lit(0))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.sum(is_new).over(wsum).alias("session_idx"),
        F.row_number().over(w).cast("long").alias("user_event_seq"),
    )


# --- participation inequality ------------------------------------------------


@register(
    "q_ext_activity_gini",
    oracle="""
WITH per_user AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY user_id
),
ranked AS (
  SELECT c,
         row_number() OVER (ORDER BY c, user_id) AS i,
         count(*) OVER () AS n,
         CAST(sum(c) OVER () AS DOUBLE) AS total
  FROM per_user
)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(total) AS BIGINT) AS n_events,
       round(2.0 * sum(i * c) / (max(n) * max(total))
             - (max(n) + 1.0) / max(n), 6) AS gini
FROM ranked
""",
)
def q_ext_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of events-per-user: 0 = perfectly even
    participation, ->1 = a handful of users generate everything — the
    single number that flags bot farms and engagement concentration
    (and, read as key-frequency inequality, predicts shuffle skew on
    user-keyed operations; q_ext_skew_profile is its per-bucket view).

    Plan (count-of-counts, the r5-verdict fix): the old form ranked
    every user in one unpartitioned row_number window — a single-task
    sort of billions of rows at 100 TB.  But the Gini rank-sum is
    order-independent within a tie group (ranks of the m users sharing
    count c span a fixed block, and sum(i*c) over the block is
    c*(off*m + m*(m+1)/2) whatever the within-block order), so the
    exact same value falls out of the events-per-user HISTOGRAM
    (count c -> m users).  Corpus-sized work is one per-user count +
    one partial-aggregated histogram; the only window is a running sum
    over the histogram, whose row count is bounded by max
    events-per-user (a small, corpus-growth-insensitive domain), not
    by users.  Integer products stay exact below 2^53."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    hist = per_user.groupBy("c").agg(F.count("*").alias("m"))
    order = Window.partitionBy().orderBy("c")
    off = (
        F.coalesce(
            F.sum("m").over(
                order.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
    ).alias("off")
    # sum of rank*c over the tie block with ranks (off, off+m]:
    #   c * (off*m + m*(m+1)/2)
    tri = F.expr("CAST(m AS BIGINT) * (m + 1) DIV 2")
    blk = hist.withColumn("off", off).select(
        "c",
        "m",
        (F.col("c") * (F.col("off") * F.col("m") + tri)).alias("ic_sum"),
    )
    n = F.sum("m")
    total = F.sum(F.col("c") * F.col("m")).cast("double")
    return blk.agg(
        n.cast("long").alias("n_users"),
        total.cast("long").alias("n_events"),
        F.round(
            2.0 * F.sum("ic_sum") / (n * total) - (n + 1.0) / n,
            6,
        ).alias("gini"),
    )


# --- RFM segmentation --------------------------------------------------------


@register(
    "q_ext_rfm",
    oracle="""
WITH maxd AS (SELECT max(CAST(o_orderdate AS DATE)) AS mx FROM orders),
per AS (
  SELECT o_custkey,
         count(*) AS frequency,
         -- DECIMAL: exact order-independent sum (the ltv_cohort fix)
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS monetary,
         max(CAST(o_orderdate AS DATE)) AS last_order
  FROM orders GROUP BY o_custkey
)
SELECT p.o_custkey AS custkey,
       CAST(date_diff('day', p.last_order, m.mx) AS BIGINT) AS recency_days,
       CAST(p.frequency AS BIGINT) AS frequency,
       p.monetary
FROM per p CROSS JOIN maxd m
""",
)
def q_ext_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM base table: per-customer Recency (days since last order,
    measured from the corpus frontier), Frequency (order count) and
    Monetary (total spend) — the raw inputs every RFM segmentation
    cuts into tiers.  Tier boundaries are policy, so this emits the
    measures, not quintile labels (a quintile window over customers
    would be the exact unpartitioned-rank scale-killer the r5 verdict
    had us remove from activity_gini).

    Plan: ONE partial-aggregated per-customer pass; the corpus
    frontier is a 1-row aggregate attached by broadcast."""
    o = load_table(spark, sf_dir, "orders")
    frontier = o.agg(F.max(F.to_date("o_orderdate")).alias("mx"))
    per = o.groupBy("o_custkey").agg(
        F.count("*").alias("frequency"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast(
                "double"
            ),
            6,
        ).alias("monetary"),
        F.max(F.to_date("o_orderdate")).alias("last_order"),
    )
    return per.crossJoin(F.broadcast(frontier)).select(
        F.col("o_custkey").alias("custkey"),
        F.datediff("mx", "last_order").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )


# --- top-1% concentration ----------------------------------------------------


@register(
    "q_ext_pareto_share",
    oracle="""
WITH per AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
tot AS (
  SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS total,
         CAST(ceil(count(*) / 100.0) AS BIGINT) AS k
  FROM per
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS r FROM per
)
SELECT CAST(t.n AS BIGINT) AS n_users,
       t.k AS top_k,
       round(sum(CASE WHEN r.r <= t.k THEN c ELSE 0 END)
             / CAST(t.total AS DOUBLE), 6) AS top_share
FROM ranked r CROSS JOIN tot t
GROUP BY t.n, t.k, t.total
""",
)
def q_ext_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of all events produced by the top 1% most-active users —
    the concentration headline q_ext_activity_gini summarizes as a
    coefficient ("the top 1% generate X% of traffic").

    Plan (scale-safe top-k sum, same trick as the histogram Gini): the
    oracle ranks every user, but the top-k SUM is order-independent
    within a count tie, so it falls out of the events-per-user
    histogram: users with count above the boundary contribute fully,
    the boundary count contributes (k - users_above) * c.  Windows run
    over the histogram (bounded by max events-per-user), never over
    users."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    hist = per.groupBy("c").agg(F.count("*").alias("m"))
    order = Window.partitionBy().orderBy(F.col("c").desc())
    above = F.coalesce(
        F.sum("m").over(order.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    whole = Window.partitionBy()
    n = F.sum("m").over(whole)
    k = F.ceil(n / F.lit(100.0)).cast("long")
    total = F.sum(F.col("c") * F.col("m")).over(whole)
    take = F.greatest(
        F.lit(0), F.least(F.col("m"), k - above)
    )  # rows of this count inside the top-k
    blk = hist.select(
        (take * F.col("c")).alias("top_c"),
        n.alias("n"),
        k.alias("k"),
        total.alias("total"),
    )
    return blk.groupBy("n", "k", "total").agg(
        F.sum("top_c").alias("top_sum")
    ).select(
        F.col("n").cast("long").alias("n_users"),
        F.col("k").alias("top_k"),
        F.round(
            F.col("top_sum") / F.col("total").cast("double"), 6
        ).alias("top_share"),
    )


# --- activity burstiness -----------------------------------------------------


@register(
    "q_ext_burstiness",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
agg AS (
  SELECT user_id,
         CAST(sum(n) AS BIGINT) AS sum_n,
         CAST(sum(n * n) AS BIGINT) AS sum_n2,
         count(*) AS cnt
  FROM daily GROUP BY user_id
)
SELECT user_id,
       sum_n AS n_events,
       cnt AS n_days,
       round(CAST(sum_n AS DOUBLE) / cnt, 6) AS mean_daily,
       CASE WHEN cnt > 1 THEN
         round(((CAST(sum_n2 AS DOUBLE)
                 - CAST(sum_n AS DOUBLE) * CAST(sum_n AS DOUBLE) / cnt)
                / (cnt - 1))
               / (CAST(sum_n AS DOUBLE) / cnt), 6)
       ELSE NULL END AS fano
FROM agg
""",
)
def q_ext_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness as the Fano factor of daily event counts
    (variance/mean): ~1 = Poisson-like organic activity, >>1 = bursty
    (campaign spikes, scraper sweeps), <<1 = metronomic automation —
    the temporal complement of q_ext_activity_gini's volume view.
    Single-day users get NULL (variance undefined), never a crash.

    Variance comes from EXACT integer moments (sum n, sum n^2 — daily
    counts are integers, both sums land exactly in BIGINT and double),
    then both engines evaluate the IDENTICAL expression tree, so the
    fano doubles are bit-identical.  The original var_samp form was
    engine-order-dependent: 9/15000 rows flipped at the 6-dp round in
    the r7 sf1 oracle drill — a latent gate fragility at any sf.

    Plan: two stacked partial-aggregated groupBys ((user, day) then
    user) — no window, no join; both shuffles are on uniform keys."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    agg = daily.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("sum_n"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_n2"),
        F.count("*").alias("cnt"),
    )
    mean = F.col("sum_n").cast("double") / F.col("cnt")
    var = (
        F.col("sum_n2").cast("double")
        - F.col("sum_n").cast("double")
        * F.col("sum_n").cast("double")
        / F.col("cnt")
    ) / (F.col("cnt") - 1)
    return agg.select(
        "user_id",
        F.col("sum_n").alias("n_events"),
        F.col("cnt").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.when(F.col("cnt") > 1, F.round(var / mean, 6)).alias("fano"),
    )


# --- weekday x type profile --------------------------------------------------


@register(
    "q_ext_weekday_profile",
    oracle="""
WITH cell AS (
  SELECT isodow(ts) AS dow, event_type, count(*) AS n
  FROM events GROUP BY isodow(ts), event_type
)
SELECT CAST(dow AS BIGINT) AS dow, event_type,
       CAST(n AS BIGINT) AS n_events,
       round(n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6)
         AS type_share
FROM cell
""",
)
def q_ext_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week activity mix per event type (ISO weekday 1=Monday):
    the seasonality fingerprint that catches a source whose traffic
    pattern shifts (bot traffic is flat across the week, human traffic
    is not).  Complement of q_ext_seasonality's hour-of-day view.

    Plan: one (7 x types)-bounded aggregate; the share window runs
    over that tiny cells table."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("long").alias("dow"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type")
    return cell.select(
        "dow",
        "event_type",
        F.col("n").alias("n_events"),
        F.round(F.col("n") / F.sum("n").over(w).cast("double"), 6).alias(
            "type_share"
        ),
    )


# --- per-user session summary ------------------------------------------------


@register(
    "q_ext_session_stats",
    oracle=f"""
WITH gapped AS (
  SELECT user_id, ts,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                   > {SESSION_GAP_S}
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
labeled AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM gapped
),
sessions AS (
  SELECT user_id, session_idx, count(*) AS n_events,
         CAST(floor(epoch(max(ts))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur_s
  FROM labeled GROUP BY user_id, session_idx
)
SELECT user_id,
       count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       round(avg(n_events), 6) AS avg_session_events,
       round(avg(dur_s), 6) AS avg_session_seconds
FROM sessions GROUP BY user_id
""",
)
def q_ext_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session rollup over the q_ext_sessionize labels:
    session count, events per session, mean session duration — the
    engagement summary the event-level labels exist to feed.

    Plan: the same single (user_id; ts) gaps-and-islands window pass
    as q_ext_sessionize, then two partial-aggregated rollups
    ((user, session) then user).  One window exchange + two combinable
    shuffles; per-task state is one user's rows, as in every per-user
    window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_S), F.lit(1)
    ).otherwise(F.lit(0))
    wsum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    labeled = ev.select(
        "user_id",
        "ts",
        F.sum(is_new).over(wsum).alias("session_idx"),
    )
    sessions = labeled.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).alias("dur_s"),
    )
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(F.avg("n_events"), 6).alias("avg_session_events"),
        F.round(F.avg("dur_s"), 6).alias("avg_session_seconds"),
    )


# --- inter-arrival gap histogram --------------------------------------------
# Log-spaced bands with INTEGER edges, evaluated as integer CASE
# comparisons on floored-epoch gap seconds — no log() anywhere, so no
# libm-vs-JVM ulp risk (the q_ext_sessionize epoch discipline).
GAP_BANDS = ((0, "00_lt1s"), (1, "01_1_9s"), (10, "02_10_59s"),
             (60, "03_1_9m"), (600, "04_10_59m"), (3600, "05_ge1h"))


@register(
    "q_ext_interarrival",
    oracle="""
WITH gaps AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(lag(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id))) AS BIGINT) AS gap_s
  FROM events
)
SELECT event_type,
       CASE WHEN gap_s < 1    THEN '00_lt1s'
            WHEN gap_s < 10   THEN '01_1_9s'
            WHEN gap_s < 60   THEN '02_10_59s'
            WHEN gap_s < 600  THEN '03_1_9m'
            WHEN gap_s < 3600 THEN '04_10_59m'
            ELSE '05_ge1h' END AS band,
       count(*) AS n_gaps
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type, band
""",
)
def q_ext_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time histogram: per event type, the distribution
    of gaps between a user's consecutive events of that type, in
    log-spaced integer bands — the cadence profile behind retention
    modeling and bot detection (a machine clicking every 200 ms and a
    human clicking every few minutes land in different bands).

    Plan: ONE window pass partitioned by the high-cardinality
    (user_id, event_type) key — scale-safe, no per-type serialization
    — then a partial-aggregated rollup to the (types x bands)-bounded
    output.  Gaps are floored-epoch integer seconds and the bands are
    integer CASE edges: zero float thresholds, zero log() calls, so
    both engines band every gap identically."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    epoch_s = F.unix_timestamp("ts")  # integer seconds = floor(epoch)
    gap = (epoch_s - F.lag(epoch_s).over(w)).alias("gap_s")
    gaps = ev.select("event_type", gap).filter(F.col("gap_s").isNotNull())
    band = (
        F.when(F.col("gap_s") < 1, GAP_BANDS[0][1])
        .when(F.col("gap_s") < 10, GAP_BANDS[1][1])
        .when(F.col("gap_s") < 60, GAP_BANDS[2][1])
        .when(F.col("gap_s") < 600, GAP_BANDS[3][1])
        .when(F.col("gap_s") < 3600, GAP_BANDS[4][1])
        .otherwise(GAP_BANDS[5][1])
    )
    return gaps.groupBy("event_type", band.alias("band")).agg(
        F.count("*").alias("n_gaps")
    )


# --- co-occurrence mining ----------------------------------------------------
COPURCHASE_MINSUP = 2  # pair must appear in >= this many orders


@register(
    "q_ext_copurchase_pairs",
    oracle=f"""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*) AS n_orders
FROM pairs GROUP BY part_a, part_b
HAVING count(*) >= {COPURCHASE_MINSUP}
""",
)
def q_ext_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchase pairs (market-basket 2-itemsets): part
    pairs appearing together in at least COPURCHASE_MINSUP orders —
    the support-counting kernel of association-rule mining
    (Apriori/SON's candidate pass).

    Plan: pair generation is basket-local, so its blow-up is bounded
    by ORDER WIDTH squared (a handful of lines), never by a part's
    popularity — the classic trick that makes basket pair counting
    linear in baskets at 100 TB.  Two shuffles total (r13: the
    distinct + orderkey self-join shape became one basket collapse +
    map-side pair explode — same pairs, one fewer shuffle and no join
    materialization); the HAVING prunes before any output
    materializes; `a < b` halves the pair space and fixes a canonical
    orientation."""
    return (
        basket_pairs(order_baskets(spark, sf_dir))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= COPURCHASE_MINSUP)
    )


@register(
    "q_ext_basket_lift",
    oracle=f"""
WITH op AS MATERIALIZED (
  -- MATERIALIZED: referenced 4x (n, item, both self-join sides);
  -- DuckDB 1.x inlines plain CTEs per use, which at sf10 turned this
  -- oracle into a >70-min recompute (r8 sweep) while Spark took 32 s
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT count(DISTINCT l_orderkey) AS n_baskets FROM op
), item AS MATERIALIZED (
  SELECT l_partkey, count(*) AS c FROM op GROUP BY l_partkey
), pair AS MATERIALIZED (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS c_ab
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
  HAVING count(*) >= {COPURCHASE_MINSUP}
)
SELECT part_a, part_b, c_ab,
       round(CAST(c_ab AS DOUBLE) / ia.c, 6) AS confidence_ab,
       round(CAST(c_ab AS DOUBLE) * n_baskets / (ia.c * ib.c), 6)
         AS lift
FROM pair
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
CROSS JOIN n
""",
)
def q_ext_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule strength for the frequent co-purchase pairs:
    confidence P(b|a) and lift P(ab)/(P(a)P(b)) — the step that turns
    q_ext_copurchase_pairs' raw supports into recommendations (lift >
    1 = genuinely associated, not just two popular parts).

    Plan: the same basket-keyed pair counting (r13: one basket
    collapse + map-side pair explode, see q_ext_copurchase_pairs —
    the persisted basket table also yields the basket total as a
    count and the item counts as one array explode, so the old
    distinct-op persist and its extra shuffles are gone), then the
    parts-bounded item-count table joins back twice (broadcast — it
    is dictionary-sized) and the basket total attaches as a 1-row
    broadcast.  Every ratio is one IEEE division of exact integer
    counts."""
    baskets = order_baskets(spark, sf_dir).transform(scoped_persist)
    n = baskets.agg(F.count("*").alias("n_baskets"))
    item = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
    )
    pair = (
        basket_pairs(baskets)
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= COPURCHASE_MINSUP)
    )
    ia = F.broadcast(
        item.select(F.col("l_partkey").alias("ka"), F.col("c").alias("ca"))
    )
    ib = F.broadcast(
        item.select(F.col("l_partkey").alias("kb"), F.col("c").alias("cb"))
    )
    return (
        pair.join(ia, F.col("ka") == F.col("part_a"))
        .join(ib, F.col("kb") == F.col("part_b"))
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(
                F.col("c_ab").cast("double") / F.col("ca"), 6
            ).alias("confidence_ab"),
            F.round(
                F.col("c_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )


ATTRIB_CHANNELS = ("view", "click")


@register(
    "q_ext_first_touch",
    oracle="""
WITH tagged AS (
  SELECT event_type, ts, event_id, user_id,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS channel
  FROM events
)
SELECT coalesce(channel, 'none') AS channel,
       count(*) AS n_purchases
FROM tagged WHERE event_type = 'purchase'
GROUP BY coalesce(channel, 'none')
""",
)
def q_ext_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch channel attribution: each purchase credits the
    user's most recent preceding marketing event (view/click; 'none'
    if the purchase had no touch before it) — the attribution query
    behind every conversion report.

    Plan: ONE user-keyed window pass (the q_ext_sessionize spec:
    (user; ts, event_id) total order, ties can't flip attribution
    between engines) carrying last(channel, ignorenulls) over the
    preceding frame, then a channels-bounded rollup of just the
    purchase rows.  No self-join, no per-channel pass."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(
            F.col("event_type").isin(*ATTRIB_CHANNELS), F.col("event_type")
        ),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", channel.alias("channel"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("channel"), F.lit("none")).alias("channel"))
        .agg(F.count("*").alias("n_purchases"))
    )


@register(
    "q_ext_repeat_purchase",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT c_mktsegment,
       count(*) AS n_buyers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       round(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS repeat_rate
FROM per_cust JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
""",
)
def q_ext_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate per market segment: of customers who
    ordered at all, the fraction who came back — the loyalty headline
    beside q_ext_tpch_q13's full distribution and q_ext_churn's
    inactivity flag.

    Plan: orders partial-aggregates to (custkey, count) first, the
    customer dim attaches its segment by broadcast, and the rollup is
    segments-bounded.  The >= 2 threshold is an integer compare."""
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
    )
    rep = F.when(F.col("n_orders") >= 2, 1).otherwise(0)
    return (
        per_cust.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_buyers"),
            F.sum(rep).alias("n_repeat"),
            F.round(
                F.sum(rep).cast("double") / F.count("*"), 6
            ).alias("repeat_rate"),
        )
    )


@register(
    "q_ext_first_event_mix",
    oracle="""
WITH firsts AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rk
  FROM events
), c AS (
  SELECT event_type, count(*) AS n_users
  FROM firsts WHERE rk = 1 GROUP BY event_type
)
SELECT event_type AS entry_event, n_users,
       round(CAST(n_users AS DOUBLE) / sum(n_users) OVER (), 6) AS share
FROM c
""",
)
def q_ext_first_event_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point mix: the distribution of each user's FIRST event
    type — which door users arrive through (a cold-start purchase
    with no prior view is an attribution gap or a bot signature;
    complements q_ext_first_touch, which looks backward from the
    conversion).

    Plan: ONE user-keyed rank window pass (the sessionize total
    order) keeps rank 1 — Catalyst inserts WindowGroupLimit so each
    task retains only its first row per user before the filter — then
    a types-bounded rollup; the share normalizes via a window over
    the tiny rollup, so the corpus is never re-read for the total."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.select(
            "event_type", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") == 1)
        .select("event_type")
    )
    counts = firsts.groupBy(
        F.col("event_type").alias("entry_event")
    ).agg(F.count("*").alias("n_users"))
    w_all = Window.partitionBy()
    return counts.select(
        "entry_event",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.sum("n_users").over(w_all),
            6,
        ).alias("share"),
    )


# --- RFM customer segmentation -----------------------------------------------
# Fixed-threshold scoring (not corpus quantiles): thresholds are policy
# constants, so the per-customer pass stays one partial-aggregated
# groupBy with no global rank/ntile window — the warehouse-standard
# segmentation that survives any corpus size.

RFM_R_DAYS = (120, 365)  # recency: <=120d -> 3, <=365d -> 2, else 1
RFM_F_ORDERS = (12, 8)  # frequency: >=12 -> 3, >=8 -> 2, else 1
RFM_M_TOTAL = (2_500_000, 1_500_000)  # monetary (exact decimal total)


@register(
    "q_ext_rfm_segments",
    oracle=f"""
WITH anchor AS (
  SELECT max(o_orderdate) AS t0 FROM orders
), per AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), a.t0) AS rec_days,
         count(*) AS freq,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS money
  FROM orders CROSS JOIN anchor a
  GROUP BY o_custkey, a.t0
), scored AS (
  SELECT CASE WHEN rec_days <= {RFM_R_DAYS[0]} THEN 3
              WHEN rec_days <= {RFM_R_DAYS[1]} THEN 2 ELSE 1 END AS r_score,
         CASE WHEN freq >= {RFM_F_ORDERS[0]} THEN 3
              WHEN freq >= {RFM_F_ORDERS[1]} THEN 2 ELSE 1 END AS f_score,
         CASE WHEN money >= {RFM_M_TOTAL[0]} THEN 3
              WHEN money >= {RFM_M_TOTAL[1]} THEN 2 ELSE 1 END AS m_score,
         money
  FROM per
)
SELECT r_score, f_score, m_score,
       count(*) AS n_customers,
       round(CAST(sum(money) AS DOUBLE) / count(*), 6) AS avg_monetary
FROM scored
GROUP BY r_score, f_score, m_score
""",
)
def q_ext_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    fixed policy thresholds — the classic CRM cube every warehouse
    ships.  Recency anchors to the corpus max order date (a 1-row
    broadcast), so the query is deterministic without wall-clock
    input.

    Plan: ONE partial-aggregated per-customer pass over orders (the
    only corpus-sized shuffle), scores as codegen CASEs, then a
    27-segment-bounded rollup.  Fixed thresholds (vs ntile) keep the
    plan free of any global rank window; monetary sums are exact
    decimal so threshold compares are engine-exact."""
    orders = load_table(spark, sf_dir, "orders")
    anchor = F.broadcast(orders.agg(F.max("o_orderdate").alias("t0")))
    per = (
        orders.crossJoin(anchor)
        .groupBy("o_custkey", "t0")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "money"
            ),
        )
        .select(
            F.datediff(F.col("t0"), F.col("last_order")).alias("rec_days"),
            "freq",
            "money",
        )
    )
    r_score = (
        F.when(F.col("rec_days") <= RFM_R_DAYS[0], 3)
        .when(F.col("rec_days") <= RFM_R_DAYS[1], 2)
        .otherwise(1)
    )
    f_score = (
        F.when(F.col("freq") >= RFM_F_ORDERS[0], 3)
        .when(F.col("freq") >= RFM_F_ORDERS[1], 2)
        .otherwise(1)
    )
    m_score = (
        F.when(F.col("money") >= RFM_M_TOTAL[0], 3)
        .when(F.col("money") >= RFM_M_TOTAL[1], 2)
        .otherwise(1)
    )
    return (
        per.select(
            r_score.alias("r_score"),
            f_score.alias("f_score"),
            m_score.alias("m_score"),
            "money",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum("money").cast("double") / F.count("*"), 6
            ).alias("avg_monetary"),
        )
    )


# --- exact heavy hitters (batch twin of the streaming SpaceSaving) ----------
# The streaming kernel (streaming/stateful.py, SpaceSaving per hash
# shard) has replay tests but — being approximate and engine-specific
# — no oracle row.  This query registers its REFERENCE semantics in
# the gate: exact per-shard top-k talkers under the SAME sharding
# (user_id % HH_SHARDS) and the SAME tie policy (count desc, smallest
# item id), so the sketch's guarantees are machine-checked against an
# oracle-verified exact answer (tests/test_streaming.py wires the two
# together).

from binancedatapipelineinaws_spark.streaming.stateful import (  # noqa: E402
    HH_K,
    HH_SHARDS,
)


@register(
    "q_ext_topk_talkers",
    oracle=f"""
WITH counts AS (
  SELECT user_id % {HH_SHARDS} AS shard, user_id AS item,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT shard, item, cnt,
         row_number() OVER (PARTITION BY shard
                            ORDER BY cnt DESC, item) AS rank
  FROM counts
)
SELECT shard, item, CAST(cnt AS BIGINT) AS cnt,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {HH_K}
""",
)
def q_ext_topk_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{HH_K} talkers per hash shard (user_id % {HH_SHARDS})
    with the streaming SpaceSaving kernel's tie policy (count desc,
    smallest item id) — the batch reference the sketch's guarantees
    are checked against.

    Plan: partial-aggregated (shard, user) counts (map-side combine),
    then rank<= {HH_K} over the counts table — Catalyst's
    WindowGroupLimit pushes a per-partition top-k below the exchange,
    so each task forwards at most k rows per shard and the sort never
    sees the full distinct-user table.  At 100 TB the counts table is
    |users| rows (corpus-independent) and the limit pushdown keeps the
    final shuffle at O(shards * k)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        (F.col("user_id") % HH_SHARDS).alias("shard"),
        F.col("user_id").alias("item"),
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("shard").orderBy(F.col("cnt").desc(), F.col("item"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= HH_K)
        .select("shard", "item", "cnt", "rank")
    )


# --- survival table (Kaplan-Meier input) -------------------------------------
# Time-to-conversion survival analysis over the signup -> first
# purchase delay: per whole-day bucket t, the number at risk n(t)
# (users whose observed or censored time >= t) and events d(t)
# (users converting in bucket t).  Users with no purchase are RIGHT-
# CENSORED at the observation end (max event ts) — they leave the
# risk set without an event, exactly the KM bookkeeping.  The output
# is the exact-integer survival TABLE; the KM curve S(t) =
# prod(1 - d/n) is a float product consumers fold locally over the
# handful of buckets (day-bucket count is bounded by the observation
# window, never the corpus — keeping the gated result bit-exact).


@register(
    "q_ext_survival_table",
    oracle="""
WITH bounds AS (
  SELECT max(ts) AS obs_end FROM events
), signup AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT s.user_id, min(e.ts) AS t1
  FROM signup s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
   AND e.ts >= s.t0
  GROUP BY s.user_id
), spans AS (
  SELECT s.user_id,
         CASE WHEN c.t1 IS NULL
              THEN CAST(floor(date_diff('second', s.t0,
                                        (SELECT obs_end FROM bounds))
                              / 86400.0) AS BIGINT)
              ELSE CAST(floor(date_diff('second', s.t0, c.t1)
                              / 86400.0) AS BIGINT) END AS t_day,
         CASE WHEN c.t1 IS NULL THEN 0 ELSE 1 END AS converted
  FROM signup s LEFT JOIN conv c ON c.user_id = s.user_id
), buckets AS (
  SELECT t_day,
         CAST(sum(converted) AS BIGINT) AS d,
         CAST(count(*) - sum(converted) AS BIGINT) AS censored
  FROM spans GROUP BY t_day
)
SELECT t_day, d, censored,
       CAST(sum(d + censored) OVER (ORDER BY t_day DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_at_risk
FROM buckets
""",
)
def q_ext_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival table for signup -> first-purchase delay
    (see block comment): per day bucket, conversions d, right-censored
    exits, and the at-risk count n — all exact integers.  n(t) is the
    suffix sum of (d + censored) over later-or-equal buckets, computed
    with a descending running sum over the BUCKETS table (bounded by
    the observation window in days), never a per-user window.

    Plan: two per-user min-aggregates (signup epoch, first purchase
    at-or-after it — one shuffle each on user_id), a 1-row observation
    bound broadcast for censoring, a day-bucket aggregate, and the
    tiny suffix-sum window.  At 100 TB every corpus-sized stage is
    key-partitioned aggregation; only the day-bucket table (a few
    hundred rows for a year) hits a window."""
    ev = load_table(spark, sf_dir, "events")
    bounds = F.broadcast(ev.agg(F.max("ts").alias("obs_end")))
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("pts"))
        .join(signup, "user_id")
        .filter(F.col("pts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("t1"))
    )
    day = lambda a, b: F.floor(  # noqa: E731
        (F.unix_timestamp(b) - F.unix_timestamp(a)) / 86400.0
    ).cast("long")
    spans = (
        signup.join(conv, "user_id", "left")
        .crossJoin(bounds)
        .select(
            F.when(F.col("t1").isNull(), day(F.col("t0"), F.col("obs_end")))
            .otherwise(day(F.col("t0"), F.col("t1")))
            .alias("t_day"),
            F.when(F.col("t1").isNull(), 0).otherwise(1).alias("converted"),
        )
    )
    buckets = spans.groupBy("t_day").agg(
        F.sum("converted").cast("long").alias("d"),
        (F.count("*") - F.sum("converted")).cast("long").alias("censored"),
    )
    w = (
        Window.orderBy(F.col("t_day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return buckets.select(
        "t_day",
        "d",
        "censored",
        F.sum(F.col("d") + F.col("censored")).over(w).cast("long").alias(
            "n_at_risk"
        ),
    )


# --- Holt double-exponential smoothing ---------------------------------------
# The EWMA's two-state sibling: level + trend recurrence
#   l_t = a*x_t + (1-a)*(l_{t-1} + b_{t-1})
#   b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
# init l = x1, b = x2 - x1 (n=1: level x1, trend 0).  Windows cannot
# express it; Spark folds the identically-ordered list with a STRUCT
# accumulator (F.aggregate, snapshot semantics) and the oracle
# replays the same recurrence as a recursive CTE with identical IEEE
# expression shapes, so doubles agree bit-for-bit.  The per-user list is capped at the last
# HOLT_TAIL observations: older contributions mix down by at least
# (1-B)^t = 0.9^300 ~ 2e-14 per step — invisible under the 6-dp
# round, so a hot key costs O(HOLT_TAIL), the q_ext_ewma bound.

HOLT_ALPHA = 0.3
HOLT_BETA = 0.1
HOLT_TAIL = 300


@register(
    "q_ext_holt_smoothing",
    oracle=f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs
  FROM events GROUP BY user_id
), capped AS MATERIALIZED (
  -- MATERIALIZED (evaluation hint, no value change): the recursive
  -- member joins capped on EVERY iteration, and DuckDB 1.x inlines
  -- plain CTEs per use — without the hint the 6M-event list(ORDER BY)
  -- re-ran per step and OOM'd the sf10 oracle at 70 GB (r9)
  SELECT user_id, CAST(len(xs) AS BIGINT) AS n_events,
         CASE WHEN len(xs) > {HOLT_TAIL}
              THEN list_slice(xs, len(xs) - {HOLT_TAIL} + 1, len(xs))
              ELSE xs END AS xt
  FROM seq
), st AS (
  -- init consumes x1 (and x2 when present): l = x1, b = x2 - x1 | 0.
  -- NOTE: the natural list_reduce struct fold is NOT usable here —
  -- DuckDB 1.0 evaluates the lambda's struct fields SEQUENTIALLY,
  -- updating the accumulator in place, so the second field sees the
  -- first field's NEW value (probed: fold of {{l, b}} over 3 elements
  -- gives b computed from the updated l).  The recursive CTE's SELECT
  -- has snapshot semantics, matching Spark's aggregate().
  SELECT user_id, CAST(2 AS BIGINT) AS i,
         CAST(xt[1] AS DOUBLE) AS l,
         CASE WHEN len(xt) >= 2 THEN xt[2] - xt[1]
              ELSE CAST(0.0 AS DOUBLE) END AS b
  FROM capped
  UNION ALL
  SELECT r.user_id, r.i + 1,
         {HOLT_ALPHA} * c.xt[r.i + 1] + {1 - HOLT_ALPHA} * (r.l + r.b),
         {HOLT_BETA} * (({HOLT_ALPHA} * c.xt[r.i + 1]
                         + {1 - HOLT_ALPHA} * (r.l + r.b)) - r.l)
         + {1 - HOLT_BETA} * r.b
  FROM st r JOIN capped c ON c.user_id = r.user_id
  WHERE r.i < len(c.xt)
)
SELECT c.user_id, c.n_events,
       round(s.l, 6) AS level,
       round(s.b, 6) AS trend,
       round(s.l + s.b, 6) AS forecast_1
FROM capped c JOIN st s
  ON s.user_id = c.user_id AND s.i = greatest(len(c.xt), 2)
""",
)
def q_ext_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt double-exponential smoothing (level + trend; see
    block comment) with a one-step-ahead forecast — the trend-aware
    upgrade of q_ext_ewma, still a pure JVM fold: collect-sorted
    values, struct-accumulator aggregate, no Python.

    Note the init consumes x1 and x2 ((x1, x2-x1)); the fold then
    runs over x3..  The oracle replays the identical recurrence with
    a recursive CTE rather than list_reduce: DuckDB 1.0's struct-
    lambda fold updates accumulator fields sequentially in place (the
    second field sees the first field's new value — probed in r8), so
    only the CTE's snapshot SELECT matches Spark's aggregate()
    semantics."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "ts",
                        "event_id",
                        F.col("value").cast("double").alias("value"),
                    )
                )
            ),
            lambda s: s["value"],
        ).alias("xs")
    )
    capped = seq.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        F.when(
            F.size("xs") > HOLT_TAIL,
            F.slice(F.col("xs"), -HOLT_TAIL, HOLT_TAIL),
        )
        .otherwise(F.col("xs"))
        .alias("xt"),
    )
    x1 = F.element_at("xt", 1)
    x2 = F.element_at("xt", 2)

    def step(acc, x):
        new_l = F.lit(HOLT_ALPHA) * x.getField("l") + F.lit(
            1 - HOLT_ALPHA
        ) * (acc.getField("l") + acc.getField("b"))
        new_b = (
            F.lit(HOLT_BETA)
            * (
                (
                    F.lit(HOLT_ALPHA) * x.getField("l")
                    + F.lit(1 - HOLT_ALPHA)
                    * (acc.getField("l") + acc.getField("b"))
                )
                - acc.getField("l")
            )
            + F.lit(1 - HOLT_BETA) * acc.getField("b")
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    folded = F.when(
        F.size("xt") == 1,
        F.struct(x1.alias("l"), F.lit(0.0).alias("b")),
    ).otherwise(
        F.aggregate(
            F.transform(
                F.slice(F.col("xt"), 3, F.greatest(F.size("xt") - 2, F.lit(0))),
                lambda x: F.struct(x.alias("l"), F.lit(0.0).alias("b")),
            ),
            F.struct(x1.alias("l"), (x2 - x1).alias("b")),
            step,
        )
    )
    return capped.select(
        "user_id",
        "n_events",
        F.round(folded.getField("l"), 6).alias("level"),
        F.round(folded.getField("b"), 6).alias("trend"),
        F.round(folded.getField("l") + folded.getField("b"), 6).alias(
            "forecast_1"
        ),
    )


# --- session path mining (top user journeys) ---------------------------------
# The full-path complement of q_ext_event_transitions' first-order
# Markov matrix: per session, the ordered event-type path (capped at
# the first PATH_MAX_STEPS steps — real journey reports truncate, and
# the cap bounds the path-string key domain), then global support
# counts and the top-PATH_TOP_K most common journeys.

PATH_MAX_STEPS = 8
PATH_TOP_K = 20


@register(
    "q_ext_top_paths",
    oracle=f"""
WITH gapped AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                   > {SESSION_GAP_S}
              OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM gapped
), paths AS (
  SELECT user_id, session_idx,
         array_to_string(
           list_slice(list(event_type ORDER BY ts, event_id),
                      1, {PATH_MAX_STEPS}),
           '>') AS path,
         count(*) AS n_events
  FROM sess GROUP BY user_id, session_idx
), support AS (
  SELECT path, count(*) AS n_sessions,
         CAST(sum(n_events) AS BIGINT) AS n_events
  FROM paths GROUP BY path
), ranked AS (
  SELECT path, n_sessions, n_events,
         row_number() OVER (ORDER BY n_sessions DESC, path) AS rk
  FROM support
)
SELECT path, n_sessions, n_events, rk FROM ranked WHERE rk <= {PATH_TOP_K}
""",
)
def q_ext_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PATH_TOP_K} session journeys: the most common ordered
    event-type paths (first {PATH_MAX_STEPS} steps) across all
    sessions, with session support and total event mass — the
    product-analytics "top user flows" report.

    Plan: the q_ext_sessionize gaps-and-islands pair (ONE window
    exchange on user_id), a per-session collect-sorted path projection
    (session-bounded state, same key — no extra shuffle), a path-keyed
    support aggregate whose cardinality is bounded by the (capped)
    path domain, then TakeOrdered top-k.  Path strings join on
    content, so hot paths partial-aggregate map-side."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(
        gap_s.isNull() | (gap_s > SESSION_GAP_S), F.lit(1)
    ).otherwise(F.lit(0))
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_idx"),
    )
    paths = sess.groupBy("user_id", "session_idx").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                PATH_MAX_STEPS,
            ),
            ">",
        ).alias("path"),
        F.count("*").alias("n_events"),
    )
    support = paths.groupBy("path").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
    )
    # top-k via orderBy().limit() = TakeOrderedAndProject (no global
    # single-partition window over the full support table); the rank
    # column is then a window over just the k surviving rows
    top = support.orderBy(F.col("n_sessions").desc(), "path").limit(
        PATH_TOP_K
    )
    wr = Window.orderBy(F.col("n_sessions").desc(), "path")
    return top.withColumn("rk", F.row_number().over(wr).cast("long"))
