"""Scale-out patterns (SURVEY.md §4 '100 TB north-star' row): the
operators and layout helpers whose whole purpose is surviving 1000
executors and skewed keys.  Each pattern carries a correctness oracle
(same result as the naive plan) so the optimization is provably
semantics-preserving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

N_SALTS = 8


@register(
    "q_skew_salted_agg",
    oracle="""
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem GROUP BY l_returnflag
""",
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: phase 1 aggregates
    (key, salt) so each reducer gets 1/N of the hot key's rows; phase 2
    merges the partials.  l_returnflag has ~3 values over all rows — the
    worst-case skew shape.  The oracle is the naive single-phase groupBy:
    identical result (decimal sums are associative), different shuffle
    profile."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "salt", (F.xxhash64("l_orderkey", "l_linenumber") % N_SALTS)
    )
    phase1 = salted.groupBy("l_returnflag", "salt").agg(
        F.count("*").alias("n_part"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_part"),
    )
    return phase1.groupBy("l_returnflag").agg(
        F.sum("n_part").alias("n_rows"),
        F.sum("sum_part").cast("double").alias("sum_price"),
    )


@register(
    "q_agg_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use the same
    linear-interpolation definition)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 6).alias("p99"),
    )


# Envelope gate for approx_percentile (VERDICT r7 item 2): accuracy
# 10000 guarantees rank error <= 1/10000 of the group; the gate allows
# 100x that (rank band p +- 0.01, clamped to [0, 1]) and checks the
# RETURNED VALUE lies between the exact interpolated quantiles at the
# band edges.  approx_percentile returns an actual dataset element
# whose rank is within eps*n of the target, so its value is bounded by
# the band-edge quantiles with a 100x margin — deterministic (the GK
# sketch has no RNG) and scale-robust.
APPROX_PCT_ACCURACY = 10_000
APPROX_PCT_RANK_BAND = 0.01


@register(
    "q_agg_approx_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.50), 6) AS p50_exact,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS p95_exact,
       round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_exact,
       TRUE AS p50_in_band,
       TRUE AS p95_in_band,
       TRUE AS p99_in_band
FROM lineitem GROUP BY l_returnflag
""",
)
def q_agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path: approx_percentile (GK sketch, one pass,
    mergeable across partitions).  The sketch's answers are
    engine-specific, so the hash-verified output is the exact
    quantiles plus TRUE band flags: each approximate quantile's VALUE
    must lie between the exact interpolated quantiles at rank
    p +- {APPROX_PCT_RANK_BAND} — a 100x margin over the sketch's
    1/{APPROX_PCT_ACCURACY} rank guarantee.  (Converted from a
    rows-only check per VERDICT r7 item 2; production keeps only the
    one-pass sketch column — the exact quantiles here are the gate's
    cost.)"""
    li = load_table(spark, sf_dir, "lineitem")
    lo = [max(0.0, p - APPROX_PCT_RANK_BAND) for p in (0.5, 0.95, 0.99)]
    hi = [min(1.0, p + APPROX_PCT_RANK_BAND) for p in (0.5, 0.95, 0.99)]
    agg = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), "
            f"{APPROX_PCT_ACCURACY})"
        ).alias("ap"),
        F.expr(
            "percentile(l_extendedprice, array("
            + ", ".join(str(p) for p in (0.5, 0.95, 0.99) + tuple(lo) + tuple(hi))
            + "))"
        ).alias("ex"),
    )

    def band(i: int):
        # ex layout: [p50, p95, p99, lo50, lo95, lo99, hi50, hi95, hi99]
        a = F.element_at("ap", i + 1)
        return (a >= F.element_at("ex", i + 4)) & (
            a <= F.element_at("ex", i + 7)
        )

    return agg.select(
        "l_returnflag",
        F.round(F.element_at("ex", 1), 6).alias("p50_exact"),
        F.round(F.element_at("ex", 2), 6).alias("p95_exact"),
        F.round(F.element_at("ex", 3), 6).alias("p99_exact"),
        band(0).alias("p50_in_band"),
        band(1).alias("p95_in_band"),
        band(2).alias("p99_in_band"),
    )


def write_partitioned_events(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Layout helper: the reference's time-partitioned layout (one file
    per minute, main.py:40-41) generalized to day-partitioned parquet —
    the layout partition pruning needs."""
    ev = load_table(spark, sf_dir, "events")
    (
        ev.withColumn("event_date", F.col("ts").cast("date"))
        .repartition("event_date")
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(out_dir)
    )


def write_bucketed_tables(
    spark: SparkSession, sf_dir: str, db_suffix: str = ""
) -> tuple[str, str]:
    """Layout helper: co-located join layout.  Both fact tables are
    bucketed on the join key, so joining them needs NO exchange and NO
    sort at read time — the 100 TB answer to the repeated
    lineitem-orders join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li_name = f"lineitem_bucketed{db_suffix}"
    o_name = f"orders_bucketed{db_suffix}"
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name, df, key in ((li_name, li, "l_orderkey"), (o_name, o, "o_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)  # stale location
        (
            df.write.mode("overwrite")
            .bucketBy(16, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    return li_name, o_name


# --- partition-skew audit ----------------------------------------------------

SKEW_BUCKETS = 32  # candidate partition count to audit


@register(
    "q_ext_skew_profile",
    oracle=f"""
WITH buckets AS (
  SELECT CAST(user_id % {SKEW_BUCKETS} AS BIGINT) AS bucket, count(*) AS cnt
  FROM events GROUP BY 1
)
SELECT count(*) AS n_buckets,
       min(cnt) AS min_cnt,
       max(cnt) AS max_cnt,
       round(avg(cnt), 6) AS avg_cnt,
       round(max(cnt) / avg(cnt), 6) AS skew_factor
FROM buckets
""",
)
def q_ext_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew audit for a candidate partitioning key: bucket
    `events` by user_id into {SKEW_BUCKETS} hash buckets and report the
    max/avg imbalance — the number that predicts whether a groupBy or
    join on this key straggles.  skew_factor ~1 means AQE can leave the
    plan alone; >>1 means salt the key (q_skew_salted_agg is the
    companion fix).

    Plan: one map-side-combined aggregate to {SKEW_BUCKETS} cells, then
    a 1-row rollup — the audit costs one scan regardless of data size,
    which is why it's worth running BEFORE a 100 TB shuffle rather than
    discovering the straggler after."""
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        (F.col("user_id") % SKEW_BUCKETS).cast("long").alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    return buckets.agg(
        F.count("*").alias("n_buckets"),
        F.min("cnt").alias("min_cnt"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.avg("cnt"), 6).alias("avg_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_factor"),
    )


# --- mergeable HLL sketch eval -----------------------------------------------
# The 100 TB distinct-count architecture is NOT "count distinct at
# query time" — it is "keep per-partition HLL sketches and union them"
# (a sketch table refreshes incrementally; any rollup unions in O(k)).
# This eval gates that architecture: shard the corpus 16 ways, union
# the shard sketches, and require (a) the union estimate EQUALS the
# direct single-pass estimate (HLL registers are max-merged, so
# sharding must be invisible) and (b) the estimate sits within the
# published error envelope of the exact count.  Estimates themselves
# never reach the output (engine-specific); the booleans do.

HLL_REL_ERR = 0.05  # default lgConfigK=12 -> ~1.6% typical, 5% gate
HLL_EVAL_SHARDS = 16


@register(
    "q_ext_hll_union_error",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS union_within_bound,
       TRUE AS direct_within_bound
FROM events
GROUP BY event_type
""",
)
def q_ext_hll_union_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch gate for distinct users per event type: the
    16-shard union estimate AND the direct estimate must each land
    within {HLL_REL_ERR:.0%} of the exact count — the accuracy
    envelope IS the mergeability guarantee.  (The r6 form pinned
    union == direct bit-equality; the r7 sf1 drill showed that only
    holds while every sketch is still in sparse/coupon mode — at 15k
    distinct per type the direct sketch goes dense and the union path
    legitimately differs by a fraction of a percent.  DataSketches
    promises the ENVELOPE for merged sketches, not bit-equality.)
    The oracle pins both flags TRUE plus the exact counts; an
    out-of-envelope sketch on either path breaks the hash.

    Plan: the direct sketch is one partial-aggregated pass (sketches
    combine map-side); the sharded path adds one (type, shard)
    pre-aggregate then a types-bounded union — exactly the shape of a
    production sketch-table refresh + rollup."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # exact and sketch run as separate passes joined on the bounded
    # group key: fused, RewriteDistinctAggregates drags the HLL buffer
    # through the per-(type, user) partial aggregate (one live sketch
    # per distinct user instead of per type) — same pathology as
    # q_agg_approx_distinct, measured 0.68 s fused vs 0.51 s split.
    exact_cd = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    direct_sk = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_d")
    )
    direct = exact_cd.join(F.broadcast(direct_sk), "event_type")
    shards = ev.groupBy(
        "event_type", (F.col("user_id") % HLL_EVAL_SHARDS).alias("shard")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    unioned = shards.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_u")
    )
    return direct.join(F.broadcast(unioned), "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("est_u") - F.col("n_exact"))
            <= HLL_REL_ERR * F.col("n_exact")
        ).alias("union_within_bound"),
        (
            F.abs(F.col("est_d") - F.col("n_exact"))
            <= HLL_REL_ERR * F.col("n_exact")
        ).alias("direct_within_bound"),
    )


THETA_REL_ERR = 0.05  # lgK=12 -> ~2.4% envelope at scale; exact below 4k
# Absolute floor on the bound (ADVICE.md r6): a pair with a SMALL true
# intersection (n_common < ~1/rel_err) would let a ±1 sketch deviation
# flip the TRUE-pinned flag even though the sketch is behaving — use
# abs-or-rel, greatest(rel*truth, THETA_ABS_ERR), so the gate is
# scale-robust at every sf without loosening it where counts are large.
THETA_ABS_ERR = 16.0


@register(
    "q_ext_theta_overlap_error",
    oracle="""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_common
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
), sizes AS (
  SELECT event_type, count(*) AS n FROM du GROUP BY event_type
)
SELECT p.type_a, p.type_b, p.n_common,
       sa.n + sb.n - p.n_common AS n_union,
       TRUE AS inter_within_bound,
       TRUE AS union_within_bound
FROM pairs p
JOIN sizes sa ON sa.event_type = p.type_a
JOIN sizes sb ON sb.event_type = p.type_b
""",
)
def q_ext_theta_overlap_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra gated against the exact audience
    overlap (q_ext_audience_overlap's documented at-scale variant):
    per event-type pair, the sketch intersection and union estimates
    must land within greatest({THETA_REL_ERR:.0%} of the exact
    distinct-user count, {THETA_ABS_ERR:.0f}) — abs-or-rel so a tiny
    true overlap at a small sf can't flip the flag on a ±1 sketch
    deviation.  The oracle pins the exact counts plus both TRUE flags
    — an out-of-envelope sketch breaks the hash.

    Plan: ONE distinct pass builds per-type theta sketches (partial-
    aggregated, O(k) state per type); the pairwise set algebra runs
    over the types^2-bounded sketch table (a broadcast self-join of 5
    rows) — the corpus is never touched again.  At 100 TB the exact
    path's user-keyed self-join is the expensive branch; the sketch
    branch costs one aggregate regardless of corpus size."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    du = ev.distinct().transform(scoped_persist)
    sizes = du.groupBy("event_type").agg(F.count("*").alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_common",
            (F.col("n_a") + F.col("n_b") - F.col("n_common")).alias(
                "n_union"
            ),
        )
    )
    sk = du.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk")
    )
    ska = sk.select(F.col("event_type").alias("type_a"), F.col("sk").alias("ska"))
    skb = sk.select(F.col("event_type").alias("type_b"), F.col("sk").alias("skb"))
    ests = (
        ska.join(skb, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.theta_sketch_estimate(
                F.theta_intersection("ska", "skb")
            ).alias("est_inter"),
            F.theta_sketch_estimate(F.theta_union("ska", "skb")).alias(
                "est_union"
            ),
        )
    )
    return exact.join(F.broadcast(ests), ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_common",
        "n_union",
        (
            F.abs(F.col("est_inter") - F.col("n_common"))
            <= F.greatest(
                THETA_REL_ERR * F.col("n_common"), F.lit(THETA_ABS_ERR)
            )
        ).alias("inter_within_bound"),
        (
            F.abs(F.col("est_union") - F.col("n_union"))
            <= F.greatest(
                THETA_REL_ERR * F.col("n_union"), F.lit(THETA_ABS_ERR)
            )
        ).alias("union_within_bound"),
    )


# KLL compaction is RANDOMIZED: estimates vary run-to-run once n per
# group exceeds k, so this gate is probabilistic by nature (ADVICE.md
# r6).  k=800 shrinks the 99%-confidence rank-error envelope to
# ~2.296/k^0.9 ≈ 0.6%, leaving a 5x margin under the 3% gate — the
# tail probability of a flag flip is negligible at any sf the driver
# runs (P[err > 3%] < 1e-40 by the KLL sub-Gaussian tail bound).
#
# r8 (VERDICT r7 item 6): the gate is additionally TIE-AWARE.  The
# sketch promises the returned VALUE has some normalized rank within
# eps of the target — but when that value sits in a tie block, its
# "rank" is the whole interval [count(< v)/n, count(<= v)/n], and the
# old one-sided count(<= v) check could overshoot by the tie mass
# regardless of sketch accuracy (measured: 1.9% on 20k rows over 50
# distinct values — most of the way to the 3% gate on data the sketch
# answered perfectly).  The check is now
#   rank_lt - eps <= target <= rank_le + eps
# which is exactly what the KLL guarantee implies for tied data and
# degenerates to the old check when values are unique.  Swept in
# tests/test_properties.py over 10 distributions x sizes (uniform,
# normal, lognormal, exponential, sorted, constant-heavy, integer
# ties): max observed sketch-attributable error 0.35% — an 8x margin.
KLL_RANK_EPS = 0.03
KLL_SKETCH_K = 800
KLL_QUANTILES = (0.5, 0.95)


@register(
    "q_ext_kll_rank_error",
    oracle=f"""
SELECT event_type, count(*) AS n,
       TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
FROM events GROUP BY event_type
""",
)
def q_ext_kll_rank_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile-sketch gate for the per-type value distribution
    (the mergeable complement of q_agg_approx_percentiles): the
    sketch's p50/p95 answers must have EXACT rank within
    {KLL_RANK_EPS} of their target — the published KLL guarantee,
    recomputed against the real data (tie-aware: the target must fall
    in the answer's [rank_lt, rank_le] interval expanded by eps, so a
    tie block at the quantile cannot fake an error) and pinned TRUE
    in the oracle.

    Plan: one partial-aggregated sketch pass (O(k) state per type),
    estimates broadcast back into one exact rank-counting pass — two
    corpus reads total, no sort, no whole-partition percentile
    window; at 100 TB this replaces the exact-percentile single-task
    sort wherever a sub-1%-rank answer is acceptable.

    The sketch is RANDOMIZED (compaction flips coins), so the flags
    are probabilistic: k={KLL_SKETCH_K} keeps the 99%-confidence rank
    envelope ~0.6%, a 5x margin under the {KLL_RANK_EPS} gate — see
    the KLL_SKETCH_K comment for the tail bound."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    sk = ev.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value", KLL_SKETCH_K).alias("sk")
    )
    ests = F.broadcast(
        sk.select(
            "event_type",
            F.kll_sketch_get_quantile_double(
                "sk", F.lit(KLL_QUANTILES[0])
            ).alias("q50"),
            F.kll_sketch_get_quantile_double(
                "sk", F.lit(KLL_QUANTILES[1])
            ).alias("q95"),
        )
    )
    ranks = (
        ev.join(ests, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("value") < F.col("q50"), 1).otherwise(0)
            ).alias("lt50"),
            F.sum(
                F.when(F.col("value") <= F.col("q50"), 1).otherwise(0)
            ).alias("le50"),
            F.sum(
                F.when(F.col("value") < F.col("q95"), 1).otherwise(0)
            ).alias("lt95"),
            F.sum(
                F.when(F.col("value") <= F.col("q95"), 1).otherwise(0)
            ).alias("le95"),
        )
    )

    def rank_ok(lt: str, le: str, target: float):
        # Tie-aware envelope (see KLL_RANK_EPS comment): the returned
        # value's true rank is the whole [lt, le]/n interval when it
        # sits in a tie block; the KLL promise is that SOME rank in
        # that interval is within eps of the target.
        lo = F.col(lt).cast("double") / F.col("n") - KLL_RANK_EPS
        hi = F.col(le).cast("double") / F.col("n") + KLL_RANK_EPS
        return (F.lit(target) >= lo) & (F.lit(target) <= hi)

    return ranks.select(
        "event_type",
        "n",
        rank_ok("lt50", "le50", KLL_QUANTILES[0]).alias("p50_rank_ok"),
        rank_ok("lt95", "le95", KLL_QUANTILES[1]).alias("p95_rank_ok"),
    )


# --- salted join for hot keys ------------------------------------------------
# q_skew_salted_agg covers skewed AGGREGATION; this covers the skewed
# JOIN — the other half of the hot-key playbook.  A deterministic remap
# funnels 20% of orders onto one customer key (the planted hot key),
# then the join replicates the small side once per salt and the big
# side picks a salt from an order-local hash: the hot key's rows spread
# across JOIN_SALTS reducers instead of one straggler task.  AQE's
# skewedJoin can do this adaptively at runtime; the explicit form is
# the portable contract (and what you write when the small side is big
# enough that AQE declines).

JOIN_SALTS = 8
HOT_EVERY = 5  # every 5th order remaps to the hot customer key
HOT_CUSTKEY = 1


@register(
    "q_ext_skew_salted_join",
    oracle=f"""
WITH o AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {HOT_EVERY} = 0 THEN {HOT_CUSTKEY}
              ELSE o_custkey END AS custkey,
         o_totalprice
  FROM orders
)
SELECT c.c_custkey, c.c_name, count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM o JOIN customer c ON c.c_custkey = o.custkey
GROUP BY 1, 2
ORDER BY n_orders DESC, c_custkey
LIMIT 20
""",
)
def q_ext_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join over a planted hot key: every {HOT_EVERY}th order is
    remapped to customer {HOT_CUSTKEY} (a 20% hot key — the shape that
    turns a plain shuffle join into one straggler task), the customer
    side is exploded once per salt in 0..{JOIN_SALTS - 1}, and each
    order picks its salt from an order-local hash, so the hot key's
    probe rows spread across {JOIN_SALTS} reducers.  The oracle is the
    unsalted join: identical result (the salt is invisible to the
    aggregate; decimal sums are associative), different shuffle
    profile — same contract as q_skew_salted_agg.

    Plan: the salt explode multiplies only the SMALL side (customers x
    {JOIN_SALTS}); the join is a plain equi-join on (custkey, salt);
    the rollup re-aggregates per customer.  Top-20 via
    TakeOrderedAndProject (deterministic n_orders/custkey order)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.select(
        F.when(
            F.col("o_orderkey") % HOT_EVERY == 0, F.lit(HOT_CUSTKEY)
        )
        .otherwise(F.col("o_custkey"))
        .alias("custkey"),
        # pmod, not %: xxhash64 is signed and a negative salt would
        # never match the exploded 0..S-1 values (silent row drop)
        F.pmod(F.xxhash64("o_orderkey"), F.lit(JOIN_SALTS)).alias("salt"),
        "o_totalprice",
    )
    c_salted = cust.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.sequence(F.lit(0), F.lit(JOIN_SALTS - 1)).cast(
                "array<long>"
            )
        ).alias("salt"),
    )
    return (
        o.join(
            c_salted,
            (F.col("custkey") == F.col("c_custkey"))
            & (o["salt"] == c_salted["salt"]),
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy(F.col("n_orders").desc(), "c_custkey")
        .limit(20)
    )


# --- hash-fingerprint join pruning (1-hash Bloom) ----------------------------
# At 100 TB the cheapest join is the one whose probe rows never leave
# the scan: build a fingerprint set over the (selective) dim keys,
# broadcast it, and drop fact rows map-side before any shuffle —
# Spark's runtime row-group filter, made explicit and portable (the
# engine-native bloom_filter_agg is not SQL-exposed in this build, so
# the filter is a deterministic 1-hash Bloom: xxhash64(key) mod m
# with m = BLOOM_BITS_PER_KEY * n_keys).  The gate pins the filter's
# CONTRACT instead of its bits: ZERO false negatives (the hard Bloom
# guarantee — one missed true key is a correctness bug) and a
# false-positive rate within 3x the n/m expectation.  xxhash64 is
# deterministic, so the flags are stable across engines and reruns.

BLOOM_BITS_PER_KEY = 64  # m/n -> expected fp ~ 1.56%
BLOOM_SEGMENT = "BUILDING"


@register(
    "q_ext_bloom_join_prune",
    oracle=f"""
WITH dim AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'
)
SELECT count(*) AS n_orders,
       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM dim)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_true_matches,
       TRUE AS no_false_negatives,
       TRUE AS fp_rate_within_bound
FROM orders
""",
)
def q_ext_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-filter pre-join pruning of orders against the
    '{BLOOM_SEGMENT}'-segment customers (see block comment): the
    hash-verified output is the exact probe and true-match counts
    plus TRUE flags pinning the filter contract — every true match
    passes, and false positives stay within 3x the n/m expectation.
    An out-of-contract filter breaks the gate.

    Plan: the fingerprint set is one distinct aggregate over the
    pruned dim scan, broadcast once; the probe rides the fact scan as
    a broadcast LEFT join on the fingerprint (map-only — no fact
    shuffle).  The exact semi-join exists only to measure the filter;
    the production plan keeps just the pruned stream."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    dim = c.filter(F.col("c_mktsegment") == BLOOM_SEGMENT).select(
        "c_custkey"
    )
    n_keys = dim.count()
    m_bits = max(1, BLOOM_BITS_PER_KEY * n_keys)
    prints = F.broadcast(
        dim.select(
            F.pmod(F.xxhash64("c_custkey"), F.lit(m_bits)).alias("fp")
        ).distinct()
    )
    truth = F.broadcast(dim.withColumnRenamed("c_custkey", "mk"))
    probed = (
        o.select("o_custkey")
        .withColumn("o_fp", F.pmod(F.xxhash64("o_custkey"), F.lit(m_bits)))
        .join(prints, F.col("o_fp") == F.col("fp"), "left")
        .join(truth, F.col("o_custkey") == F.col("mk"), "left")
        .select(
            F.col("mk").isNotNull().alias("is_true"),
            F.col("fp").isNotNull().alias("passed"),
        )
    )
    agg = probed.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("is_true").cast("long")).cast("long").alias(
            "n_true_matches"
        ),
        F.sum((F.col("is_true") & ~F.col("passed")).cast("long")).alias(
            "n_false_neg"
        ),
        F.sum((~F.col("is_true") & F.col("passed")).cast("long")).alias(
            "n_false_pos"
        ),
    )
    exp_fp = float(1.0 / BLOOM_BITS_PER_KEY)
    return agg.select(
        "n_orders",
        "n_true_matches",
        (F.col("n_false_neg") == 0).alias("no_false_negatives"),
        (
            F.col("n_false_pos")
            <= 3 * exp_fp * (F.col("n_orders") - F.col("n_true_matches"))
        ).alias("fp_rate_within_bound"),
    )


BITMAP_CHUNK_BITS = 64


@register(
    "q_ext_bitmap_distinct",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_distinct_parts,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q_ext_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via 64-bit bitmap chunks — the scale path
    between count_distinct (exact, but shuffles every (group, value)
    pair through an Expand) and approx_count_distinct (bounded state,
    approximate).  For dense integer id spaces the bitmap is exact AND
    partial-aggregable with bounded state: map side ORs each id into a
    64-bit word keyed by (group, id >> 6), so the shuffle carries at
    most id_range/64 longs per group — a 64x row reduction with
    perfect combiner locality (the id is the bit, so duplicate ids
    combine to the SAME word map-side).  The reduce is a plain
    bit_count sum.  This is the roaring-bitmap pattern expressed in
    two partial-aggregated groupBys; the oracle is the naive exact
    count_distinct — identical values by construction.

    100 TB: state is id_range/64 words per group regardless of row
    count; for sparse id spaces swap the chunk key to a hash bucket
    (losing exactness) or use HLL (q_agg_approx_distinct)."""
    li = load_table(spark, sf_dir, "lineitem")
    chunk = (F.col("l_partkey") / BITMAP_CHUNK_BITS).cast("long").alias("chunk")
    # SQL form: the Python F.shiftleft only takes a literal shift
    bit = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST(l_partkey % {BITMAP_CHUNK_BITS} AS INT))"
    )
    words = li.groupBy("l_returnflag", chunk).agg(
        F.bit_or(bit).alias("word"), F.count("*").alias("n_part")
    )
    return (
        words.groupBy("l_returnflag")
        .agg(
            F.sum(F.bit_count("word")).alias("n_distinct_parts"),
            F.sum("n_part").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )
