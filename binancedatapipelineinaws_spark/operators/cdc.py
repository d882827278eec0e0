"""Change-data-capture compaction: latest-record-wins upsert of an
update batch into a base table — the batch equivalent of the
reference's append-only load (lambda_function.py:26-32 only ever
appends; a warehouse consumer compacts corrections afterwards), and
the lakehouse MERGE shape every incremental pipeline needs.

Scale note (100 TB): one shuffle on the primary key decides every
row's winner via a key-partitioned row_number — no join of base
against updates (which would shuffle both sides AND break on keys
absent from one side).  Update batches are typically tiny next to the
base; the union is still the right plan because the window reads each
key's rows together wherever they came from, and AQE coalesces the
mostly-base partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.tables import load_table

UPSERT_EVERY = 10  # every 10th order gets a correction record


@register(
    "q_ext_upsert_latest",
    oracle=f"""
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'P' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST('1.1' AS DECIMAL(2,1))
              AS DOUBLE) AS o_totalprice,
         o_orderdate, 1 AS version
  FROM orders WHERE o_orderkey % {UPSERT_EVERY} = 0
), unioned AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         0 AS version
  FROM orders
  UNION ALL SELECT * FROM updates
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY version DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       version
FROM ranked WHERE rn = 1
""",
)
def q_ext_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins upsert: a correction batch (every {UPSERT_EVERY}th
    order re-priced +10%, status 'P', version 1) merged over the base
    table.  Union both sides with a version stamp, then keep the
    highest-version record per key with one key-partitioned
    row_number — the deterministic MERGE that stays a single shuffle
    whether the batch touches 0.1% or 100% of keys.  Keys only in the
    batch would insert, keys only in base survive — semantics a
    base-vs-updates join cannot give in one pass."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        F.lit(0).alias("version"),
    )
    updates = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % UPSERT_EVERY == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("P").alias("o_orderstatus"),
            # reprice in exact decimal, not double: round(x*1.1, 2) on
            # doubles lands on .005 boundaries differently per engine
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit("1.1").cast("decimal(2,1)")
            )
            .cast("double")
            .alias("o_totalprice"),
            "o_orderdate",
            F.lit(1).alias("version"),
        )
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("version"))
    return (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_ext_table_diff",
    oracle=f"""
WITH curr AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % {UPSERT_EVERY} = 0 THEN 'P'
              ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN o_orderkey % {UPSERT_EVERY} = 0
              THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                        * CAST('1.1' AS DECIMAL(2,1)) AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 != 0
), joined AS (
  SELECT b.o_orderkey AS bk, c.o_orderkey AS ck,
         CASE WHEN b.o_orderkey IS NULL THEN 'added'
              WHEN c.o_orderkey IS NULL THEN 'removed'
              WHEN b.o_orderstatus != c.o_orderstatus
                OR b.o_totalprice != c.o_totalprice THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM orders b FULL OUTER JOIN curr c ON b.o_orderkey = c.o_orderkey
)
SELECT status, count(*) AS n FROM joined GROUP BY status
""",
)
def q_ext_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: classify every key across two table
    versions as added / removed / changed / unchanged — the audit
    query run after any MERGE or backfill (here the 'current' version
    is derived deterministically: every {UPSERT_EVERY}th order
    repriced, every 7th order deleted).

    One full-outer join on the primary key (uniform, single shuffle)
    with the row comparison as scalar expressions; the rollup output
    is 4 rows at any scale.  Versus content-hash approaches: comparing
    named columns keeps the diff schema-evolution-safe."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    curr = base.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % UPSERT_EVERY == 0, "P")
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(
            F.col("o_orderkey") % UPSERT_EVERY == 0,
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit("1.1").cast("decimal(2,1)")
            ).cast("double"),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    b = base.alias("b")
    c = curr.alias("c")
    joined = b.join(
        c, F.col("b.o_orderkey") == F.col("c.o_orderkey"), "full_outer"
    )
    status = (
        F.when(F.col("b.o_orderkey").isNull(), "added")
        .when(F.col("c.o_orderkey").isNull(), "removed")
        .when(
            (F.col("b.o_orderstatus") != F.col("c.o_orderstatus"))
            | (F.col("b.o_totalprice") != F.col("c.o_totalprice")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return joined.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n")
    )


# --- incremental materialized-view maintenance (join view) -------------------
# The JOIN sibling of q_ext_ohlcv_incremental's continuous aggregate:
# a materialized per-customer revenue view (customer dim JOIN order
# rollup) kept fresh against an order batch.  Only customers TOUCHED
# by the batch recompute from raw; everyone else keeps their stale
# view row.  THE ORACLE IS THE FULL RECOMPUTE, so the gate hash-proves
# refresh == recompute — including customers whose FIRST order is in
# the batch (insert, not update) and existing customers whose rollup
# must be replaced, not merged.

IVM_HORIZON_DAYS = 7  # the "new batch": orders from the last 7 days


@register(
    "q_ext_join_view_refresh",
    oracle="""
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY 1, 2, 3
""",
)
def q_ext_join_view_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental refresh of the per-customer revenue view: the
    last-{IVM_HORIZON_DAYS}-days order batch marks its customers
    touched; their view rows are recomputed from ALL their orders
    (history + batch) and merged over the untouched stale rows via
    anti-join + union; the result must equal the full recompute the
    oracle runs.

    Plan & scale: the time bound is a broadcast 1-row aggregate
    (never collected); the stale view is the history-only rollup (in
    production it is READ, not recomputed — here it is derived so the
    refresh semantics are self-contained); `touched` is a tiny
    distinct-key table that drives BOTH sides as a broadcast
    semi/anti join, so refresh cost is proportional to the batch's
    customers, not the view size.  The dimension join broadcasts
    customer attributes once.  Exact decimal revenue sums make merge
    == recompute bit-identical at any scale."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    bound = F.broadcast(
        o.agg(
            F.date_sub(
                F.max("o_orderdate").cast("date"), IVM_HORIZON_DAYS
            ).alias("cutoff")
        )
    )
    od = o.crossJoin(bound).withColumn(
        "is_batch", F.col("o_orderdate").cast("date") > F.col("cutoff")
    )

    def rollup(orders: DataFrame) -> DataFrame:
        return orders.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )

    stale = rollup(od.filter(~F.col("is_batch")))
    touched = (
        od.filter(F.col("is_batch")).select("o_custkey").distinct()
    )
    kept = stale.join(F.broadcast(touched), "o_custkey", "left_anti")
    recomputed = rollup(
        od.join(F.broadcast(touched), "o_custkey", "left_semi")
    )
    view = kept.unionAll(recomputed)
    return view.join(
        F.broadcast(c), view["o_custkey"] == c["c_custkey"]
    ).select("c_custkey", "c_name", "c_mktsegment", "n_orders", "revenue")


# --- SCD type-2 history build ------------------------------------------------


@register(
    "q_ext_scd2",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), versioned AS (
  SELECT user_id, ts, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS version
  FROM ordered
), spans AS (
  SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
         min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
  FROM versioned GROUP BY user_id, version, event_type
)
SELECT user_id, version, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       CASE WHEN lead(valid_from) OVER (PARTITION BY user_id
                                        ORDER BY version) IS NULL
            THEN 1 ELSE 0 END AS is_current,
       n_events
FROM spans
""",
)
def q_ext_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history from the append-only
    event log: per user, collapse consecutive same-event_type runs
    into versioned validity spans (valid_from inclusive, valid_to =
    next span's start, NULL + is_current on the open span) — the
    dimension-table build a warehouse runs over the reference's
    append-only Aurora load (lambda_function.py:26-32) to answer
    \"what was the state as of T\".

    Plan: ONE shuffle on user_id serves the change-flag lag window,
    the running version sum, the span aggregate, and the lead window
    (all partitioned by the same key); the (ts, event_id) order is
    total so run boundaries are engine-independent.  100 TB: uniform
    user keys, span table is change-bounded (distinct runs), never
    event-bounded."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col("event_type")), 1
    ).otherwise(0)
    versioned = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(chg)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("version"),
    )
    spans = versioned.groupBy(
        "user_id", F.col("version").cast("long").alias("version"), "event_type"
    ).agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("long").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    valid_to = F.lead("valid_from").over(wv)
    return spans.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).alias("is_current"),
        "n_events",
    )


MERGE_CUTOFF = "2024-01-15 00:00:00"


@register(
    "q_ext_merge_into",
    oracle=f"""
WITH target AS (
  SELECT user_id,
         count(*) AS n_purchases,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM events
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '{MERGE_CUTOFF}'
  GROUP BY user_id
), source AS (
  SELECT user_id,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
           AS d_n,
         CAST(coalesce(sum(CAST(round(value * 100, 0) AS BIGINT))
                       FILTER (event_type = 'purchase'), 0) AS BIGINT)
           AS d_cents,
         (CAST(count(*) FILTER (event_type = 'error') AS BIGINT)
          > 2 * CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT))
           AS tombstone
  FROM events
  WHERE ts >= TIMESTAMP '{MERGE_CUTOFF}'
    AND event_type IN ('purchase', 'error')
  GROUP BY user_id
)
SELECT coalesce(t.user_id, s.user_id) AS user_id,
       coalesce(t.n_purchases, 0) + coalesce(s.d_n, 0) AS n_purchases,
       CAST(coalesce(t.total_cents, 0) + coalesce(s.d_cents, 0) AS BIGINT)
         AS total_cents,
       CASE WHEN t.user_id IS NULL THEN 'insert'
            WHEN s.user_id IS NULL THEN 'kept'
            ELSE 'update' END AS action
FROM target t
FULL OUTER JOIN source s ON t.user_id = s.user_id
WHERE NOT coalesce(s.tombstone, FALSE)
  AND NOT (t.user_id IS NULL AND s.d_n = 0)
""",
)
def q_ext_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE INTO over a CDC batch: the per-user purchase
    state before {MERGE_CUTOFF} is the target; post-cutoff purchases
    and error-dominated batches (errors > 2x purchases -> tombstone)
    are the source.  WHEN MATCHED AND tombstone
    -> DELETE, WHEN MATCHED -> UPDATE (accumulate), WHEN NOT MATCHED
    AND has rows -> INSERT; unmatched target rows survive tagged
    'kept'.  The batch equivalent of Delta/Iceberg MERGE — the one
    CDC shape q_ext_upsert_latest (latest-wins) and
    q_ext_join_view_refresh (view maintenance) don't cover.

    Money sums are exact cents (round(value*100) BIGINT — the repo's
    established float discipline), so accumulation is order-
    independent in both engines.

    Scale: both sides are user-keyed partial aggregates of the SAME
    scan (Catalyst reuses the exchange when it can; at 100 TB the
    source side is a tiny CDC batch anyway), then ONE co-keyed full
    outer join — everything shuffles once on user_id.  No window over
    the corpus, no driver round-trip."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    cutoff = F.lit(MERGE_CUTOFF).cast("timestamp")
    target = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("ts") < cutoff)
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(cents).alias("total_cents"),
        )
    )
    is_p = F.col("event_type") == "purchase"
    source = (
        ev.filter(
            (F.col("ts") >= cutoff)
            & F.col("event_type").isin("purchase", "error")
        )
        .groupBy("user_id")
        .agg(
            F.count_if(is_p).alias("d_n"),
            F.coalesce(
                F.sum(F.when(is_p, cents)), F.lit(0).cast("long")
            ).alias("d_cents"),
            (
                F.count_if(F.col("event_type") == "error")
                > 2 * F.count_if(is_p)
            ).alias("tombstone"),
        )
    )
    t = target.alias("t")
    s = source.alias("s")
    merged = t.join(s, F.col("t.user_id") == F.col("s.user_id"), "full_outer")
    action = (
        F.when(F.col("t.user_id").isNull(), "insert")
        .when(F.col("s.user_id").isNull(), "kept")
        .otherwise("update")
    )
    return (
        merged.filter(
            ~F.coalesce(F.col("s.tombstone"), F.lit(False))
            & ~(F.col("t.user_id").isNull() & (F.col("s.d_n") == 0))
        )
        .select(
            F.coalesce(F.col("t.user_id"), F.col("s.user_id")).alias("user_id"),
            (
                F.coalesce(F.col("t.n_purchases"), F.lit(0).cast("long"))
                + F.coalesce(F.col("s.d_n"), F.lit(0).cast("long"))
            ).alias("n_purchases"),
            (
                F.coalesce(F.col("t.total_cents"), F.lit(0).cast("long"))
                + F.coalesce(F.col("s.d_cents"), F.lit(0).cast("long"))
            ).alias("total_cents"),
            action.alias("action"),
        )
    )
