"""Iterative graph analytics (SURVEY.md §2, round-8 additions): the
power-iteration family the relational surface can't express in one
pass, re-expressed as unrolled edge-partitioned SpMV over DataFrames.

The reference has no graph surface at all (its single BTCUSDT table
has no edges, start_all_pipeline.py:463-464 DDL); this is the engine
superset a recommendation / curation pipeline needs once co-purchase
or link structure exists — each iteration is ONE shuffle keyed by the
destination node, cost O(E), exactly the shape that scales to a
100 TB edge list (GraphX/Pregel's message pass without the RDD
detour).

Numerics: PageRank is usually float — and float summation over an
unordered edge shuffle is merge-order-dependent, the exact class of
oracle flip the r7 sf1 drill hunted down.  Here every rank is a
BIGINT scaled by PR_SCALE; contributions use integer division (DIV in
Spark, // in DuckDB — both exact truncating division on BIGINT), so
every iteration is bit-identical across engines, partitionings, and
reruns.  The quantization error is bounded by deg/PR_SCALE per node
per iteration — ~1e-9 of total mass, invisible at 6 significant
digits but exactly reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

PR_SCALE = 1_000_000_000_000  # rank fixed-point: 1e-12 resolution
PR_ITERS = 3  # fixed unrolled power iterations (the gate's horizon)
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
PR_MINSUP = 2  # co-purchase support floor bounding the edge list
# Densification cap (r12): per-node top-K neighbor truncation for the
# *_capped variants.  The r11 x1000 drill (SCALING.md, shared-parts
# mode) showed that under FIXED-CATALOG densification (1000x
# more orders over the same part catalog) the support floor stops
# bounding anything — every pair crosses it, degrees densify, and the
# degree-ordered wedge count grows ~9.3e5x.  The cap is MUTUAL top-K
# (each node ranks neighbors by (n_sup DESC, dst); an edge survives
# only if BOTH endpoints keep each other) — the standard mutual-kNN
# sparsification.  Union-kNN was measured first and rejected: reverse
# edges leave hub in-degree unbounded (x100 shared-parts drill:
# max_deg 200 under an 8-cap).  Mutuality makes degree <= K a HARD
# bound, so edges <= N*K/2 and wedges <= N*C(K,2) REGARDLESS of order
# volume — a data-size bound becomes a catalog-size bound.  The
# uncapped ids keep the pinned PR_MINSUP spec; these are the
# registered scale-regime knob.
GRAPH_CAP_K = 8

# Every multiply-referenced CTE is AS MATERIALIZED: DuckDB 1.x inlines
# plain CTEs per use, so `und` (the quadratic-looking self-join) would
# be recomputed for each of edges' two branches and `edges` once per
# unrolled iteration — the >68 GB temp-disk spill the r8 sf10 sweep
# hit.  Materialization bounds the oracle at one evaluation each;
# results are identical.
_PR_EDGES_CTE = f"""
op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS MATERIALIZED (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {PR_MINSUP}
), edges AS MATERIALIZED (
  SELECT part_a AS src, part_b AS dst FROM und
  UNION ALL
  SELECT part_b AS src, part_a AS dst FROM und
), deg AS MATERIALIZED (
  SELECT src AS part, count(*) AS deg FROM edges GROUP BY src
), n AS (
  SELECT count(*) AS n_nodes FROM deg
)
"""


def _pr_iter_sql(i: int) -> str:
    """One oracle power iteration: contributions by integer division,
    damped sum by exact 85/100 integer ratio."""
    return f"""
, it{i} AS (
  SELECT d.part, d.deg,
         (15 * {PR_SCALE}) // (100 * (SELECT n_nodes FROM n))
         + ({PR_DAMP_NUM} * coalesce(s.inc, 0)) // {PR_DAMP_DEN} AS pr
  FROM deg d LEFT JOIN (
    SELECT e.dst AS part, sum(p.pr // p.deg) AS inc
    FROM edges e JOIN it{i - 1} p ON p.part = e.src
    GROUP BY e.dst
  ) s ON s.part = d.part
)
"""


# The unrolled power-iteration chain + final select, shared by the
# uncapped and capped pagerank oracles (both expose CTEs named edges /
# deg / n, which is all the iterations reference).
_PR_BODY_SQL = (
    f"""
, it0 AS (
  SELECT part, deg,
         CAST({PR_SCALE} // (SELECT n_nodes FROM n) AS BIGINT) AS pr
  FROM deg
)
"""
    + "".join(_pr_iter_sql(i) for i in range(1, PR_ITERS + 1))
    + f"""
SELECT part, deg, CAST(pr AS BIGINT) AS pr_scaled
FROM it{PR_ITERS}
"""
)

# Capped-edge CTE chain: identical co-purchase support join, but each
# node keeps only its GRAPH_CAP_K strongest neighbors (n_sup DESC, dst
# tie-break — a total order, so both engines cut identically) before
# re-symmetrization.  Exposes the same edges / deg / n names as
# _PR_EDGES_CTE so the kernel bodies compose unchanged.
_PR_EDGES_CAPPED_CTE = f"""
op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), und AS MATERIALIZED (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS n_sup
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {PR_MINSUP}
), sym AS MATERIALIZED (
  SELECT part_a AS src, part_b AS dst, n_sup FROM und
  UNION ALL
  SELECT part_b AS src, part_a AS dst, n_sup FROM und
), keptd AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY n_sup DESC, dst) AS rn
    FROM sym) r
  WHERE rn <= {GRAPH_CAP_K}
), edges AS MATERIALIZED (
  SELECT k.src, k.dst FROM keptd k
  JOIN keptd r ON r.src = k.dst AND r.dst = k.src
), deg AS MATERIALIZED (
  SELECT src AS part, count(*) AS deg FROM edges GROUP BY src
), n AS (
  SELECT count(*) AS n_nodes FROM deg
)
"""


def order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted distinct part array (the basket) in ONE
    orderkey-keyed shuffle: collect_set dedups map-side (partial
    aggregation), sort_array fixes a canonical ascending order so pair
    generation below is deterministic.  Basket width is bounded by
    order size (TPC-H: <= 7 lines), so the arrays are tiny."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )


# All ordered within-basket pairs (part_a < part_b) generated MAP-SIDE
# from the sorted basket array — a higher-order-function expression, no
# join: for element x at index i, pair it with every later (= greater)
# element.  Replaces the r8-r12 distinct + orderkey self-join shape,
# which shuffled the (order, part) table three times (distinct, join
# leg, pair count) where this needs two (basket collapse, pair count);
# measured at sf1: 5.68 s -> 2.69 s for the support kernel alone, and
# the byte win grows with scale because the join materialization is
# gone (guide §2.3/§2.4).
_BASKET_PAIRS_EXPR = (
    "flatten(transform(parts, (x, i) ->"
    " transform(slice(parts, i + 2, size(parts) - i - 1),"
    " y -> struct(x AS part_a, y AS part_b))))"
)


def basket_pairs(baskets: DataFrame) -> DataFrame:
    """Explode each basket into its ordered part pairs (map-only)."""
    return baskets.select(
        F.explode(F.expr(_BASKET_PAIRS_EXPR)).alias("p")
    ).select("p.part_a", "p.part_b")


def _copurchase_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-filtered co-purchase pairs (part_a < part_b, n_sup) —
    the shared edge source for every graph kernel.  Two shuffles
    total: basket collapse (orderkey), pair support count (pair key);
    the HAVING-equivalent filter prunes before anything downstream.

    PERSISTED (r13, guide §2.4): every kernel symmetrizes this frame
    with a union whose second branch swaps (part_a, part_b) — the two
    branches are different projections, so ReusedExchange can never
    dedupe them, and an unpersisted und ran the whole basket-collapse +
    support-count chain once PER DIRECTION inside the first
    materializing job (measured: the support kernel was ~2.1 s of every
    graph id's total, paid twice).  Cached, the union's branches read
    the same InMemoryRelation: upstream stages dedupe by RDD identity
    and each cached block is computed once under the block lock.  The
    support-filtered pair list is bounded by catalog structure, not
    order volume, so the cache cost stays small at scale."""
    return (
        basket_pairs(order_baskets(spark, sf_dir))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_sup"))
        .filter(F.col("n_sup") >= PR_MINSUP)
        .transform(scoped_persist)
    )


def _copurchase_edges_capped(
    spark: SparkSession, sf_dir: str, persist: bool = False
) -> DataFrame:
    """Symmetric capped edge list: per-node top-GRAPH_CAP_K neighbors
    by (n_sup DESC, dst), kept only when MUTUAL (the reverse direction
    was also kept), so the symmetric edge set falls out directly and
    degree <= K is a hard invariant (see GRAPH_CAP_K note).  The
    row_number cut is one shuffle on src — same key the degree count
    pays anyway — and the mutuality check is one self-semi-join of the
    (<= N*K)-row kept list; everything downstream is bounded by
    catalog size, not order volume."""
    und = _copurchase_und(spark, sf_dir)
    sym = und.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst"), "n_sup"
    ).unionAll(
        und.select(
            F.col("part_b").alias("src"),
            F.col("part_a").alias("dst"),
            "n_sup",
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("n_sup"), F.asc("dst"))
    keptd = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= GRAPH_CAP_K)
        .select("src", "dst")
    )
    # Mutuality as ONE canonical-pair aggregate (r13, guide §2.4): the
    # kept rows are unique per direction, so a pair is mutual iff its
    # canonical (min, max) key appears exactly twice — one groupBy
    # replaces the r12 self-semi-join (which re-keyed the kept list on
    # BOTH sides) and the per-side persist that join forced; both
    # directions are re-emitted map-side from the surviving canonical
    # pair.  Same edge set, one shuffle fewer.  `persist` is OPT-IN:
    # the triangle kernel reads the result twice (degree count +
    # orientation join) so it asks for the cache; the pagerank kernel
    # immediately re-keys and persists the edges itself, and a second
    # cache layer underneath it only added a materialization barrier
    # (measured: pagerank_capped 4.7 s -> 6.8 s with both persists).
    out = (
        keptd.groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.count("*").alias("n_dir"))
        .filter(F.col("n_dir") == 2)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    return out.transform(scoped_persist) if persist else out


def _pagerank_on(edges: DataFrame) -> DataFrame:
    """PR_ITERS unrolled fixed-point power iterations over a symmetric
    (src, dst) edge list; see q_ext_pagerank for the plan shape."""
    # persisted REPARTITIONED BY src (r13, guide §2.4): the cached
    # relation's hash partitioning satisfies the src-keyed
    # distribution required by the degree count AND by every
    # iteration's edge-side join, so only the node-sized contrib table
    # shuffles per round — the E-sized edge exchange per iteration is
    # gone (plan: edges side of each iteration join reads the
    # InMemoryTableScan directly, no Exchange; sf1 measured
    # 7.76 s -> 5.20 s min-of-3)
    edges = edges.repartition("src").transform(scoped_persist)
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("part"), "deg"
    )
    n_row = F.broadcast(deg.agg(F.count("*").alias("n_nodes")))
    # static per-node base (r13 session 3, guide §2.4): the new rank of
    # round i+1 depends only on (deg, n_nodes, inc_i) — never on the old
    # rank value, which reaches it exclusively through inc.  So the
    # teleport merge joins this STATIC base instead of the previous
    # round's pr table: each pr_i then has exactly ONE consumer (the
    # next round's contribution projection), the per-round pr persists
    # the two-consumer shape required are gone, and the whole unrolled
    # chain evaluates as one lineage tree.  base itself has PR_ITERS+1
    # consumers (initial ranks + every merge), so it is the one persist;
    # one row per node, tiny at any scale.  Measured interleaved A/B at
    # sf0.1 (same session, min-of-4): 7.29 s -> 6.37 s, identical rows.
    base = deg.crossJoin(n_row).transform(scoped_persist)
    pr = base.select(
        "part",
        "deg",
        "n_nodes",
        F.expr(f"{PR_SCALE} DIV n_nodes").cast("long").alias("pr"),
    )
    for _ in range(PR_ITERS):
        contrib = pr.select(
            F.col("part").alias("cpart"), F.expr("pr DIV deg").alias("c")
        )
        # both per-round joins are PINNED shuffle-hash (r13; same
        # rationale as propagation_round): the contrib/inc tables are
        # node-sized, AQE would otherwise build a driver broadcast
        # EVERY round (the r11 sweep OOM class), and the static plan's
        # SortMergeJoin fallback pays a full sort of the cached edge
        # list per iteration.  A per-partition hash build costs the
        # shuffle the aggregate pays anyway, with zero driver footprint.
        inc = (
            edges.join(
                contrib.hint("shuffle_hash"), F.col("src") == F.col("cpart")
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inc"))
        )
        pr = (
            base.join(
                inc.hint("shuffle_hash"), base["part"] == inc["dst"], "left"
            )
            .select(
                "part",
                "deg",
                "n_nodes",
                F.expr(
                    f"(15 * CAST({PR_SCALE} AS BIGINT))"
                    f" DIV (100 * n_nodes)"
                    f" + ({PR_DAMP_NUM} * coalesce(inc, 0))"
                    f" DIV {PR_DAMP_DEN}"
                )
                .cast("long")
                .alias("pr"),
            )
        )
    return pr.select("part", "deg", F.col("pr").alias("pr_scaled"))


@register(
    "q_ext_pagerank",
    oracle="WITH " + _PR_EDGES_CTE + _PR_BODY_SQL,
)
def q_ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase part graph ({PR_ITERS} power
    iterations, damping {PR_DAMP_NUM}/{PR_DAMP_DEN}, ranks as
    PR_SCALE-fixed-point BIGINTs so both engines produce bit-identical
    integers — see module docstring).

    Plan: the edge list is the q_ext_copurchase_pairs support join
    (basket-width-bounded, support floor {PR_MINSUP}) symmetrized;
    each unrolled iteration is contribution projection (map-only
    integer division) -> edge join keyed on src -> ONE dst-keyed
    partial+final sum -> teleport merge.  Per-iteration cost is one
    O(E) shuffle; nothing is ever collected to the driver, and the
    iteration count is a constant, so the plan is a fixed pipeline of
    {PR_ITERS} joins Catalyst schedules like any other — the Pregel
    message pass without leaving the DataFrame API."""
    und = _copurchase_und(spark, sf_dir)
    edges = und.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionAll(
        und.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    return _pagerank_on(edges)


@register(
    "q_ext_pagerank_capped",
    oracle="WITH " + _PR_EDGES_CAPPED_CTE + _PR_BODY_SQL,
)
def q_ext_pagerank_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the per-node top-{GRAPH_CAP_K} co-purchase graph —
    the densification-regime variant (VERDICT r11 item 2): under
    fixed-catalog growth the uncapped edge list densifies without
    bound (x1000 drill: wedge count ~9.3e5x), so production curation
    pipelines truncate to each node's strongest MUTUAL neighbors
    before any iterative kernel (the standard mutual-kNN
    sparsification; degree <= K hard).  Same
    {PR_ITERS} fixed-point iterations as q_ext_pagerank; the only new
    cost is one row_number window on the src key the degree count
    shuffles on anyway.  The uncapped id keeps the pinned PR_MINSUP
    spec; this id registers the scale knob with its own oracle."""
    return _pagerank_on(_copurchase_edges_capped(spark, sf_dir))


# --- triangle counting / global clustering coefficient -----------------------
# The second classic edge-partitioned graph kernel: triangles via the
# DEGREE-ORDERED orientation (Suri & Vassilvitskii 2011, "Counting
# triangles and the curse of the last reducer") — every edge is
# oriented from its lower-(deg, id) endpoint to the higher, so each
# wedge is generated exactly once at its lowest-degree vertex and the
# candidate join is bounded by sum(deg_oriented^2) <= O(E^1.5) instead
# of the hub-squared blow-up a naive shared-vertex join takes on a
# skewed degree distribution.  All counts are exact integers.


# Triangle/wedge oracle body over any CTE chain exposing edges + deg
# (shared by the uncapped and capped registrations).
_TRI_BODY_SQL = """
, oriented AS MATERIALIZED (
  -- dv carried so wedges can be canonicalized by the SAME total
  -- order, making the closing probe a single equi-join; MATERIALIZED
  -- because it feeds both wedge sides plus the closing probe (3 uses)
  SELECT e.src AS u, e.dst AS v, dv.deg AS dv
  FROM edges e
  JOIN deg du ON du.part = e.src
  JOIN deg dv ON dv.part = e.dst
  WHERE (du.deg, e.src) < (dv.deg, e.dst)
), wedges AS MATERIALIZED (
  SELECT CASE WHEN (a.dv, a.v) < (b.dv, b.v) THEN a.v ELSE b.v END AS x,
         CASE WHEN (a.dv, a.v) < (b.dv, b.v) THEN b.v ELSE a.v END AS y
  FROM oriented a JOIN oriented b
    ON a.u = b.u AND (a.dv, a.v) < (b.dv, b.v)
), tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges w JOIN oriented o ON o.u = w.x AND o.v = w.y
), wed AS (
  SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM oriented) AS n_edges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       (SELECT n_wedges FROM wed) AS n_wedges
"""


def _triangle_stats_on(edges: DataFrame) -> DataFrame:
    """Degree-ordered triangle/wedge counting over a symmetric
    (src, dst) edge list; see q_ext_triangles for the plan shape."""
    # deg is PERSISTED (r13, guide §2.4): four consumers read it — the
    # two orientation broadcasts (du, dv), the wedge-count aggregate,
    # and the node count — and each is a different projection/aggregate,
    # so nothing dedupes them; unpersisted, the degree aggregate over
    # the symmetric edge union evaluated four times per invocation.
    # One row per node: tiny at any scale.
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .select(F.col("src").alias("part"), "deg")
        .transform(scoped_persist)
    )
    du = F.broadcast(deg.select(F.col("part").alias("pu"), F.col("deg").alias("du")))
    dv = F.broadcast(deg.select(F.col("part").alias("pv"), F.col("deg").alias("dv")))
    oriented = (
        edges.join(du, F.col("src") == F.col("pu"))
        .join(dv, F.col("dst") == F.col("pv"))
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("u"), F.col("dst").alias("v"), "dv")
        # repartitioned by the wedge pivot before persisting (r13,
        # guide §2.4): BOTH sides of the wedge self-join then read the
        # cached u-partitioned relation with no Exchange — only the
        # closing probe re-keys (by (u, v), which no earlier stage can
        # provide).  sf0.1 4.57 s -> 4.05 s, sf1 6.81 -> 6.45 min-of-3.
        .repartition("u")
        .transform(scoped_persist)
    )
    lt = (F.col("xd") < F.col("yd")) | (
        (F.col("xd") == F.col("yd")) & (F.col("x0") < F.col("y0"))
    )
    wedges = (
        oriented.select(
            F.col("u").alias("wu"), F.col("v").alias("x0"),
            F.col("dv").alias("xd"),
        )
        .join(
            oriented.select(
                F.col("u").alias("wu2"), F.col("v").alias("y0"),
                F.col("dv").alias("yd"),
            ),
            (F.col("wu") == F.col("wu2")) & lt,
        )
        .select(F.col("x0").alias("x"), F.col("y0").alias("y"))
    )
    closing = wedges.join(
        oriented, (F.col("u") == F.col("x")) & (F.col("v") == F.col("y"))
    )
    n_tri = closing.agg(F.count("*").alias("n_triangles"))
    n_wed = deg.agg(
        F.sum(
            (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
        ).alias("n_wedges")
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = oriented.agg(F.count("*").alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_tri))
        .crossJoin(F.broadcast(n_wed))
        .select("n_nodes", "n_edges", "n_triangles", "n_wedges")
    )


@register(
    "q_ext_triangles",
    oracle="WITH " + _PR_EDGES_CTE + _TRI_BODY_SQL,
)
def q_ext_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle and wedge counts of the co-purchase graph (the
    global clustering coefficient's numerator 3T and denominator W as
    exact BIGINTs — the ratio itself would be a float; consumers
    divide).  See the orientation note above: wedges come only from
    each vertex's HIGHER-ordered neighbors, so a hub of degree d
    contributes wedges from its few low-ordered neighbors, not d^2.

    Plan: orient (broadcast deg twice onto the edge list, map-only
    filter; the v-side degree rides along) -> self-join on the wedge
    pivot u (one shuffle) with the wedge endpoints canonicalized by
    the SAME (deg, id) total order as the orientation -> close the
    wedge with ONE equi-join back to oriented edges on the (x, y)
    pair (an OR-of-orientations condition here would plan as a
    nested-loop join — the canonical order makes it hash-joinable)
    -> three 1-row aggregates crossJoined into one output row."""
    und = _copurchase_und(spark, sf_dir)
    edges = und.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionAll(
        und.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    return _triangle_stats_on(edges)


@register(
    "q_ext_triangles_capped",
    oracle="WITH " + _PR_EDGES_CAPPED_CTE + _TRI_BODY_SQL,
)
def q_ext_triangles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle/wedge counts over the per-node top-{GRAPH_CAP_K}
    co-purchase graph — the densification-regime twin of
    q_ext_pagerank_capped (see GRAPH_CAP_K).  This is the kernel the
    cap exists FOR: the wedge join's O(E^1.5) bound is driven by the
    degree distribution, and the mutual cap's hard degree <= K bound
    turns the x1000 shared-catalog wedge blow-up (~9.3e5x,
    SCALING.md) into a hard N*C(K,2) ceiling while keeping
    the strongest co-purchase structure (exactly what a mutual-kNN
    sparsified similarity graph keeps).
    Same degree-ordered orientation + single closing equi-join as the
    uncapped id."""
    return _triangle_stats_on(
        _copurchase_edges_capped(spark, sf_dir, persist=True)
    )


# --- k-core peeling -----------------------------------------------------------
# The third classic iterative graph kernel, with a shape neither SpMV
# (pagerank) nor wedge-join (triangles) covers: ITERATIVE FILTERING —
# each round removes nodes below the degree floor and induces the
# subgraph, the standard "dense-community floor" used to denoise
# co-occurrence graphs before community detection.  True k-core peels
# to a fixed point; the registered query unrolls a FIXED number of
# peels (like PR_ITERS) so both engines compute the identical
# deterministic prefix regardless of diameter or scale.

KCORE_K = 3  # degree floor (median co-purchase degree at test SF)
KCORE_PEELS = 3  # fixed unrolled peel rounds (the gate's horizon)


def _kcore_peel_sql(i: int) -> str:
    """One oracle peel: degree floor, then induce the kept subgraph."""
    return f"""
, k{i} AS MATERIALIZED (
  SELECT src AS node FROM e{i - 1} GROUP BY src
  HAVING count(*) >= {KCORE_K}
), e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i - 1} e
  JOIN k{i} a ON a.node = e.src
  JOIN k{i} b ON b.node = e.dst
)
"""


@register(
    "q_ext_kcore",
    oracle="WITH "
    + _PR_EDGES_CTE
    + """
, e0 AS MATERIALIZED (SELECT src, dst FROM edges)
"""
    + "".join(_kcore_peel_sql(i) for i in range(1, KCORE_PEELS + 1))
    + f"""
SELECT src AS part, CAST(count(*) AS BIGINT) AS deg_in_core
FROM e{KCORE_PEELS} GROUP BY src
""",
)
def q_ext_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_PEELS} rounds of {KCORE_K}-core peeling over the
    co-purchase part graph: survivors and their degree in the peeled
    subgraph.  Exact integer degrees; the peel count is a constant,
    so the result is the same deterministic fixed-point prefix in
    both engines (a converge-until-stable loop would make the output
    depend on graph diameter — fine for one engine, ungateable
    across two).

    Plan per peel: one src-keyed partial+final count (the symmetric
    edge list makes src-degree = undirected degree), then TWO semi
    joins inducing the kept subgraph — each O(E), keyed by src / dst
    respectively, so the peel pipeline reuses the edge partitioning
    the way the pagerank iterations do.  The kept-node list shrinks
    monotonically; at 100 TB each round's node list is a candidate
    for broadcast once it fits, and AQE makes that call at runtime.
    Reference: no graph surface (start_all_pipeline.py:463-464 single
    table) — engine superset, same family as q_ext_pagerank."""
    und = _copurchase_und(spark, sf_dir)
    edges = und.select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    ).unionAll(
        und.select(F.col("part_b").alias("src"), F.col("part_a").alias("dst"))
    )
    # each round's edge set is PERSISTED: `kept` feeds two semi joins
    # AND the next round re-derives from the same frame, so an
    # unpersisted chain re-evaluates round i's lineage twice per later
    # round — 2^k growth (measured: 6.3 s vs 0.9 s at sf0.1 for k=3).
    # Same per-iteration materialization discipline as q_ext_pagerank;
    # at production scale each round would checkpoint and drop its
    # predecessor, keeping at most two edge sets alive.  Each round's
    # edge set is persisted REPARTITIONED BY src (r13, guide §2.4):
    # the cached partitioning serves the next round's degree count AND
    # its src-side semi join with zero exchanges, so each peel pays
    # one src re-key (on the just-shrunk edge set) + the dst-keyed
    # semi join instead of three full-edge shuffles (sf0.1 measured
    # 3.79 s -> 2.59 s, sf1 4.27 -> 3.25 min-of-3).
    edges = edges.repartition("src").transform(scoped_persist)
    for _ in range(KCORE_PEELS):
        # kept-node list persisted (r13, guide §2.4): BOTH semi joins
        # below read it, and unpersisted each re-ran the degree
        # aggregate over the round's edge set; one row per surviving
        # node — tiny at any scale
        kept = (
            edges.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select(F.col("src").alias("node"))
            .transform(scoped_persist)
        )
        edges = (
            edges.join(kept, edges["src"] == kept["node"], "left_semi")
            .join(kept, F.col("dst") == kept["node"], "left_semi")
            .repartition("src")
            .transform(scoped_persist)
        )
    return edges.groupBy("src").agg(
        F.count("*").alias("deg_in_core")
    ).select(F.col("src").alias("part"), "deg_in_core")
