"""Deduplication operators over `documents` (BASELINE.json north-star:
LLM-training-data pipeline ops; not present in the reference, which has
no dedup at all — duplicate trades pass straight through, SURVEY §2.8).

Four tiers, all engine-portable (deterministic md5-derived hashing so
the DuckDB oracle computes the identical signatures):

- exact          : content-hash groupBy                      (one shuffle)
- MinHash + LSH  : shingle -> 16-perm signature -> banded
                   bucket-join -> exact-Jaccard verify       (the 100 TB path:
                   candidates only, never all pairs)
- SimHash        : 32-bit signed-projection fingerprint,
                   near-dup = small Hamming distance
- n-gram Jaccard : exact pairwise baseline (quadratic; kept as the
                   correctness oracle for the LSH path)

Scale notes: at 100 TB the LSH plan is
shingle-explode (map-only) -> groupBy doc (signature, map-side combined)
-> explode 4 band keys -> groupBy band key (bucket join) -> verify pairs.
Every stage is a single hash shuffle on a uniformly-distributed key; the
quadratic `q_ext_dedup_ngram` baseline is what it replaces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 64  # two 32-bit md5 words; 5 pigeonhole chunks of 12-13 bits
HAMMING_THRESHOLD = 4
# Shingles seen in more than this many documents are dropped before the
# exact-verify joins: one boilerplate shingle shared by k documents
# would otherwise materialize k^2 join rows (the hot-key skew bomb at
# 100 TB).  The hot set is tiny by construction, so the filter is a
# broadcast anti-join.  Never triggers on the driver corpora (max df is
# 7 at sf0.01, 25 at sf0.1), so oracle values are unchanged there.
SHINGLE_DF_CAP = 1000


# --- portable deterministic hashing -----------------------------------------
# 32-bit integer from the first 8 hex chars of md5 — identical in Spark
# (conv) and DuckDB (unrolled hex-digit arithmetic).


def hex32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def duck_hex32(expr: str, start: int = 0) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {start + i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


# --- shingling ---------------------------------------------------------------
# Word trigrams.  The corpus vocabulary is tiny (~31 words), so word
# *sets* are degenerate (~all docs identical); trigram sequences are
# discriminative (planted near-dup pairs sit at J>=0.8, everything else
# <0.3).


def shingles(words: Column) -> Column:
    """Word-trigram shingles from an already-materialized words array.
    `words` must be a bound column (not an inline split(...) expression):
    lambda bodies copy outer expressions per evaluation, so an inline
    split would be recomputed for every element_at."""
    return F.array_distinct(
        F.when(
            F.size(words) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - 2),
                # slice+array_join: 2 interpreted calls/element vs 4
                # (see curation._ngram_col — measured 4x on gram plans)
                lambda i: F.array_join(F.slice(words, i, 3), "_"),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


DUCK_SHINGLES_CTE = """
sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           range(greatest(len(string_split(text, ' ')) - 2, 0)),
           i -> string_split(text, ' ')[i + 1] || '_' ||
                string_split(text, ' ')[i + 2] || '_' ||
                string_split(text, ' ')[i + 3]
         )) AS sl
  FROM documents
),
shingle AS (SELECT doc_id, unnest(sl) AS s FROM sh),
doc_size AS (SELECT doc_id, len(sl) AS n FROM sh)
"""


def shingle_rows_for(docs: DataFrame) -> DataFrame:
    """(doc_id, s) shingle rows for any (doc_id, text) frame."""
    # projection boundary materializes the words array once per row
    with_words = docs.select("doc_id", F.split("text", " ").alias("words"))
    return with_words.select(
        "doc_id", F.explode(shingles(F.col("words"))).alias("s")
    )


def shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingle_rows_for(load_table(spark, sf_dir, "documents"))


def capped_shingle_rows(sh: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Drop shingles whose document frequency exceeds `cap` before any
    shingle-keyed join.  The hot set is small by construction (few
    shingles can exceed a 1000-doc df), so it broadcasts; the anti-join
    adds no shuffle of the big side."""
    hot = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("s")
    )
    return sh.join(F.broadcast(hot), "s", "left_anti")


# DuckDB mirror of the df-cap: capped shingles + capped doc sizes.
# Jaccard in the verify stage is defined over the CAPPED shingle sets
# (both intersection and union), keeping it a true set Jaccard.
DUCK_CAPPED_CTE = f"""
hot AS (SELECT s FROM shingle GROUP BY s HAVING count(*) > {SHINGLE_DF_CAP}),
shingle_c AS (
  SELECT doc_id, s FROM shingle WHERE s NOT IN (SELECT s FROM hot)
),
doc_size_c AS (SELECT doc_id, count(*) AS n FROM shingle_c GROUP BY doc_id)
"""


# --- exact dedup -------------------------------------------------------------


@register(
    "q_ext_dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       min(doc_id) AS canonical_doc, count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def q_ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content hash, deterministic
    survivor (min doc_id).  One shuffle on an uniform key — the 100 TB
    plan is the same plan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count("*").alias("n_copies"),
        )
    )


# --- MinHash signatures ------------------------------------------------------
# One md5 per shingle (x = hex32(md5(s))), then 16 universal-hash
# permutations h_j = (A_j*x + B_j) mod P derived arithmetically — 16x
# less hashing than hashing per permutation, identical in both engines
# (A_j < 2^20 and x < 2^32, so A_j*x < 2^52: no int64 overflow).

MINHASH_P = 4_294_967_311  # prime > 2^32
MINHASH_A = [(((j + 1) * 2_654_435_761) % (1 << 20)) | 1 for j in range(N_HASHES)]
MINHASH_B = [((j + 1) * 40_503_919) % (1 << 40) for j in range(N_HASHES)]


def minhash_signature_from_rows(sh: DataFrame) -> DataFrame:
    """doc_id -> h0..h15 from (doc_id, s) shingle rows: min over
    shingles of 16 permutation hashes.  Taking the rows (rather than
    the docs) lets callers that also need the shingle table feed ONE
    persisted explode to both consumers (r13)."""
    rows = sh.select("doc_id", hex32(F.col("s")).alias("x"))
    aggs = [
        F.min((F.col("x") * MINHASH_A[j] + MINHASH_B[j]) % MINHASH_P).alias(
            f"h{j}"
        )
        for j in range(N_HASHES)
    ]
    return rows.groupBy("doc_id").agg(*aggs)


def minhash_signature_for(docs: DataFrame) -> DataFrame:
    """doc_id -> h0..h15 for any (doc_id, text) frame: min over shingles
    of 16 permutation hashes."""
    return minhash_signature_from_rows(shingle_rows_for(docs))


def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id -> h0..h15: min over shingles of 16 permutation hashes."""
    return minhash_signature_for(load_table(spark, sf_dir, "documents"))


def _duck_sig_cte() -> str:
    mins = ",\n         ".join(
        f"min((x * {MINHASH_A[j]} + {MINHASH_B[j]}) % {MINHASH_P}) AS h{j}"
        for j in range(N_HASHES)
    )
    return f"""
hashed_shingle AS (
  SELECT doc_id, {duck_hex32("s")} AS x FROM shingle
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed_shingle GROUP BY doc_id
)
"""


@register(
    "q_ext_dedup_minhash",
    oracle="WITH "
    + DUCK_SHINGLES_CTE
    + ","
    + _duck_sig_cte()
    + "SELECT * FROM sig",
)
def q_ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash signature table itself (oracle-checked bit-for-bit)."""
    return minhash_signature(spark, sf_dir)


# --- IDF-weighted MinHash ----------------------------------------------------
# Rarity bands, INTEGER by design: a float floor(ln(N/df)) weight could
# flip on last-ulp ln() differences between engines; the banded compare
# is exact everywhere.  Weighted minhash via multiset expansion (each
# copy hashed independently, min over copies) — the classic integer
# weighted-MinHash construction; rare shingles get IDF_W_RARE chances
# to own a permutation's min, so signature agreement tracks a
# rarity-weighted Jaccard instead of the uniform one.

IDF_DF_RARE = 1  # document frequency <= this -> weight IDF_W_RARE
IDF_DF_MID = 3  # document frequency <= this -> weight IDF_W_MID
IDF_W_RARE, IDF_W_MID = 3, 2


def _idf_weight_col() -> Column:
    return (
        F.when(F.col("df") <= IDF_DF_RARE, IDF_W_RARE)
        .when(F.col("df") <= IDF_DF_MID, IDF_W_MID)
        .otherwise(1)
    )


# The IDF-weighted signature CTE chain (dfreq -> banded weights ->
# multiset expansion -> 16-permutation mins), shared by the signature
# id and the end-to-end near-dup id.
_IDF_SIG_CTES = (
    DUCK_SHINGLES_CTE
    + f""",
dfreq AS (SELECT s, count(*) AS df FROM shingle GROUP BY s),
weighted AS (
  SELECT sh2.doc_id, sh2.s,
         CASE WHEN d.df <= {IDF_DF_RARE} THEN {IDF_W_RARE}
              WHEN d.df <= {IDF_DF_MID} THEN {IDF_W_MID}
              ELSE 1 END AS wt
  FROM shingle sh2 JOIN dfreq d USING (s)
),
reps AS (
  SELECT doc_id, s, unnest(range(1, wt + 1)) AS r FROM weighted
),
hashed AS (
  SELECT doc_id,
         {duck_hex32("s || '~' || CAST(r AS VARCHAR)")} AS x
  FROM reps
),
sig AS (
  SELECT doc_id,
         """
    + ",\n         ".join(
        f"min((x * {MINHASH_A[j]} + {MINHASH_B[j]}) % {MINHASH_P}) AS h{j}"
        for j in range(N_HASHES)
    )
    + """
  FROM hashed GROUP BY doc_id
)"""
)


@register(
    "q_ext_dedup_minhash_idf",
    oracle="WITH " + _IDF_SIG_CTES + "\nSELECT * FROM sig",
)
def q_ext_dedup_minhash_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted MinHash signature tier (VERDICT r11 item 8): the
    uniform MinHash treats a boilerplate shingle and a rare
    content-bearing one identically, so boilerplate-heavy corpora
    collide documents that share only template text.  Weighting each
    shingle by a rarity band (df<={IDF_DF_RARE} -> x{IDF_W_RARE},
    df<={IDF_DF_MID} -> x{IDF_W_MID}, else x1) before minhashing makes
    signature agreement estimate the weighted Jaccard
    sum(w_min)/sum(w_max) — the same integer multiset-expansion
    construction the weighted-MinHash literature starts from, with
    integer bands instead of floor(ln(N/df)) so both engines cut
    identically (a last-ulp ln() difference could flip a float floor).

    Plan (fused, VERDICT r12 item 4; window-df r13): the shingle
    explode is evaluated ONCE — the document frequency comes from a
    count window partitioned by the shingle (one s-keyed shuffle over
    the shingle rows) instead of the r12 groupBy + join-back, which
    evaluated the explode twice (once to build dfreq, once for the
    probe side) and shuffled the same bytes anyway.  With no dfreq
    join there is also no relation AQE could mistakenly
    driver-broadcast (the r12 sf10 sweep OOM class is structurally
    gone here, not just pinned away).  The multiset expansion stays
    folded ANALYTICALLY into the row: per permutation j the
    contribution of shingle s with weight wt is min over r in 1..wt
    of perm_j(hex32(s~r)), computed as a least() over <=
    {IDF_W_RARE} conditional hash columns (x_r is NULL when wt < r;
    least() skips NULLs, and x_1 is always present).  Semantically
    identical to the r12 forms — same integers, same oracle — but the
    16-way min aggregate sees exactly one row per (doc, shingle), the
    same cardinality as the unweighted signature."""
    return _idf_sig_from(_weighted_shingles(spark, sf_dir))


def _weighted_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s, wt, df) weighted shingle rows — the ONE corpus pass
    the whole IDF tier derives from.  df via count window over the
    shingle key: one explode evaluation + one s-keyed shuffle; the
    groupBy+join form paid a second explode and the same shuffle
    bytes (the join probe side), plus a pinned-hint join whose only
    purpose was to stop AQE driver-broadcasting the corpus-scale
    dfreq table.  Hot-shingle skew is identical in both forms (a hot
    key's rows land on one reducer either way) and bounded downstream
    by SHINGLE_DF_CAP."""
    sh = shingle_rows(spark, sf_dir)
    return sh.withColumn(
        "df", F.count("*").over(Window.partitionBy("s"))
    ).select("doc_id", "s", _idf_weight_col().alias("wt"), "df")


def _idf_sig_from(weighted: DataFrame) -> DataFrame:
    """IDF-weighted 16-permutation signature from (doc_id, s, wt)
    rows; see q_ext_dedup_minhash_idf for the analytic multiset fold."""

    def xr(r: int):
        # hex32 of the SAME "s~r" string the explode form hashed; the
        # md5 is evaluated lazily inside the when(), so wt=1 rows pay
        # for one hash exactly as they did as single explode rows
        h = hex32(F.concat_ws("~", F.col("s"), F.lit(str(r))))
        return h if r == 1 else F.when(F.col("wt") >= r, h)

    rows = weighted.select(
        "doc_id",
        *[xr(r).alias(f"x{r}") for r in range(1, IDF_W_RARE + 1)],
    )
    aggs = [
        F.min(
            F.least(
                *[
                    (F.col(f"x{r}") * MINHASH_A[j] + MINHASH_B[j])
                    % MINHASH_P
                    for r in range(1, IDF_W_RARE + 1)
                ]
            )
        ).alias(f"h{j}")
        for j in range(N_HASHES)
    ]
    return rows.groupBy("doc_id").agg(*aggs)


# The full weighted near-dup CTE chain and its final SELECT, kept
# separate (mirroring _NEAR_CTES/_NEAR_FINAL) so the weighted cluster,
# survivor, and estimator-error ids compose the same pipeline.
_NEAR_IDF_CTES = (
    "WITH "
    + _IDF_SIG_CTES
    + ","
    + "".join(
        f"""
band{j} AS (
  SELECT doc_id, md5(concat_ws('_', {", ".join(
      f"CAST(h{j * ROWS_PER_BAND + k} AS VARCHAR)" for k in range(ROWS_PER_BAND)
  )})) AS bk FROM sig
),"""
        for j in range(N_BANDS)
    )
    + """
cand AS (
"""
    + "\n  UNION\n".join(
        f"""  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band{j} a JOIN band{j} b ON a.bk = b.bk AND a.doc_id < b.doc_id"""
        for j in range(N_BANDS)
    )
    + f"""),
wver AS (
  SELECT doc_id, s, wt FROM weighted
  JOIN dfreq USING (s) WHERE df <= {SHINGLE_DF_CAP}
),
wsize AS (SELECT doc_id, sum(wt) AS w FROM wver GROUP BY doc_id),
winter AS (
  SELECT c.doc_a, c.doc_b, sum(sa.wt) AS wi
  FROM cand c
  JOIN wver sa ON sa.doc_id = c.doc_a
  JOIN wver sb ON sb.doc_id = c.doc_b AND sa.s = sb.s
  GROUP BY c.doc_a, c.doc_b
)
"""
)

_NEAR_IDF_FINAL = f"""
SELECT i.doc_a, i.doc_b,
       round(CAST(i.wi AS DOUBLE) / (wa.w + wb.w - i.wi), 6) AS wjaccard
FROM winter i
JOIN wsize wa ON wa.doc_id = i.doc_a
JOIN wsize wb ON wb.doc_id = i.doc_b
WHERE CAST(i.wi AS DOUBLE) / (wa.w + wb.w - i.wi) >= {JACCARD_THRESHOLD}
"""


@register("q_ext_dedup_near_idf", oracle=_NEAR_IDF_CTES + _NEAR_IDF_FINAL)
def q_ext_dedup_near_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted near-dup detection end-to-end (completes the
    weighted tier the signature id opens): weighted signatures ->
    the SAME banded bucket join as q_ext_dedup_near -> exact
    WEIGHTED-Jaccard verification of candidates only, wJ =
    sum_{s in A^B} w(s) / sum_{s in AvB} w(s) with the global rarity
    bands (weights are a function of the shingle alone, so min/max
    over the pair reduce to intersection/union sums).  Shared
    boilerplate contributes weight 1 per shingle while rare content
    counts x{IDF_W_RARE}, so template-heavy pairs that squeak past
    the uniform threshold fall below it here.

    Plan (r13): ONE corpus pass total — the persisted
    _weighted_shingles table (explode + count window, see
    q_ext_dedup_minhash_idf) feeds BOTH the signature aggregate and
    the df-capped verify side (the cap is a plain filter on the
    cached df column).  The r12 shape built the two sides
    independently, so the explode ran 4x and the df aggregate + join
    2x per invocation.  Candidate generation is the identical banded
    equi-join (no pair explosion); weighted doc sizes are one partial
    aggregate.  Cost class identical to q_ext_dedup_near."""
    wsh = _weighted_shingles(spark, sf_dir).transform(scoped_persist)
    sig = _idf_sig_from(wsh).transform(scoped_persist)
    cand = lsh_candidate_pairs(sig)
    wver = _capped(wsh)
    joined, wjac = _weighted_jaccard(cand, wver)
    return joined.filter(wjac >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round(wjac, 6).alias("wjaccard")
    )


def _capped(wsh: DataFrame) -> DataFrame:
    """df-capped (doc_id, s, wt) verify-side rows: a plain filter on
    the weighted-shingle table's df column — no separate aggregate,
    join, or anti-join pass."""
    return wsh.filter(F.col("df") <= SHINGLE_DF_CAP).select(
        "doc_id", "s", "wt"
    )


def _weighted_jaccard(cand: DataFrame, wver: DataFrame):
    """(joined, wjac_column) for exact weighted Jaccard over candidate
    pairs: wJ = sum_{s in A^B} w(s) / sum_{s in AvB} w(s).  Weights are
    a function of the shingle alone, so min/max over the pair reduce to
    intersection/union sums — one intersection join + two size joins,
    never a pair explosion."""
    # weighted-size table persisted (r13): both size joins (wa, wb)
    # read it; one row per doc — tiny at any scale
    wsizes = (
        wver.groupBy("doc_id")
        .agg(F.sum("wt").alias("w"))
        .transform(scoped_persist)
    )
    sa = wver.alias("sa")
    sb = wver.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("sa.wt").alias("wi"))
    )
    wa = wsizes.alias("wa")
    wb = wsizes.alias("wb")
    wjac = F.col("wi").cast("double") / (
        F.col("wa.w") + F.col("wb.w") - F.col("wi")
    )
    joined = inter.join(wa, F.col("wa.doc_id") == F.col("doc_a")).join(
        wb, F.col("wb.doc_id") == F.col("doc_b")
    )
    return joined, wjac


# Recursive closure over the weighted pair graph, shared by the
# weighted cluster and survivor oracles.  The near-idf chain is NESTED
# as a plain-WITH subquery inside the recursive edges CTE — the same
# shape q_ext_dedup_clusters uses, because DuckDB 1.0 mis-evaluates
# non-recursive multi-way-UNION CTEs that sit directly inside WITH
# RECURSIVE (the r7 sf1 drill incident); `edges` itself is UNION-free
# (both directions from a 2-row VALUES cross join).
_IDF_CLUSTER_CTES = (
    "WITH RECURSIVE edges AS ("
    + """
  SELECT CASE WHEN t.d = 0 THEN n.doc_a ELSE n.doc_b END AS src,
         CASE WHEN t.d = 0 THEN n.doc_b ELSE n.doc_a END AS dst
  FROM ("""
    + _NEAR_IDF_CTES
    + _NEAR_IDF_FINAL
    + """) n, (VALUES (0), (1)) t(d)
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
"""
)


@register(
    "q_ext_dedup_clusters_idf",
    oracle=_IDF_CLUSTER_CTES + "SELECT doc_id, cluster_id FROM clusters",
)
def q_ext_dedup_clusters_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure clusters over the IDF-WEIGHTED near-dup pair
    graph (VERDICT r12 item 6: the weighted tier ended at pairs, but
    production dedup consumes clusters/survivors).  Template-heavy
    corpora chain A~B~C through shared boilerplate under the uniform
    threshold; the weighted pairs break those chains, so the weighted
    closure yields tighter, content-defined clusters.

    Plan: the weighted pair set (q_ext_dedup_near_idf — banded LSH
    candidates + df-capped weighted verify, never all-pairs) feeds the
    SAME iterative min-label propagation kernel as the uniform
    clusters id: one shuffle-hash join + groupBy per round over a pair
    graph that is tiny relative to the corpus, labels localCheckpoint-
    truncated per round.  Cost class identical to q_ext_dedup_clusters;
    the oracle computes the same closure with a recursive CTE."""
    pairs = q_ext_dedup_near_idf(spark, sf_dir)
    return connected_components(pairs).select("doc_id", "cluster_id")


@register(
    "q_ext_dedup_survivors_idf",
    oracle=_IDF_CLUSTER_CTES
    + """
SELECT d.doc_id, d.lang, length(d.text) AS text_len
FROM documents d
WHERE d.doc_id NOT IN
      (SELECT doc_id FROM clusters WHERE doc_id != cluster_id)
""",
)
def q_ext_dedup_survivors_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection after WEIGHTED transitive dedup: keep every
    document that is not a non-canonical member of a weighted cluster
    (canonical = the component's minimum doc_id).  Stronger policy than
    q_ext_dedup_survivors' deliberate 1-hop greedy: the closure makes
    survivor choice consistent across chains (A~B, B~C drops B AND C,
    keeping exactly one representative per component).

    Plan: weighted pairs -> min-label propagation (see
    q_ext_dedup_clusters_idf) -> one anti-join of the corpus against
    the non-canonical label rows.  The anti-join probe is one shuffle
    on doc_id against a label set bounded by the near-dup pair graph —
    tiny relative to the corpus at 100 TB."""
    pairs = q_ext_dedup_near_idf(spark, sf_dir)
    labels = connected_components(pairs)
    dropped = labels.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    docs = load_table(spark, sf_dir, "documents")
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", F.length("text").alias("text_len")
    )


@register(
    "q_ext_minhash_idf_error",
    oracle=_NEAR_IDF_CTES
    + f"""
, exact AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.wi AS DOUBLE) / (wa.w + wb.w - i.wi) AS jx
  FROM winter i
  JOIN wsize wa ON wa.doc_id = i.doc_a
  JOIN wsize wb ON wb.doc_id = i.doc_b
), est AS (
  SELECT c.doc_a, c.doc_b,
         ({" + ".join(
             f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)"
             for j in range(N_HASHES)
         )}) / {N_HASHES}.0 AS je
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT count(*) AS n_pairs,
       round(avg(abs(e.je - x.jx)), 6) AS mae,
       round(max(abs(e.je - x.jx)), 6) AS max_err,
       round(avg(x.jx), 6) AS mean_exact
FROM exact x
JOIN est e ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
""",
)
def q_ext_minhash_idf_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimation error of the weighted {N_HASHES}-component MinHash
    sketch against the exact WEIGHTED Jaccard, over the weighted LSH
    candidate pairs — completes the eval-as-query set for the IDF tier
    (the uniform twin is q_ext_minhash_error): it prices the
    rarity-banded estimator in the same gate that checks correctness,
    so a change to the bands or N_HASHES shows its accuracy cost as a
    number.

    Exact side reuses the df-capped weighted intersection of
    q_ext_dedup_near_idf (candidates only, never all pairs); estimated
    side touches only the one-row-per-doc weighted signature table.
    Like q_ext_dedup_near_idf, signature and verify sides share ONE
    persisted weighted-shingle pass (r13)."""
    wsh = _weighted_shingles(spark, sf_dir).transform(scoped_persist)
    sig = _idf_sig_from(wsh).transform(scoped_persist)
    cand = lsh_candidate_pairs(sig)
    wver = _capped(wsh)
    joined, wjac = _weighted_jaccard(cand, wver)
    exact = joined.select("doc_a", "doc_b", wjac.alias("jx"))
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = sum(
        [
            F.when(F.col(f"sa.h{j}") == F.col(f"sb.h{j}"), 1).otherwise(0)
            for j in range(N_HASHES)
        ],
        start=F.lit(0),
    )
    est = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (matches / F.lit(float(N_HASHES))).alias("je"),
        )
    )
    err = F.abs(F.col("je") - F.col("jx"))
    return exact.join(est, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(err), 6).alias("mae"),
        F.round(F.max(err), 6).alias("max_err"),
        F.round(F.avg("jx"), 6).alias("mean_exact"),
    )


# --- LSH banding + verify ----------------------------------------------------


def _band_key(j: int) -> Column:
    cols = [
        F.col(f"h{j * ROWS_PER_BAND + k}").cast("string")
        for k in range(ROWS_PER_BAND)
    ]
    return F.md5(F.concat_ws("_", *cols))


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Explode each signature into its band keys, self-join per bucket:
    only same-bucket pairs are ever compared."""
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{j}:"), _band_key(j)) for j in range(N_BANDS)
            ])
        ).alias("band_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


# The full near-dup CTE chain and its final SELECT, kept separate so
# q_ext_dedup_survivors can compose the same pipeline.
_NEAR_CTES = (
    "WITH "
    + DUCK_SHINGLES_CTE
    + ","
    + _duck_sig_cte()
    + ","
    + "".join(
        f"""
band{j} AS (
  SELECT doc_id, md5(concat_ws('_', {", ".join(
      f"CAST(h{j * ROWS_PER_BAND + k} AS VARCHAR)" for k in range(ROWS_PER_BAND)
  )})) AS bk FROM sig
),"""
        for j in range(N_BANDS)
    )
    + """
cand AS (
"""
    + "\n  UNION\n".join(
        f"""  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band{j} a JOIN band{j} b ON a.bk = b.bk AND a.doc_id < b.doc_id"""
        for j in range(N_BANDS)
    )
    + "),"
    + DUCK_CAPPED_CTE
    + """,
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS ni
  FROM cand c
  JOIN shingle_c sa ON sa.doc_id = c.doc_a
  JOIN shingle_c sb ON sb.doc_id = c.doc_b AND sa.s = sb.s
  GROUP BY c.doc_a, c.doc_b
)
"""
)

_NEAR_FINAL = f"""
SELECT i.doc_a, i.doc_b,
       round(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 6) AS jaccard
FROM inter i
JOIN doc_size_c na ON na.doc_id = i.doc_a
JOIN doc_size_c nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) >= {JACCARD_THRESHOLD}
"""


@register("q_ext_dedup_near", oracle=_NEAR_CTES + _NEAR_FINAL)
def q_ext_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection end-to-end: signatures -> banded
    bucket join -> exact-Jaccard verification of candidates only.
    The verify joins run on df-capped shingles (see SHINGLE_DF_CAP)."""
    # Both persisted tables are referenced from multiple join branches
    # (sig by both sides of the band self-join, the capped shingles by
    # both sides of the intersection join plus the size agg); without
    # materialization each branch re-executes the shingle explode.
    # The RAW shingle rows are persisted too (r13): sig and the capped
    # table used to each re-run the explode from the parquet scan (3
    # evaluations of the most expensive map stage per invocation —
    # sig's, plus the cap's hot-set aggregate AND its probe side); one
    # cached explode now feeds all three.
    sh_raw = shingle_rows(spark, sf_dir).transform(scoped_persist)
    sig = minhash_signature_from_rows(sh_raw).transform(scoped_persist)
    cand = lsh_candidate_pairs(sig)
    sh = capped_shingle_rows(sh_raw).transform(scoped_persist)
    # doc-size table persisted (r13): both size joins read it, and
    # unpersisted each re-ran the size aggregate over the capped rows;
    # one row per doc — tiny at any scale
    sizes = (
        sh.groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .transform(scoped_persist)
    )
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    jac = F.col("ni").cast("double") / (
        F.col("na.n") + F.col("nb.n") - F.col("ni")
    )
    return (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q_ext_minhash_estimate",
    oracle=(
        "WITH "
        + DUCK_SHINGLES_CTE
        + ","
        + _duck_sig_cte()
        + ","
        + "".join(
            f"""
band{j} AS (
  SELECT doc_id, md5(concat_ws('_', {", ".join(
      f"CAST(h{j * ROWS_PER_BAND + k} AS VARCHAR)" for k in range(ROWS_PER_BAND)
  )})) AS bk FROM sig
),"""
            for j in range(N_BANDS)
        )
        + """
cand AS (
"""
        + "\n  UNION\n".join(
            f"""  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band{j} a JOIN band{j} b ON a.bk = b.bk AND a.doc_id < b.doc_id"""
            for j in range(N_BANDS)
        )
        + f"""
)
SELECT c.doc_a, c.doc_b,
       round(({" + ".join(
           f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)"
           for j in range(N_HASHES)
       )}) / {N_HASHES}.0, 6) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
"""
    ),
)
def q_ext_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-space Jaccard estimation: for each LSH candidate pair,
    the fraction of agreeing minhash components estimates J(a, b) —
    the sketch-only fast path when the exact shingle-intersection verify
    (q_ext_dedup_near) is too expensive.  At 100 TB this touches ONLY
    the one-row-per-doc signature table: candidates come from the
    banded self-join, the estimate from two signature lookups per pair;
    the shingle sets are never re-read."""
    sig = minhash_signature(spark, sf_dir).transform(scoped_persist)
    cand = lsh_candidate_pairs(sig)
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = sum(
        [
            F.when(F.col(f"sa.h{j}") == F.col(f"sb.h{j}"), 1).otherwise(0)
            for j in range(N_HASHES)
        ],
        start=F.lit(0),
    )
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(N_HASHES)), 6).alias("est_jaccard"),
        )
    )


@register(
    "q_ext_dedup_survivors",
    oracle=_NEAR_CTES
    + ", near AS ("
    + _NEAR_FINAL
    + """)
SELECT d.doc_id, d.lang, length(d.text) AS text_len
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_b FROM near)
""",
)
def q_ext_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection after near-dup detection: greedy
    keep-lowest-doc_id — any document that is the HIGHER id of a
    near-dup pair is dropped (left-anti join against the pair set).
    One-hop policy, deliberately: full transitive-closure clustering is
    iterative (union-find / connected components) and not
    SQL-expressible; at scale the anti-join is one shuffle on doc_id
    against a pair set that is tiny relative to the corpus."""
    pairs = q_ext_dedup_near(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", F.length("text").alias("text_len")
    )


def propagation_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round over a SELF-LOOP-AUGMENTED edge
    list: each node's new label is the minimum label over its incoming
    edges, and because connected_components adds a (v, v) self-loop per
    node, that minimum already includes the node's own label — so the
    round is ONE shuffle-hash join + ONE groupBy (r13; the r12 shape
    joined the label table back a second time to merge the node's own
    label, an extra node-keyed join + shuffle every round).

    The join is PINNED to shuffle-hash: left to its own devices AQE
    sees a small label table and builds a driver-side broadcast EVERY
    round — one such build OOM'd the shared JVM in the r11 x100 sweep
    under 4-way query concurrency (SCALE_r11.json incident; a real
    cluster shares its driver the same way).  The label table is never
    the memory problem executor-side (one row per pair-graph node), so
    a per-partition hash build costs the same shuffle the groupBy
    already pays, with zero driver footprint and no retry dependence.
    A session-level autoBroadcastJoinThreshold would leak to concurrent
    queries on the shared session; the hint is scoped to this join."""
    return (
        edges.join(
            labels.select(
                F.col("doc_id").alias("dst"),
                F.col("cluster_id").alias("n_label"),
            ).hint("shuffle_hash"),
            "dst",
        )
        .groupBy(F.col("src").alias("doc_id"))
        .agg(F.min("n_label").alias("cluster_id"))
    )


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Transitive-closure clustering of a (doc_a, doc_b) pair graph via
    iterative min-label propagation (the Pregel/hash-to-min pattern):
    every node starts labeled with itself; each round a node takes the
    minimum of its own and its neighbors' labels; fixpoint in
    O(component diameter) rounds.  Each round is ONE distributed join +
    groupBy — the driver only checks the converged-yet flag.  At 100 TB
    the pair graph is tiny relative to the corpus (it only contains
    near-duplicates), and diameters of near-dup clusters are small, so
    the loop runs 2-4 rounds in practice.

    Each round's labels are truncated with an EAGER localCheckpoint
    (not just persist): without lineage truncation the label plan
    grows by one join+groupBy per round, so an N-round run carries an
    O(N)-deep unrolled tree into every downstream optimization pass
    (the pre-fix static plan for q_ext_dedup_clusters printed 1902
    exchange nodes), and a deep component (diameter > ~30) would blow
    planning time long before execution cost mattered.  The
    materialization is not extra work — the convergence check already
    ran a job per round.  On a cluster with executor loss, swap for a
    reliable `checkpoint()` directory; same plan shape."""
    # The pair set itself is PERSISTED before symmetrization (r13,
    # guide §2.4): the union's two branches are different projections
    # of `pairs` (swapped columns), so ReusedExchange cannot dedupe
    # them, and with only `sym` persisted the first materializing job
    # ran the ENTIRE upstream near-pair chain (signatures, banded
    # candidates, verify joins — the expensive part) once per
    # direction (measured at sf0.1: clusters_idf 8.65 s ~= 2x the
    # 3.99 s pair chain + 1.3 s of propagation).  Cached, both
    # branches read one InMemoryRelation: upstream stages dedupe by
    # RDD identity and each block is computed once under the block
    # lock.  The pair graph only contains near-duplicates, so the
    # cache is tiny relative to the corpus at any scale.
    pairs = pairs.transform(scoped_persist)
    # No .distinct() on the symmetric union (r13): the verified pair
    # set is unique with doc_a < doc_b strict, so the two directions
    # cannot collide — the distinct was a full extra shuffle of the
    # edge list for nothing.  Persisted because BOTH the label init
    # and the augmented edge list below read it: unpersisted, each
    # would re-run the whole upstream near-pair chain (the expensive
    # part — signatures, banded candidates, verify joins).
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .transform(scoped_persist)
    )
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # Self-loop augmentation + dst-keyed persisted partitioning (r13):
    # the (v, v) rows fold the "own label" term into the neighbor min
    # (see propagation_round), and persisting the augmented edge list
    # REPARTITIONED BY dst means every round's join reads the cached
    # relation with no edge-side exchange — only the node-sized label
    # table moves per round (guide §2.4).
    edges = (
        sym.union(
            labels.select(
                F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")
            )
        )
        .repartition("dst")
        .transform(scoped_persist)
    )
    # Convergence via label-sum (r13): labels are pointwise
    # non-increasing under min-propagation, so sum(cluster_id) is
    # strictly decreasing until the fixpoint and equality of
    # consecutive sums IS pointwise convergence — one cheap aggregate
    # over the just-checkpointed node table instead of the r12
    # join + filter + count job per round.
    prev_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for _ in range(max_iter):
        # (r13 A/B note: a LAZY localCheckpoint — letting the sum job
        # below materialize it, one job/round instead of two — measured
        # within session noise four ways at sf0.1; kept EAGER for the
        # predictable materialization point.)
        labels = propagation_round(edges, labels).localCheckpoint(
            eager=True
        )
        new_sum = labels.agg(F.sum("cluster_id")).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


@register(
    "q_ext_dedup_clusters",
    # The near-pair chain is NESTED as a plain-WITH subquery instead of
    # sharing the recursive WITH clause: DuckDB 1.0 mis-evaluates
    # non-recursive CTEs containing multi-way UNION when they sit
    # inside WITH RECURSIVE (the banded `cand` UNION stopped deduping
    # and `near` lost pairs — caught by the sf1 oracle drill, r7;
    # plain WITH and Spark agreed, the recursive form silently lost 20
    # nodes).  `edges` is UNION-free for the same reason: both
    # directions come from a 2-row VALUES cross join.
    oracle="WITH RECURSIVE edges AS ("
    + """
  SELECT CASE WHEN t.d = 0 THEN n.doc_a ELSE n.doc_b END AS src,
         CASE WHEN t.d = 0 THEN n.doc_b ELSE n.doc_a END AS dst
  FROM ("""
    + _NEAR_CTES
    + _NEAR_FINAL
    + """) n, (VALUES (0), (1)) t(d)
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
""",
)
def q_ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full transitive-closure dedup clusters (the policy
    q_ext_dedup_survivors deliberately approximates with 1 hop):
    connected components of the near-dup pair graph, cluster id = the
    component's minimum doc_id.  Iterative min-label propagation in
    Spark; the DuckDB oracle computes the same closure with a recursive
    CTE — one of the few places the oracle is recursive SQL."""
    pairs = q_ext_dedup_near(spark, sf_dir)
    return connected_components(pairs).select("doc_id", "cluster_id")


# --- SimHash -----------------------------------------------------------------


def _simhash_chunks() -> list[tuple[int, int]]:
    """(offset, width) for HAMMING_THRESHOLD+1 bit chunks covering all
    SIMHASH_BITS.  Pigeonhole: a pair with <= HAMMING_THRESHOLD
    differing bits matches exactly in at least one chunk.  With 64 bits
    and threshold 4 the chunks are 12-13 bits wide (4096-8192 distinct
    values per chunk key), so the candidate equi-join stays selective as
    the corpus grows — the round-1 32-bit variant had 6-7-bit chunks
    (64-128 values) and degenerated toward n^2/128 pairs."""
    n = HAMMING_THRESHOLD + 1
    base, extra = divmod(SIMHASH_BITS, n)
    chunks, off = [], 0
    for i in range(n):
        width = base + (1 if i < extra else 0)
        chunks.append((off, width))
        off += width
    return chunks


def _duck_word_sum(word: str, bits: range) -> str:
    """Signed-projection word from per-bit majority votes on `word`."""
    return " + ".join(
        f"(CASE WHEN sum(CASE WHEN ({word} // {1 << (k % 32)}) % 2 = 1 "
        f"THEN 1 ELSE -1 END) > 0 THEN {1 << (k % 32)}::BIGINT ELSE 0 END)"
        for k in bits
    )


@register(
    "q_ext_dedup_simhash",
    oracle="WITH "
    + DUCK_SHINGLES_CTE
    + f""",
hashed AS (
  SELECT doc_id, {duck_hex32("s")} AS h0, {duck_hex32("s", start=8)} AS h1
  FROM shingle
),
sim AS (
  SELECT doc_id,
         {_duck_word_sum("h0", range(0, 32))} AS sim_lo,
         {_duck_word_sum("h1", range(32, 64))} AS sim_hi
  FROM hashed GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sim_lo, b.sim_lo))
         + bit_count(xor(a.sim_hi, b.sim_hi)) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_lo, b.sim_lo))
        + bit_count(xor(a.sim_hi, b.sim_hi)) <= {HAMMING_THRESHOLD}
""",
)
def q_ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signed-projection fingerprint per doc
    (two 32-bit md5 words, kept as two longs so no signed-overflow at
    bit 63); near-dups differ in <= 4 bits.  Fingerprinting is one
    map-side-combinable groupBy; candidate pairs come from an equi-join
    on exact-matching 12-13-bit chunks (pigeonhole over
    HAMMING_THRESHOLD+1 chunks) — same output as the brute-force pair
    scan (the DuckDB oracle), but the join is a hash join on a
    high-entropy key instead of an all-pairs nested loop."""
    # md5 computed ONCE per shingle; the projection boundary keeps the
    # multi-referenced alias materialized (CollapseProject retains
    # non-cheap multi-referenced aliases), so the two words are substring
    # reads, not two hash evaluations
    rows = (
        shingle_rows(spark, sf_dir)
        .select("doc_id", F.md5("s").alias("m"))
        .select(
            "doc_id",
            F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("h0"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("h1"),
        )
    )
    # Branch-free bit votes (r13, guide §1.2 step 2 "per-task work"):
    # the signed vote b_k = ones_k - (n - ones_k) = 2*ones_k - n, so
    # the aggregate only needs the per-bit ONES count (a shift+AND sum
    # — straight-line codegen) plus one shared row count, instead of
    # 64 CaseWhen branches per shingle row.  Same-session A/B at
    # sf0.1: aggregate-only 1.46 -> 1.27 s; full query a tie (the agg
    # is ~half the id).  Kept for the strictly simpler generated code
    # — the branch removal is what scales with shingle volume.  The
    # majority test b_k > 0 below becomes 2*ones_k > n — identical
    # votes, identical signature words, same oracle.
    bit_sums = [
        F.sum(
            F.shiftright(F.col("h0" if k < 32 else "h1"), k % 32)
            .bitwiseAND(1)
        ).alias(f"o{k}")
        for k in range(SIMHASH_BITS)
    ]
    per_doc = rows.groupBy("doc_id").agg(
        F.count("*").alias("n_sh"), *bit_sums
    )

    def _vote(k: int) -> Column:
        return (F.col(f"o{k}") * 2) > F.col("n_sh")

    def _word(bits: range) -> Column:
        return sum(
            [
                F.when(_vote(k), F.lit(1 << (k % 32))).otherwise(0)
                for k in bits
            ],
            start=F.lit(0),
        ).cast("long")

    # chunk keys assembled straight from the majority votes — no
    # cross-word bit-extraction arithmetic
    def _chunk(off: int, width: int) -> Column:
        return sum(
            [
                F.when(_vote(k), F.lit(1 << (k - off))).otherwise(0)
                for k in range(off, off + width)
            ],
            start=F.lit(0),
        ).cast("long")

    # Persisted: the candidate self-join references the signature table
    # on both sides, and Spark re-executes the whole shingle+agg lineage
    # per side (no ReusedExchange across the join inputs). Materializing
    # the (tiny: one row per doc) signature table once is also what a
    # production dedup pipeline does.
    sim = per_doc.select(
        "doc_id",
        _word(range(0, 32)).alias("sim_lo"),
        _word(range(32, 64)).alias("sim_hi"),
        *[
            _chunk(off, width).alias(f"c{i}")
            for i, (off, width) in enumerate(_simhash_chunks())
        ],
    ).transform(scoped_persist)
    bands = sim.select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(i)), F.col(f"c{i}").cast("string"))
                    for i in range(len(_simhash_chunks()))
                ]
            )
        ).alias("chunk_key"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(
        F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo"))
    ) + F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))
    return (
        a.join(
            b,
            (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= HAMMING_THRESHOLD)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


# --- exact n-gram Jaccard baseline ------------------------------------------


@register(
    "q_ext_dedup_ngram",
    oracle="WITH "
    + DUCK_SHINGLES_CTE
    + ","
    + DUCK_CAPPED_CTE
    + """,
inter AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ni
  FROM shingle_c sa JOIN shingle_c sb
    ON sa.s = sb.s AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 6) AS jaccard
FROM inter i
JOIN doc_size_c na ON na.doc_id = i.doc_a
JOIN doc_size_c nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) >= 0.3
""",
)
def q_ext_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over all sharing pairs (the quadratic
    baseline the LSH path replaces; only pairs sharing >= 1 shingle
    materialize, via the shingle-equijoin).  The df-cap bounds the
    equi-join's per-key fan-out: without it one boilerplate shingle in
    k documents materializes k^2 rows.

    NOT A SCALE PATH — deliberately quadratic in co-shingled pairs.
    This query exists as the brute-force ground truth that prices the
    LSH tiers (q_ext_dedup_near / _simhash / _containment recall is
    measured against it); at 100 TB run those, never this."""
    sh = capped_shingle_rows(shingle_rows(spark, sf_dir))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sa.s") == F.col("sb.s"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("ni"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    jac = F.col("ni").cast("double") / (
        F.col("na.n") + F.col("nb.n") - F.col("ni")
    )
    return (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.3)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q_ext_minhash_error",
    oracle=_NEAR_CTES
    + f"""
, exact AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni) AS jx
  FROM inter i
  JOIN doc_size_c na ON na.doc_id = i.doc_a
  JOIN doc_size_c nb ON nb.doc_id = i.doc_b
), est AS (
  SELECT c.doc_a, c.doc_b,
         ({" + ".join(
             f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)"
             for j in range(N_HASHES)
         )}) / {N_HASHES}.0 AS je
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT count(*) AS n_pairs,
       round(avg(abs(e.je - x.jx)), 6) AS mae,
       round(max(abs(e.je - x.jx)), 6) AS max_err,
       round(avg(x.jx), 6) AS mean_exact
FROM exact x
JOIN est e ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
""",
)
def q_ext_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimation error of the {N_HASHES}-component MinHash Jaccard
    sketch against the exact set Jaccard, over the LSH candidate
    pairs — the third eval-as-query (with q_ext_ann_recall and
    q_ext_lang_confusion): it prices the sketch-only fast path
    (q_ext_minhash_estimate) in the same gate that checks correctness,
    so shrinking N_HASHES shows its accuracy cost as a number.

    Exact side reuses the df-capped shingle intersection of
    q_ext_dedup_near (candidates only, never all pairs); estimated
    side touches only the one-row-per-doc signature table.  Both
    persisted tables feed multiple join branches."""
    # one persisted explode feeds sig + the capped table (r13; see
    # q_ext_dedup_near)
    sh_raw = shingle_rows(spark, sf_dir).transform(scoped_persist)
    sig = minhash_signature_from_rows(sh_raw).transform(scoped_persist)
    cand = lsh_candidate_pairs(sig)
    sh = capped_shingle_rows(sh_raw).transform(scoped_persist)
    # doc-size table persisted (r13): both size joins read it, and
    # unpersisted each re-ran the size aggregate over the capped rows;
    # one row per doc — tiny at any scale
    sizes = (
        sh.groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .transform(scoped_persist)
    )
    sa_sh = sh.select(F.col("doc_id").alias("doc_a"), "s")
    sb_sh = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        cand.join(sa_sh, "doc_a")
        .join(sb_sh, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    exact = (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni"))
            ).alias("jx"),
        )
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = sum(
        [
            F.when(F.col(f"sa.h{j}") == F.col(f"sb.h{j}"), 1).otherwise(0)
            for j in range(N_HASHES)
        ],
        start=F.lit(0),
    )
    est = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (matches / F.lit(float(N_HASHES))).alias("je"),
        )
    )
    err = F.abs(F.col("je") - F.col("jx"))
    return exact.join(est, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(err), 6).alias("mae"),
        F.round(F.max(err), 6).alias("max_err"),
        F.round(F.avg("jx"), 6).alias("mean_exact"),
    )


EDITDIST_SIM = 0.8  # normalized similarity threshold


@register(
    "q_ext_dedup_editdist",
    oracle=_NEAR_CTES
    + f"""
SELECT c.doc_a, c.doc_b,
       levenshtein(da.text, db.text) AS dist,
       round(1 - levenshtein(da.text, db.text)
                 / CAST(greatest(len(da.text), len(db.text)) AS DOUBLE),
             6) AS sim
FROM cand c
JOIN documents da ON da.doc_id = c.doc_a
JOIN documents db ON db.doc_id = c.doc_b
WHERE 1 - levenshtein(da.text, db.text)
        / CAST(greatest(len(da.text), len(db.text)) AS DOUBLE)
      >= {EDITDIST_SIM}
""",
)
def q_ext_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance dedup tier: LSH candidates verified by normalized
    Levenshtein similarity (1 - dist/max_len >= {EDITDIST_SIM}) — the
    character-level metric that catches small in-place edits token
    Jaccard dilutes (and the costliest verify in the family, which is
    exactly why it runs on CANDIDATES only: O(len^2) per pair is
    affordable after the banded prefilter prunes ~n^2/bands pairs, and
    never on all pairs).  Both engines implement unit-cost
    Levenshtein, so dist is integer-identical."""
    sig = minhash_signature(spark, sf_dir).transform(scoped_persist)
    cand = lsh_candidate_pairs(sig)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    dist = F.levenshtein("ta", "tb")
    sim = 1 - dist / F.greatest(F.length("ta"), F.length("tb")).cast("double")
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("dist", dist)
        .withColumn("sim_raw", sim)
        .filter(F.col("sim_raw") >= EDITDIST_SIM)
        .select("doc_a", "doc_b", "dist", F.round("sim_raw", 6).alias("sim"))
    )


# --- LSH banding-parameter sweep ---------------------------------------------
# Tuning eval for the (bands x rows) choice: each factorization of the
# 16-component signature trades candidate volume (cost) against the
# S-curve threshold (recall).  Running the sweep as a query prices that
# trade-off inside the oracle gate, like q_ext_ann_recall does for ANN.
# Everything runs on the SIGNATURE table (16 ints per doc), never the
# corpus: at 100 TB the sweep costs the same as one extra LSH pass.

BAND_SWEEP = ((2, 8), (4, 4), (8, 2))  # (bands, rows) with bands*rows = 16


def _duck_band_sweep_oracle() -> str:
    """Per config: band keys unnested doc-wise, candidate pairs by an
    EQUI-join on (band, key), then the signature rows join back for
    the agreement stats — the same shape as the Spark plan.  The r8
    form (sig x sig ON doc_id < doc_id WHERE OR-of-band-matches) was a
    full O(n^2) nested-loop filter that DuckDB recomputed per config
    (>70 min at sf10 while Spark took 18.8 s); this one is bounded by
    the banded candidate volume.  sig is wrapped AS MATERIALIZED so
    the shingle+minhash pipeline evaluates once across all configs."""
    per_keys, per_config = [], []
    for bands, rows in BAND_SWEEP:
        branches = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, ("
            + " || ':' || ".join(
                f"CAST(h{j} AS VARCHAR)"
                for j in range(b * rows, (b + 1) * rows)
            )
            + ") AS bk FROM sigm"
            for b in range(bands)
        )
        per_keys.append(
            f"""
keys_{bands}x{rows} AS MATERIALIZED ({branches}),
pairs_{bands}x{rows} AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys_{bands}x{rows} a JOIN keys_{bands}x{rows} b
    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
)"""
        )
        agree = " + ".join(
            f"(CASE WHEN a.h{j} = b.h{j} THEN 1 ELSE 0 END)"
            for j in range(N_HASHES)
        )
        per_config.append(
            f"""
SELECT {bands} AS bands, {rows} AS "rows",
       count(*) AS n_candidates,
       CAST(sum(CASE WHEN ({agree}) >= {N_HASHES // 2} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_est_ge_half,
       round(avg(({agree}) / {float(N_HASHES)}), 6) AS mean_est_jaccard
FROM pairs_{bands}x{rows} p
JOIN sigm a ON a.doc_id = p.doc_a
JOIN sigm b ON b.doc_id = p.doc_b
"""
        )
    return (
        "WITH "
        + DUCK_SHINGLES_CTE
        + ","
        + _duck_sig_cte()
        + ", sigm AS MATERIALIZED (SELECT * FROM sig),"
        + ",".join(per_keys)
        + " UNION ALL ".join(per_config)
    )


@register("q_ext_lsh_band_sweep", oracle=_duck_band_sweep_oracle())
def q_ext_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter sweep over the MinHash signature table: for
    each (bands x rows) factorization, the candidate-pair volume, the
    candidates whose sketch-estimated Jaccard clears 1/2, and the mean
    estimate — the numbers that pick LSH parameters BEFORE a corpus-
    scale dedup run commits to them.

    Plan: signatures computed once and persisted; per config the band
    keys explode doc-wise (bands rows per doc) into an equi-join on the
    band key, pair-distinct, then the pair set joins the two signature
    rows back for the component-agreement estimate.  All joins are
    hash joins on high-entropy keys; nothing touches text again."""
    sig = minhash_signature(spark, sf_dir).transform(scoped_persist)
    results = None
    for bands, rows in BAND_SWEEP:
        band_cols = [
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.col(f"h{j}").cast("string") for j in range(b * rows, (b + 1) * rows)],
            ).alias(f"band{b}")
            for b in range(bands)
        ]
        keyed = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
        pairs = (
            keyed.alias("a")
            .join(
                keyed.alias("b"),
                (F.col("a.bk") == F.col("b.bk"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sig_a = sig.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f"h{j}").alias(f"a{j}") for j in range(N_HASHES)],
        )
        sig_b = sig.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f"h{j}").alias(f"b{j}") for j in range(N_HASHES)],
        )
        agree = sum(
            [
                F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
                for j in range(N_HASHES)
            ],
            start=F.lit(0),
        )
        est = agree / float(N_HASHES)
        cfg = (
            pairs.join(sig_a, "doc_a")
            .join(sig_b, "doc_b")
            .agg(
                F.count("*").alias("n_candidates"),
                F.sum(F.when(agree >= N_HASHES // 2, 1).otherwise(0))
                .cast("long")
                .alias("n_est_ge_half"),
                F.round(F.avg(est), 6).alias("mean_est_jaccard"),
            )
            .select(
                F.lit(bands).alias("bands"),
                F.lit(rows).alias("rows"),
                "n_candidates",
                "n_est_ge_half",
                "mean_est_jaccard",
            )
        )
        results = cfg if results is None else results.unionByName(cfg)
    return results


# --- asymmetric containment tier ---------------------------------------------
# Jaccard dilutes when one document CONTAINS another (a quote plus
# commentary, a page plus boilerplate): |A∩B|/|A∪B| shrinks as the
# larger doc grows, but |A∩B|/min(|A|,|B|) stays ~1.  This tier runs
# the same banded-LSH candidate generation and scores containment
# instead — the subset-dup detector Jaccard-threshold dedup misses.

CONTAINMENT_THRESHOLD = 0.8


@register(
    "q_ext_dedup_containment",
    oracle=_NEAR_CTES
    + f"""
SELECT i.doc_a, i.doc_b,
       round(CAST(i.ni AS DOUBLE) / least(na.n, nb.n), 6) AS containment,
       round(CAST(i.ni AS DOUBLE) / (na.n + nb.n - i.ni), 6) AS jaccard
FROM inter i
JOIN doc_size_c na ON na.doc_id = i.doc_a
JOIN doc_size_c nb ON nb.doc_id = i.doc_b
WHERE CAST(i.ni AS DOUBLE) / least(na.n, nb.n) >= {CONTAINMENT_THRESHOLD}
""",
)
def q_ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-scored near-dups: |A∩B| / min(|A|, |B|) over the
    banded-LSH candidates — flags subset relationships (quotes,
    boilerplate wrappers) whose Jaccard sits far below the usual dedup
    threshold.  Reported beside Jaccard so the asymmetry is visible.

    Plan: identical shape to q_ext_dedup_near (persisted signatures ->
    banded candidates -> df-capped shingle intersection), only the
    final scalar differs — at 100 TB the marginal cost of the second
    tier is one more filter over the same intersection table."""
    # one persisted explode feeds sig + the capped table (r13; see
    # q_ext_dedup_near)
    sh_raw = shingle_rows(spark, sf_dir).transform(scoped_persist)
    sig = minhash_signature_from_rows(sh_raw).transform(scoped_persist)
    cand = lsh_candidate_pairs(sig)
    sh = capped_shingle_rows(sh_raw).transform(scoped_persist)
    # doc-size table persisted (r13): both size joins read it, and
    # unpersisted each re-ran the size aggregate over the capped rows;
    # one row per doc — tiny at any scale
    sizes = (
        sh.groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .transform(scoped_persist)
    )
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    containment = F.col("ni").cast("double") / F.least(
        F.col("na.n"), F.col("nb.n")
    )
    jac = F.col("ni").cast("double") / (
        F.col("na.n") + F.col("nb.n") - F.col("ni")
    )
    return (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .filter(containment >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(containment, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# --- incremental dedup (new batch vs historical corpus) ----------------------
# The production shape: dedup never re-runs over the full corpus — each
# incoming batch checks itself against the HISTORICAL content-hash
# table.  Here the batch is the doc_id % INC_MOD == 0 slice; everything
# else plays the historical corpus.

INC_MOD = 5  # every 5th doc plays the incoming batch


@register(
    "q_ext_incremental_dedup",
    oracle=f"""
WITH hist AS (
  SELECT md5(text) AS h, min(doc_id) AS canonical
  FROM documents WHERE doc_id % {INC_MOD} <> 0
  GROUP BY md5(text)
),
batch AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % {INC_MOD} = 0
)
SELECT b.doc_id, h.canonical AS dup_of,
       CASE WHEN h.canonical IS NULL THEN 1 ELSE 0 END AS is_new_unique
FROM batch b LEFT JOIN hist h ON b.h = h.h
""",
)
def q_ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: the incoming batch (doc_id %
    {INC_MOD} == 0) joins the historical content-hash table; each new
    doc reports the historical canonical it duplicates, or flags
    itself as genuinely new.

    Plan: the historical side aggregates to one row per distinct hash
    (partial-agged), the batch side is a map-only hash projection, and
    the left join keys on the uniform md5 — the batch-sized work is
    independent of history size once the hash table exists, which is
    the whole point of incremental dedup at 100 TB: the corpus-scale
    job ran once, every later crawl pays only its own size."""
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.filter(F.col("doc_id") % INC_MOD != 0)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("canonical"))
    )
    batch = docs.filter(F.col("doc_id") % INC_MOD == 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    return batch.join(hist, "h", "left").select(
        "doc_id",
        F.col("canonical").alias("dup_of"),
        F.when(F.col("canonical").isNull(), 1).otherwise(0).alias(
            "is_new_unique"
        ),
    )


# --- duplicate-cluster size distribution -------------------------------------


@register(
    "q_ext_dup_cluster_sizes",
    oracle="""
WITH clusters AS (
  SELECT md5(text) AS h, count(*) AS cluster_size
  FROM documents GROUP BY md5(text)
)
SELECT cluster_size,
       count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM clusters GROUP BY cluster_size
""",
)
def q_ext_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size histogram: how many content
    clusters exist at each copy count, and how many documents they
    absorb — the one-table summary of corpus duplication (a heavy tail
    here predicts big wins from dedup before paying for it; cf. Lee et
    al. 2022 on duplication's training cost).

    Plan: two stacked partial-aggregated groupBys (content hash, then
    size), both map-side combined on uniform keys; output is bounded by
    the distinct cluster sizes, a handful of rows at any corpus."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count("*").alias("cluster_size")
    )
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("long").alias("n_docs"),
    )


# --- per-source duplication rate ---------------------------------------------


@register(
    "q_ext_dup_rate_by_source",
    oracle="""
WITH sized AS (
  SELECT doc_id, source,
         count(*) OVER (PARTITION BY md5(text)) AS cluster_n
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN cluster_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_duplicated,
       round(sum(CASE WHEN cluster_n > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_rate
FROM sized GROUP BY source
""",
)
def q_ext_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source: the fraction of each source's
    docs whose content hash appears more than once anywhere in the
    corpus — the per-feed attribution of what
    q_ext_dup_cluster_sizes reports corpus-wide (the first question
    after "how duplicated": WHICH crawl is producing the copies).

    Plan: one hash-partitioned count window over md5(text) (a doc in a
    k-cluster costs k rows, never a join back — the hapax/dupspan
    shape), then a sources-bounded rollup.  Two uniform-key shuffles
    total."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    sized = docs.select(
        "source", (F.count("*").over(w) > 1).alias("is_dup")
    )
    dup = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    return sized.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        dup.cast("long").alias("n_duplicated"),
        F.round(dup / F.count("*").cast("double"), 6).alias("dup_rate"),
    )


@register(
    "q_ext_dedup_roi",
    oracle="""
WITH hashed AS (
  SELECT doc_id, md5(text) AS h,
         len(string_split(text, ' ')) AS toks
  FROM documents
), keep AS (
  SELECT h, min(doc_id) AS keeper FROM hashed GROUP BY h
)
SELECT count(*) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN doc_id = keeper THEN toks ELSE 0 END)
            AS BIGINT) AS surviving_tokens,
       round(1.0 - CAST(sum(CASE WHEN doc_id = keeper THEN toks
                                 ELSE 0 END) AS DOUBLE)
                   / sum(toks), 6) AS token_savings
FROM hashed JOIN keep USING (h)
""",
)
def q_ext_dedup_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup return-on-investment: the token budget exact dedup would
    free (total vs surviving tokens under keep-lowest-doc_id) — the
    one-row business case computed BEFORE paying for the dedup run
    (complement of q_ext_dup_cluster_sizes, which counts docs, not
    the tokens that actually price training).

    Plan: one map-only (hash, tokens) projection; the keeper table is
    a partial-aggregated min per hash that joins back on the same
    hash key (one shuffle each side, co-partitioned); 1-row rollup.
    Savings ratio is one IEEE division of exact integer sums."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).alias("toks"),
    )
    keep = hashed.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    surv = F.when(F.col("doc_id") == F.col("keeper"), F.col("toks")).otherwise(
        F.lit(0)
    )
    return (
        hashed.join(keep, "h")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
            F.sum(surv).alias("surviving_tokens"),
            F.round(
                F.lit(1.0) - F.sum(surv).cast("double") / F.sum("toks"), 6
            ).alias("token_savings"),
        )
    )


# --- dedup within a time horizon (batch twin of the streaming dedup) --------
# `dropDuplicatesWithinWatermark` (streaming/pipeline.py:dedup_stream)
# is replay-tested but approximate-in-time: state eviction is watermark-
# granular, so its reference semantics — keep an event iff it starts a
# new chain, i.e. it is the first of its key more than HORIZON after
# the previously KEPT event — live only in prose.  This query registers
# those greedy-chain semantics in the gate.  The recurrence (each keep
# decision depends on the previous keep, not the previous row) is not
# window-expressible; it runs JVM-side as the collect-sorted + linear
# fold pattern established by q_ext_ewma — no Python UDF.  At 100 TB
# the per-key array is the bounded-state concern; the streaming kernel
# IS the O(1)-state production path, and this batch twin is its
# correctness reference (same division of labor as SpaceSaving vs
# q_ext_topk_talkers).

HORIZON_S = 600  # 10-minute dedup horizon


@register(
    "q_ext_dedup_horizon",
    # r10 oracle rewrite (r9 verdict item 3): the old list_reduce form
    # carried a growing kept-ids LIST through every fold step —
    # O(chain^2) copy churn that needed a 49-80 GB DuckDB budget at
    # sf10.  This recursive CTE carries only (user, type, frontier)
    # per active chain — O(chains) state — and emits one ROW per kept
    # event; kept_ids reassembles in the final aggregate.  `cand`
    # pre-collapses to the per-(key, second) minimal event id, which
    # is the only event a greedy keep can ever select (later ids at
    # the same second can never clear the gap check).  Verified
    # row-identical to the list_reduce form at sf0.01/sf0.1 before the
    # swap.
    oracle=f"""
WITH RECURSIVE ev AS MATERIALIZED (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id
  FROM events
), cand AS MATERIALIZED (
  SELECT user_id, event_type, sec, min(event_id) AS eid
  FROM ev GROUP BY 1, 2, 3
), kept AS (
  SELECT user_id, event_type, sec, eid
  FROM (SELECT user_id, event_type, sec, eid,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY sec, eid) AS rn
        FROM cand) WHERE rn = 1
  UNION ALL
  SELECT k.user_id, k.event_type, nxt.sec, nxt.eid
  FROM kept k JOIN LATERAL (
     SELECT c.sec, c.eid FROM cand c
     WHERE c.user_id = k.user_id AND c.event_type = k.event_type
       AND c.sec > k.sec + {HORIZON_S}
     ORDER BY c.sec, c.eid LIMIT 1
  ) nxt ON true
), agg AS (
  SELECT user_id, event_type,
         CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(eid, ',' ORDER BY sec, eid) AS kept_ids
  FROM kept GROUP BY 1, 2
), nev AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM ev GROUP BY 1, 2
)
SELECT n.user_id, n.event_type, n.n_events, a.n_kept, a.kept_ids
FROM nev n JOIN agg a USING (user_id, event_type)
""",
)
def q_ext_dedup_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy within-horizon dedup per (user_id, event_type): keep an
    event iff it is more than {HORIZON_S} s after the previously KEPT
    event of its key (chained semantics — the reference behavior of
    the streaming `dropDuplicatesWithinWatermark` path, whose state
    eviction is only watermark-granular).  Output: per-key event and
    survivor counts plus the exact kept event-id list, so the gate
    hash-checks every keep decision.

    Plan: ONE shuffle (the groupBy), then the fold runs map-only on
    [epoch_s, event_id] pairs — both engines sort by (floored second,
    event_id) and fold the identical flat array, so the kept chain is
    deterministic and tied timestamps cannot flip keeps.  The gap
    check is integer seconds (the q_ext_sessionize epoch
    discipline)."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    seq = ev.groupBy("user_id", "event_type").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        sec.alias("sec"),
                        F.col("event_id").alias("eid"),
                    )
                )
            ),
            lambda s: F.array(s["sec"], s["eid"]),
        ).alias("xs")
    )
    folded = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: F.when(
            F.element_at(x, 1)
            > F.element_at(acc, F.size(acc) - 1) + HORIZON_S,
            F.concat(acc, x),
        ).otherwise(acc),
    )
    with_f = seq.select(
        "user_id",
        "event_type",
        F.size("xs").cast("long").alias("n_events"),
        folded.alias("f"),
    )
    n_kept = (F.size("f") / 2).cast("long")
    kept_ids = F.array_join(
        F.transform(
            F.sequence(F.lit(1), (F.size("f") / 2).cast("int")),
            lambda i: F.element_at(F.col("f"), i * 2).cast("string"),
        ),
        ",",
    )
    return with_f.select(
        "user_id",
        "event_type",
        "n_events",
        n_kept.alias("n_kept"),
        kept_ids.alias("kept_ids"),
    )
