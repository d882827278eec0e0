"""Retrieval-scoring operators over `documents`: BM25 against a seed
query and a corpus bigram language-model score per document — the two
classic "score every document against a small model of what I want"
shapes a training-data pipeline uses for quality filtering and
importance resampling (DSIR-style seed-set scoring).

Scale notes (100 TB):
- BM25 filters the exploded term stream to the query vocabulary BEFORE
  any aggregation, so the corpus-sized stage is a filter that Catalyst
  pushes against the Generate; everything downstream (per-doc tf for
  |Q| terms, df, avgdl) is query-bounded or scalar and broadcasts.
- The bigram LM is built with partial-aggregated groupBys (map-side
  combine absorbs Zipf-head words; a count-window PARTITION BY w1
  would instead buffer every "the ..." bigram on one task).  The
  unigram denominator derives from the already-vocabulary-bounded
  bigram table — no second corpus pass — and the finished LM joins
  back to the stream as a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

BM25_QUERY = ("spark", "query", "join")  # seed terms scored against docs
BM25_K1 = 1.2
BM25_B = 0.75


def _duck_query_list() -> str:
    return ", ".join(f"'{t}'" for t in BM25_QUERY)


def bm25_components(spark: SparkSession, sf_dir: str):
    """Shared BM25 pipeline: per-doc per-matched-term score terms,
    ready for the caller's aggregate.  Returns a DataFrame with one row
    per (doc_id, matched term) carrying `term_score` — the exact same
    expression tree in both q_ext_bm25 and q_ext_hybrid_rrf, so the
    two queries score bit-identically."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("words"))
    stats = w.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("words")).alias("avgdl")
    )
    dl = w.select("doc_id", F.size("words").alias("dl"))
    # tf persisted (r13, guide §2.4): tiny after the query-term filter
    # (matched terms only), but the df broadcast build and the score
    # probe each re-ran the full corpus explode to derive it
    tf = (
        w.select("doc_id", F.explode("words").alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .transform(scoped_persist)
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * F.col("tf") * (BM25_K1 + 1) / denom).alias("term_score"),
        )
    )


@register(
    "q_ext_bm25",
    oracle=f"""
WITH stats AS (
  SELECT count(*) AS n_docs,
         avg(len(string_split(text, ' '))) AS avgdl
  FROM documents
), dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  WHERE term IN ({_duck_query_list()})
  GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
)
SELECT tf.doc_id, count(*) AS n_matched,
       round(sum(
         ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
         * tf.tf * ({BM25_K1} + 1)
         / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
       ), 6) AS bm25
FROM tf
JOIN df USING (term)
JOIN dl USING (doc_id)
CROSS JOIN stats s
GROUP BY tf.doc_id
""",
)
def q_ext_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 score of every document against the seed query
    {BM25_QUERY} (k1={BM25_K1}, b={BM25_B}).

    The term filter lands between the explode and the aggregate, so
    only query-vocabulary terms ever reach a shuffle; df and the
    (n_docs, avgdl) scalars are broadcast.  Two corpus passes (doc
    lengths + term stream) read the same cached scan at test scale and
    column-pruned parquet at cluster scale — both passes are map-only
    until the query-bounded aggregate."""
    return bm25_components(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("n_matched"),
        F.round(F.sum("term_score"), 6).alias("bm25"),
    )


# Per-doc bigram-LM scoring CTE chain, shared by q_ext_bigram_lm_score
# and the CCNet-style q_ext_perplexity_buckets oracle.
_BIGRAM_LM_CTES = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
pos AS (
  SELECT doc_id, words, unnest(range(greatest(len(words) - 1, 0))) AS j
  FROM w
), bg AS (
  SELECT doc_id, words[j + 1] AS w1, words[j + 2] AS w2 FROM pos
), counted AS (
  SELECT doc_id,
         ln(CAST(count(*) OVER (PARTITION BY w1, w2) AS DOUBLE)
            / count(*) OVER (PARTITION BY w1)) AS logp
  FROM bg
)
"""


@register(
    "q_ext_bigram_lm_score",
    oracle=_BIGRAM_LM_CTES
    + """
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(logp), 6) AS avg_logp
FROM counted GROUP BY doc_id
""",
)
def q_ext_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average bigram log-likelihood of each document under the
    corpus's own bigram model: ln(c(w1,w2) / c(w1)) averaged over the
    doc's bigrams — the self-perplexity signal that flags template
    spam (too likely) and garbage (too unlikely) in one number.

    Plan: bigram stream -> partial-aggregated c(w1,w2) table
    (vocabulary-bounded; map-side combine absorbs Zipf-head skew that
    a count-window over PARTITION BY w1 would concentrate on one
    task) -> c(w1) derived by re-aggregating that SMALL table (no
    second corpus pass) -> broadcast LM joined back to the stream ->
    per-doc average.  The model is exactly the full-corpus MLE the
    oracle computes; the corpus is scanned twice map-only (LM build,
    scoring), never cached."""
    docs = load_table(spark, sf_dir, "documents")
    bg = bigram_rows(docs.select("doc_id", "text"))
    lm = bigram_lm(bg)
    return (
        bg.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("logp"), 6).alias("avg_logp"),
        )
    )


def bigram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) adjacent-pair rows, keeping every extra column
    of `docs` the caller selected in (map-local Generate + project —
    legal on a streaming DataFrame too, which is how the streaming
    perplexity twin shares this exact projection)."""
    extra = [c for c in docs.columns if c not in ("doc_id", "text")]
    w = docs.select(
        "doc_id", *extra, F.split("text", " ").alias("words")
    )
    pos = w.select(
        "doc_id",
        *extra,
        "words",
        F.explode(
            F.when(
                F.size("words") >= 2,
                F.sequence(F.lit(0), F.size("words") - 2),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("j"),
    )
    return pos.select(
        "doc_id",
        *extra,
        F.element_at("words", F.col("j") + 1).alias("w1"),
        F.element_at("words", F.col("j") + 2).alias("w2"),
    )


def bigram_lm(bg: DataFrame) -> DataFrame:
    """(w1, w2, logp) corpus MLE bigram model from a bigram-row frame:
    partial-aggregated c(w1,w2) (vocabulary-bounded), c(w1) derived by
    re-aggregating that SMALL table — no second corpus pass."""
    # lm12 persisted (r13, guide §2.4): vocabulary^2-bounded, read by
    # the c(w1) re-aggregate AND the join probe — unpersisted, the
    # corpus bigram explode + pair shuffle ran twice per invocation
    lm12 = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .transform(scoped_persist)
    )
    lm1 = lm12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return lm12.join(lm1, "w1").select(
        "w1",
        "w2",
        F.log(F.col("c12").cast("double") / F.col("c1")).alias("logp"),
    )


PPL_N_BUCKETS = 3  # CCNet's head / middle / tail split


@register(
    "q_ext_perplexity_buckets",
    oracle=_BIGRAM_LM_CTES
    + f""", scores AS (
  SELECT doc_id, round(avg(logp), 6) AS s
  FROM counted GROUP BY doc_id
), ranked AS (
  SELECT d.source, s.s,
         ntile({PPL_N_BUCKETS}) OVER (
           PARTITION BY d.source ORDER BY s.s DESC, s.doc_id) AS nt
  FROM scores s JOIN documents d USING (doc_id)
)
SELECT source,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS avg_lm_score
FROM ranked GROUP BY source, nt
ORDER BY source, nt
""",
)
def q_ext_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document under the corpus's own bigram LM
    (q_ext_bigram_lm_score — higher avg log-likelihood = more
    'in-distribution'), then split each source into equal-count
    head / middle / tail buckets by LM score.  CCNet keeps head+middle
    and drops (or down-samples) tail; the bucket table with per-bucket
    mean scores is the artifact that decision reads.  Reference has no
    curation tier (SURVEY §2, training-data extension).

    Plan: the LM scoring plan is q_ext_bigram_lm_score's (vocabulary-
    bounded LM, broadcast back onto the bigram stream); bucketing adds
    ONE ntile window partitioned by source ordered by the 6dp-rounded
    score with doc_id tie-break (a total order, so both engines cut
    ties identically), then a tiny (source x bucket) aggregate.  The
    per-source window shuffles one row per DOCUMENT (not per bigram),
    and per-bucket means sum the 6dp scores in DECIMAL before ONE
    double division, so the result is shuffle-order independent.
    Docs with <2 words carry no bigrams and are excluded, as in
    the scorer."""
    scores = q_ext_bigram_lm_score(spark, sf_dir).select(
        "doc_id", F.col("avg_logp").alias("s")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ranked = scores.join(docs, "doc_id").select(
        "source",
        "s",
        F.ntile(PPL_N_BUCKETS)
        .over(
            Window.partitionBy("source").orderBy(
                F.desc("s"), F.asc("doc_id")
            )
        )
        .alias("nt"),
    )
    return (
        ranked.groupBy("source", "nt")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("s").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_lm_score"),
        )
        .select(
            "source",
            F.when(F.col("nt") == 1, "head")
            .when(F.col("nt") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "avg_lm_score",
            "nt",
        )
        .orderBy("source", "nt")
        .drop("nt")
    )


from binancedatapipelineinaws_spark.functions.similarity import duck_dot

RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_TOP_N = 50  # candidates taken from each ranker before fusion
RRF_QUERY_VEC = 0  # vec_id of the deterministic semantic query vector


@register(
    "q_ext_hybrid_rrf",
    oracle=f"""
WITH stats AS (
  SELECT count(*) AS n_docs,
         avg(len(string_split(text, ' '))) AS avgdl
  FROM documents
), dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  WHERE term IN ({_duck_query_list()})
  GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), bm AS (
  SELECT tf.doc_id,
         sum(
           ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1}
              * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
         ) AS bm25
  FROM tf
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY tf.doc_id
), bm9 AS (
  -- round to 9 dp before ranking: the bm25 sum over a doc's matched
  -- terms is a float sum whose addition order may differ between
  -- engines; 9-dp ties then break by doc_id identically
  SELECT doc_id, round(bm25, 9) AS bm25 FROM bm
), lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
  FROM bm9
  ORDER BY bm25 DESC, doc_id LIMIT {RRF_TOP_N}
), qv AS (
  SELECT embedding FROM embeddings WHERE vec_id = {RRF_QUERY_VEC}
), cos AS (
  SELECT c.vec_id AS doc_id,
         ({duck_dot('q.embedding', 'c.embedding')} /
          (sqrt({duck_dot('q.embedding', 'q.embedding')}) *
           sqrt({duck_dot('c.embedding', 'c.embedding')}))) AS cos_sim
  FROM embeddings c CROSS JOIN qv q
  WHERE c.vec_id != {RRF_QUERY_VEC}
), sem AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS sem_rank
  FROM cos
  ORDER BY cos_sim DESC, doc_id LIMIT {RRF_TOP_N}
)
SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       lex.lex_rank, sem.sem_rank,
       round(coalesce(1.0 / ({RRF_K} + lex.lex_rank), 0.0)
             + coalesce(1.0 / ({RRF_K} + sem.sem_rank), 0.0), 6) AS rrf
FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
""",
)
def q_ext_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical
    ranking and an embedding-cosine semantic ranking (query = the
    corpus vector {RRF_QUERY_VEC}, doc ids and vec ids share a key
    space) are each cut to their top-{RRF_TOP_N}, then fused with the
    standard RRF formula sum(1 / ({RRF_K} + rank)) — the shape every
    hybrid search stack (lexical + vector) uses to merge rankers with
    incomparable score scales.

    Plan: each ranker ends in `orderBy().limit(N)` ->
    TakeOrderedAndProject, so the corpus-sized stages are partial
    top-k per partition and only N rows ever reach a single task; the
    rank window then runs over a CONSTANT-bounded (N-row) set — never
    a corpus-sized unpartitioned window.  The fusion itself is an
    N-row full outer join.  Both engines break score ties by doc id,
    so the candidate sets are engine-portable."""
    from binancedatapipelineinaws_spark.functions.similarity import dot, norm

    bm = bm25_components(spark, sf_dir).groupBy("doc_id").agg(
        # 9-dp round before ranking — see the oracle's bm9 comment
        F.round(F.sum("term_score"), 9).alias("bm25")
    )
    # TakeOrderedAndProject cut, then rank over the constant-N set
    w_lex = Window.orderBy(F.desc("bm25"), "doc_id")
    lex = (
        bm.orderBy(F.desc("bm25"), "doc_id")
        .limit(RRF_TOP_N)
        .select("doc_id", F.row_number().over(w_lex).alias("lex_rank"))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
            F.col("embedding").alias("q_emb"),
            norm(F.col("embedding")).alias("q_nrm"),
        )
    )
    cos = dot(F.col("embedding"), F.col("q_emb")) / (
        norm(F.col("embedding")) * F.col("q_nrm")
    )
    scored = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(qv)
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos_sim"))
    )
    w_sem = Window.orderBy(F.desc("cos_sim"), "doc_id")
    sem = (
        scored.orderBy(F.desc("cos_sim"), "doc_id")
        .limit(RRF_TOP_N)
        .select("doc_id", F.row_number().over(w_sem).alias("sem_rank"))
    )
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(1.0 / (RRF_K + F.col("sem_rank")), F.lit(0.0)),
        6,
    )
    return fused.select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
