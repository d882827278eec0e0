"""Training-data curation operators over `documents`: deterministic
sampling and token-budget packing (BASELINE.json north-star ops; absent
from the reference, which forwards every tick unsampled).

Both are designed for the 100 TB regime:

- sampling is a MAP-ONLY hash threshold — reproducible across engines,
  runs, and repartitionings, unlike `df.sample()` whose output depends
  on the seed AND the physical partitioning;
- budget packing shards each stratum so the running sum never serializes
  a whole language through one task: the per-(lang, shard) window is the
  unit of order, and the budget splits linearly across shards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.functions.dedup import duck_hex32, hex32
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

# per-language sampling rates in basis points (how a curation pipeline
# up/down-weights sources); unlisted languages use the default
SAMPLE_RATES_BP = {"en": 5000, "de": 3000}
DEFAULT_RATE_BP = 2000

TOKEN_BUDGET = 2_800  # whitespace tokens per language (~6 avg docs/shard)
N_BUDGET_SHARDS = 8


def _sample_key(lang, doc_id):
    return hex32(F.concat(lang, F.lit(":"), doc_id.cast("string"))) % 10000


@register(
    "q_ext_stratified_sample",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE {duck_hex32("lang || ':' || CAST(doc_id AS VARCHAR)")} % 10000 <
      (CASE lang WHEN 'en' THEN {SAMPLE_RATES_BP['en']}
                 WHEN 'de' THEN {SAMPLE_RATES_BP['de']}
                 ELSE {DEFAULT_RATE_BP} END)
""",
)
def q_ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep a document iff the md5 of
    (lang, doc_id) falls under the stratum's rate.  Map-only (no
    shuffle, no state), stable under re-runs and repartitioning, and
    exactly reproducible in any engine — the property `df.sample()`
    cannot give a multi-engine pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(SAMPLE_RATES_BP["en"])).when(
        F.col("lang") == "de", F.lit(SAMPLE_RATES_BP["de"])
    ).otherwise(F.lit(DEFAULT_RATE_BP))
    return docs.filter(
        _sample_key(F.col("lang"), F.col("doc_id")) < rate
    ).select("doc_id", "lang", "source")


@register(
    "q_ext_token_budget",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS ws_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr,
         {duck_hex32("CAST(doc_id AS VARCHAR)")} % {N_BUDGET_SHARDS} AS shard
  FROM documents
), ranked AS (
  SELECT doc_id, lang, shard, ws_tokens, ttr,
         sum(ws_tokens) OVER (PARTITION BY lang, shard
                              ORDER BY ttr DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
-- CASTs: DuckDB len() is BIGINT but sum() OVER is HUGEINT -> pandas
-- float64; Spark's running sum is bigint -> int64.  The driver hashes
-- pandas dtypes-sensitively, so both engines must land on int64.
SELECT doc_id, lang, shard, ws_tokens, round(ttr, 6) AS ttr,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET // N_BUDGET_SHARDS}
""",
)
def q_ext_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: per language, keep the highest-quality
    documents (type-token ratio, doc_id tiebreak) until a token budget
    fills.  The stratum is SHARDED on a doc-id hash with the budget
    split across shards, so no single task ever owns a whole language's
    running sum — the difference between a window that works at 100 TB
    and one that serializes terabytes through one partition."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    )
    toks = docs.select(
        "doc_id",
        "lang",
        # long: match DuckDB len()'s BIGINT in the driver's pandas hash
        F.size("words").cast("long").alias("ws_tokens"),
        (
            F.size(F.array_distinct("words")).cast("double") / F.size("words")
        ).alias("ttr"),
        (hex32(F.col("doc_id").cast("string")) % N_BUDGET_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy(F.col("ttr").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        toks.withColumn("cum_tokens", F.sum("ws_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET // N_BUDGET_SHARDS)
        .select(
            "doc_id",
            "lang",
            "shard",
            "ws_tokens",
            F.round("ttr", 6).alias("ttr"),
            "cum_tokens",
        )
    )


# --- sequence packing --------------------------------------------------------
# GPT-style training-data packing: documents are concatenated (in
# deterministic doc_id order) into fixed-length token contexts,
# splitting across sequence boundaries.  Like the budget window, the
# concatenation stream is SHARDED on a doc-id hash so no single task
# owns the whole corpus's running sum — each shard is an independent
# stream of sequences.

SEQ_LEN = 256  # tokens per packed training sequence
N_PACK_SHARDS = 8


@register(
    "q_ext_pack_sequences",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS ws_tokens,
         {duck_hex32("CAST(doc_id AS VARCHAR)")} % {N_PACK_SHARDS} AS shard
  FROM documents
), cum AS (
  SELECT doc_id, shard, ws_tokens,
         sum(ws_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
-- CASTs: sum() OVER is HUGEINT -> pandas float64; Spark emits bigint.
SELECT doc_id, shard, ws_tokens,
       CAST((cum_tokens - ws_tokens) // {SEQ_LEN} AS BIGINT) AS start_seq,
       CAST((cum_tokens - ws_tokens) % {SEQ_LEN} AS BIGINT) AS start_offset,
       CAST((cum_tokens - 1) // {SEQ_LEN}
            - (cum_tokens - ws_tokens) // {SEQ_LEN} + 1 AS BIGINT)
         AS n_seqs_spanned
FROM cum
""",
)
def q_ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign every document its position in the
    packed fixed-length context stream of its shard — starting
    sequence id, offset within it, and how many sequences it spans.
    A trainer reading shard s materializes sequence k by slicing the
    docs with start_seq <= k <= start_seq + n_seqs_spanned - 1; the
    plan is one sharded window (no global order, no driver state)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # long: match DuckDB len()'s BIGINT in the driver's pandas hash
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        (hex32(F.col("doc_id").cast("string")) % N_PACK_SHARDS).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("ws_tokens").over(w)
    prev = cum - F.col("ws_tokens")
    return docs.select(
        "doc_id",
        "shard",
        "ws_tokens",
        F.floor(prev / SEQ_LEN).alias("start_seq"),
        (prev % SEQ_LEN).alias("start_offset"),
        (F.floor((cum - 1) / SEQ_LEN) - F.floor(prev / SEQ_LEN) + 1).alias(
            "n_seqs_spanned"
        ),
    )


IMP_BASE_BP = 3000  # base keep rate in basis points of 10000, weight 1.0
IMP_CAP_BP = 10000


@register(
    "q_ext_importance_sample",
    oracle=f"""
WITH stats AS (SELECT avg(n_chars) AS avg_chars FROM documents)
SELECT d.doc_id, d.lang, d.n_chars,
       least(CAST(floor({IMP_BASE_BP} * d.n_chars / s.avg_chars) AS BIGINT),
             {IMP_CAP_BP}) AS keep_bp
FROM documents d CROSS JOIN stats s
WHERE {duck_hex32("'imp:' || CAST(doc_id AS VARCHAR)")} % {IMP_CAP_BP} <
      least(CAST(floor({IMP_BASE_BP} * d.n_chars / s.avg_chars) AS BIGINT),
            {IMP_CAP_BP})
""",
)
def q_ext_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: each document's keep
    probability scales with its weight (here length relative to the
    corpus mean, the DSIR shape — swap in any score column), capped at
    1.  The accept test compares a salted md5 bucket against the
    weight-scaled threshold, so membership is a pure row function given
    the corpus mean: reproducible across engines, partitionings, and
    reruns, unlike rand()-based weighted sampling.

    Plan: one 1-row aggregate broadcast back, then a map-only filter —
    the corpus-sized stage has no shuffle.  Both engines floor() the
    weight-scaled threshold explicitly before the integer cast (DuckDB
    CAST rounds doubles where Spark truncates), keeping the accept
    boundary exact."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.agg(F.avg("n_chars").alias("avg_chars"))
    keep_bp = F.least(
        F.floor(IMP_BASE_BP * F.col("n_chars") / F.col("avg_chars")).cast(
            "long"
        ),
        F.lit(IMP_CAP_BP).cast("long"),
    )
    bucket = (
        hex32(F.concat(F.lit("imp:"), F.col("doc_id").cast("string")))
        % IMP_CAP_BP
    )
    return (
        docs.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            keep_bp.alias("keep_bp"),
            bucket.alias("__b"),
        )
        .filter(F.col("__b") < F.col("keep_bp"))
        .drop("__b")
    )


# --- temperature resampling --------------------------------------------------
# Multilingual mixing a la XLM-R / mC4: sampling probability q_l is
# proportional to p_l^ALPHA (ALPHA < 1 flattens the language
# distribution), realized as a per-language keep rate r_l proportional
# to p_l^(ALPHA-1) and normalized so the rarest language keeps
# everything.  The rate table is languages-sized; the corpus pass is a
# map-only deterministic md5-threshold filter (same machinery as
# q_ext_stratified_sample, but the rates come from the data instead of
# a config).

TEMP_ALPHA = 0.3  # sampling exponent (XLM-R's multilingual setting)


@register(
    "q_ext_temperature_resample",
    oracle=f"""
WITH lang_stats AS (
  SELECT lang, count(*) AS n_docs,
         count(*) / CAST(sum(count(*)) OVER () AS DOUBLE) AS p
  FROM documents GROUP BY lang
),
rates AS (
  -- round to 9 dp BEFORE floor: JVM Math.pow and libm pow may differ
  -- in the last ulp, and a bare floor at an integer boundary would
  -- flip keep_bp (and the kept set) between engines
  SELECT lang, n_docs,
         CAST(floor(round(10000 * pow(p, {TEMP_ALPHA} - 1.0)
                    / max(pow(p, {TEMP_ALPHA} - 1.0)) OVER (), 9)) AS BIGINT)
           AS keep_bp
  FROM lang_stats
)
SELECT d.doc_id, d.lang, r.keep_bp
FROM documents d JOIN rates r USING (lang)
WHERE {duck_hex32("'temp:' || CAST(doc_id AS VARCHAR)")} % 10000 < r.keep_bp
""",
)
def q_ext_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing: each language's keep
    rate scales with p_lang^(ALPHA-1), normalized so the rarest
    language is kept whole — rare languages survive, dominant ones
    thin out (ALPHA={TEMP_ALPHA}, the XLM-R exponent).

    Plan: one languages-sized aggregate (map-side combined) -> window
    over that tiny table for the normalizer -> broadcast join back ->
    map-only md5-threshold filter.  The corpus-sized stage has no
    shuffle and the accept test is reproducible across engines,
    partitionings, and reruns."""
    docs = load_table(spark, sf_dir, "documents")
    lang_stats = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w_all = Window.partitionBy()
    p = F.col("n_docs") / F.sum("n_docs").over(w_all).cast("double")
    weight = F.pow(p, F.lit(TEMP_ALPHA - 1.0))
    # round to 9 dp before floor — ulp-parity with the oracle's libm pow
    rates = lang_stats.select(
        "lang",
        F.floor(F.round(10000 * weight / F.max(weight).over(w_all), 9))
        .cast("long")
        .alias("keep_bp"),
    )
    bucket = (
        hex32(F.concat(F.lit("temp:"), F.col("doc_id").cast("string")))
        % 10000
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("keep_bp"))
        .select("doc_id", "lang", "keep_bp")
    )


# --- source-mixture reweighting ---------------------------------------------
MIX_CAP_BP = 40_000  # never upsample a source more than 4x


@register(
    "q_ext_mix_weights",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(src_tokens) AS all_tokens,
         count(*) AS n_sources
  FROM per_src
)
SELECT source, src_tokens,
       round(CAST(src_tokens AS DOUBLE) / all_tokens, 6) AS share,
       least(CAST(floor(round(
                10000 * CAST(all_tokens AS DOUBLE)
                      / (n_sources * src_tokens), 9)) AS BIGINT),
             {MIX_CAP_BP}) AS weight_bp
FROM per_src, tot
""",
)
def q_ext_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture reweighting: the per-source sampling weight (in
    basis points) that moves the corpus to a UNIFORM token share
    across sources, capped at 4x upsampling (MIX_CAP_BP) — the
    knob a pre-training pipeline turns to rebalance over- and
    under-represented sources before sampling
    (q_ext_stratified_sample consumes exactly such a rate table).

    Plan: one corpus pass partial-aggregates to the sources-bounded
    (source, src_tokens) table; the grand total is a 1-row rollup of
    THAT table (no second corpus pass) attached by broadcast cross
    join.  Parity: the weight is one IEEE division of exact integers,
    rounded to 9 dp BEFORE the floor (the q_ext_temperature_resample
    ulp discipline), and the cap is an integer least()."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("src_tokens")
    ).transform(scoped_persist)  # sources-bounded (~20 rows): the total is a rollup of
    # THIS table, so the corpus is scanned once, not twice
    tot = per_src.agg(
        F.sum("src_tokens").alias("all_tokens"),
        F.count("*").alias("n_sources"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "src_tokens",
        F.round(
            F.col("src_tokens").cast("double") / F.col("all_tokens"), 6
        ).alias("share"),
        F.least(
            F.floor(
                F.round(
                    10000
                    * F.col("all_tokens").cast("double")
                    / (F.col("n_sources") * F.col("src_tokens")),
                    9,
                )
            ).cast("long"),
            F.lit(MIX_CAP_BP).cast("long"),
        ).alias("weight_bp"),
    )


# --- bottom-k uniform sampling ----------------------------------------------
BOTTOMK_N = 200


@register(
    "q_ext_bottomk_sample",
    oracle=f"""
SELECT doc_id, lang, source,
       {duck_hex32("'bk:' || CAST(doc_id AS VARCHAR)")} AS sort_key
FROM documents
ORDER BY sort_key, doc_id
LIMIT {BOTTOMK_N}
""",
)
def q_ext_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k hash sampling: the EXACTLY-k uniform sample — keep the
    k documents with the smallest md5(doc_id) — complementing
    q_ext_stratified_sample's rate-based (size ~ Binomial) filter.
    Deterministic across engines, runs, partitionings AND corpus
    growth is graceful: adding documents only displaces the largest
    keys (this is the classic bottom-k / KMV construction, also the
    basis of distinct-count sketches).

    Plan: map-only key projection, then orderBy().limit(k) ->
    TakeOrderedAndProject — a parallel partial top-k per partition
    merged on the driver side; NO global sort, no whole-corpus
    shuffle, the q_ext_zipf_slope discipline."""
    docs = load_table(spark, sf_dir, "documents")
    key = hex32(F.concat(F.lit("bk:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "lang", "source", key.alias("sort_key"))
        .orderBy("sort_key", "doc_id")
        .limit(BOTTOMK_N)
    )


# --- per-group bottom-k ------------------------------------------------------
GROUPK_N = 25  # exactly-k docs per language


@register(
    "q_ext_groupk_sample",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, source,
         {duck_hex32("'gk:' || CAST(doc_id AS VARCHAR)")} AS sort_key
  FROM documents
), ranked AS (
  SELECT doc_id, lang, source, sort_key,
         row_number() OVER (PARTITION BY lang
                            ORDER BY sort_key, doc_id) AS rk
  FROM keyed
)
SELECT doc_id, lang, source, sort_key, rk
FROM ranked WHERE rk <= {GROUPK_N}
""",
)
def q_ext_groupk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bottom-k: EXACTLY k documents per language by
    smallest md5 key — the grouped KMV sample behind per-stratum eval
    sets and few-shot pools ("give me 25 deterministic docs per
    language", stable under corpus growth within each stratum).

    Plan: map-only key projection + ONE language-partitioned rank
    window.  The partition key is the stratum, so task size is
    stratum-bounded — for mega-strata the q_ext_token_budget shard
    trick applies (hash-shard inside the language, take k from the
    shard-proportional budget)."""
    docs = load_table(spark, sf_dir, "documents")
    key = hex32(F.concat(F.lit("gk:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy("sort_key", "doc_id")
    return (
        docs.select("doc_id", "lang", "source", key.alias("sort_key"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= GROUPK_N)
    )


# --- exactly-k weighted sampling (priority sampling) -------------------------
# The weighted complement of q_ext_groupk_sample's uniform bottom-k:
# per language, EXACTLY k documents chosen with probability scaling
# with weight (n_chars — swap in any quality score), via priority
# sampling (Duffield, Lund & Thorup 2007): priority = u / w with u
# deterministic-uniform from a salted md5; take the k SMALLEST
# priorities.  A heavier doc gets a proportionally smaller priority,
# so selection probability rises with weight, and the k-th priority
# doubles as the inclusion-threshold estimator the paper uses for
# unbiased subset sums.
#
# Engine-exactness: u/w is ((h + 1) / 2^32) / w — two IEEE double
# divisions on exact integers, correctly rounded and bit-identical in
# Spark and DuckDB.  No pow/ln (the classic Efraimidis-Spirakis
# u^(1/w) key needs transcendentals whose last-ulp behavior is
# libm-specific — the exact class of cross-engine flip the sf1 drill
# exists to catch).

WEIGHTED_K = 50


@register(
    "q_ext_weighted_sample",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         (CAST({duck_hex32("'ws:' || CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
          / 4294967296.0) / n_chars AS priority
  FROM documents
), ranked AS (
  SELECT doc_id, lang, n_chars, priority,
         row_number() OVER (PARTITION BY lang
                            ORDER BY priority, doc_id) AS rk
  FROM keyed
)
SELECT doc_id, lang, n_chars, round(priority * 1e9, 6) AS priority_ppb, rk
FROM ranked WHERE rk <= {WEIGHTED_K}
""",
)
def q_ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-{WEIGHTED_K} weighted sample per language by priority
    sampling (see block comment: deterministic md5 uniform, priority
    u/w, k smallest — reproducible across engines/partitionings, no
    transcendentals).

    Plan: map-only key projection + ONE language-partitioned rank
    window with WindowGroupLimit pruning to k rows per stratum before
    the sort network — identical shape (and scale story) to
    q_ext_groupk_sample."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        hex32(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))) + 1
    ).cast("double") / F.lit(4294967296.0)
    priority = u / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        docs.select(
            "doc_id", "lang", "n_chars", priority.alias("priority")
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= WEIGHTED_K)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(F.col("priority") * 1e9, 6).alias("priority_ppb"),
            "rk",
        )
    )
