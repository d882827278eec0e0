"""Corpus-curation operators over `documents` — the training-data
hygiene tier beside dedup/similarity: within-document repetition
signals (the Gopher/MassiveText repetition filters), benchmark
decontamination via a broadcast n-gram join, and PII-style redaction.

The reference pipeline has no curation surface (it ships raw ticks to
Aurora; main.py:38-67); these are the superset operators a 100 TB
LLM-training pipeline runs between ingest and training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.functions.dedup import duck_hex32, hex32
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

# --- within-document repetition (Gopher Rae et al. 2021, Table A1) ----------
# Signals: fraction of duplicate word bigrams/trigrams, and the
# fraction of the document taken by its single most frequent word.
# Everything is one map-only projection: the top-word count is the
# longest run in the SORTED word list, computed by a linear fold —
# no explode, no shuffle.  (An explode->groupBy formulation also works
# but Catalyst collapses the dup-fraction projections past the
# generator, re-evaluating interpreted lambdas once per exploded row:
# measured 16.8 s vs map-only at sf0.1.)

DUP_2GRAM_MAX = 0.60  # doc fails the repetition gate above these
DUP_3GRAM_MAX = 0.50
TOP_WORD_MAX = 0.20


def _ngram_col(words, n: int):
    """Positional word n-grams as '_'-joined strings (list op, map-only).
    slice+array_join, not n chained element_at lookups: Catalyst lambda
    bodies are interpreted per element, so 2 calls/element vs n+1 is a
    measured 4x on gram-heavy queries (sf0.1: 3.8 s -> 0.9 s)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(0))),
        lambda i: F.array_join(F.slice(words, i, n), "_"),
    )


def _duck_ngram(n: int) -> str:
    parts = " || '_' || ".join(
        f"string_split(text, ' ')[i + {k + 1}]" for k in range(n)
    )
    return (
        f"list_transform(range(greatest(len(string_split(text, ' ')) - {n - 1}, 0)),"
        f" i -> {parts})"
    )


@register(
    "q_ext_repetition",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         string_split(text, ' ') AS words,
         {_duck_ngram(2)} AS g2,
         {_duck_ngram(3)} AS g3
  FROM documents
), feats AS (
  SELECT doc_id,
         len(words) AS n_words,
         1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup_2gram_frac,
         1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup_3gram_frac,
         list_max(list_transform(list_distinct(words),
                                 d -> len(list_filter(words, x -> x = d))))
           AS top_word_n
  FROM g
)
SELECT doc_id, n_words, dup_2gram_frac, dup_3gram_frac, top_word_n,
       CAST(top_word_n AS DOUBLE) / n_words AS top_word_frac,
       CASE WHEN dup_2gram_frac <= {DUP_2GRAM_MAX}
             AND dup_3gram_frac <= {DUP_3GRAM_MAX}
             AND CAST(top_word_n AS DOUBLE) / n_words <= {TOP_WORD_MAX}
            THEN 1 ELSE 0 END AS repetition_pass
FROM feats
""",
)
def q_ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition filter: duplicate-bigram/-trigram fractions
    and the most-frequent-word fraction (longest run in the sorted word
    list via a linear fold), composed into the Gopher-style gate — one
    map-only projection, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    words = F.col("words")
    g2 = _ngram_col(words, 2)
    g3 = _ngram_col(words, 3)
    dup = lambda g: 1.0 - F.size(F.array_distinct(g)).cast("double") / F.size(g)  # noqa: E731
    # max word frequency == longest run in the sorted list: fold with
    # (prev, current-run, best-run) accumulator
    top_word_n = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    per_doc = docs.select(
        "doc_id",
        F.size(words).alias("n_words"),
        dup(g2).alias("dup_2gram_frac"),
        dup(g3).alias("dup_3gram_frac"),
        top_word_n.alias("top_word_n"),
    )
    top_frac = F.col("top_word_n").cast("double") / F.col("n_words")
    return per_doc.select(
        "doc_id",
        "n_words",
        "dup_2gram_frac",
        "dup_3gram_frac",
        "top_word_n",
        top_frac.alias("top_word_frac"),
        F.when(
            (F.col("dup_2gram_frac") <= DUP_2GRAM_MAX)
            & (F.col("dup_3gram_frac") <= DUP_3GRAM_MAX)
            & (top_frac <= TOP_WORD_MAX),
            1,
        )
        .otherwise(0)
        .alias("repetition_pass"),
    )


# --- benchmark decontamination ----------------------------------------------
# The standard eval-leakage sweep: hash every word n-gram of the
# benchmark set, broadcast that (small) set, and count per training doc
# how many of its distinct n-grams appear in it.  At 100 TB the
# benchmark side is a few MB of hashes -> the match join is map-side
# (broadcast); the only shuffle is the per-doc count, keyed by doc_id.

DECONTAM_N = 5  # n-gram width (13 in the Brown et al. GPT-3 appendix;
# 5 here because the synthetic docs are 20-100 words)
BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set
CONTAM_FRAC = 0.05


@register(
    "q_ext_decontam",
    oracle=f"""
WITH grams AS (
  SELECT doc_id,
         list_distinct(list_transform({_duck_ngram(DECONTAM_N)},
                                      s -> {duck_hex32("s")})) AS gs
  FROM documents
),
bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % {BENCH_MOD} = 0
),
train AS (
  SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % {BENCH_MOD} <> 0
),
counts AS (
  SELECT t.doc_id,
         count(*) AS n_grams,
         count(b.g) AS n_contaminated
  FROM train t LEFT JOIN bench b ON t.g = b.g
  GROUP BY t.doc_id
)
SELECT doc_id, n_grams, n_contaminated,
       CAST(n_contaminated AS DOUBLE) / n_grams AS contamination_frac,
       CASE WHEN CAST(n_contaminated AS DOUBLE) / n_grams >= {CONTAM_FRAC}
            THEN 1 ELSE 0 END AS contaminated
FROM counts
""",
)
def q_ext_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: per training doc, the count and fraction
    of its distinct word {DECONTAM_N}-grams that also occur in the
    benchmark slice (doc_id % {BENCH_MOD} == 0).  Benchmark n-gram
    hashes are broadcast; one shuffle total (the doc_id count)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                _ngram_col(F.split("text", " "), DECONTAM_N), lambda s: hex32(s)
            )
        ).alias("gs"),
    )
    grams = grams.transform(scoped_persist)  # both branches below read it; without the
    # persist the bench/train lineages each rebuild every gram hash
    bench = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = grams.filter(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", F.explode("gs").alias("g")
    )
    counts = (
        train.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    frac = F.col("n_contaminated").cast("double") / F.col("n_grams")
    return counts.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        frac.alias("contamination_frac"),
        F.when(frac >= CONTAM_FRAC, 1).otherwise(0).alias("contaminated"),
    )


# --- PII-style redaction -----------------------------------------------------
# The synthetic corpus contains no PII, so a deterministic subset of
# rows gets a synthetic email / long-digit id appended at the string
# level before the scrub — the same inject-then-verify pattern as
# q_scan_tsv_quarantine.  Patterns are kept in the RE2-compatible
# subset so Spark (Java regex) and DuckDB (RE2) agree exactly.

EMAIL_RE = "[a-z0-9.]+@[a-z]+[.][a-z]+"
LONGNUM_RE = "[0-9]{6,}"
EMAIL_MOD = 13
LONGNUM_MOD = 17


@register(
    "q_ext_redact",
    oracle=f"""
WITH injected AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % {EMAIL_MOD} = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % {LONGNUM_MOD} = 0
                   THEN ' id ' || CAST(doc_id * 1000003 + 7654321 AS VARCHAR)
                   ELSE '' END
           AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{LONGNUM_RE}')) AS n_longnums,
       length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                             '{LONGNUM_RE}', '<NUM>', 'g')) AS redacted_len,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{LONGNUM_RE}', '<NUM>', 'g')) AS redacted_md5
FROM injected
""",
)
def q_ext_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrub: inject synthetic emails / long numeric ids into
    a deterministic doc subset, redact both pattern classes with
    regexp_replace, and emit per-doc redaction counts plus an md5 of
    the redacted text (so the oracle verifies the exact output string,
    not just counts).  Pure codegen projection — map-only at any
    scale.  Emails are redacted first so their digit runs don't
    double-count as long numbers."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % EMAIL_MOD == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % LONGNUM_MOD == 0,
            F.concat(
                F.lit(" id "),
                (F.col("doc_id") * 1000003 + 7654321).cast("string"),
            ),
        ).otherwise(""),
    )
    step1 = F.regexp_replace(injected, EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(step1, LONGNUM_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(injected, F.lit(EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(step1, F.lit(LONGNUM_RE), 0)).alias(
            "n_longnums"
        ),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --- end-to-end curation pipeline -------------------------------------------

PIPE_MIN_WORDS = 20
PIPE_MIN_TTR = 0.05  # type-token ratio floor (kills degenerate repeats)


def _duck_pipe_bucket() -> str:
    key = "'split:' || CAST(doc_id AS VARCHAR)"
    return f"{duck_hex32(key)} % 100"


@register(
    "q_ext_curation_pipeline",
    oracle=f"""
WITH staged AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
  FROM documents
), filtered AS (
  SELECT * FROM staged
  WHERE n_words >= {PIPE_MIN_WORDS} AND ttr >= {PIPE_MIN_TTR}
), deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text)
                                 ORDER BY doc_id) AS rn
    FROM filtered
  ) WHERE rn = 1
), assigned AS (
  SELECT lang,
         CASE WHEN {_duck_pipe_bucket()} < 90 THEN 'train'
              WHEN {_duck_pipe_bucket()} < 95 THEN 'val'
              ELSE 'test' END AS split,
         n_words
  FROM deduped
)
-- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
-- hash-mismatches Spark's bigint in the driver's canonicalizer
SELECT lang, split, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_tokens
FROM assigned GROUP BY lang, split
""",
)
def q_ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel as ONE composed plan: quality gate
    (length + type-token-ratio floors, map-only) -> exact dedup
    (keep-lowest-id per md5(text), one hash shuffle) -> deterministic
    split assignment (salted md5 bucket, map-only) -> per-(lang, split)
    corpus accounting.  This is the end-to-end shape a training-data
    pipeline actually runs; each stage is the same logic as its
    standalone operator (q_ext_text_stats, q_ext_dedup_exact,
    q_ext_split_assign), composed here so Catalyst fuses the map-only
    stages into the scan and the whole funnel costs two shuffles (dedup
    key, final rollup) at any scale."""
    from binancedatapipelineinaws_spark.operators.stats import (
        SPLIT_BUCKETS,
        SPLIT_TRAIN,
        SPLIT_VAL,
    )

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    )
    n_words = F.size("words")
    ttr = F.size(F.array_distinct("words")).cast("double") / n_words
    filtered = docs.select(
        "doc_id", "lang", "text", n_words.alias("n_words")
    ).filter((n_words >= PIPE_MIN_WORDS) & (ttr >= PIPE_MIN_TTR))
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        filtered.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    bucket = (
        hex32(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % SPLIT_BUCKETS
    )
    assigned = deduped.select(
        "lang",
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
        "n_words",
    )
    return assigned.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"), F.sum("n_words").alias("n_tokens")
    )


# --- filter-funnel accounting ------------------------------------------------
# Every curation run needs the per-rule kill report: how many documents
# each quality rule removes, applied in pipeline order (a doc counts
# against the FIRST rule that rejects it).  Rules mirror the
# q_ext_curation_pipeline gate plus the repetition screen.

FUNNEL_MAX_DUP_BIGRAM = 0.2  # repetition ceiling (Gopher-style)


@register(
    "q_ext_quality_funnel",
    oracle=f"""
WITH staged AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
         CASE WHEN len(string_split(text, ' ')) < 2 THEN 0.0 ELSE
           1.0 - (len(list_distinct(list_transform(
                    range(len(string_split(text, ' ')) - 1),
                    i -> string_split(text, ' ')[i + 1] || '_' ||
                         string_split(text, ' ')[i + 2])))
                  / CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
         END AS dup_bigram_frac
  FROM documents
),
ruled AS (
  SELECT doc_id,
         CASE
           WHEN n_words < {PIPE_MIN_WORDS} THEN 'min_words'
           WHEN ttr < {PIPE_MIN_TTR} THEN 'min_ttr'
           WHEN dup_bigram_frac > {FUNNEL_MAX_DUP_BIGRAM} THEN 'repetition'
           ELSE 'pass'
         END AS rule
  FROM staged
)
SELECT rule, count(*) AS n_docs
FROM ruled GROUP BY rule
""",
)
def q_ext_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule kill accounting for the quality gate: each document is
    charged to the FIRST rule that rejects it (min-words -> TTR floor ->
    repetition ceiling), survivors land in 'pass'.  The report every
    curation run publishes before anyone trusts the survivor corpus.

    Plan: all rule features are map-only list ops in ONE projection (no
    joins, no windows), then a rules-bounded aggregate — a single scan
    at any corpus size, and the funnel order is explicit in the CASE
    chain so rule-attribution is deterministic."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    )
    n_words = F.size("words")
    ttr = F.size(F.array_distinct("words")).cast("double") / n_words
    bigrams = F.expr(
        "transform(sequence(0, size(words) - 2), "
        "i -> concat(words[i], '_', words[i + 1]))"
    )
    dup_bigram = F.when(n_words < 2, F.lit(0.0)).otherwise(
        1.0
        - F.size(F.array_distinct(bigrams)).cast("double") / (n_words - 1)
    )
    rule = (
        F.when(n_words < PIPE_MIN_WORDS, F.lit("min_words"))
        .when(ttr < PIPE_MIN_TTR, F.lit("min_ttr"))
        .when(dup_bigram > FUNNEL_MAX_DUP_BIGRAM, F.lit("repetition"))
        .otherwise(F.lit("pass"))
    )
    return (
        docs.select(rule.alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").alias("n_docs"))
    )


# --- Gopher-style structural quality rules (Rae et al. 2021, Table A1) ------
# The three structural gates this synthetic corpus can exercise, each
# evaluated with INTEGER-ONLY comparisons (counts cross-multiplied
# against rational bounds) so Spark and any oracle engine agree
# bit-for-bit with no float thresholds anywhere:
#   nwords    : 20 <= word count <= 80
#   mean_wlen : 3 <= (total word chars / word count) <= 6, tested as
#               3*n_words <= n_wchars <= 6*n_words
#   stop_frac : stopwords >= 2% of words, tested as 50*n_stop >= n_words
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 80
GOPHER_MIN_WLEN = 3
GOPHER_MAX_WLEN = 6
GOPHER_STOP_DENOM = 50  # n_stop/n_words >= 1/50
GOPHER_STOPWORDS = ("the", "a")


@register(
    "q_ext_gopher_rules",
    oracle=f"""
WITH sig AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_words,
         len(replace(text, ' ', '')) AS n_wchars,
         len(list_filter(string_split(text, ' '),
                         w -> w IN ('the', 'a'))) AS n_stop
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS}
                              AND {GOPHER_MAX_WORDS}
                THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_nwords,
       CAST(sum(CASE WHEN n_wchars >= {GOPHER_MIN_WLEN} * n_words
                 AND n_wchars <= {GOPHER_MAX_WLEN} * n_words
                THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_wlen,
       CAST(sum(CASE WHEN {GOPHER_STOP_DENOM} * n_stop >= n_words
                THEN 0 ELSE 1 END) AS BIGINT) AS n_fail_stop,
       CAST(sum(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS}
                              AND {GOPHER_MAX_WORDS}
                 AND n_wchars >= {GOPHER_MIN_WLEN} * n_words
                 AND n_wchars <= {GOPHER_MAX_WLEN} * n_words
                 AND {GOPHER_STOP_DENOM} * n_stop >= n_words
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM sig GROUP BY source
""",
)
def q_ext_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText structural quality gates, accounted per
    source: word-count bounds, mean-word-length bounds, and a minimum
    stopword fraction — the standard pre-training structural filter
    battery (beside the repetition gates of q_ext_repetition).

    Plan: one map-only projection computes the three integer signals
    per document (split once, no explode), then a single
    partial-aggregated rollup to the sources-bounded output.  Every
    rule is an integer comparison (bounds cross-multiplied), so the
    doc-level verdicts are engine-exact: no float threshold can flip
    a document between Spark and the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    sig = docs.select(
        "source",
        F.size(words).alias("n_words"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_wchars"
        ),
        F.size(
            F.filter(words, lambda w: w.isin(*GOPHER_STOPWORDS))
        ).alias("n_stop"),
    )
    ok_nwords = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_wlen = (
        F.col("n_wchars") >= GOPHER_MIN_WLEN * F.col("n_words")
    ) & (F.col("n_wchars") <= GOPHER_MAX_WLEN * F.col("n_words"))
    ok_stop = GOPHER_STOP_DENOM * F.col("n_stop") >= F.col("n_words")
    fail = lambda ok: F.sum(F.when(ok, 0).otherwise(1))  # noqa: E731
    return sig.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        fail(ok_nwords).alias("n_fail_nwords"),
        fail(ok_wlen).alias("n_fail_wlen"),
        fail(ok_stop).alias("n_fail_stop"),
        F.sum(
            F.when(ok_nwords & ok_wlen & ok_stop, 1).otherwise(0)
        ).alias("n_pass"),
    )


# --- linear quality scorer ---------------------------------------------------
# The model-based complement of the Gopher structural gates: a fixed
# linear scorer over lexical features (a stand-in for the fastText-
# style quality classifier every pretraining pipeline runs, with
# weights frozen as policy constants so both engines score
# bit-identically).  No sigmoid: exp() differs between libm and the
# JVM in the last ulp, a linear margin ranks identically and keeps the
# score engine-exact.

QS_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
QS_W_UNIQ = 2.0  # type-token ratio reward
QS_W_STOP = -3.0  # stopword-soup penalty
QS_W_WLEN = 0.1  # mean-word-length reward
QS_BIAS = -1.0
QS_BANDS = (0.5, 0.0)  # score >= .5 -> high, >= 0 -> mid, else low


def _duck_qs_stoplist() -> str:
    return "(" + ", ".join(f"'{w}'" for w in QS_STOPWORDS) + ")"


@register(
    "q_ext_quality_score",
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
), feat AS (
  SELECT doc_id, lang,
         len(words) AS n_tok,
         CAST(len(list_distinct(words)) AS DOUBLE)
           / CAST(len(words) AS DOUBLE) AS uniq_frac,
         CAST(len(list_filter(words, x -> x IN {_duck_qs_stoplist()}))
              AS DOUBLE) / CAST(len(words) AS DOUBLE) AS stop_frac,
         CAST(len(replace(array_to_string(words, ''), ' ', ''))
              AS DOUBLE) / CAST(len(words) AS DOUBLE) AS mean_wlen
  FROM w
), scored AS (
  SELECT lang,
         round({QS_BIAS} + {QS_W_UNIQ} * uniq_frac
               + {QS_W_STOP} * stop_frac
               + {QS_W_WLEN} * mean_wlen, 9) AS score
  FROM feat
)
SELECT lang,
       CASE WHEN score >= {QS_BANDS[0]} THEN 'high'
            WHEN score >= {QS_BANDS[1]} THEN 'mid' ELSE 'low' END AS band,
       count(*) AS n_docs,
       round(CAST(sum(CAST(score AS DECIMAL(18,9))) AS DOUBLE)
             / count(*), 6) AS avg_score
FROM scored
GROUP BY 1, 2
""",
)
def q_ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-weight linear quality score per document, banded per
    language — the model-based quality filter (fastText-classifier
    stand-in) next to the structural q_ext_gopher_rules gates.
    Features: type-token ratio, stopword fraction, mean word length —
    each an exact-integer ratio, so the weighted sum is bit-identical
    across engines; band thresholds compare the 9-dp-rounded score and
    band means aggregate it as exact decimal (order-independent).

    Plan: one map-only feature+score projection (pure codegen — the
    array functions run JVM-side), then a (lang x band)-bounded
    partial-aggregated rollup; zero joins, zero windows, one
    corpus-sized shuffle of 15 groups."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tok = F.size(words).cast("double")
    uniq_frac = F.size(F.array_distinct(words)).cast("double") / n_tok
    stop_frac = (
        F.size(F.filter(words, lambda x: x.isin(*QS_STOPWORDS))).cast(
            "double"
        )
        / n_tok
    )
    mean_wlen = (
        F.length(F.regexp_replace(F.array_join(words, ""), " ", "")).cast(
            "double"
        )
        / n_tok
    )
    score = F.round(
        QS_BIAS
        + QS_W_UNIQ * uniq_frac
        + QS_W_STOP * stop_frac
        + QS_W_WLEN * mean_wlen,
        9,
    )
    band = (
        F.when(F.col("score") >= QS_BANDS[0], "high")
        .when(F.col("score") >= QS_BANDS[1], "mid")
        .otherwise("low")
    )
    return (
        docs.select("lang", score.alias("score"))
        .select("lang", band.alias("band"), "score")
        .groupBy("lang", "band")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_score"),
        )
    )


@register(
    "q_ext_quantile_norm",
    oracle="""
WITH d AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS ns,
         count(*) OVER () AS ng
  FROM documents
), v AS (
  SELECT n_chars AS val, count(*) AS cnt FROM documents GROUP BY 1
), rng AS (
  SELECT val,
         sum(cnt) OVER (ORDER BY val) - cnt + 1 AS lo,
         sum(cnt) OVER (ORDER BY val) AS hi
  FROM v
), p AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN ns > 1
              THEN 1 + ((r - 1) * (ng - 1)) // (ns - 1)
              ELSE 1 + (ng - 1) // 2 END AS pos
  FROM d
)
SELECT p.doc_id, p.source, p.n_chars,
       CAST(rng.val AS BIGINT) AS norm_chars
FROM p JOIN rng ON p.pos BETWEEN rng.lo AND rng.hi
""",
)
def q_ext_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of a per-document score
    (n_chars as the proxy): each document's within-source rank is
    mapped to the GLOBAL order statistic at the same relative
    position, the standard calibration that makes quality thresholds
    comparable across sources whose raw score distributions differ
    (a web crawl's length histogram vs a books corpus).  A lone-doc
    source maps to the global median position by convention.

    Exactness: everything is integer — within-source rank is a
    row_number over the total order (n_chars, doc_id), the target
    position is 1 + floor((r-1)(N-1)/(n_s-1)) in INTEGER division
    (no float percent_rank, so no half-even-vs-half-up boundary can
    flip), and the global order statistic is looked up by position,
    not computed by a float quantile.

    Scale shape: one source-partitioned window pass (parallel across
    sources), and the global distribution enters ONLY as the
    distinct-value range table — |V| rows (score cardinality, NOT
    corpus cardinality), built with a |V|-sized ordered window and
    BROADCAST into a range join.  No global per-row sort anywhere,
    which is what makes this form survive 100 TB where a
    percent_rank-over-everything plan serializes on one reducer."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w_src = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    d = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w_src).cast("long").alias("r"),
        F.count("*").over(Window.partitionBy("source")).alias("ns"),
    ).crossJoin(
        F.broadcast(docs.groupBy().agg(F.count("*").alias("ng")))
    )
    v = docs.groupBy(F.col("n_chars").alias("val")).agg(
        F.count("*").alias("cnt")
    )
    w_val = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rng = v.select(
        "val",
        (F.sum("cnt").over(w_val) - F.col("cnt") + 1).alias("lo"),
        F.sum("cnt").over(w_val).alias("hi"),
    )
    p = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.when(
            F.col("ns") > 1,
            1 + F.expr("((r - 1) * (ng - 1)) DIV (ns - 1)"),
        )
        .otherwise(1 + F.expr("(ng - 1) DIV 2"))
        .alias("pos"),
    )
    return p.join(
        F.broadcast(rng),
        (F.col("pos") >= F.col("lo")) & (F.col("pos") <= F.col("hi")),
    ).select(
        "doc_id", "source", "n_chars", F.col("val").alias("norm_chars")
    )
