"""Text-analysis operators over `documents` — BASELINE.json north-star
ops for LLM-training-data pipelines: quality scoring, language ID,
token counting, fingerprinting.

All pure Catalyst expressions (whole-stage codegen); ratios divide
exact integers so doubles match DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
# marker-word scoring profiles (the standard n-gram/stopword heuristic;
# this corpus is synthetic English-vocabulary for every lang label, so
# the honest prediction is 'en' throughout — mechanics are what count)
LANG_MARKERS = {
    "en": ("the", "a", "value", "row"),
    "de": ("der", "und", "nicht", "ist"),
    "es": ("el", "la", "que", "de"),
    "fr": ("le", "la", "et", "est"),
}

TOKEN_RE = "[a-z]+|[A-Z]+|[0-9]+"


@register(
    "q_ext_text_stats",
    oracle=f"""
WITH w AS (
  SELECT doc_id, lang, n_chars, text,
         string_split(text, ' ') AS words
  FROM documents
)
SELECT doc_id, lang,
       length(text) AS text_len,
       n_chars AS declared_chars,
       len(words) AS n_words,
       len(list_distinct(words)) AS n_distinct_words,
       CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS ttr,
       CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(words)
         AS avg_word_len,
       len(list_filter(words, x -> x IN {STOPWORDS})) AS n_stopwords,
       CAST(len(list_filter(words, x -> x IN {STOPWORDS})) AS DOUBLE)
         / len(words) AS stopword_ratio,
       CASE WHEN len(words) BETWEEN 20 AND 1000
             AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words) > 0.1
            THEN 1 ELSE 0 END AS quality_pass
FROM w
""",
)
def q_ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: lengths, type-token ratio, stopword
    ratio, and a composite quality gate."""
    # projection boundary: split once per row — every downstream column
    # reuses the materialized array instead of re-splitting the text
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "words", F.split("text", " ")
    )
    words = F.col("words")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    ttr = n_distinct.cast("double") / n_words
    n_stop = F.size(
        F.filter(words, lambda x: x.isin(*STOPWORDS))
    )
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("text_len"),
        F.col("n_chars").alias("declared_chars"),
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        ttr.alias("ttr"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_words
        ).alias("avg_word_len"),
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / n_words).alias("stopword_ratio"),
        F.when(
            n_words.between(20, 1000) & (ttr > 0.1), 1
        ).otherwise(0).alias("quality_pass"),
    )


def _lang_score(words: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda x: x.isin(*markers)))


@register(
    "q_ext_lang_id",
    oracle="""
WITH w AS (
  SELECT doc_id, lang AS declared_lang, string_split(text, ' ') AS words
  FROM documents
), scored AS (
  SELECT doc_id, declared_lang,
         len(list_filter(words, x -> x IN ('the', 'a', 'value', 'row'))) AS s_en,
         len(list_filter(words, x -> x IN ('der', 'und', 'nicht', 'ist'))) AS s_de,
         len(list_filter(words, x -> x IN ('el', 'la', 'que', 'de'))) AS s_es,
         len(list_filter(words, x -> x IN ('le', 'la', 'et', 'est'))) AS s_fr
  FROM w
)
SELECT doc_id, declared_lang, s_en, s_de, s_es, s_fr,
       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS predicted_lang
FROM scored
""",
)
def q_ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (argmax over per-language scores with a
    deterministic preference order)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    scores = {
        lang: _lang_score(words, markers).alias(f"s_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }
    scored = docs.select(
        "doc_id", F.col("lang").alias("declared_lang"), *scores.values()
    )
    s = {k: F.col(f"s_{k}") for k in LANG_MARKERS}
    predicted = (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]),
            "en",
        )
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return scored.withColumn("predicted_lang", predicted)


@register(
    "q_ext_lang_confusion",
    oracle="""
WITH w AS (
  SELECT doc_id, lang AS declared_lang, string_split(text, ' ') AS words
  FROM documents
), scored AS (
  SELECT doc_id, declared_lang,
         len(list_filter(words, x -> x IN ('the', 'a', 'value', 'row'))) AS s_en,
         len(list_filter(words, x -> x IN ('der', 'und', 'nicht', 'ist'))) AS s_de,
         len(list_filter(words, x -> x IN ('el', 'la', 'que', 'de'))) AS s_es,
         len(list_filter(words, x -> x IN ('le', 'la', 'et', 'est'))) AS s_fr
  FROM w
), pred AS (
  SELECT declared_lang,
         CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS predicted_lang
  FROM scored
), cells AS (
  SELECT declared_lang, predicted_lang, count(*) AS n_docs
  FROM pred GROUP BY 1, 2
), totals AS (
  SELECT declared_lang, sum(n_docs) AS n_lang FROM cells GROUP BY 1
)
SELECT c.declared_lang, c.predicted_lang, c.n_docs,
       round(c.n_docs / CAST(t.n_lang AS DOUBLE), 6) AS frac,
       CASE WHEN c.declared_lang = c.predicted_lang THEN 1 ELSE 0 END
         AS is_correct
FROM cells c JOIN totals t ON c.declared_lang = t.declared_lang
""",
)
def q_ext_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: declared x predicted doc counts
    with per-language row fractions — the classifier-quality eval as a
    first-class oracle-checked query (same eval-as-query family as
    q_ext_ann_recall: a marker-list change shows its accuracy cost
    inside the correctness gate).

    Plan: the map-only lang-id projection feeds one (declared,
    predicted) aggregate — a #langs^2-bounded output at any corpus
    size; row totals come from a window over that tiny table (a
    totals-join would re-execute the corpus aggregate per branch)."""
    from pyspark.sql import Window

    pred = q_ext_lang_id(spark, sf_dir).select(
        "declared_lang", "predicted_lang"
    )
    cells = pred.groupBy("declared_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs")
    )
    n_lang = F.sum("n_docs").over(Window.partitionBy("declared_lang"))
    return cells.select(
        "declared_lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs") / n_lang.cast("double"), 6).alias("frac"),
        F.when(F.col("declared_lang") == F.col("predicted_lang"), 1)
        .otherwise(0)
        .alias("is_correct"),
    )


@register(
    "q_ext_token_count",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{TOKEN_RE}')) AS re_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_pair_estimate
FROM documents
""",
)
def q_ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, regex (BPE-ish pre-tokenizer)
    tokens, and the bytes/4 LLM heuristic."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("re_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("byte_pair_estimate"),
    )


@register(
    "q_ext_fingerprint",
    oracle="""
WITH chars AS (
  SELECT doc_id,
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT)))
           AS codes
  FROM documents
)
SELECT doc_id,
       list_reduce(codes, (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
FROM chars
""",
)
def q_ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint
    (acc*31 + charcode mod 1e9+7) — order-sensitive, unlike the md5
    content hash, so it supports windowed/winnowed chunk comparison."""
    docs = load_table(spark, sf_dir, "documents")
    codes = F.transform(F.split("text", ""), lambda c: F.ascii(c).cast("long"))
    fp = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % 1000000007,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# --- winnowing (Schleimer et al., SIGMOD 2003 — the MOSS sketch) ------------
# Positional word-trigram hashes; each sliding window of WINNOW_W hashes
# contributes its minimum.  Guarantee: two documents sharing a run of
# >= WINNOW_W + 2 words share at least one selected fingerprint, so the
# sketch (typically ~1/((W+1)/2) of the hashes) finds chunk-level
# overlap that whole-document MinHash dilutes away.

WINNOW_W = 4


def winnow_sketch(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) rows: winnowed fingerprint sketch per document.
    All list ops — positional trigram hash sequence, per-window minima,
    distinct — run in one projection; the explode is map-only."""
    from binancedatapipelineinaws_spark.functions.dedup import hex32

    words = F.col("words")
    # slice+array_join (2 interpreted calls/element) — see curation._ngram_col
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - 2, F.lit(0))),
        lambda i: hex32(F.array_join(F.slice(words, i, 3), "_")),
    )
    hashed = docs.select("doc_id", F.split("text", " ").alias("words")).select(
        "doc_id", tri.alias("hs")
    )
    hs = F.col("hs")
    mins = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(hs) - (WINNOW_W - 1), F.lit(0))
        ),
        lambda i: F.array_min(F.slice(hs, i, WINNOW_W)),
    )
    return hashed.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fp")
    )


_DUCK_WINNOW_CTE = f"""
tri AS (
  SELECT doc_id,
         list_transform(
           range(greatest(len(string_split(text, ' ')) - 2, 0)),
           i -> {{h}}
         ) AS hs
  FROM documents
),
winnowed AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(greatest(len(hs) - {WINNOW_W - 1}, 0)),
           i -> list_aggregate(hs[i + 1:i + {WINNOW_W}], 'min')
         )) AS fps
  FROM tri
),
sketch AS (SELECT doc_id, unnest(fps) AS fp FROM winnowed)
"""


def _duck_winnow() -> str:
    from binancedatapipelineinaws_spark.functions.dedup import duck_hex32

    tri_expr = duck_hex32(
        "string_split(text, ' ')[i + 1] || '_' || "
        "string_split(text, ' ')[i + 2] || '_' || "
        "string_split(text, ' ')[i + 3]"
    )
    return _DUCK_WINNOW_CTE.format(h=tri_expr)


@register(
    "q_ext_winnow_pairs",
    oracle="WITH "
    + _duck_winnow()
    + """,
hot_fp AS (SELECT fp FROM sketch GROUP BY fp HAVING count(*) > 1000),
sketch_c AS (SELECT doc_id, fp FROM sketch WHERE fp NOT IN (SELECT fp FROM hot_fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM sketch_c a JOIN sketch_c b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
)
def q_ext_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-overlap candidates from winnowed sketches: documents
    sharing >= 1 selected fingerprint, with the shared-fingerprint
    count.  The fp equi-join touches ~2/(W+1) of the trigram volume the
    full shingle join (q_ext_dedup_ngram) would shuffle, and carries
    the same hot-key df-cap as the shingle joins (a fingerprint seen in
    > 1000 docs is boilerplate, not chunk overlap)."""
    from binancedatapipelineinaws_spark.functions.dedup import SHINGLE_DF_CAP

    docs = load_table(spark, sf_dir, "documents")
    sk = winnow_sketch(docs)
    hot = (
        sk.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("fp")
    )
    sk = sk.join(F.broadcast(hot), "fp", "left_anti").transform(scoped_persist)
    a = sk.alias("a")
    b = sk.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )


# --- TF-IDF ------------------------------------------------------------------

TFIDF_TOP = 3


@register(
    "q_ext_tfidf",
    oracle=f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, rank, round(tfidf, 6) AS tfidf
FROM ranked WHERE rank <= {TFIDF_TOP}
""",
)
def q_ext_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP} TF-IDF terms per document.  Plan: explode ->
    (doc_id, term) partial-aggregated tf -> term-keyed df aggregate
    (vocabulary-sized, broadcast back) -> per-doc ranking window.  At
    100 TB the broadcast side is the term dictionary, not the corpus;
    every shuffle key (doc_id, term) is uniform.  tfidf rounded to 6 dp
    as the cross-engine float guard (same discipline as cosine)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # tf persisted (r13, guide §2.4): the df broadcast build AND the
    # scored probe side both read it — unpersisted, the corpus explode
    # + (doc, term) shuffle ran twice per invocation
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .transform(scoped_persist)
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "term", "tf", "df", "rank", F.round("tfidf", 6).alias("tfidf"))
    )


# --- Count-Min sketch --------------------------------------------------------

CMS_D = 3  # hash rows
CMS_W = 64  # counters per row


def _duck_cms_oracle() -> str:
    from binancedatapipelineinaws_spark.functions.dedup import duck_hex32

    h = duck_hex32("CAST(j.j AS VARCHAR) || ':' || term")
    return f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), cells AS (
  SELECT j.j AS row_id,
         {h} % {CMS_W} AS col_id,
         count(*) AS cnt
  FROM words, range({CMS_D}) j(j)
  GROUP BY 1, 2
)
SELECT row_id, col_id, cnt FROM cells
"""


@register("q_ext_countmin", oracle=_duck_cms_oracle())
def q_ext_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch of the corpus term frequencies ({CMS_D} rows x
    {CMS_W} counters): each occurrence increments one counter per hash
    row; `min` over a term's {CMS_D} cells upper-bounds its true count.
    The build is explode x {CMS_D} -> partial-aggregated groupBy on the
    (row, col) cell key — a {CMS_D * CMS_W}-cell mergeable sketch
    whatever the corpus size, the same shape HLL/quantile sketches use
    (and the streaming-compatible one: cells merge by addition)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("term"))
    rows = words.select(
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("row_id"),
        F.col("term"),
    )
    from binancedatapipelineinaws_spark.functions.dedup import hex32

    return (
        rows.select(
            "row_id",
            (
                hex32(F.concat(F.col("row_id").cast("string"), F.lit(":"), F.col("term")))
                % CMS_W
            ).alias("col_id"),
        )
        .groupBy("row_id", "col_id")
        .agg(F.count("*").alias("cnt"))
    )


def _duck_cms_error_oracle() -> str:
    from binancedatapipelineinaws_spark.functions.dedup import duck_hex32

    h_cells = duck_hex32("CAST(j.j AS VARCHAR) || ':' || term")
    h_query = duck_hex32("CAST(j.j AS VARCHAR) || ':' || e.term")
    return f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
), cells AS (
  SELECT j.j AS row_id, {h_cells} % {CMS_W} AS col_id, count(*) AS cnt
  FROM words, range({CMS_D}) j(j) GROUP BY 1, 2
), exact AS (
  SELECT term, count(*) AS n FROM words GROUP BY term
), est AS (
  SELECT e.term, min(c.cnt) AS est
  FROM exact e, range({CMS_D}) j(j)
  JOIN cells c ON c.row_id = j.j AND c.col_id = {h_query} % {CMS_W}
  GROUP BY e.term
)
-- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
-- hash-mismatches Spark's bigint in the driver's canonicalizer
SELECT count(*) AS n_terms,
       CAST(sum(CASE WHEN est = n THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       round(avg(est - n), 6) AS mean_over,
       max(est - n) AS max_over,
       min(est - n) AS min_over
FROM exact JOIN est USING (term)
"""


@register("q_ext_cms_error", oracle=_duck_cms_error_oracle())
def q_ext_cms_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch estimation error: every term's CMS estimate
    (min over its {CMS_D} cells) against its exact count — the eval
    that prices the sketch's one-sided overestimate (min_over must be
    >= 0, the CMS guarantee; mean_over shows the collision pressure of
    a {CMS_D}x{CMS_W} table against this vocabulary).

    The sketch table is {CMS_D}*{CMS_W} cells regardless of corpus
    size, so the estimate join is a broadcast: exact counts explode
    x{CMS_D} to their cell coordinates (map-only), the cell lookup is
    map-side, and min-over-rows is a vocabulary-sized aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    from binancedatapipelineinaws_spark.functions.dedup import hex32

    words = docs.select(F.explode(F.split("text", " ")).alias("term"))
    cells = (
        words.select(
            "term",
            F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("row_id"),
        )
        .select(
            "row_id",
            (
                hex32(F.concat(F.col("row_id").cast("string"), F.lit(":"), F.col("term")))
                % CMS_W
            ).alias("col_id"),
        )
        .groupBy("row_id", "col_id")
        .agg(F.count("*").alias("cnt"))
    )
    exact = words.groupBy("term").agg(F.count("*").alias("n"))
    probes = exact.select(
        "term",
        "n",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("row_id"),
    ).select(
        "term",
        "n",
        "row_id",
        (
            hex32(F.concat(F.col("row_id").cast("string"), F.lit(":"), F.col("term")))
            % CMS_W
        ).alias("col_id"),
    )
    est = (
        probes.join(F.broadcast(cells), ["row_id", "col_id"])
        .groupBy("term", "n")
        .agg(F.min("cnt").alias("est"))
    )
    over = F.col("est") - F.col("n")
    return est.agg(
        F.count("*").alias("n_terms"),
        F.sum(F.when(over == 0, 1).otherwise(0)).alias("n_exact"),
        F.round(F.avg(over), 6).alias("mean_over"),
        F.max(over).alias("max_over"),
        F.min(over).alias("min_over"),
    )


# --- Zipf rank-frequency slope -----------------------------------------------

ZIPF_TOP_N = 200  # OLS over the top-N frequency ranks


@register(
    "q_ext_zipf_slope",
    oracle=f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
counts AS (SELECT term, count(*) AS n FROM words GROUP BY term),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rnk
  FROM counts
),
top AS (
  SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
  FROM ranked WHERE rnk <= {ZIPF_TOP_N}
),
sums AS (
  SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM top
)
SELECT m AS n_ranks,
       round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
       round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m, 6)
         AS intercept
FROM sums
""",
)
def q_ext_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf diagnostic: OLS slope of log(frequency) on log(rank) over
    the top {ZIPF_TOP_N} terms.  Natural text sits near slope -1;
    template spam and synthetic filler drift toward 0 — a one-row
    corpus fingerprint that catches generation artifacts a per-doc
    filter can't see.

    Plan: term counts (partial-aggregated explode, the q_ext_tfidf
    shuffle), then `orderBy().limit(N)` -> TakeOrderedAndProject: every
    task keeps its local top-N and only N rows per task reach the
    driver-side merge, so the vocabulary is never sorted in one task
    (the r5-verdict fix for the whole-partition row_number window).
    The rank window that follows runs over the N-row result — bounded
    by the constant, not the corpus — then one component-sum aggregate
    -> scalar OLS algebra (same 2^53-guarded shape as q_ext_trend)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    topn = counts.orderBy(F.col("n").desc(), "term").limit(ZIPF_TOP_N)
    rnk = F.row_number().over(
        Window.partitionBy().orderBy(F.col("n").desc(), "term")
    )
    top = (
        topn.withColumn("rnk", rnk)
        .select(
            F.log(F.col("rnk").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
    )
    sums = top.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    m, sx, sy, sxx, sxy = (F.col(c) for c in ("m", "sx", "sy", "sxx", "sxy"))
    slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    return sums.select(
        m.alias("n_ranks"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / m, 6).alias("intercept"),
    )


# --- per-source language-mix entropy ----------------------------------------


@register(
    "q_ext_source_lang_entropy",
    oracle="""
WITH cells AS (
  SELECT source, lang, count(*) AS n
  FROM documents GROUP BY source, lang
),
tot AS (
  SELECT source, lang, n,
         CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE) AS src_n,
         count(*) OVER (PARTITION BY source) AS n_langs
  FROM cells
)
SELECT source,
       CAST(max(src_n) AS BIGINT) AS n_docs,
       CAST(max(n_langs) AS BIGINT) AS n_langs,
       round(-sum((n / src_n) * ln(n / src_n)), 6) AS lang_entropy
FROM tot GROUP BY source
""",
)
def q_ext_source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix Shannon entropy per source: 0 for monolingual
    feeds, ln(k) for a uniform k-language mix — the drift diagnostic
    that catches a crawl source changing its language composition
    between snapshots (the upstream cause q_ext_lang_confusion then
    quantifies per classifier).

    Plan: one (source, lang)-bounded aggregate, share windows over that
    tiny cells table, an entropy rollup to one row per source.  Single
    corpus scan; every post-scan stage is bounded by sources x langs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source")
    src_n = F.sum("n").over(w).cast("double")
    p = F.col("n") / src_n
    tot = cells.select(
        "source",
        "n",
        src_n.alias("src_n"),
        F.count("*").over(w).alias("n_langs"),
        (p * F.log(p)).alias("plogp"),
    )
    return tot.groupBy("source").agg(
        F.max("src_n").cast("long").alias("n_docs"),
        F.max("n_langs").cast("long").alias("n_langs"),
        F.round(-F.sum("plogp"), 6).alias("lang_entropy"),
    )


# --- vocabulary coverage curve -----------------------------------------------

COVERAGE_KS = (100, 1000)  # vocabulary sizes to report


@register(
    "q_ext_vocab_coverage",
    oracle=f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
counts AS (SELECT term, count(*) AS n FROM words GROUP BY term),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rnk,
         sum(n) OVER (ORDER BY n DESC, term
                      ROWS UNBOUNDED PRECEDING) AS cum_n,
         sum(n) OVER () AS total_n,
         count(*) OVER () AS vocab_size
  FROM counts
)
SELECT CAST(k.k AS BIGINT) AS top_k,
       CAST(max(vocab_size) AS BIGINT) AS vocab_size,
       round(max(CASE WHEN rnk <= k.k THEN cum_n END)
             / CAST(max(total_n) AS DOUBLE), 6) AS token_coverage
FROM ranked CROSS JOIN (VALUES {", ".join(f"({k})" for k in COVERAGE_KS)}) k(k)
GROUP BY k.k
""",
)
def q_ext_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-coverage curve: the fraction of all corpus tokens covered
    by the top-k most frequent terms, for k in {COVERAGE_KS} — the
    number a tokenizer/vocabulary decision reads first (how much of the
    stream the head of the Zipf curve absorbs; complement of
    q_ext_zipf_slope's shape parameter).

    Plan: corpus-sized work is the one partial-aggregated term count.
    The r5 verdict flagged the old rank+cumsum windows over the FULL
    vocabulary table (one task sorts every term at 100 TB); the fix
    exploits that cum_n is only ever read at ranks <= max(k), so the
    running sum needs only the top-max(k) terms: `orderBy().limit()`
    -> TakeOrderedAndProject (parallel partial top-k, constant rows
    out), windows over that constant-sized slice, and vocab_size /
    total_n come from a plain partial-aggregated one-row aggregate
    broadcast back onto the k-grid.  No corpus-growing window remains.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    totals = counts.agg(
        F.sum("n").alias("total_n"), F.count("*").alias("vocab_size")
    )
    top = counts.orderBy(F.col("n").desc(), "term").limit(max(COVERAGE_KS))
    order = Window.partitionBy().orderBy(F.col("n").desc(), "term")
    ranked = top.select(
        F.row_number().over(order).alias("rnk"),
        F.sum("n")
        .over(order.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_n"),
    )
    ks = spark.range(0).sparkSession.createDataFrame(
        [(k,) for k in COVERAGE_KS], "k long"
    )
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.max(F.when(F.col("rnk") <= F.col("k"), F.col("cum_n"))).alias(
                "cov_n"
            )
        )
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("k").alias("top_k"),
            F.col("vocab_size").cast("long").alias("vocab_size"),
            F.round(
                F.col("cov_n") / F.col("total_n").cast("double"), 6
            ).alias("token_coverage"),
        )
    )


# --- per-language length bands -----------------------------------------------


@register(
    "q_ext_len_bands_by_lang",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       round(quantile_cont(n_chars, 0.10), 6) AS p10,
       round(quantile_cont(n_chars, 0.50), 6) AS p50,
       round(quantile_cont(n_chars, 0.90), 6) AS p90
FROM documents GROUP BY lang
""",
)
def q_ext_len_bands_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length percentile bands (p10/p50/p90 of n_chars) per
    language — the per-language numbers a min/max-length quality gate
    should be calibrated from (a fixed global threshold over- or
    under-filters scripts with different char/token ratios).

    Plan: one languages-bounded aggregate; `percentile` buffers one
    language's values per task at exact precision — swap
    `approx_percentile` (mergeable sketch, same plan shape) at 100 TB,
    keeping this exact form as the oracle (the q_ext_mad_outliers
    discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.10)"), 6).alias("p10"),
        F.round(F.expr("percentile(n_chars, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.90)"), 6).alias("p90"),
    )


# --- corpus-hapax fraction per document --------------------------------------


@register(
    "q_ext_hapax_fraction",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
df AS (
  SELECT doc_id, term,
         count(*) OVER (PARTITION BY term) AS corpus_n
  FROM toks
)
-- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
-- hash-mismatches Spark's bigint in the driver's canonicalizer
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN corpus_n = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       round(sum(CASE WHEN corpus_n = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_frac
FROM df GROUP BY doc_id
""",
)
def q_ext_hapax_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of tokens that are corpus hapax legomena
    (appear exactly once anywhere) — a high fraction flags OCR noise,
    mojibake, and generated gibberish that per-doc TTR misses (every
    token unique INSIDE the doc is normal; unique across the corpus is
    not).  Token-level cousin of q_ext_ngram_novelty.

    Plan: token explode -> ONE term-partitioned count window -> per-doc
    rollup, the single-pass dupspan shape: a term in k docs costs k
    rows, never a join back."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    w = Window.partitionBy("term")
    flagged = toks.select(
        "doc_id", (F.count("*").over(w) == 1).alias("is_hapax")
    )
    hap = F.sum(F.when(F.col("is_hapax"), 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        hap.cast("long").alias("n_hapax"),
        F.round(hap / F.count("*").cast("double"), 6).alias("hapax_frac"),
    )


# --- out-of-vocabulary rate --------------------------------------------------

OOV_VOCAB_K = 1000  # vocabulary budget the OOV rate is measured against


@register(
    "q_ext_oov_rate",
    oracle=f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
counts AS (SELECT term, count(*) AS n FROM words GROUP BY term),
vocab AS (
  SELECT term FROM counts
  ORDER BY n DESC, term LIMIT {OOV_VOCAB_K}
),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
flags AS (
  SELECT t.doc_id,
         CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON t.term = v.term
),
per_doc AS (
  SELECT doc_id, count(*) AS nt, sum(oov) AS no
  FROM flags GROUP BY doc_id
)
SELECT d.source,
       count(*) AS n_docs,
       round(avg(p.no / CAST(p.nt AS DOUBLE)), 6) AS mean_oov_rate
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
GROUP BY d.source
""",
)
def q_ext_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean out-of-vocabulary token rate per source against a
    top-{OOV_VOCAB_K} corpus vocabulary — the tokenizer-impact number
    a vocab-size decision turns into: how much of each source falls
    outside the head the tokenizer will cover (q_ext_vocab_coverage
    answers the corpus-wide version; this localizes the damage).

    Plan: term counts (partial-aggregated explode) -> top-K via
    `orderBy().limit()` = TakeOrderedAndProject (the constant-bounded
    top-k, never a full-vocabulary sort) -> K-row vocab broadcast
    against the token stream (map-only flag, no shuffle of the corpus)
    -> two bounded rollups.  Ties at the K boundary break on
    (count desc, term) identically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(OOV_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    flags = toks.join(F.broadcast(vocab), "term", "left")
    per_doc = flags.groupBy("doc_id", "source").agg(
        F.count("*").alias("nt"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
            "no"
        ),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.avg(F.col("no") / F.col("nt").cast("double")), 6
        ).alias("mean_oov_rate"),
    )


# --- token-length distribution -----------------------------------------------


@register(
    "q_ext_token_len_dist",
    oracle="""
WITH words AS (
  SELECT length(unnest(string_split(text, ' '))) AS wlen FROM documents
)
SELECT wlen AS token_len,
       count(*) AS n_tokens,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
         AS frac
FROM words GROUP BY wlen
""",
)
def q_ext_token_len_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length distribution: how many tokens of each
    character length, with shares — the shape a BPE vocabulary budget
    and a max-token-length cutoff are read from (a heavy tail of
    50+-char "tokens" means URLs/DNA/base64 are leaking through the
    splitter).

    Plan: map-only explode + length projection -> one
    partial-aggregated count over the tiny length domain; the share
    window runs over that bounded histogram."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).select(F.length("tok").alias("token_len"))
    w = Window.partitionBy()
    return (
        lens.groupBy("token_len")
        .agg(F.count("*").alias("n_tokens"))
        .select(
            "token_len",
            "n_tokens",
            F.round(
                F.col("n_tokens")
                / F.sum("n_tokens").over(w).cast("double"),
                6,
            ).alias("frac"),
        )
    )


@register(
    "q_ext_tokenizer_fertility",
    oracle=f"""
SELECT lang,
       CAST(sum(len(regexp_extract_all(text, '{TOKEN_RE}'))) AS BIGINT)
         AS re_tokens,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       round(CAST(sum(len(regexp_extract_all(text, '{TOKEN_RE}')))
                  AS DOUBLE)
             / sum(len(string_split(text, ' '))), 6) AS fertility
FROM documents GROUP BY lang
""",
)
def q_ext_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: regex-token count over
    whitespace-word count — the subword-inflation proxy a tokenizer
    budget is planned from (languages the vocabulary serves poorly
    shatter into more pieces per word; mC4/XLM-R report exactly this
    ratio per language).

    Plan: one map-only projection of the two integer counts, one
    partial+final aggregate to the languages-bounded output.  The
    ratio is a single IEEE division of exact integer sums — parity by
    construction (the q_ext_mix_weights discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.select(
        "lang",
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("re_t"),
        F.size(F.split("text", " ")).alias("ws_t"),
    )
    return sig.groupBy("lang").agg(
        F.sum("re_t").alias("re_tokens"),
        F.sum("ws_t").alias("ws_tokens"),
        F.round(
            F.sum("re_t").cast("double") / F.sum("ws_t"), 6
        ).alias("fertility"),
    )


@register(
    "q_ext_word_entropy",
    oracle="""
WITH counts AS (
  SELECT doc_id, term, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  GROUP BY doc_id, term
), per_doc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         sum(c * ln(c)) AS clnc
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(ln(n_tokens) - clnc / n_tokens, 6) AS entropy
FROM per_doc
""",
)
def q_ext_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (nats): H = ln(N) -
    sum(c*ln(c))/N over the word counts — the distribution-shape
    quality signal TTR misses (a doc repeating two words 50/50 and a
    doc with 100 near-uniform words have very different H at similar
    TTR; template spam and keyword stuffing sit at the low end).

    Plan: explode -> (doc, term) partial-aggregated counts -> per-doc
    rollup; both shuffles are high-cardinality keyed, output is
    docs-sized.  ln() appears only via c*ln(c) on INTEGER c — both
    engines evaluate ln at the same integer points, and the 6-dp round
    guards the sub-ulp libm-vs-JVM tail (the q_ext_zipf_slope
    precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clnc"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.log(F.col("n_tokens")) - F.col("clnc") / F.col("n_tokens"), 6
        ).alias("entropy"),
    )


# --- readability -------------------------------------------------------------

# vowel-run syllable proxy: each maximal [aeiouy]+ run counts one
# syllable — the standard dictionary-free heuristic; RE2 (DuckDB) and
# Java regex (Spark) agree on this simple class
_VOWEL_RUN_RE = "[aeiouy]+"
_SENT_RE = "[.!?]+"


@register(
    "q_ext_readability",
    oracle=f"""
SELECT doc_id, lang,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
       CAST(greatest(len(regexp_extract_all(text, '{_SENT_RE}')), 1)
            AS BIGINT) AS sentences,
       CAST(len(regexp_extract_all(text, '{_VOWEL_RUN_RE}')) AS BIGINT)
         AS syllables,
       round(206.835
             - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                        / greatest(len(regexp_extract_all(text, '{_SENT_RE}')),
                                   1))
             - 84.6 * (CAST(len(regexp_extract_all(text, '{_VOWEL_RUN_RE}'))
                            AS DOUBLE)
                       / len(string_split(text, ' '))), 4) AS flesch,
       CASE
         WHEN 206.835
              - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                         / greatest(len(regexp_extract_all(text, '{_SENT_RE}')),
                                    1))
              - 84.6 * (CAST(len(regexp_extract_all(text, '{_VOWEL_RUN_RE}'))
                             AS DOUBLE)
                        / len(string_split(text, ' '))) >= 70 THEN 'easy'
         WHEN 206.835
              - 1.015 * (CAST(len(string_split(text, ' ')) AS DOUBLE)
                         / greatest(len(regexp_extract_all(text, '{_SENT_RE}')),
                                    1))
              - 84.6 * (CAST(len(regexp_extract_all(text, '{_VOWEL_RUN_RE}'))
                             AS DOUBLE)
                        / len(string_split(text, ' '))) >= 50 THEN 'standard'
         ELSE 'difficult'
       END AS band
FROM documents
""",
)
def q_ext_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from dictionary-free counts:
    single-space word tokens (the q_ext_token_count convention),
    sentence terminators with the standard max(.,1) fallback for
    unpunctuated text, and a vowel-run syllable proxy.  The score and
    its band gate training-corpus curation the same way quality_score
    does, on a readability axis.

    Map-only projection — three regexp scans per row, no shuffle at
    all; the band CASE re-derives from the same double tree in both
    engines so a boundary can't flip.  100 TB: embarrassingly
    parallel, cost is the regexp passes."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split("text", " ")).cast("long")
    sentences = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit(_SENT_RE), 0)),
        F.lit(1),
    ).cast("long")
    syllables = F.size(
        F.regexp_extract_all("text", F.lit(_VOWEL_RUN_RE), 0)
    ).cast("long")
    flesch_raw = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences)
        - F.lit(84.6) * (syllables.cast("double") / words)
    )
    band = (
        F.when(flesch_raw >= 70, "easy")
        .when(flesch_raw >= 50, "standard")
        .otherwise("difficult")
    )
    return docs.select(
        "doc_id",
        "lang",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
        F.round(flesch_raw, 4).alias("flesch"),
        band.alias("band"),
    )


BPE_TOP_PAIRS = 30


@register(
    "q_ext_bpe_pair_counts",
    oracle=f"""
WITH words AS (
  SELECT w, count(*) AS n
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE length(w) >= 2
  GROUP BY w
), pairs AS (
  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b,
         CAST(sum(n) AS BIGINT) AS pair_count
  FROM words, unnest(range(1, length(w))) AS t(i)
  GROUP BY 1, 2
)
SELECT a, b, pair_count FROM pairs
ORDER BY pair_count DESC, a, b
LIMIT {BPE_TOP_PAIRS}
""",
)
def q_ext_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration over the corpus: the {BPE_TOP_PAIRS}
    most frequent adjacent character pairs, weighted by word frequency
    — the statistic a distributed tokenizer trainer computes every
    merge round (Sennrich et al. 2016).  The reference has no
    tokenizer tier; this is the training-data-pipeline complement of
    q_ext_token_count / q_ext_tokenizer_fertility.

    Scale shape: the corpus collapses to DISTINCT WORD COUNTS first
    (vocabulary-bounded, partial-aggregated — the only corpus-sized
    shuffle), pairs explode from the vocab only (|V| * avg_len rows,
    NOT corpus-sized), and the final aggregate is alphabet^2-bounded.
    A naive per-token pair explode would shuffle ~5x the corpus every
    merge round; this shape is why BPE trainers keep a word-count
    table.  Ties at the cutoff are totally ordered (count desc, a, b)
    so the top-{BPE_TOP_PAIRS} is engine-independent.  All counts are
    integer-exact (no float anywhere)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        words.select(
            "w",
            "n",
            F.explode(
                F.sequence(F.lit(1), F.length("w") - 1)
            ).alias("i"),
        )
        .select(
            F.col("w").substr(F.col("i"), F.lit(1)).alias("a"),
            F.col("w").substr(F.col("i") + 1, F.lit(1)).alias("b"),
            "n",
        )
        .groupBy("a", "b")
        .agg(F.sum("n").alias("pair_count"))
    )
    return pairs.orderBy(F.desc("pair_count"), "a", "b").limit(BPE_TOP_PAIRS)


# BPE round 2 (r10): the merge marker is a control char that cannot
# appear in whitespace-split lowercase word tokens, so the merged
# symbol sequence round-trips through a plain string.
_BPE_MARK = "\x01"


@register(
    "q_ext_bpe_apply_merge",
    oracle=f"""
WITH words AS MATERIALIZED (
  SELECT w, count(*) AS n
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE length(w) >= 2
  GROUP BY w
), pairs1 AS (
  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b,
         sum(n) AS pair_count
  FROM words, unnest(range(1, length(w))) AS t(i)
  GROUP BY 1, 2
), top1 AS (
  SELECT a AS ma, b AS mb FROM pairs1
  ORDER BY pair_count DESC, a, b LIMIT 1
), merged AS MATERIALIZED (
  -- replace() is left-to-right non-overlapping: exactly BPE's greedy
  -- merge order on a symbol sequence whose symbols are single chars
  SELECT replace(w, ma || mb, chr(1)) AS mw, n, ma, mb
  FROM words, top1
), pairs2 AS (
  SELECT ma, mb,
         CASE WHEN substr(mw, i, 1) = chr(1) THEN ma || mb
              ELSE substr(mw, i, 1) END AS a,
         CASE WHEN substr(mw, i + 1, 1) = chr(1) THEN ma || mb
              ELSE substr(mw, i + 1, 1) END AS b,
         CAST(sum(n) AS BIGINT) AS pair_count
  FROM merged, unnest(range(1, length(mw))) AS t(i)
  GROUP BY 1, 2, 3, 4
)
SELECT ma AS merge_a, mb AS merge_b, a, b, pair_count
FROM pairs2
ORDER BY pair_count DESC, a, b
LIMIT {BPE_TOP_PAIRS}
""",
)
def q_ext_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second BPE trainer iteration (r9 verdict item 5): pick round
    1's winning pair (count desc, then (a, b) — a total order, so the
    choice is engine-independent), APPLY it to the word-count table,
    and emit round-2 pair counts over the merged symbol sequences.
    This pins the *iterative* trainer shape — the round where a naive
    implementation re-tokenizes and re-shuffles the raw corpus.

    The merge itself is pure string surgery on the VOCABULARY, never
    the corpus: round-1 symbols are single characters, so replacing
    the winning bigram `a||b` with a 1-char marker via plain
    `replace()` (left-to-right, non-overlapping in both engines) is
    exactly BPE's greedy merge — "aaa" + pair (a,a) -> [aa, a], the
    marker then reads back as the 2-char merged symbol when round-2
    pairs are emitted.  No list folds, no UDFs, no recursion.

    Scale shape: ONE corpus-sized shuffle (the word-count collapse,
    partial-aggregated; a production trainer persists this table
    across all merge rounds), a 1-row broadcast of the winning pair
    onto the vocab, and alphabet-bounded final aggregates
    ((alphabet+1)^2 keys).  Counts integer-exact throughout.
    Reference has no tokenizer tier (SURVEY §2, training-data
    extension)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    pairs1 = (
        words.select(
            "w",
            "n",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(
            F.col("w").substr(F.col("i"), F.lit(1)).alias("ma"),
            F.col("w").substr(F.col("i") + 1, F.lit(1)).alias("mb"),
            "n",
        )
        .groupBy("ma", "mb")
        .agg(F.sum("n").alias("pc"))
    )
    top1 = pairs1.orderBy(F.desc("pc"), "ma", "mb").limit(1).select(
        "ma", "mb"
    )
    merged = words.crossJoin(F.broadcast(top1)).select(
        F.replace(
            F.col("w"), F.concat("ma", "mb"), F.lit(_BPE_MARK)
        ).alias("mw"),
        "n",
        "ma",
        "mb",
    )
    sym = lambda c: F.when(  # noqa: E731 - tiny local projection helper
        c == _BPE_MARK, F.concat("ma", "mb")
    ).otherwise(c)
    pairs2 = (
        merged.filter(F.length("mw") >= 2)
        .select(
            "mw",
            "n",
            "ma",
            "mb",
            F.explode(F.sequence(F.lit(1), F.length("mw") - 1)).alias("i"),
        )
        .select(
            "ma",
            "mb",
            sym(F.col("mw").substr(F.col("i"), F.lit(1))).alias("a"),
            sym(F.col("mw").substr(F.col("i") + 1, F.lit(1))).alias("b"),
            "n",
        )
        .groupBy("ma", "mb", "a", "b")
        .agg(F.sum("n").alias("pair_count"))
    )
    return (
        pairs2.select(
            F.col("ma").alias("merge_a"),
            F.col("mb").alias("merge_b"),
            "a",
            "b",
            "pair_count",
        )
        .orderBy(F.desc("pair_count"), "a", "b")
        .limit(BPE_TOP_PAIRS)
    )


BPE_TRAIN_ROUNDS = 5  # unrolled merge rounds for the k-round trainer


def _bpe_chain_parts(k: int) -> list[str]:
    """The unrolled k-round BPE merge CTE chain (words, w1..w{k+1},
    per-round winner m{r}) shared by the trainer and tokenizer-apply
    oracles: round r picks the (count desc, a, b)-first pair over the
    marker alphabet and merges it into marker chr(r) via left-to-right
    replace()."""
    parts = [
        """
WITH words AS MATERIALIZED (
  SELECT w, count(*) AS n
  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE length(w) >= 2
  GROUP BY w
), w1 AS MATERIALIZED (SELECT w, n FROM words)"""
    ]
    for r in range(1, k + 1):
        expand_a = "t.a"
        expand_b = "t.b"
        prev = ", ".join(f"m{i}" for i in range(1, r))
        if r > 1:
            cases_a = " ".join(
                f"WHEN t.a = chr({i}) THEN m{i}.e" for i in range(1, r)
            )
            cases_b = " ".join(
                f"WHEN t.b = chr({i}) THEN m{i}.e" for i in range(1, r)
            )
            expand_a = f"CASE {cases_a} ELSE t.a END"
            expand_b = f"CASE {cases_b} ELSE t.b END"
        parts.append(
            f""", p{r} AS (
  SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, sum(n) AS pc
  FROM w{r}, unnest(range(1, length(w))) AS s(i)
  WHERE length(w) >= 2
  GROUP BY 1, 2
), t{r} AS (
  SELECT a, b, CAST(pc AS BIGINT) AS pc FROM p{r}
  ORDER BY pc DESC, a, b LIMIT 1
), m{r} AS (
  SELECT t.a AS ra, t.b AS rb, {expand_a} AS ea, {expand_b} AS eb,
         {expand_a} || {expand_b} AS e, t.pc AS pc
  FROM t{r} t{"," if prev else ""} {prev}
), w{r + 1} AS MATERIALIZED (
  SELECT replace(v.w, m.ra || m.rb, chr({r})) AS w, v.n
  FROM w{r} v, m{r} m
)"""
        )
    return parts


def _bpe_train_oracle(k: int) -> str:
    """Trainer oracle: the chain's final select expands each winner
    back to its character string through the earlier rounds' 1-row
    merge CTEs."""
    parts = _bpe_chain_parts(k)
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, ea AS merge_a,"
        f" eb AS merge_b, e AS merged, pc AS pair_count FROM m{r}"
        for r in range(1, k + 1)
    )
    parts.append(f"\nSELECT * FROM ({rows}) ORDER BY round")
    return "".join(parts)


def _bpe_apply_oracle(k: int) -> str:
    """Tokenizer-apply oracle: per-round corpus compression stats off
    the SAME chain — after round r the corpus tokenizes to
    sum(length(w_r) * n) symbols (markers are single chars = one
    learned token each).  The 1e-6 ratio grid uses HUGEINT floor
    division (the sums are already HUGEINT on this side)."""
    parts = _bpe_chain_parts(k)
    rows = "\nUNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS round,
  CAST(sum(length(w) * n) AS BIGINT) AS total_tokens,
  CAST((sum(length(w) * n) * 1000000) // sum(n) AS DOUBLE) / 1000000
    AS tokens_per_word
FROM w{r + 1}"""
        for r in range(0, k + 1)
    )
    parts.append(f"\nSELECT * FROM ({rows}) ORDER BY round")
    return "".join(parts)


def _bpe_round_winner(cur: DataFrame, r: int) -> DataFrame:
    """Round r's 1-row winning pair over a (w, n) vocab table, persisted.
    The winner state stays MINIMAL (raw pair + count): marker expansion
    happens once at the end, so round r's lineage carries each earlier
    state exactly once (through the vocab rewrite chain), not once per
    expansion join."""
    pairs = (
        cur.filter(F.length("w") >= 2)
        .select(
            "w",
            "n",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(
            F.col("w").substr(F.col("i"), F.lit(1)).alias("a"),
            F.col("w").substr(F.col("i") + 1, F.lit(1)).alias("b"),
            "n",
        )
        .groupBy("a", "b")
        .agg(F.sum("n").alias("pc"))
    )
    return (
        pairs.orderBy(F.desc("pc"), "a", "b")
        .limit(1)
        .select(
            F.col("a").alias(f"ra{r}"),
            F.col("b").alias(f"rb{r}"),
            F.col("pc").alias(f"pc{r}"),
        )
        .transform(scoped_persist)
    )


def _bpe_apply_winner(cur: DataFrame, st: DataFrame, r: int) -> DataFrame:
    """Rewrite the vocab with round r's broadcast 1-row winner: plain
    left-to-right replace() into marker chr(r) — exactly BPE's greedy
    merge (q_ext_bpe_apply_merge proves the single round)."""
    return cur.crossJoin(F.broadcast(st)).select(
        F.replace(
            F.col("w"),
            F.concat(f"ra{r}", f"rb{r}"),
            F.lit(chr(r)),
        ).alias("w"),
        "n",
    )


@register("q_ext_bpe_train_k", oracle=_bpe_train_oracle(BPE_TRAIN_ROUNDS))
def q_ext_bpe_train_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-round BPE trainer (VERDICT r10 item 5, extending
    q_ext_bpe_apply_merge's single iteration): unroll
    {BPE_TRAIN_ROUNDS} merge rounds over the persisted word-count
    table and emit the learned merge table — (round, merge_a,
    merge_b, merged symbol, pair count), the artifact a tokenizer
    trainer ships (Sennrich et al. 2016).  Reference has no tokenizer
    tier (SURVEY §2, training-data extension).

    Every round is VOCAB-TABLE SURGERY, never a corpus pass: round r
    explodes pair positions over the (marker-compressed) word-count
    table (|V| * avg_len rows), aggregates to the marker-alphabet^2
    pair table, picks the winner with the total (count desc, raw a,
    raw b) order — raw symbols are single chars (markers chr(1..r-1)
    included), so the tie-break is a binary-collation compare in both
    engines — and broadcasts the 1-row winner back to rewrite the
    vocab with plain left-to-right replace() (exactly BPE's greedy
    merge, as q_ext_bpe_apply_merge proves for one round).  The
    winner's 1-row state is persisted per round, so the unrolled
    lineage can't recompute earlier rounds' vocab aggregates.

    Scale shape: ONE corpus-sized shuffle total (the word-count
    collapse, persisted across all rounds); everything after is
    vocabulary-bounded (5 pair aggregates + 5 one-row broadcasts).
    Counts integer-exact throughout; output expansion of markers to
    character strings happens on the 1-row states only."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .transform(scoped_persist)
    )
    states: list[DataFrame] = []
    cur = wc
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        st = _bpe_round_winner(cur, r)
        states.append(st)
        cur = _bpe_apply_winner(cur, st, r)
    # one 1-row frame with every round's raw winner, then expand
    # markers to character strings progressively
    merges = states[0]
    for st in states[1:]:
        merges = merges.crossJoin(F.broadcast(st))
    exp_cols: list[Column] = []  # expanded merged symbol per round
    for r in range(1, BPE_TRAIN_ROUNDS + 1):

        def expand(c: Column) -> Column:
            expr = c
            for i in range(1, r):
                expr = F.when(c == F.lit(chr(i)), exp_cols[i - 1]).otherwise(
                    expr
                )
            return expr

        ea = expand(F.col(f"ra{r}"))
        eb = expand(F.col(f"rb{r}"))
        exp_cols.append(F.concat(ea, eb))
        merges = merges.withColumns(
            {f"ea{r}": ea, f"eb{r}": eb, f"e{r}": exp_cols[-1]}
        )
    out = None
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        row = merges.select(
            F.lit(r).cast("long").alias("round"),
            F.col(f"ea{r}").alias("merge_a"),
            F.col(f"eb{r}").alias("merge_b"),
            F.col(f"e{r}").alias("merged"),
            F.col(f"pc{r}").cast("long").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")


@register(
    "q_ext_tokenizer_apply",
    oracle=_bpe_apply_oracle(BPE_TRAIN_ROUNDS),
)
def q_ext_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table back to the corpus — the
    train->apply loop closed (VERDICT r11 item 8): after each of the
    {BPE_TRAIN_ROUNDS} learned merges the corpus tokenizes to fewer
    symbols; the output is the compression curve (round, total token
    count, tokens-per-word on a 1e-6 grid) a tokenizer team reads to
    pick vocab size (Sennrich et al. 2016 report exactly this curve).
    Round 0 is the unmerged character count — the baseline fertility.

    Plan: application is VOCAB SURGERY like training — the corpus
    collapses once to the persisted word-count table, each merge is a
    broadcast 1-row rewrite, and each round's stat is one
    vocab-bounded aggregate; no corpus re-scan anywhere.  The ratio
    numerator is summed in DECIMAL (DuckDB side is HUGEINT) and cut
    to the 1e-6 grid by integer floor division, so the curve is
    bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .transform(scoped_persist)
    )

    def stat(frame: DataFrame, r: int) -> DataFrame:
        return frame.agg(
            F.sum(F.length("w") * F.col("n"))
            .cast("long")
            .alias("total_tokens"),
            F.expr(
                "CAST((CAST(sum(length(w) * n) AS DECIMAL(25,0))"
                " * 1000000) div sum(n) AS DOUBLE) / 1000000"
            ).alias("tokens_per_word"),
        ).select(
            F.lit(r).cast("long").alias("round"),
            "total_tokens",
            "tokens_per_word",
        )

    out = stat(wc, 0)
    cur = wc
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        st = _bpe_round_winner(cur, r)
        cur = _bpe_apply_winner(cur, st, r)
        out = out.unionByName(stat(cur, r))
    return out.orderBy("round")


PMI_MIN_PAIR_COUNT = 5  # collocation support floor (spec'd, scale-free top-50)


@register(
    "q_ext_pmi_collocations",
    oracle=f"""
WITH toks AS (
  SELECT string_split(text, ' ') AS w FROM documents
), bg AS (
  SELECT unnest(w[1:len(w) - 1]) AS w1, unnest(w[2:len(w)]) AS w2
  FROM toks WHERE len(w) >= 2
), pair AS (
  SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY w1, w2
), left_c AS (
  SELECT w1, sum(pair_count) AS c1 FROM pair GROUP BY w1
), right_c AS (
  SELECT w2, sum(pair_count) AS c2 FROM pair GROUP BY w2
), n AS (
  SELECT sum(pair_count) AS n FROM pair
)
SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count,
       round(ln(CAST(pair_count AS DOUBLE) * CAST(n AS DOUBLE)
                / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi
FROM pair JOIN left_c USING (w1) JOIN right_c USING (w2) CROSS JOIN n
WHERE pair_count >= {PMI_MIN_PAIR_COUNT}
ORDER BY pmi DESC, w1, w2
LIMIT 50
""",
)
def q_ext_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information: the
    top-50 adjacent word pairs whose co-occurrence most exceeds chance,
    PMI = ln(P(w1,w2) / (P(w1) P(w2))) under the bigram-stream MLE —
    the phrase-mining / tokenizer-seeding statistic every corpus
    pipeline computes (and the additive sibling of q_ext_bpe_pair_counts'
    raw frequency ranking: PMI surfaces RARE-but-bound pairs frequency
    hides).  Reference behavior anchor: the reference has no corpus
    tier at all (it stores tick TSVs in Aurora); this extends the
    documents surface SURVEY.md §2.9 declares.

    Plan: ONE corpus pass builds the bigram stream (split + sequence +
    element_at — no self-join of token positions) into a partial
    aggregate keyed by the pair; map-side combine absorbs the Zipf
    head before the single vocab^2-bounded shuffle.  Both marginals
    AND the grand total re-aggregate that SMALL pair table — the
    corpus is never rescanned, never cached.  All counts stay integers
    until one double log per surviving pair; ordering is on the
    ROUNDED pmi with a full (w1, w2) tie-break, so the top-50 cut is
    engine-exact.  At 100 TB the pair table is vocabulary-bounded
    (|V|^2 worst case, Zipf-concentrated in practice), so the
    marginal/total broadcasts stay dim-sized no matter the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.split("text", " ").alias("words")).filter(
        F.size("words") >= 2
    )
    bg = w.select(
        F.explode(F.sequence(F.lit(0), F.size("words") - 2)).alias("j"),
        "words",
    ).select(
        F.element_at("words", F.col("j") + 1).alias("w1"),
        F.element_at("words", F.col("j") + 2).alias("w2"),
    )
    pair = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
        # vocab^2-bounded; feeds both marginals, the total AND the
        # probe — persist so the corpus is tokenized exactly once
        .transform(scoped_persist)
    )
    left_c = pair.groupBy("w1").agg(F.sum("pair_count").alias("c1"))
    right_c = pair.groupBy("w2").agg(F.sum("pair_count").alias("c2"))
    n = pair.agg(F.sum("pair_count").alias("n"))
    pmi = F.round(
        F.log(
            F.col("pair_count").cast("double")
            * F.col("n").cast("double")
            / (F.col("c1").cast("double") * F.col("c2").cast("double"))
        ),
        6,
    )
    return (
        pair.filter(F.col("pair_count") >= PMI_MIN_PAIR_COUNT)
        .join(F.broadcast(left_c), "w1")
        .join(F.broadcast(right_c), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("pair_count").cast("long").alias("pair_count"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(50)
    )
