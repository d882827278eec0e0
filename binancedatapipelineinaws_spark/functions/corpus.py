"""Corpus-level analytics for a training-data pipeline: duplicated-span
coverage (the per-document signal behind exact-substring dedup, Lee et
al. 2022), fixed-length overlapping chunking (the retrieval/packing
pre-step), and a source-similarity matrix over sparse term profiles
(domain drift / near-duplicate-source detection).

Scale notes (100 TB):
- Dup-span shuffles only on the positional gram key (uniform md5-like
  text keys) and the doc id; no pair join ever materializes — the
  gram-frequency table is joined back row-wise, so cost is linear in
  corpus grams even when one gram occurs in millions of docs.
- Chunking is map-only (Generate + project, no Exchange): each task
  chunks its own documents.
- The source matrix aggregates to (source, term) first — the pair join
  is bounded by (#sources)^2 x shared vocabulary, independent of
  corpus row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.session import scoped_persist
from binancedatapipelineinaws_spark.tables import load_table

DUPSPAN_N = 5  # positional n-gram width

CHUNK_SIZE = 32  # tokens per chunk
CHUNK_STRIDE = 24  # tokens between chunk starts (8-token overlap)


@register(
    "q_ext_dupspan",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
pos AS (
  SELECT doc_id, words,
         unnest(range(greatest(len(words) - {DUPSPAN_N - 1}, 0))) AS j
  FROM w
),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(words, j + 1, j + {DUPSPAN_N}), '_')
           AS gram
  FROM pos
),
d AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
-- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
-- hash-mismatches Spark's bigint in the driver's canonicalizer
SELECT g.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_grams,
       round(sum(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS dup_frac
FROM g JOIN d USING (gram)
GROUP BY g.doc_id
""",
)
def q_ext_dupspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of a doc's
    positional {DUPSPAN_N}-grams that also occur in at least one OTHER
    document — the curation signal for exact-substring contamination
    (docs above a threshold get dropped or trimmed).

    Plan: positional gram explode -> ONE shuffle on the gram key where
    an unordered window computes `min(doc_id) != max(doc_id)` (true iff
    the gram occurs in a second document — no distinct count needed for
    a >1 test) -> per-doc rollup.  Single pass over the corpus: no
    gram-frequency join back (which would re-execute the scan+explode
    lineage per branch), and unlike pair-based dedup a gram shared by k
    docs costs k rows, not k^2, so ubiquitous boilerplate cannot blow
    up the plan.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("words"))
    # explode alone in this select: a gram computed here would be pushed
    # past the Generate by CollapseProject and re-evaluated per row
    pos = w.select(
        "doc_id",
        "words",
        F.explode(
            F.when(
                F.size("words") >= DUPSPAN_N,
                F.sequence(F.lit(0), F.size("words") - DUPSPAN_N),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("j"),
    )
    g = pos.select(
        "doc_id",
        F.array_join(
            F.slice("words", F.col("j") + 1, DUPSPAN_N), "_"
        ).alias("gram"),
    )
    gw = Window.partitionBy("gram")
    flagged = g.select(
        "doc_id",
        (F.min("doc_id").over(gw) != F.max("doc_id").over(gw)).alias(
            "is_dup"
        ),
    )
    dup = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            dup.alias("dup_grams"),
            F.round(dup / F.count("*").cast("double"), 6).alias("dup_frac"),
        )
    )


@register(
    "q_ext_chunk_docs",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
pos AS (
  SELECT doc_id, words,
         unnest(range(0, ((len(words) - 1) // {CHUNK_STRIDE}) + 1)) AS i
  FROM w
)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       CAST(i * {CHUNK_STRIDE} AS BIGINT) AS start_pos,
       CAST(least(len(words) - i * {CHUNK_STRIDE}, {CHUNK_SIZE}) AS BIGINT)
         AS n_tokens,
       array_to_string(
         list_slice(words, i * {CHUNK_STRIDE} + 1,
                    i * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' ') AS chunk_text
FROM pos
""",
)
def q_ext_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into {CHUNK_SIZE}-token chunks advancing by
    {CHUNK_STRIDE} tokens ({CHUNK_SIZE - CHUNK_STRIDE}-token overlap) —
    the map-only pre-step for retrieval indexing and fixed-window
    training (cf. sampling.q_ext_pack_sequences, which packs whole docs
    instead of splitting them).

    Plan: one Generate off the scan, zero Exchange; every chunk row is
    produced by the task that read its document.  The chunk index comes
    from `sequence()` over the guaranteed-nonnegative bound
    (len-1) DIV stride, so Spark and DuckDB enumerate identical
    (start, length) windows, including the short final chunk.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.split("text", " ").alias("words"))
    pos = w.select(
        "doc_id",
        "words",
        F.explode(
            F.sequence(
                F.lit(0), F.expr(f"(size(words) - 1) DIV {CHUNK_STRIDE}")
            )
        ).alias("i"),
    )
    start = F.col("i") * CHUNK_STRIDE
    return pos.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_id"),
        start.cast("long").alias("start_pos"),
        F.least(F.size("words") - start, F.lit(CHUNK_SIZE))
        .cast("long")
        .alias("n_tokens"),
        F.array_join(F.slice("words", start + 1, CHUNK_SIZE), " ").alias(
            "chunk_text"
        ),
    )


@register(
    "q_ext_source_cosine",
    oracle="""
WITH words AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT source, term, ln(1 + count(*)) AS w
  FROM words GROUP BY source, term
),
norms AS (SELECT source, sqrt(sum(w * w)) AS nrm FROM tf GROUP BY source),
dots AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared_terms,
         sum(a.w * b.w) AS dot
  FROM tf a JOIN tf b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_shared_terms,
       round(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN norms na ON na.source = dots.src_a
JOIN norms nb ON nb.source = dots.src_b
""",
)
def q_ext_source_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-source log-TF term
    profiles — the domain-similarity matrix used to spot near-duplicate
    crawls or drifting source mixes before they skew a training run.

    The corpus-sized work is ONE aggregate to (source, term); the pair
    join runs on that profile table, bounded by #sources x vocabulary
    regardless of corpus row count (log-TF rather than TF-IDF because a
    shared-vocabulary corpus drives every IDF to 0).  The profile table
    feeds both sides of the self-join, so it is persisted — without it
    Spark re-executes the full scan+explode+aggregate per side.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.log(F.count("*") + 1).alias("w"))
        .transform(scoped_persist)
    )
    norms = tf.groupBy("source").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a, b = tf.alias("a"), tf.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(
            F.count("*").alias("n_shared_terms"),
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot"),
        )
    )
    na = norms.select(
        F.col("source").alias("src_a"), F.col("nrm").alias("nrm_a")
    )
    nb = norms.select(
        F.col("source").alias("src_b"), F.col("nrm").alias("nrm_b")
    )
    return (
        dots.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared_terms",
            F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6).alias(
                "cosine"
            ),
        )
    )


# --- n-gram novelty ----------------------------------------------------------
# The complement of q_ext_dupspan: instead of asking "how much of this
# doc appears elsewhere", ask "how much of this doc is the corpus's
# FIRST sighting".  In doc_id (ingestion) order, a positional n-gram is
# novel iff this doc is the minimum doc_id that contains it — the
# novelty curve of an append-only corpus is what contamination /
# memorization audits track across crawls (Lee et al. 2022 dedup
# framing, applied longitudinally).


@register(
    "q_ext_ngram_novelty",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
pos AS (
  SELECT doc_id, words,
         unnest(range(greatest(len(words) - {DUPSPAN_N - 1}, 0))) AS j
  FROM w
),
g AS (
  SELECT doc_id,
         array_to_string(list_slice(words, j + 1, j + {DUPSPAN_N}), '_')
           AS gram
  FROM pos
),
first_seen AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
-- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
-- hash-mismatches Spark's bigint in the driver's canonicalizer
SELECT g.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_grams,
       round(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty_frac
FROM g JOIN first_seen f USING (gram)
GROUP BY g.doc_id
""",
)
def q_ext_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's positional
    {DUPSPAN_N}-grams whose corpus-wide first occurrence (minimum
    doc_id) is this document.

    Plan mirrors q_ext_dupspan's single-pass shape: positional gram
    explode -> gram-partitioned window min(doc_id) -> per-doc rollup.
    No pair join — a gram shared by k docs costs k rows, never k^2, and
    the gram shuffle is the only exchange.  At 100 TB the same plan
    runs incrementally: new-crawl grams join against the first_seen
    table instead of recomputing it."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    )
    pos = docs.select(
        "doc_id",
        "words",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.size("words") - F.lit(DUPSPAN_N), F.lit(-1)
                ),
            )
        ).alias("j"),
    )
    grams = pos.select(
        "doc_id",
        F.array_join(
            F.slice(F.col("words"), F.col("j") + 1, DUPSPAN_N), "_"
        ).alias("gram"),
    )
    w = Window.partitionBy("gram")
    flagged = grams.withColumn("first_doc", F.min("doc_id").over(w))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
        )
        .cast("long")
        .alias("novel_grams"),
        F.round(
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            / F.count("*").cast("double"),
            6,
        ).alias("novelty_frac"),
    )



# --- duplicated-run machinery (shared by the three span operators) -----------
# q_ext_longest_dupspan / q_ext_trim_dupspan / q_ext_strip_dupspans all
# build on the same two stages: (1) flag each positional gram that
# occurs in a second document (ONE gram-keyed shuffle, min!=max over
# the gram window — the q_ext_dupspan discipline), (2) collapse
# consecutive duplicated positions into runs via the run-length trick
# (j - row_number() is constant exactly within a consecutive run; one
# doc-keyed exchange).  ONE copy of each stage lives here — in Spark
# below and in the oracle CTE prefix — so a change to gram
# construction, the dup flag, or run keying moves all three operators
# and their oracles together.

# DuckDB CTE chain ending in runlens(doc_id, grp, run, start); `w` and
# `g` stay visible for per-doc rollups and reconstructions.
_DUCK_RUNLENS_CTE = f"""w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
pos AS (
  SELECT doc_id, words,
         unnest(range(greatest(len(words) - {DUPSPAN_N - 1}, 0))) AS j
  FROM w
),
g AS (
  SELECT doc_id, j,
         array_to_string(list_slice(words, j + 1, j + {DUPSPAN_N}), '_')
           AS gram
  FROM pos
),
d AS (SELECT gram, min(doc_id) AS mn, max(doc_id) AS mx FROM g GROUP BY gram),
flags AS (
  SELECT g.doc_id, g.j FROM g JOIN d USING (gram) WHERE d.mn != d.mx
),
runs AS (
  SELECT doc_id,
         j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS grp, j
  FROM flags
),
runlens AS (
  SELECT doc_id, grp, count(*) AS run, min(j) AS start
  FROM runs GROUP BY 1, 2
)"""


def _dupspan_words_and_grams(docs: DataFrame):
    """(w, g): per-doc word arrays and positional (doc_id, j, gram)
    rows — docs shorter than the gram width produce no gram rows."""
    w = docs.select("doc_id", F.split("text", " ").alias("words"))
    pos = w.select(
        "doc_id",
        "words",
        F.explode(
            F.when(
                F.size("words") >= DUPSPAN_N,
                F.sequence(F.lit(0), F.size("words") - DUPSPAN_N),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("j"),
    )
    g = pos.select(
        "doc_id",
        "j",
        F.array_join(
            F.slice("words", F.col("j") + 1, DUPSPAN_N), "_"
        ).alias("gram"),
    )
    return w, g


def _dupspan_runlens(g: DataFrame) -> DataFrame:
    """(doc_id, grp, run, start): maximal runs of consecutive
    duplicated gram positions, from the run-length collapse."""
    from pyspark.sql import Window

    gw = Window.partitionBy("gram")
    dup_pos = g.select(
        "doc_id",
        "j",
        (F.min("doc_id").over(gw) != F.max("doc_id").over(gw)).alias(
            "is_dup"
        ),
    ).filter(F.col("is_dup"))
    dw = Window.partitionBy("doc_id").orderBy("j")
    return (
        dup_pos.select(
            "doc_id",
            "j",
            (F.col("j") - F.row_number().over(dw)).alias("grp"),
        )
        .groupBy("doc_id", "grp")
        .agg(F.count("*").alias("run"), F.min("j").alias("start"))
    )


# --- longest duplicated span (exact-substring dedup upgrade) ----------------
# q_ext_dupspan counts WHICH grams are shared; it cannot tell a doc
# with 40 scattered duplicated 5-grams from one containing a single
# 44-token verbatim block — and exact-substring dedup (Lee et al.
# 2022) keys on LONG verbatim runs (50-token minimums).  A run of R
# grams covers R + N - 1 tokens.

@register(
    "q_ext_longest_dupspan",
    oracle="WITH "
    + _DUCK_RUNLENS_CTE
    + f""",
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
m AS (SELECT doc_id, max(run) AS longest FROM runlens GROUP BY doc_id)
SELECT p.doc_id, CAST(p.n_grams AS BIGINT) AS n_grams,
       CAST(coalesce(m.longest, 0) AS BIGINT) AS longest_run_grams,
       CAST(CASE WHEN coalesce(m.longest, 0) > 0
                 THEN m.longest + {DUPSPAN_N - 1} ELSE 0 END AS BIGINT)
         AS longest_span_tokens
FROM per_doc p LEFT JOIN m USING (doc_id)
""",
)
def q_ext_longest_dupspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest verbatim duplicated span per document, in positional
    {DUPSPAN_N}-grams and in tokens (run + {DUPSPAN_N - 1}) — the
    doc-level signal exact-substring dedup thresholds on (Lee et al.
    2022's 50-token minimum becomes `longest_span_tokens >= 50`).

    Plan: the shared machinery's gram shuffle + doc-keyed run collapse
    (after the doc_id window, hashpartitioning(doc_id) already
    satisfies the (doc_id, grp) and doc_id aggregates) — linear in
    corpus grams, no pair join, boilerplate shared by k docs costs k
    rows."""
    docs = load_table(spark, sf_dir, "documents")
    _, g = _dupspan_words_and_grams(docs)
    per_doc = g.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    m = _dupspan_runlens(g).groupBy("doc_id").agg(
        F.max("run").alias("longest")
    )
    longest = F.coalesce(F.col("longest"), F.lit(0)).cast("long")
    return per_doc.join(m, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        longest.alias("longest_run_grams"),
        F.when(longest > 0, longest + (DUPSPAN_N - 1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("longest_span_tokens"),
    )


# --- span trimming (the curation ACTION behind the measurements) -------------
# Remove the longest duplicated run's tokens from each document and
# keep the rest — the "trim, don't drop" curation move for documents
# whose contamination is one pasted block (Lee et al. 2022 trim all
# qualifying spans; `q_ext_strip_dupspans` below is that full form).
# Trimmed text is emitted as an md5 so the gate hash-checks every
# reconstruction without shipping full documents through the driver
# compare.

@register(
    "q_ext_trim_dupspan",
    oracle="WITH "
    + _DUCK_RUNLENS_CTE
    + f""",
best AS (
  SELECT doc_id, run, start,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY run DESC, start) AS rk
  FROM runlens
)
SELECT w.doc_id,
       CAST(len(w.words) AS BIGINT) AS n_tokens,
       CAST(coalesce(b.run + {DUPSPAN_N - 1}, 0) AS BIGINT) AS n_removed,
       -- outer coalesce: DuckDB array_to_string([]) is NULL, not ''
       -- (Spark array_join([]) is '') — a whole-doc trim hits this
       md5(CASE WHEN b.doc_id IS NULL THEN array_to_string(w.words, ' ')
            ELSE coalesce(array_to_string(
              list_concat(
                list_slice(w.words, 1, b.start),
                list_slice(w.words, b.start + b.run + {DUPSPAN_N},
                           len(w.words))),
              ' '), '') END) AS trimmed_md5
FROM w LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
""",
)
def q_ext_trim_dupspan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove each document's longest duplicated run (ties: earliest
    start) and hash the surviving text: per doc, token count before,
    tokens removed (run + {DUPSPAN_N - 1}, or 0 when nothing is
    shared), and md5 of the trimmed reconstruction — every keep/cut
    decision is value-checked through the hash.

    Plan: the shared run-collapse machinery plus an argmax row_number
    over the runs table and ONE map-only array-slice reconstruction
    joined back to the per-doc words; no pair join anywhere."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w, g = _dupspan_words_and_grams(docs)
    runlens = _dupspan_runlens(g)
    rw = Window.partitionBy("doc_id").orderBy(
        F.col("run").desc(), F.col("start")
    )
    best = (
        runlens.withColumn("rk", F.row_number().over(rw))
        .filter(F.col("rk") == 1)
        .select("doc_id", "run", "start")
    )
    joined = w.join(best, "doc_id", "left")
    keep_head = F.slice(F.col("words"), 1, F.col("start"))
    tail_from = F.col("start") + F.col("run") + DUPSPAN_N
    keep_tail = F.slice(
        F.col("words"),
        tail_from,
        F.greatest(F.size("words") - tail_from + 1, F.lit(0)),
    )
    trimmed = F.when(
        F.col("run").isNull(), F.array_join(F.col("words"), " ")
    ).otherwise(F.array_join(F.concat(keep_head, keep_tail), " "))
    return joined.select(
        "doc_id",
        F.size("words").cast("long").alias("n_tokens"),
        F.coalesce(F.col("run") + (DUPSPAN_N - 1), F.lit(0))
        .cast("long")
        .alias("n_removed"),
        F.md5(trimmed).alias("trimmed_md5"),
    )


# --- full exact-substring strip (Lee et al. 2022 semantics) ------------------
# The published operator: remove EVERY duplicated span meeting the
# length minimum (50 tokens).  Qualifying runs explode to their
# covered token positions (adjacent runs' token spans can overlap —
# the distinct collapses that), and one indexed array filter
# reconstructs the stripped document.  Everything stays on the doc key
# after the gram window: no pair join, no iteration, linear in corpus
# tokens.

STRIP_MIN_TOKENS = 50


@register(
    "q_ext_strip_dupspans",
    oracle="WITH "
    + _DUCK_RUNLENS_CTE
    + f""",
covered AS (
  SELECT DISTINCT doc_id, unnest(range(start, start + run + {DUPSPAN_N - 1}))
           AS t
  FROM runlens WHERE run + {DUPSPAN_N - 1} >= {STRIP_MIN_TOKENS}
),
cov AS (SELECT doc_id, list(t) AS ts FROM covered GROUP BY doc_id)
SELECT w.doc_id,
       CAST(len(w.words) AS BIGINT) AS n_tokens,
       CAST(coalesce(len(c.ts), 0) AS BIGINT) AS n_removed,
       md5(CASE WHEN c.doc_id IS NULL THEN array_to_string(w.words, ' ')
            ELSE coalesce(array_to_string(
              list_filter(w.words,
                          (x, i) -> NOT list_contains(c.ts, i - 1)),
              ' '), '') END) AS stripped_md5
FROM w LEFT JOIN cov c USING (doc_id)
""",
)
def q_ext_strip_dupspans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring strip, full Lee et al. 2022 semantics: remove
    EVERY duplicated span of at least {STRIP_MIN_TOKENS} tokens
    (runs of shared positional grams covering >= that many tokens),
    keep everything else, and hash the reconstruction.

    Plan: the shared run-collapse machinery -> qualifying runs explode
    to covered token positions (distinct merges overlapping adjacent
    spans) -> per-doc position list -> ONE indexed array filter
    rebuilds the text map-only.  Token positions are 0-based in both
    engines (DuckDB's filter lambda index is 1-based, shifted in the
    oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    w, g = _dupspan_words_and_grams(docs)
    covered = (
        _dupspan_runlens(g)
        .filter(F.col("run") + (DUPSPAN_N - 1) >= STRIP_MIN_TOKENS)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("start"),
                    F.col("start") + F.col("run") + (DUPSPAN_N - 2),
                )
            ).alias("t"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_set("t").alias("ts"))
    )
    joined = w.join(covered, "doc_id", "left")
    stripped = F.when(
        F.col("ts").isNull(), F.array_join(F.col("words"), " ")
    ).otherwise(
        F.array_join(
            F.filter(
                F.col("words"),
                lambda x, i: ~F.array_contains(F.col("ts"), i),
            ),
            " ",
        )
    )
    return joined.select(
        "doc_id",
        F.size("words").cast("long").alias("n_tokens"),
        F.coalesce(F.size("ts"), F.lit(0)).cast("long").alias("n_removed"),
        F.md5(stripped).alias("stripped_md5"),
    )


# ---------------------------------------------------------------------------
# sentence-level exact dedup accounting
# ---------------------------------------------------------------------------

SENT_MIN_CHARS = 20  # ignore fragments below this normalized length


def normalized_sentences(docs: DataFrame, min_chars: int = SENT_MIN_CHARS) -> DataFrame:
    """(source, s): sentence explode + normalization (lowercase,
    whitespace-collapse, trim, >= min_chars) — the ONE definition of
    "a sentence" shared by the batch id below and the streaming twin
    (streaming/stateful.sentence_freq_stream), so the two projections
    cannot silently diverge (ADVICE r12 item 2).  Every op is
    map-local, so the same plan fragment is legal on a streaming
    DataFrame."""
    return (
        docs.select(
            "source",
            F.explode(F.split(F.col("text"), r"[.!?]+")).alias("raw"),
        )
        .select(
            "source",
            F.trim(
                F.regexp_replace(F.lower(F.col("raw")), r"\s+", " ")
            ).alias("s"),
        )
        .filter(F.length("s") >= min_chars)
    )


@register(
    "q_ext_sentence_dedup",
    oracle=f"""
WITH sents AS (
  SELECT source,
         trim(regexp_replace(lower(s), '\\s+', ' ', 'g')) AS s
  FROM (SELECT source,
               unnest(regexp_split_to_array(text, '[.!?]+')) AS s
        FROM documents)
), kept AS (
  SELECT source, s FROM sents WHERE length(s) >= {SENT_MIN_CHARS}
), freq AS (
  SELECT s, count(*) AS c FROM kept GROUP BY s
)
SELECT k.source,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(count(DISTINCT k.s) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_duplicated,
       CAST((sum(CASE WHEN f.c > 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS DOUBLE) / 1000000 AS dup_ratio
FROM kept k JOIN freq f USING (s)
GROUP BY k.source
ORDER BY k.source
""",
)
def q_ext_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level exact-duplicate accounting per source: sentences
    (normalized: lowercase, whitespace-collapsed, >= {SENT_MIN_CHARS}
    chars), distinct sentences, and sentences whose normalized form
    appears more than once ANYWHERE in the corpus — the statistic
    behind sentence-granular dedup (the C4 pipeline deduplicated at
    span/sentence granularity; Raffel et al. 2020) and the
    between-sources leakage complement of the in-document repetition
    gate (q_ext_repetition).  Reference has no curation tier.

    Plan: sentence explode is map-local (Generate off the scan); raw
    sentence rows collapse IMMEDIATELY to (s, source, cnt) — the ONE
    corpus-sized shuffle, and map-side combine shrinks the shuffled
    bytes to distinct (s, source) pairs per map partition.  The
    global frequency then comes from a sentence-partitioned WINDOW
    SUM over the pre-aggregated rows (one shuffle of distinct pairs,
    no ordering) — the r11 shape shuffled the RAW rows twice
    (frequency groupBy + join-back), and the first r12 attempt kept a
    freq JOIN whose probe side re-shuffled a third time because the
    pre-agg partitioning is (s, source), not s (measured x100 7.96 vs
    6.0 for this window form).  No join, no pair explosion; cost
    linear in DISTINCT (sentence, source) pairs even when one
    boilerplate sentence occurs in millions of docs.  The dup ratio
    lands on a 1e-6 grid by integer floor division (round() splits
    engines on exact half-way rationals); the scaled numerator is
    computed in DECIMAL because the DuckDB side sums in HUGEINT — a
    BIGINT numerator would overflow past ~9.2e12 duplicated sentences
    where the oracle stays exact.  All counts integer-exact."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    sents = normalized_sentences(docs)
    per = sents.groupBy("s", "source").agg(F.count("*").alias("cnt"))
    with_freq = per.withColumn(
        "c", F.sum("cnt").over(Window.partitionBy("s"))
    )
    return (
        with_freq
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("long").alias("n_sentences"),
            F.count("*").cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("c") > 1, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("n_duplicated"),
            F.expr(
                "CAST((CAST(sum(CASE WHEN c > 1 THEN cnt ELSE 0 END)"
                " AS DECIMAL(25,0)) * 1000000)"
                " div sum(cnt) AS DOUBLE) / 1000000"
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )
