"""Text analysis for LLM training-data pipelines — SURVEY.md §2.10.

NORTH-mandated: per-document statistics, quality scoring, token counting,
corpus-trained language identification, token frequency, and document
fingerprinting over the ``documents`` fixture. Everything is built-in
expression work (split/explode/groupBy/window) — no UDFs — so each op is a
one- or two-shuffle plan that scales linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_spark.exprs import NORM_TEXT_DUCK
from flink_realtime_spark.registry import query
from flink_realtime_spark.tables import Warehouse, rebalance

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "on", "for", "with", "by"]
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"
# BPE-ish token regex: letter runs, digit runs, or single non-space
# symbols. Whitespace is the EXPLICIT Java-\s set [ \t\n\x0B\f\r]: RE2's
# \s lacks \x0B (vertical tab), so the shared literal must spell the
# class out or DuckDB counts every VT as a symbol token (extremes tier,
# r10 — 40 VTs in the control doc = +40 re_tokens on the oracle side).
# Each engine parses its own escape sequences; the class is identical.
_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"


@query(
    "llm_text_normalize",
    f"""
    SELECT
      doc_id,
      {NORM_TEXT_DUCK} AS norm_text,
      CAST(len({NORM_TEXT_DUCK}) AS BIGINT) AS n_chars_norm,
      CAST(strlen({NORM_TEXT_DUCK}) AS BIGINT) AS n_bytes_norm
    FROM documents
    """,
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's text normalizer as a first-class operator: whitespace
    collapse + the PORTABLE simple case fold (exprs.NORM_TEXT_* — the
    r09 uni-tier contract: İ pre-mapped, final-sigma canonicalized, so
    Java full casing and utf8proc 1:1 casing agree), plus code-point and
    UTF-8 byte lengths of the result — the two length units the uni tier
    proved engines disagree on when conflated. Every dedup/curation key
    builds on this fold; registering it directly gives the contract its
    own driver hash, including over multilingual corpora (the uni tier).
    Narrow map, zero shuffles, scan speed at any corpus size."""
    wh = Warehouse(spark, sf_dir)
    from flink_realtime_spark.exprs import norm_text

    n = norm_text("text")
    return wh.documents.select(
        "doc_id",
        n.alias("norm_text"),
        F.length(n).cast("long").alias("n_chars_norm"),
        F.octet_length(n).cast("long").alias("n_bytes_norm"),
    )


@query(
    "llm_text_stats",
    f"""
    SELECT
      doc_id,
      lang,
      source,
      CAST(len(str_split(text, ' ')) AS BIGINT) AS n_words,
      CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_unique,
      CAST(n_chars AS DOUBLE) / len(str_split(text, ' ')) AS avg_word_span,
      CAST(len(list_filter(str_split(text, ' '),
                w -> list_contains({_SW_SQL}, w))) AS DOUBLE)
        / len(str_split(text, ' ')) AS stopword_ratio,
      CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE)
        / len(str_split(text, ' ')) AS ttr
    FROM documents
    """,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document profile: word count, unique words, average word span,
    stopword ratio, type-token ratio — the standard quality-signal family.
    Pure narrow ops; integer/exact-division arithmetic keeps it
    oracle-exact without rounding."""
    wh = Warehouse(spark, sf_dir)
    ws = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    return wh.documents.select(
        "doc_id",
        "lang",
        "source",
        F.size(ws).cast("long").alias("n_words"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_unique"),
        (F.col("n_chars").cast("double") / F.size(ws)).alias("avg_word_span"),
        (
            F.size(F.filter(ws, lambda w: F.array_contains(sw, w))).cast("double")
            / F.size(ws)
        ).alias("stopword_ratio"),
        (F.size(F.array_distinct(ws)).cast("double") / F.size(ws)).alias("ttr"),
    )


@query(
    "llm_quality_score",
    f"""
    SELECT
      doc_id,
      ROUND(
        0.4 * least(len(str_split(text, ' ')) / 80.0, 1.0)
        + 0.3 * (len(list_distinct(str_split(text, ' ')))::DOUBLE
                 / len(str_split(text, ' ')))
        + 0.3 * (1.0 - least(
            len(list_filter(str_split(text, ' '),
                w -> list_contains({_SW_SQL}, w)))::DOUBLE
            / len(str_split(text, ' ')) / 0.5, 1.0))
      , 6) AS quality
    FROM documents
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: length saturation + lexical diversity +
    stopword-density penalty (the heuristic-filter stage of a training-data
    pipeline). Weights are fixed; per-row double arithmetic only."""
    wh = Warehouse(spark, sf_dir)
    ws = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n = F.size(ws)
    uniq = F.size(F.array_distinct(ws))
    swr = F.size(F.filter(ws, lambda w: F.array_contains(sw, w))).cast(
        "double"
    ) / n
    score = (
        0.4 * F.least(n / F.lit(80.0), F.lit(1.0))
        + 0.3 * (uniq.cast("double") / n)
        + 0.3 * (1.0 - F.least(swr / 0.5, F.lit(1.0)))
    )
    return wh.documents.select("doc_id", F.round(score, 6).alias("quality"))


@query(
    "llm_token_count",
    f"""
    SELECT
      doc_id,
      CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT) AS re_tokens,
      CAST(ceil(n_chars / 4.0) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    """,
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, BPE-ish regex token
    runs, and the chars/4 budget heuristic — the inputs to token-budget
    accounting at corpus scale."""
    wh = Warehouse(spark, sf_dir)
    return wh.documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
        .cast("long")
        .alias("re_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("approx_bpe_tokens"),
    )


@query(
    "llm_token_topk",
    """
    SELECT lang, word, n, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT
        lang, word, COUNT(*) AS n,
        ROW_NUMBER() OVER (
          PARTITION BY lang ORDER BY COUNT(*) DESC, word ASC
        ) AS rnk
      FROM (SELECT lang, unnest(str_split(text, ' ')) AS word FROM documents)
      GROUP BY lang, word
    )
    WHERE rnk <= 10
    """,
)
def llm_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 tokens per language: explode → count → per-group Top-N
    (WindowGroupLimit keeps the shuffle at 10 rows per group per task)."""
    wh = Warehouse(spark, sf_dir)
    tokens = wh.documents.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    )
    counts = tokens.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("word").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("lang", "word", "n", "rnk")
    )


@query(
    "llm_lang_id",
    """
    WITH doc_tokens AS (
      SELECT DISTINCT doc_id, lang, unnest(str_split(text, ' ')) AS word
      FROM documents
    ),
    word_lang AS (
      SELECT word, lang, COUNT(*) AS n FROM doc_tokens GROUP BY word, lang
    ),
    word_top AS (
      SELECT word, lang AS top_lang FROM (
        SELECT word, lang,
          ROW_NUMBER() OVER (
            PARTITION BY word ORDER BY n DESC, lang ASC NULLS FIRST
          ) AS rn
        FROM word_lang
      ) WHERE rn = 1
    ),
    votes AS (
      SELECT t.doc_id, t.lang, w.top_lang, COUNT(*) AS v
      FROM doc_tokens t JOIN word_top w ON t.word = w.word
      GROUP BY t.doc_id, t.lang, w.top_lang
    )
    SELECT doc_id, lang AS true_lang, top_lang AS pred_lang,
           CAST(lang = top_lang AS BOOLEAN) AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY v DESC, top_lang ASC NULLS FIRST
      ) AS rn FROM votes
    ) WHERE rn = 1
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained language ID (naive-Bayes-lite): each token votes for
    the language it most often appears under (document frequency), each
    document takes the majority vote, deterministic tie-breaks throughout.
    Two shuffles over the token stream — the shape of any distributed
    lang-id / domain-classification pass; swap the voting table for real
    per-language n-gram profiles when labels aren't available."""
    wh = Warehouse(spark, sf_dir)
    doc_tokens = rebalance(wh.documents, "doc_id").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    ).distinct()
    word_lang = doc_tokens.groupBy("word", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    # lang is nullable metadata: tiebreak placement pinned both sides
    # (r08 nulls-tier class)
    w1 = Window.partitionBy("word").orderBy(
        F.col("n").desc(), F.col("lang").asc_nulls_first()
    )
    word_top = (
        word_lang.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("word", F.col("lang").alias("top_lang"))
    )
    votes = (
        doc_tokens.join(word_top, "word")
        .groupBy("doc_id", "lang", "top_lang")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(
        F.col("v").desc(), F.col("top_lang").asc_nulls_first()
    )
    return (
        votes.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("top_lang").alias("pred_lang"),
            (F.col("lang") == F.col("top_lang")).alias("correct"),
        )
    )


@query(
    "llm_doc_fingerprint",
    f"""
    WITH ws AS MATERIALIZED (
      SELECT doc_id,
             str_split({NORM_TEXT_DUCK}, ' ')
               AS w
      FROM documents
    )
    SELECT
      doc_id,
      MIN(md5(sh)) AS fingerprint,
      CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_shingles
    FROM (
      SELECT doc_id,
        unnest(CASE WHEN len(w) >= 3 THEN
          list_transform(generate_series(1, len(w) - 2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        ELSE [] END) AS sh
      FROM ws
    )
    GROUP BY doc_id
    """,
)
def llm_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum normalized-trigram-shingle hash per
    document (the 1-hash MinHash / rolling-fingerprint primitive; equal
    fingerprints are near-dup candidates at corpus scale). Shares the
    zip_with shingle builder with the dedup family (llm/dedup.py) — the
    naive element_at form is O(words²) interpreted work per doc.
    Order-insensitive MIN keeps it deterministic."""
    from flink_realtime_spark.llm.dedup import _with_shingles

    wh = Warehouse(spark, sf_dir)
    shingles = (
        _with_shingles(wh.documents.select("doc_id", "text"))
        .select("doc_id", F.explode("sh").alias("sh"))
    )
    # sh explodes from an array_distinct'ed array (_with_shingles), so
    # the rows are already distinct per doc: COUNT(*) == COUNT(DISTINCT)
    # and the countDistinct Expand + double-aggregate phase is pure
    # overhead (r11, guide §2.4).
    return shingles.groupBy("doc_id").agg(
        F.min(F.md5("sh")).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


_BIGRAMS_DUCK = """
      list_transform(
        generate_series(1, len(str_split(text, ' ')) - 1),
        i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1])
"""

# Two DuckDB quadratic traps dodged here (extremes tier, r10 — the
# oracle-side twins of SCALE.md's CollapseProject lesson, both ground
# 20+ minutes on one 1 MB document):
# 1. ws is a MATERIALIZED CTE so w[i] in the bigram lambda reads a
#    stored list — inlining str_split(text, ' ') into the lambda
#    re-splits the whole text PER ELEMENT (O(words × chars) per doc).
# 2. the per-doc scalars (n_words, n_unique) live in their own CTE and
#    join back on doc_id: DuckDB evaluates unnest SIBLING expressions
#    once per OUTPUT row, so len(list_distinct(w)) as a sibling is
#    O(words) × words rows.
_REPETITION_ORACLE = f"""
WITH ws AS MATERIALIZED (
  SELECT doc_id, str_split(text, ' ') AS w
  FROM documents
  WHERE len(str_split(text, ' ')) >= 2
),
st AS MATERIALIZED (
  SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS n_unique
  FROM ws
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1])) AS bg
  FROM ws
),
bg_counts AS (
  SELECT doc_id, bg, COUNT(*) AS c FROM grams GROUP BY doc_id, bg
),
mx AS (SELECT doc_id, MAX(c) AS max_c FROM bg_counts GROUP BY doc_id)
SELECT
  st.doc_id,
  ROUND(1.0 - CAST(n_unique AS DOUBLE) / n_words, 6) AS dup_word_frac,
  ROUND(CAST(max_c AS DOUBLE) / (n_words - 1), 6) AS top_bigram_frac
FROM st JOIN mx USING (doc_id)
"""


@query("llm_repetition", _REPETITION_ORACLE)
def llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rules family): per-document
    duplicate-word fraction and most-frequent-bigram share. Bigrams come
    from zip_with over shifted slices (the codegen-safe shingle builder —
    SCALE.md Lessons), then explode → two keyed aggregations. Ratios are
    exact integer divisions rounded at 6, so the hash is engine-stable."""
    wh = Warehouse(spark, sf_dir)
    ws = F.split("text", " ")
    bigrams = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    docs = rebalance(wh.documents.filter(F.size(ws) >= 2), "doc_id")
    # n_words / n_unique live in their OWN per-doc projection and come
    # back via a doc_id join: carrying them as SELECT siblings of the
    # explode lets CollapseProject inline size(split(text)) and
    # size(array_distinct(split(text))) into the downstream aggregate's
    # GROUP KEYS, re-evaluated per exploded bigram row — O(words × chars)
    # per doc, 20+ CPU-minutes on one 1 MB document (extremes tier, r10;
    # the explode+groupBy sibling of SCALE.md's CollapseProject lambda
    # lesson). Both aggregates are per-doc-bounded; the join keys are
    # post-aggregate doc_id rows, co-partitioned by the same key.
    stats = docs.select(
        "doc_id",
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_unique"),
    )
    grams = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    bg_max = (
        grams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_c"))
    )
    return stats.join(bg_max, "doc_id").select(
        "doc_id",
        F.round(1.0 - F.col("n_unique").cast("double") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        F.round(
            F.col("max_c").cast("double") / (F.col("n_words") - 1), 6
        ).alias("top_bigram_frac"),
    )


CHUNK_SIZE = 40
CHUNK_STRIDE = 30

# Linear positional-group form (extremes tier, r10): every slicing
# variant ground on megabyte docs — per-chunk list_slice over an
# inlined split is O(chunks × chars), and even over a materialized list
# the lambda's capture of `w` re-materializes the word list per chunk
# (measured 179 s at one 1 MB doc). Fanning each word to its <= 2
# containing chunks and string_agg-ing ORDER BY position is O(words),
# the exact mirror of the Spark side's rework.
_CHUNK_ORACLE = f"""
WITH ws AS MATERIALIZED (
  SELECT doc_id, str_split(text, ' ') AS w FROM documents
),
words AS MATERIALIZED (
  SELECT doc_id, unnest(w) AS word,
         unnest(generate_series(1, len(w))) AS p
  FROM ws
),
fan AS (
  SELECT doc_id, word, p,
         unnest(generate_series(
           greatest(0, (p - {CHUNK_SIZE - CHUNK_STRIDE + 1}) // {CHUNK_STRIDE}),
           (p - 1) // {CHUNK_STRIDE})) AS j
  FROM words
)
SELECT
  doc_id,
  CAST(j * {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_start,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  string_agg(word, ' ' ORDER BY p) AS chunk_text
FROM fan
GROUP BY doc_id, j
"""


@query("llm_chunk_split", _CHUNK_ORACLE)
def llm_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (40-word chunks, stride 30, so
    consecutive chunks overlap by 10 words) — the context-window packing
    step of a training-data pipeline.

    Shape (reworked r10, extremes tier): posexplode the words once, fan
    each word out to the ≤2 chunks containing it (pure position
    arithmetic — membership needs no document length), and rebuild chunk
    text with one keyed aggregation. The previous zero-shuffle form
    (explode starts, slice(split(text), s) per chunk row) re-ran the
    split once per CHUNK — O(chunks × chars) per doc, the explode-sibling
    face of SCALE.md's CollapseProject lesson; a 1 MB doc paid seconds,
    a 10 MB doc minutes. This form is O(words) per doc and the chunk
    groups are ≤ {CHUNK_SIZE} rows each, so the added shuffle is flat and
    the skew ceiling is the chunk size, not the document size."""
    wh = Warehouse(spark, sf_dir)
    ws = F.split("text", " ")
    words = wh.documents.select(
        "doc_id", F.posexplode(ws).alias("p0", "w")
    ).select(
        "doc_id", "w", (F.col("p0") + 1).alias("p")
    )
    # 1-based word position p belongs to chunk index j (start = j*T + 1)
    # iff j*T + 1 <= p <= j*T + K, i.e. j in [ceil((p-K)/T), floor((p-1)/T)]
    # — at most ceil(K/T) = 2 chunks. Integer forms below avoid floor-vs-
    # truncate trouble: operands are non-negative after the clamp.
    K, T = CHUNK_SIZE, CHUNK_STRIDE
    jmin = F.greatest(
        F.lit(0), ((F.col("p") - F.lit(K - T + 1)) / T).cast("long")
    )
    jmax = ((F.col("p") - 1) / T).cast("long")
    fan = words.select(
        "doc_id", "p", "w",
        F.explode(F.sequence(jmin, jmax)).alias("j"),
    )
    return (
        fan.groupBy("doc_id", "j")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "w"))),
                    lambda x: x.getField("w"),
                ),
                " ",
            ).alias("chunk_text"),
        )
        .select(
            "doc_id",
            (F.col("j") * T + 1).cast("long").alias("chunk_start"),
            F.col("n_tokens").cast("long"),
            "chunk_text",
        )
    )


# ---- PII detection / redaction: the privacy-scrub pass of a training-data
# pipeline. The fixture corpus contains no PII (word soup, verified
# digit-free), so deterministic synthetic contacts are injected from the
# doc's own key material first — making match counts vary per row — and
# the detect+redact expressions then run over the composite text. Patterns
# stay in the RE2 ∩ Java-regex common subset (character classes + bounded
# repeats, no lookaround) so both engines compile them identically.

_PII_EMAIL = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PII_PHONE = "555-[0-9]{4}"

_PII_SYNTH_DUCK = """
  text
  || CASE WHEN doc_id % 3 = 0
       THEN ' contact ' || source || '.user' || CAST(doc_id AS VARCHAR)
            || '@example.com' ELSE '' END
  || CASE WHEN doc_id % 4 = 1
       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       ELSE '' END
"""


@query(
    "llm_pii_redact",
    f"""
    WITH s AS (SELECT doc_id, {_PII_SYNTH_DUCK} AS t FROM documents)
    SELECT
      doc_id,
      CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
      regexp_replace(regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                     '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM s
    """,
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count and mask email/phone matches per document. Pure
    regexp columns — narrow map, zero shuffles, embarrassingly parallel;
    at 100 TB this runs at scan speed. Real deployments swap in the full
    pattern battery (SSN/credit-card/address) and an allowlist join; the
    plan shape is identical."""
    wh = Warehouse(spark, sf_dir)
    synth = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact "),
                F.col("source"),
                F.lit(".user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    return wh.documents.select("doc_id", synth.alias("t")).select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_PII_EMAIL), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PII_PHONE), 0))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("t", _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ).alias("redacted"),
    )


@query(
    "llm_word_rarity",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS n FROM tok GROUP BY w),
    tot AS (SELECT COUNT(*) AS total FROM tok)
    SELECT
      tok.doc_id,
      COUNT(*) AS n_tokens,
      CAST(CAST(SUM(CAST(CAST(freq.n AS DOUBLE) / tot.total
                         AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS DOUBLE)
        AS mean_token_freq,
      CAST(MIN(freq.n) AS BIGINT) AS rarest_count
    FROM tok JOIN freq USING (w) CROSS JOIN tot
    GROUP BY tok.doc_id
    """,
)
def llm_word_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality score (the unigram-LM family of quality
    filters, kept transcendental-free so both engines agree bit-exactly:
    IEEE division is deterministic, ln() is not guaranteed identically
    rounded across libm implementations): per doc, the mean corpus
    frequency of its tokens and its rarest token's count. Two keyed
    shuffles (token freq build + doc re-agg); the frequency table
    broadcasts at any vocabulary that fits an executor — the two-pass
    corpus-statistic join every TF-IDF/LM scorer at 100 TB uses."""
    wh = Warehouse(spark, sf_dir)
    tok = wh.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    # r12 (guide §2.4, the doc_keywords pattern): `total = tok.count()`
    # was a separate driver action that re-exploded the WHOLE corpus a
    # second time just to count tokens. The total folds over the (tiny)
    # frequency aggregate instead — SUM(n) == COUNT(*) over tok by
    # construction — as a 1-row broadcast crossJoin, so the query is one
    # distributed plan with one token-level pass. Per-row value
    # identical: long->double casts on both forms, same IEEE division.
    total = freq.agg(F.sum("n").alias("total"))
    return (
        tok.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(
                    (
                        F.col("n").cast("double")
                        / F.col("total").cast("double")
                    ).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1))
            ).cast("double").alias("mean_token_freq"),
            F.min("n").cast("long").alias("rarest_count"),
        )
    )


@query(
    "llm_doc_keywords",
    """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
    scored AS (
      SELECT tf.doc_id, tf.w,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (w) CROSS JOIN n
    )
    SELECT doc_id, w AS term, score, rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, w) AS rn
      FROM scored
    )
    WHERE rn <= 3
    """,
)
def llm_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per document: top-3 by tf·(N/df) — the TF-IDF
    family kept transcendental-free (integer tf·N stays exact below 2^53,
    one IEEE division — identical in both engines, unlike log-based idf
    whose libm rounding differs). Two token-level shuffles (tf build, df
    build) + the per-doc Top-N lowering to WindowGroupLimit; the df table
    broadcasts at any real vocabulary size."""
    wh = Warehouse(spark, sf_dir)
    from pyspark.sql import Window

    tok = wh.documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    # r11 (guide §2.3 "aggregate before you shuffle"): tf is the only
    # token-level pass — df derives from tf (one row per (doc, w), so
    # COUNT(*) == COUNT(DISTINCT doc_id)) instead of re-exploding the
    # corpus through a second token shuffle + distinct-count, and
    # n_docs is the doc-level scan count (split() always yields ≥ 1
    # token for non-NULL text; NULL text explodes to nothing — same
    # membership as the oracle's COUNT(DISTINCT doc_id) over tok).
    # localCheckpoint pins tf's single materialization for its two
    # consumers (the minhash-postings pattern).
    tf = (
        tok.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    # r12 (VERDICT r11 #8, guide §2.4): n_docs was a separate `.count()`
    # DRIVER ACTION per execution (a whole extra Spark job + a doc-table
    # scan before the real query even started). Folded as a 1-row
    # broadcast crossJoin (the q11 threshold pattern) so the query is ONE
    # distributed plan. Value-identical: COUNT(non-NULL text) == the old
    # filter().count(), and tf(long) * n_docs(long) stays a long product
    # before the same double cast/division.
    n = wh.documents.agg(
        F.count(F.when(F.col("text").isNotNull(), F.lit(1))).alias(
            "n_docs"
        )
    )
    scored = tf.join(F.broadcast(df), "w").crossJoin(F.broadcast(n)).select(
        "doc_id",
        F.col("w").alias("term"),
        ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
            "score"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


_LEN_W, _LEN_NB = 50, 12


@query(
    "llm_length_histogram",
    f"""
    SELECT
      CAST(LEAST(n_chars // {_LEN_W}, {_LEN_NB - 1}) AS BIGINT) AS bucket,
      CAST(LEAST(n_chars // {_LEN_W}, {_LEN_NB - 1}) * {_LEN_W} AS BIGINT)
        AS bucket_lo,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def llm_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution (the first chart of every corpus
    report, and the input to min/max-length filter tuning): 50-char
    buckets, top bucket open-ended. Integer bucket arithmetic,
    constant-space two-phase agg."""
    wh = Warehouse(spark, sf_dir)
    bucket = F.least(
        F.floor(F.col("n_chars") / _LEN_W), F.lit(_LEN_NB - 1)
    ).cast("long")
    return (
        wh.documents.select(
            bucket.alias("bucket"),
            (bucket * _LEN_W).cast("long").alias("bucket_lo"),
            "n_chars",
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_BPE_TOPK = 20

_BPE_ORACLE = f"""
WITH words AS (
  SELECT word, COUNT(*) AS wf FROM (
    SELECT unnest(str_split(text, ' ')) AS word FROM documents
  ) GROUP BY word
),
-- wc is MATERIALIZED so cs[i] reads a stored char list: inlining
-- string_split(word, '') into the lambda re-splits the whole word PER
-- ELEMENT — quadratic per word, unbounded on the extremes tier's
-- 100k-char single-token document (the _REPETITION_ORACLE lesson).
wc AS MATERIALIZED (
  SELECT wf, string_split(word, '') AS cs FROM words
),
pairs AS (
  SELECT
    unnest(list_transform(
      generate_series(1, len(cs) - 1),
      i -> cs[i] || cs[i + 1]
    )) AS pair,
    wf
  FROM wc
),
scored AS (
  SELECT pair, CAST(SUM(wf) AS BIGINT) AS freq FROM pairs GROUP BY pair
)
SELECT pair, freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, pair ASC) AS BIGINT)
         AS rnk
FROM scored
ORDER BY rnk
LIMIT {_BPE_TOPK}
"""


@query("llm_bpe_pair_freq", _BPE_ORACLE)
def llm_bpe_pair_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, one merge round: adjacent-character pair
    frequencies over word TYPES weighted by corpus word frequency — the
    statistic every byte-pair-encoding trainer computes before each merge.
    Top-20 pairs with a deterministic (freq desc, pair asc) rank.

    Scale shape: the corpus collapses to its word-frequency table first
    (one token shuffle — word types ≪ tokens), chars explode only over
    the small type table, and the pair agg is two-phase over a pair space
    bounded by alphabet². A full BPE trainer is this statistic in a loop
    with a merge-apply step between rounds. Both sides split each word
    ONCE (the oracle via a materialized char-list CTE, the Spark side
    via the zip_with shifted-slice builder — SCALE.md Lessons): the
    extremes tier's 100k-char single-token doc broke the 'words are
    short' assumption the old per-element lambda leaned on."""
    wh = Warehouse(spark, sf_dir)
    words = (
        rebalance(wh.documents, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    cs = F.split(F.col("word"), "")
    ln = F.greatest(F.size(cs) - 1, F.lit(0))
    prs = F.zip_with(
        F.slice(cs, F.lit(1), ln),
        F.slice(cs, F.lit(2), ln),
        lambda a, b: F.concat(a, b),
    )
    scored = (
        words.select(F.explode(prs).alias("pair"), "wf")
        .groupBy("pair")
        .agg(F.sum("wf").cast("long").alias("freq"))
    )
    # Global top-K over the tiny aggregated pair table (alphabet² rows).
    # single_bucket keeps the partition spec populated (a bare
    # Window.orderBy degrades to an empty spec → the single-task warning);
    # InferWindowGroupLimit still prunes to per-task top-K below the
    # window because the rank filter is visible to the optimizer.
    from flink_realtime_spark.plans.ordered import single_bucket

    w = Window.partitionBy(single_bucket(F.col("pair"))).orderBy(
        F.col("freq").desc(), F.col("pair").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _BPE_TOPK)
        .orderBy("rnk")
    )


_COOC_WIN = 2  # forward context window (offsets 1..2)
_COOC_TOPK = 20

_COOC_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tok AS (
  SELECT doc_id, unnest(ws) AS word,
         unnest(generate_series(1, len(ws))) AS i
  FROM w
),
pairs AS (
  SELECT a.word AS center, b.word AS context, COUNT(*) AS n
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id
   AND b.i - a.i BETWEEN 1 AND {_COOC_WIN}
  GROUP BY 1, 2
)
SELECT center, context, n,
       CAST(ROW_NUMBER() OVER (
         ORDER BY n DESC, center ASC, context ASC) AS BIGINT) AS rnk
FROM pairs
ORDER BY rnk
LIMIT {_COOC_TOPK}
"""


@query("llm_cooccurrence", _COOC_ORACLE)
def llm_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (the word2vec/GloVe pair statistic):
    (center, context) frequencies for forward offsets 1..2, top-20 with a
    deterministic (count desc, center, context) rank. Built with ONE
    window pass per document emitting `array(lead(1) .. lead(k))`, then
    posexplode — one keyed sort instead of a positional self-join, and no
    per-offset union (the round-2 per-k union branched the plan k ways,
    re-running the window subtree per branch: 14 exchanges for the lift
    variant; the array form plans a single WindowExec). The pair stream
    is |tokens| × window rows narrow off a single exchange; the count agg
    is two-phase. The positional self-join form the oracle uses is
    equivalent but shuffles the token relation twice at scale."""
    wh = Warehouse(spark, sf_dir)
    # r11 (guide §2.4): the previous form posexploded tokens and ran
    # lead(word, k) under a Window partitioned by doc_id — one full
    # token-relation shuffle + sort whose only job was to line up
    # ws[i] with ws[i+k]. The offsets are known inside the token ARRAY
    # already, so build the pairs with zip_with over shifted slices
    # (the _with_shingles pattern: arrays evaluate once per row, the
    # lambda is a cheap per-element struct) — the WindowExec and its
    # exchange disappear; the first and only shuffle is the two-phase
    # pair count. Same pair multiset: (ws[i], ws[i+k]) for k in 1..WIN.
    docs = rebalance(wh.documents, "doc_id").select(
        F.split("text", " ").alias("ws")
    )
    n = F.size("ws")

    def _shift_pairs(k: int):
        ln = F.greatest(n - k, F.lit(0))
        return F.zip_with(
            F.slice("ws", F.lit(1), ln),
            F.slice("ws", F.lit(k + 1), ln),
            lambda a, b: F.struct(
                a.alias("center"), b.alias("context")
            ),
        )

    pairs = docs.select(
        F.explode(
            F.concat(*[_shift_pairs(k) for k in range(1, _COOC_WIN + 1)])
        ).alias("p")
    ).select("p.center", "p.context")
    counts = pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n")
    )
    # Global top-K: orderBy().limit(K) lowers to TakeOrderedAndProject —
    # every task keeps its local top-K and the driver merges K×#partitions
    # rows, so no task ever sees the full pair table. (The previous
    # partition-less row_number() window moved the whole (center,context)
    # aggregate — corpus-growing, 10⁸–10⁹ pairs at 100 TB — to ONE task;
    # the r03 bench log showed the `WindowExec: No Partition Defined`
    # warning firing here.) The rank is then re-derived over the bounded
    # K-row result, where a single-task window is O(K).
    top = counts.orderBy(
        F.col("n").desc(), F.col("center").asc(), F.col("context").asc()
    ).limit(_COOC_TOPK)
    from flink_realtime_spark.plans.ordered import single_bucket

    wr = Window.partitionBy(single_bucket(F.col("center"))).orderBy(
        F.col("n").desc(), F.col("center").asc(), F.col("context").asc()
    )
    return (
        top.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .orderBy("rnk")
    )


_LIFT_MIN_N = 50  # min pair support before a lift score is meaningful

_LIFT_ORACLE = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tok AS (
  SELECT doc_id, unnest(ws) AS word,
         unnest(generate_series(1, len(ws))) AS i
  FROM w
),
uni AS (SELECT word, COUNT(*) AS nw FROM tok GROUP BY word),
tot AS (SELECT COUNT(*) AS n_tok FROM tok),
pairs AS (
  SELECT a.word AS center, b.word AS context, COUNT(*) AS n
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id
   AND b.i - a.i BETWEEN 1 AND {_COOC_WIN}
  GROUP BY 1, 2
)
SELECT center, context, n,
       -- double->DECIMAL routes via STRING, mirroring exprs.dsum_sql's
       -- decimal->double rule: DuckDB rounds the BINARY double while
       -- Spark's cast quantizes the SHORTEST REPR (BigDecimal.valueOf),
       -- and a lift ratio of small integer counts can land its repr
       -- exactly on a scale-13 tie — nulls-tier find: 636*264130 /
       -- (8912*8884) reprs as 2.1217348962935, Spark HALF_UP ...94,
       -- DuckDB binary-round ...93.
       CAST(CAST(CAST(CAST(n AS DOUBLE) * t.n_tok
            / (uc.nw * CAST(ux.nw AS DOUBLE)) AS STRING)
            AS DECIMAL(28,12)) AS DOUBLE)
         AS lift,
       CAST(ROW_NUMBER() OVER (
         ORDER BY CAST(n AS DOUBLE) * t.n_tok / (uc.nw * CAST(ux.nw AS DOUBLE))
                    DESC,
                  center ASC, context ASC) AS BIGINT) AS rnk
FROM pairs
JOIN uni uc ON uc.word = pairs.center
JOIN uni ux ON ux.word = pairs.context
CROSS JOIN tot t
WHERE n >= {_LIFT_MIN_N}
QUALIFY rnk <= {_COOC_TOPK}
ORDER BY rnk
"""


@query("llm_collocation_lift", _LIFT_ORACLE)
def llm_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection by lift — PMI's ratio form
    n(c,x)·N / (n(c)·n(x)) kept as an exact-arithmetic ratio instead of
    its logarithm (ln is libm-dependent across engines; the ratio is two
    integer products and one IEEE division, then pinned through
    DECIMAL(28,12)). Pairs below a support floor are dropped first — the
    standard guard against rare-pair lift explosions. Unigram counts and
    the 1-row token total broadcast against the pair table; everything
    else is the co-occurrence machinery above."""
    wh = Warehouse(spark, sf_dir)
    # r11 (guide §2.4): pairs come from zip_with over shifted slices of
    # the token array (see llm_cooccurrence) — the lead()-window form
    # paid a full token shuffle + sort just to align ws[i] with
    # ws[i+k]. The unigram table is the only token-level shuffle left,
    # and the 1-row token total folds over it (Σ nw) instead of running
    # a second pass over the exploded tokens.
    tok = rebalance(wh.documents, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("nw"))
    tot = uni.agg(F.sum("nw").alias("n_tok"))
    docs = rebalance(wh.documents, "doc_id").select(
        F.split("text", " ").alias("ws")
    )
    n = F.size("ws")

    def _shift_pairs(k: int):
        ln = F.greatest(n - k, F.lit(0))
        return F.zip_with(
            F.slice("ws", F.lit(1), ln),
            F.slice("ws", F.lit(k + 1), ln),
            lambda a, b: F.struct(
                a.alias("center"), b.alias("context")
            ),
        )

    pairs = docs.select(
        F.explode(
            F.concat(*[_shift_pairs(k) for k in range(1, _COOC_WIN + 1)])
        ).alias("p")
    ).select("p.center", "p.context")
    counts = (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _LIFT_MIN_N)
    )
    scored = (
        counts.join(
            F.broadcast(uni.withColumnsRenamed({"word": "center", "nw": "nc"})),
            "center",
        )
        .join(
            F.broadcast(uni.withColumnsRenamed({"word": "context", "nw": "nx"})),
            "context",
        )
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lift_raw",
            F.col("n").cast("double")
            * F.col("n_tok")
            / (F.col("nc") * F.col("nx").cast("double")),
        )
    )
    # Global rank via the two-phase range-partitioned form (plans/ordered
    # — the scored relation hangs off joins, so the plan sweep can't prove
    # it group-sized, and the two-phase rank is safe at any cardinality).
    # Lazy-checkpoint scored first: ordered_prefix's annotated + summary
    # branches both consume it, and while AQE's exchange reuse already
    # executes the subtree once, the un-checkpointed form re-PLANS the
    # whole token pipeline per branch (13 static exchanges in the audit);
    # scored is post-support-floor tiny, so truncating lineage here is
    # free and the audited plan shows the real shape (~5 exchanges).
    from flink_realtime_spark.plans.ordered import ordered_prefix

    ranked = ordered_prefix(
        scored.localCheckpoint(eager=False),
        [F.col("lift_raw").desc(), F.col("center").asc(), F.col("context").asc()],
        pos_col="rnk",
    )
    return (
        ranked.filter(F.col("rnk") <= _COOC_TOPK)
        .select(
            "center",
            "context",
            "n",
            # DECIMAL(28,12), not (18,6): lift is an exact integer ratio
            # n·N/(nc·nx), and dyadic ratios (odd/2^k) terminate with a
            # trailing 5 that can land exactly on a scale-6 rounding tie
            # where Spark HALF_UP and DuckDB HALF_EVEN disagree; at scale
            # 12 a tie needs denominator 2^13 · odd — beyond any count
            # product the support floor admits.
            F.col("lift_raw").cast("decimal(28,12)").cast("double").alias("lift"),
            F.col("rnk").cast("long").alias("rnk"),
        )
        .orderBy("rnk")
    )


_VOCAB_K = 500  # tokenizer vocabulary budget (top-K corpus types)

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
vocab AS (
  SELECT word FROM (
    SELECT word, COUNT(*) AS nw,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word ASC) AS r
    FROM tok GROUP BY word
  ) WHERE r <= {_VOCAB_K}
)
SELECT
  t.doc_id,
  COUNT(*) AS n_tokens,
  COUNT(*) FILTER (WHERE v.word IS NULL) AS n_oov,
  CAST(COUNT(*) FILTER (WHERE v.word IS NULL) AS DOUBLE) / COUNT(*)
    AS oov_rate
FROM tok t LEFT JOIN vocab v ON t.word = v.word
GROUP BY t.doc_id
"""


@query("llm_vocab_coverage", _VOCAB_ORACLE)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage report: per-document out-of-vocabulary rate
    against a top-500 corpus vocabulary (deterministic freq-then-word
    rank) — the coverage check run before freezing a tokenizer's vocab
    budget. The vocabulary is vocab-budget rows → broadcast, so the
    token stream takes one membership probe and one keyed agg. The
    vocab build is a two-phase count + orderBy().limit(K)
    (TakeOrderedAndProject: per-task top-K, driver merge of
    K×#partitions rows) — the word-TYPE table grows with the corpus
    (heavy-tail tokens, 10⁸–10⁹ types at 100 TB), so the previous
    partition-less row_number() window over it funneled the whole type
    table through one task; no window is needed at all here since only
    vocabulary membership, not the rank, is consumed downstream."""
    wh = Warehouse(spark, sf_dir)
    tok = rebalance(wh.documents, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("nw"))
        .orderBy(F.col("nw").desc(), F.col("word").asc())
        .limit(_VOCAB_K)
        .select("word")
    )
    return (
        tok.join(
            F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            (
                F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )
