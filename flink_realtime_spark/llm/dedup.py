"""Deduplication operators for LLM training-data pipelines — SURVEY.md §2.10.

NORTH-mandated extension beyond the reference's own surface (the snapshot is
README-only, /root/reference/README.md:1-2): exact, MinHash-LSH, SimHash,
n-gram-Jaccard, and embedding-cosine near-duplicate detection over the
``documents`` / ``embeddings`` fixtures.

Scale design (100 TB):
- exact dedup: normalize → md5 → one shuffle on the 128-bit key; group
  sizes are tiny (duplicate cardinality), so no skew concern.
- n-gram Jaccard: inverted-index formulation — explode shingles, self-join
  the posting lists, count shared shingles per pair. Never a cross join; at
  scale add a max-document-frequency prune on hot shingles (stop-shingle
  removal) before the join.
- SimHash: 60-bit signature computed entirely in nested higher-order
  expressions (no explode, no shuffle until the final signature group-by);
  near-dup candidates = signatures equal on rotated bands.
- MinHash LSH (pyspark.ml): the probabilistic scale path; banding via
  numHashTables, candidate pairs via approxSimilarityJoin. Property-checked
  against the 25 planted near-dup pairs (tests/test_llm_props.py) rather
  than SQL-hashed — the estimator is sample-based by design.
- embedding cosine: exact all-pairs here (correctness baseline);
  the LSH/IVF path for scale lives in llm/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flink_realtime_spark.exprs import (
    NORM_TEXT_DUCK,
    NORM_TEXT_SPARK,
    bigint,
    norm_text,
)
from flink_realtime_spark.registry import query
from flink_realtime_spark.tables import Warehouse, rebalance

# Normalized text: lowercase, collapsed whitespace, trimmed, with the
# cross-engine case-mapping mines canonicalized (exprs.py — uni-tier r09).
_NORM_SPARK = NORM_TEXT_SPARK
_NORM_DUCK = NORM_TEXT_DUCK

# Oracle-side shingle relation with the word split hoisted into a
# MATERIALIZED CTE: without it DuckDB re-evaluates str_split(normalize(..))
# for every lambda element (the same O(len²)-per-row trap as Spark's
# CollapseProject re-inlining — SCALE.md Lessons), which made the original
# all-pairs oracles eat ~10-35 s EACH of the driver's correctness window.
_SHINGLE_CTE_DUCK = f"""
    ws AS MATERIALIZED (
      SELECT doc_id,
             str_split({_NORM_DUCK}, ' ')
               AS w
      FROM documents
    ),
    s AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN len(w) >= 3 THEN
          list_distinct(list_transform(generate_series(1, len(w) - 2),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        ELSE [] END AS sh
      FROM ws
    )
"""

# Inverted-index near-dup pairs (threshold-0.5 Jaccard), the oracle-side
# mirror of the posting-list join: EXACTLY equivalent to the all-pairs
# list_intersect form (any pair with jaccard > 0 shares a shingle, so the
# posting join surfaces every qualifying pair) but O(postings join), not
# O(N²) — verified identical on the fixture, 160× faster.
_PAIRS_CTE_DUCK = f"""
    {_SHINGLE_CTE_DUCK},
    u AS (SELECT doc_id, unnest(sh) AS g FROM s),
    shr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM u a JOIN u b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0),
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             CAST(c.shared AS DOUBLE) / (sa.n + sb.n - c.shared) AS jaccard
      FROM shr c
      JOIN sz sa ON sa.doc_id = c.doc_a
      JOIN sz sb ON sb.doc_id = c.doc_b
      WHERE c.shared >= 0.5 * (sa.n + sb.n - c.shared)
    )
"""




def _with_shingles(df):
    """Word-trigram shingles via zip_with over shifted slices. The naive
    ``transform(sequence(...), i -> element_at(ws, i) ...)`` form is
    O(words²) interpreted work per document: Catalyst's CollapseProject
    re-inlines the split() into every element_at inside the lambda (staged
    columns don't survive optimization), and higher-order lambdas run
    outside codegen. zip_with passes elements as lambda VARIABLES, so the
    underlying arrays are evaluated once per row and the per-element work
    is a concat — measured 40× faster at sf0.1. The lambdas are still
    interpreted per element, making this the most CPU-dense narrow stage in
    the LLM family — rebalance first so it runs at core parallelism instead
    of the scan's byte-sized task count (no-op once the scan is wide;
    measured 1.25 s → ~0.2 s at sf0.1).

    Documents with fewer than 3 normalized words (i.e. an empty shingle
    set) are dropped HERE, as a cheap O(len) predicate evaluated in the
    scan task — callers must NOT re-filter on ``size(sh) > 0``: that
    predicate pushes through the rebalance exchange and re-evaluates the
    full shingle expression single-threaded in the scan (measured: it
    erased the entire rebalance win)."""
    ws = F.split(norm_text("text"), " ")
    df = rebalance(df.filter(F.size(ws) >= 3), "doc_id")
    n = F.size(ws)
    ln = F.greatest(n - 2, F.lit(0))
    w1 = F.slice(ws, F.lit(1), ln)
    w2 = F.slice(ws, F.lit(2), ln)
    w3 = F.slice(ws, F.lit(3), ln)
    grams = F.zip_with(
        F.zip_with(w1, w2, lambda a, b: F.concat_ws(" ", a, b)),
        w3,
        lambda ab, c: F.concat_ws(" ", ab, c),
    )
    return df.withColumn("sh", F.array_distinct(grams))


@query(
    "llm_dedup_exact",
    f"""
    SELECT
      md5({_NORM_DUCK}) AS text_hash,
      CAST(MIN(doc_id) AS BIGINT) AS keep_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: normalize → md5 → keep the lowest doc_id per hash.
    Correct whether or not duplicates exist (FIXTURES.md: none planted);
    n_copies>1 marks the duplicate groups at larger corpora."""
    wh = Warehouse(spark, sf_dir)
    return (
        wh.documents.select(
            "doc_id", F.expr(f"md5({_NORM_SPARK})").alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "llm_dedup_ngram_jaccard",
    f"""
    WITH {_PAIRS_CTE_DUCK}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram-shingle Jaccard near-dup pairs (threshold 0.5). The
    engine picks between two EXACT plans by the corpus's shingle-df skew
    (ngram_jaccard_pairs below): the flat-df posting join, or the
    prefix-filtered SSJoin once stopword-gram postings would explode the
    candidate volume (the Zipf-corpus finding, SCALE.md r06). The oracle
    runs the posting join on shingle STRINGS while this side joins on
    xxhash64 longs — independent key spaces, same exact pair set."""
    wh = Warehouse(spark, sf_dir)
    return ngram_jaccard_pairs(wh.documents)


# SSJoin crossover rule, calibrated on four measured corpora
# (tools/scale_probe.py --zipf/--boiler + the flat grow corpora; SCALE.md
# r06 "ngram-jaccard df-skew crossover"). The discriminator is df SKEW,
# not candidate volume: the prefix filter only pays when HEAD grams
# (df >= _HEAD_DF) carry the candidate mass, because those are exactly
# the grams the rarest-half prefix excludes. On a flat-df corpus the
# prefix barely filters (grow100: posting 52 s vs prefix 124 s at 113M
# candidates, head_frac 0.00); on a Zipf corpus it collapses the join
# (zipf100: prefix 27 s vs posting 73 s at 117M candidates, head_frac
# 0.87); on shared-boilerplate corpora posting is not even runnable
# (boiler10: 20B candidates, head_frac 1.00, prefix 10 s). The candidate
# floor keeps small corpora on the cheaper single-shuffle posting join
# regardless of skew (zipf10: head_frac 0.57 but 2.1M candidates —
# posting 5.0 s vs prefix 9.2 s).
_HEAD_DF = 100
_HEAD_FRAC_CROSSOVER = 0.5
_CAND_FLOOR = 20_000_000


def _pick_ngram_mode(cand: float, cand_head: float) -> str:
    """posting vs prefix from the df-stats scalars (pure, unit-tested):
    prefix iff head grams carry most of the candidate mass AND the
    volume is past what the posting join clears in seconds locally."""
    if cand > _CAND_FLOOR and cand_head > _HEAD_FRAC_CROSSOVER * cand:
        return "prefix"
    return "posting"


def ngram_jaccard_pairs(docs: DataFrame, mode: str = "auto") -> DataFrame:
    """Exact threshold-0.5 Jaccard pairs over word-trigram shingles, with
    a df-skew-chosen physical plan:

    - ``posting``: explode shingles → posting-list self-join → shared
      counts → Jaccard. One pair-shuffle; optimal when document frequency
      is flat (Σ df² small — the fixture shape).
    - ``prefix``: prefix-filtered SSJoin (Chaudhuri/Xiao): under a global
      (df ASC, gram) total order, any J ≥ 0.5 pair must collide within
      each doc's first floor(n/2)+1 rarest shingles — index ONLY those,
      join, then verify candidates exactly against the full shingle sets.
      The df-head grams (stopword shingles) never enter the join, so the
      candidate volume stops tracking Σ df².
    - ``auto``: one cheap df-stats aggregate over the postings picks the
      plan (crossover measured on Zipf corpora; the stats scalar is O(1)
      driver data). Both plans return the identical exact pair set —
      asserted by tests and the --zipf probe."""
    spark = docs.sparkSession
    sh = _with_shingles(docs.select("doc_id", "text")).select("doc_id", "sh")
    # Join on the 64-bit hash of the shingle, not the string: the shuffle
    # carries 8-byte keys instead of ~30-byte strings and the hash join
    # compares longs (SCALE.md Lessons: scalar join keys). A 64-bit
    # collision merging two distinct shingles has p ≈ n²/2⁶⁵ — immaterial.
    # r11 (guide §2.3/§2.4): each posting row carries its doc's shingle
    # count n_sh (a 4-byte int — size(sh) counts the distinct shingle
    # STRINGS, exactly what the old `sizes` relation computed). The
    # count rides the self-join and lands in the pair aggregate via
    # first(), so the candidate-pair relation is never re-shuffled
    # against a separate sizes table (2 joins gone) and the corpus is
    # not re-scanned to rebuild shingles for it (1 full pass gone).
    postings = (
        sh.select(
            "doc_id",
            F.size("sh").cast("int").alias("n_sh"),
            F.explode("sh").alias("shingle"),
        )
        .select("doc_id", "n_sh", F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint(eager=False)  # build shingles once, not per join side
    )
    if mode == "auto":
        stats = (
            postings.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(
                (F.sum(F.col("df") * (F.col("df") - 1)) / 2).alias("cand"),
                (
                    F.sum(
                        F.when(
                            F.col("df") >= _HEAD_DF,
                            F.col("df") * (F.col("df") - 1),
                        ).otherwise(F.lit(0))
                    )
                    / 2
                ).alias("cand_head"),
            )
            .collect()[0]
        )
        mode = _pick_ngram_mode(
            float(stats["cand"] or 0), float(stats["cand_head"] or 0)
        )
    if mode == "posting":
        pairs = (
            postings.alias("a")
            .join(
                postings.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(
                F.count(F.lit(1)).alias("shared"),
                # n_sh is constant per doc — first() under the pair key
                # is the value the old sizes join attached
                F.first(F.col("a.n_sh")).alias("na"),
                F.first(F.col("b.n_sh")).alias("nb"),
            )
        )
        return (
            pairs.withColumn(
                "jaccard",
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
            )
            .filter(
                F.col("shared")
                >= 0.5 * (F.col("na") + F.col("nb") - F.col("shared"))
            )
            .select("doc_a", "doc_b", "jaccard")
        )
    if mode != "prefix":
        raise ValueError(f"unknown ngram_jaccard mode {mode!r}")
    # prefix-filtered SSJoin — exact at J >= 0.5 under a single GLOBAL
    # shingle order shared by every doc (df ASC, then hash: both docs of
    # any qualifying pair rank their shared shingles identically)
    # merge hints: df_counts (distinct grams ≈ postings) and hsets (full
    # per-doc arrays) are corpus-sized, but both sit above an aggregate
    # whose output size Catalyst underestimates — at 500k docs the
    # planner picked a broadcast for each and OOM'd the 8g driver
    # (measured, --zipf 100); shuffle_hash then died building 26M-gram
    # per-partition hash relations (no spill path). Sort-merge is the
    # only join here whose memory is bounded at every corpus size.
    df_counts = postings.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df")
    )
    ranked = postings.join(df_counts.hint("merge"), "shingle").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")
        ),
    )
    pre = (
        # prefix length for t=0.5: n - ceil(n/2) + 1 = floor(n/2) + 1;
        # n_sh rides the posting rows (r11) — no sizes join
        ranked.filter(F.col("r") <= F.floor(F.col("n_sh") / 2) + 1)
        .select("doc_id", "shingle")
    )
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact verification against the FULL hashed shingle sets (the
    # prefix only gates candidate generation, never the answer). Sets are
    # regrouped from the already-hashed postings — codegen aggregate, not
    # a per-element xxhash64 lambda (interpreted HOFs rule, CLAUDE.md).
    hsets = postings.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("hs")
    )
    return (
        cand.join(
            hsets.withColumnsRenamed({"doc_id": "doc_a", "hs": "ha"}).hint(
                "merge"
            ),
            "doc_a",
        )
        .join(
            hsets.withColumnsRenamed({"doc_id": "doc_b", "hs": "hb"}).hint(
                "merge"
            ),
            "doc_b",
        )
        .withColumn("shared", F.size(F.array_intersect("ha", "hb")))
        .withColumn("na", F.size("ha"))
        .withColumn("nb", F.size("hb"))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(
            F.col("shared")
            >= 0.5 * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select("doc_a", "doc_b", "jaccard")
    )


_COS_SPARK = """
  aggregate(zip_with(__A, __B, (x, y) -> x * y), CAST(0 AS DOUBLE), (a, x) -> a + x)
  / nullif(
      sqrt(aggregate(transform(__A, x -> x * x), CAST(0 AS DOUBLE), (a, x) -> a + x))
      * sqrt(aggregate(transform(__B, x -> x * x), CAST(0 AS DOUBLE), (a, x) -> a + x)),
      CAST(0 AS DOUBLE))
"""


def cosine_expr(a: str, b: str) -> F.Column:
    """Cosine similarity between two array<double> columns, fully JVM-side
    (zip_with + aggregate — no UDF, stays in codegen).

    Zero-norm contract (r08): a zero vector has no direction, so its
    similarity to anything is NULL (the nullif guard) — excluded by
    every threshold and ranked last by desc ordering, the same
    treatment NULL vectors get. Without the guard one zero-norm row (a
    failed encode, an all-zero padding vector) raises ANSI
    DIVIDE_BY_ZERO on a driver-built session and kills the whole query;
    DuckDB's list_cosine_similarity "answers" -1.0 there, which is just
    as wrong — a directionless vector is not anti-parallel."""
    return F.expr(_COS_SPARK.replace("__A", a).replace("__B", b))


@query(
    "llm_dedup_embcos",
    """
    SELECT
      a.vec_id AS vec_a,
      b.vec_id AS vec_b,
      ROUND(list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
        AS cos_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.3
    """,
)
def llm_dedup_embcos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.3): exact all-pairs via
    a BOTH-SIDES-TILED matrix product — no driver materialization, no
    full-corpus broadcast. The corpus is hash-bucketed into T tiles; each
    unordered tile pair (i ≤ j) is a cogroup key whose two sides are the
    bucket-i and bucket-j rows, and each cogroup runs one numpy GEMM and
    emits the thresholded pairs (diagonal tiles keep the upper triangle;
    off-diagonal tiles see each cross pair exactly once and canonicalize
    the id order). Data inflation is ~T per side and tile memory is
    (N/T)·dim — pick T so a tile fits an executor; the pair WORK is still
    O(N²) because exact all-pairs is (that's what makes this the
    correctness baseline — the LSH/SimHash/IVF variants are the scale
    path for the search itself). Each pair's dot is summed in a fixed order
    inside the GEMM, so the result is partitioning-invariant."""
    import numpy as np
    import pandas as pd

    n_tiles = 4

    def bucketed() -> DataFrame:
        # Fresh scan per side: cogroup of two branches of the SAME plan
        # trips Spark's ambiguous-attribute check, and a re-read costs one
        # extra parquet scan, not a shuffle. (fresh=True bypasses the
        # session-scoped plan cache for exactly this reason.)
        from flink_realtime_spark.tables import load_table

        # NULL vectors carry no direction: the oracle drops them for free
        # (cosine(NULL, x) is NULL, never >= threshold) but np.stack on a
        # None row crashes the GEMM kernel (nulls-tier find).
        return (
            load_table(spark, sf_dir, "embeddings", fresh=True)
            .filter(F.col("embedding").isNotNull())
            .select(
                "vec_id", F.col("embedding").cast("array<double>").alias("emb")
            )
            .withColumn(
                "b", F.pmod(F.xxhash64("vec_id"), F.lit(n_tiles)).cast("int")
            )
        )

    # Tile pair (i, j), i <= j, is cogroup key pk = i·T + j: a left row of
    # bucket b joins the pairs (b, t) for t in [b, T-1], a right row the
    # pairs (t, b) for t in [0, b]. Derived in the plan: a Python-list key
    # table's broadcast runs two Python tasks of ~0.2 s each to ship ten
    # rows. Only vec_id, emb and pk cross into Python.
    b, t = F.col("b"), F.col("t")

    def tiled(lo: F.Column, hi: F.Column, pk: F.Column) -> DataFrame:
        return (
            bucketed()
            .withColumn("t", F.explode(F.sequence(lo, hi)))
            .select("vec_id", "emb", pk.alias("pk"))
        )

    left = tiled(b, F.lit(n_tiles - 1), b * n_tiles + t)
    right = tiled(F.lit(0), b, t * n_tiles + b)

    def tile_gemm(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"),
             "vec_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        if not len(lpdf) or not len(rpdf):
            return empty
        (pk,) = key
        diagonal = (pk // n_tiles) == (pk % n_tiles)
        lid = lpdf["vec_id"].to_numpy()
        rid = rpdf["vec_id"].to_numpy()
        lm = np.stack(lpdf["emb"].to_numpy())
        rm = np.stack(rpdf["emb"].to_numpy())
        # zero-norm → NaN (not a 0-division warning): NaN sims fail the
        # threshold, mirroring cosine_expr's NULLIF contract
        ln = np.linalg.norm(lm, axis=1, keepdims=True)
        rn = np.linalg.norm(rm, axis=1, keepdims=True)
        ln[ln == 0] = np.nan
        rn[rn == 0] = np.nan
        lm = lm / ln
        rm = rm / rn
        sims = lm @ rm.T
        if diagonal:
            keep = (lid[:, None] < rid[None, :]) & (sims >= 0.3)
        else:  # each unordered cross pair appears exactly once: keep all
            keep = (lid[:, None] != rid[None, :]) & (sims >= 0.3)
        ai, bj = np.nonzero(keep)
        va, vb = lid[ai], rid[bj]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(va, vb),
                "vec_b": np.maximum(va, vb),
                "cos_sim": np.round(sims[ai, bj], 6),
            }
        )

    return (
        left.groupBy("pk")
        .cogroup(right.groupBy("pk"))
        .applyInPandas(tile_gemm, "vec_a long, vec_b long, cos_sim double")
    )


# 60-bit SimHash from md5 word hashes; identical arithmetic both engines
# (verified: conv(substr(md5(w),1,15),16,10) == CAST('0x'||substr(...) AS
# BIGINT) bit-for-bit).
# Word-hash list hoisted into a MATERIALIZED CTE: the inline form
# re-evaluated the md5 word-hash list for every one of the 60 bit
# positions (60× per-document work — same lambda-re-evaluation trap as
# _SHINGLE_CTE_DUCK documents).
_SIG_CTE_DUCK = f"""
    hl AS MATERIALIZED (
      SELECT doc_id,
        list_transform(list_distinct(str_split({_NORM_DUCK}, ' ')),
                       w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT))
          AS h
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(generate_series(0, 59), b ->
          CASE WHEN 2 * len(list_filter(h, x -> ((x >> b) & 1) = 1)) >= len(h)
            THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
          AS BIGINT) AS simhash
      FROM hl
    )
"""


@query(
    "llm_dedup_simhash",
    f"""
    WITH {_SIG_CTE_DUCK}
    SELECT doc_id, simhash FROM sig
    """,
)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 60-bit SimHash signature, computed entirely in nested
    higher-order expressions — zero shuffles, zero UDFs, embarrassingly
    parallel at any scale. Near-dup candidating = band the signature and
    group on band equality; tests/test_llm_props.py asserts the planted
    near-dup pairs sit at small Hamming distance while random pairs don't."""
    wh = Warehouse(spark, sf_dir)
    hashes = F.expr(
        f"transform(array_distinct(split({_NORM_SPARK}, ' ')), "
        "w -> CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT))"
    )
    sig = F.expr(
        """
        aggregate(
          transform(sequence(0, 59), b ->
            CASE WHEN 2 * size(filter(__hs, h -> ((h >> b) & 1) = 1))
                 >= size(__hs)
              THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END),
          CAST(0 AS BIGINT), (acc, x) -> acc + x)
        """
    )
    return (
        wh.documents.select("doc_id", hashes.alias("__hs"))
        .select("doc_id", sig.cast("long").alias("simhash"))
    )


# Banded MinHash: 16 xxhash64-derived minhash functions, 4 bands x 4 rows.
# Candidates are verified with EXACT Jaccard before emission, so the output
# equals the exact near-dup set whenever the corpus has a margin around the
# threshold (the fixture does: planted pairs >= 0.8, everything else
# <= 0.2; detection probability at j=0.8 is 1-(1-0.8^4)^4 ~ 0.92 per pair
# and ~1.0 at the planted 0.95+ similarities, while a j<=0.2 pair band-
# collides with p <= 4*0.2^4 = 0.6% and is then discarded by the exact
# filter anyway). Hence the oracle below is the exact all-pairs SQL, and
# the Spark side is free to use fast native hashing.
#
# FIXTURE DEPENDENCY (do not change these silently): the keys that gate a
# probabilistic candidate stage against an EXACT all-pairs oracle
# (llm_dedup_minhash, llm_dedup_incremental, llm_dedup_editdist,
# llm_dedup_two_stage, llm_dedup_cluster) hash-match only because every
# planted pair in /root/testdata's documents fixture sits at jaccard
# >= 0.8, where at least one band collides w.h.p. — recall at j = 0.5
# would be ~23% and the equality would break. Changing _N_HASH/_N_BANDS
# or regenerating the fixture with weaker planted pairs requires
# re-deriving that margin (tests/test_llm_props.py's recall property test
# covers the planted-pair list explicitly).
_N_HASH, _N_BANDS, _ROWS_PER_BAND = 16, 4, 4


def _verify_pairs(
    cand: DataFrame,
    sets_df: DataFrame,
    set_col: str = "sh",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against per-doc
    shingle sets (string arrays or hashed-long arrays — set semantics
    only): keep pairs with jaccard >= 0.5, emit (a_col, b_col, jaccard).
    The single threshold/verification definition shared by the full-corpus
    search, the batch-vs-index key and the streaming MinhashIndex — so the
    three paths cannot drift apart."""
    cand = cand.join(
        sets_df.select(
            F.col("doc_id").alias(a_col), F.col(set_col).alias("__sa")
        ),
        a_col,
    ).join(
        sets_df.select(
            F.col("doc_id").alias(b_col), F.col(set_col).alias("__sb")
        ),
        b_col,
    )
    shared = F.size(F.array_intersect("__sa", "__sb"))
    union_n = F.size("__sa") + F.size("__sb") - shared
    return (
        cand.withColumn("jaccard", shared.cast("double") / union_n)
        .filter(shared >= 0.5 * union_n)
        .select(a_col, b_col, "jaccard")
    )


def minhash_pairs(wh: Warehouse) -> DataFrame:
    """Banded-MinHash near-dup pairs with exact-Jaccard verification:
    columns (doc_a, doc_b, jaccard), doc_a < doc_b, jaccard >= 0.5. The
    shared engine of llm_dedup_minhash and llm_dedup_cluster."""
    return minhash_pairs_over(wh.documents)


def _band_signatures(sh: DataFrame) -> DataFrame:
    """Banded MinHash signatures (doc_id, sig) from a (doc_id, sh)
    relation. Minhashes as plain codegen'd columns over the exploded
    posting list — higher-order lambdas are interpreted per element in
    Spark and measure ~10x slower here; explode + groupBy(min x16) stays
    in whole-stage codegen with a map-side partial min. One long per
    band: xxhash64 over the band's 4 minhashes + band idx — a scalar
    join key keeps the bucket join a plain shuffled hash join (array
    keys degrade it); hash collisions are harmless, candidates are
    verified with exact Jaccard downstream."""
    posting = sh.select("doc_id", F.explode("sh").alias("s"))
    return _bands_from_postings(posting)


def _bands_from_postings(posting: DataFrame) -> DataFrame:
    """Banded signatures from an exploded (doc_id, s) posting relation.
    Every caller MUST feed the same s representation (the raw shingle
    string): the seeded family defines which borderline pairs banding
    catches, so a caller that pre-hashes s to a long gets an equally good
    but DIFFERENT LSH family and its pair set silently diverges from the
    batch path's on any corpus with J≈0.5 pairs (the MinhashIndex bug
    fixed in round 5 — see MinhashIndex.update)."""
    minh = posting.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64("s", F.lit(i))).alias(f"h{i}")
            for i in range(_N_HASH)
        ]
    )
    return minh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col(f"h{b * _ROWS_PER_BAND + r}")
                            for r in range(_ROWS_PER_BAND)
                        ],
                        F.lit(b),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("sig"),
    )


def minhash_pairs_over(docs: DataFrame) -> DataFrame:
    """minhash_pairs over an arbitrary (doc_id, text) relation — lets the
    two-stage pipeline run the banded search on exact-group
    representatives instead of the full corpus."""
    sh = (
        _with_shingles(docs.select("doc_id", "text"))
        .select("doc_id", "sh")  # <3-word docs already dropped upstream
    )
    # The shingle relation feeds three branches (posting list + two
    # verification joins); Spark recomputes lineage per branch, so
    # materialize it once. localCheckpoint truncates lineage into the
    # block manager (MBs here; at 100 TB this step is an explicit
    # intermediate parquet/Delta write). Measured 2.3× at sf0.1.
    sh = sh.localCheckpoint(eager=False)
    bands = _band_signatures(sh)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Exact-Jaccard verification: shingle arrays join only the (tiny)
    # candidate set, never the full corpus pair space.
    return _verify_pairs(cand, sh)


_MINHASH_ORACLE = f"""
    WITH {_PAIRS_CTE_DUCK}
    SELECT doc_a, doc_b, jaccard FROM pairs
"""


@query("llm_dedup_minhash", _MINHASH_ORACLE)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline, the scale path for Jaccard dedup:
    shingle -> 16 xxhash64 minhashes -> 4 bands of 4 -> bucket join on the
    band slice (array equality, no signature string) -> exact-Jaccard
    verification of the tiny candidate set. AND-within-band keeps
    candidates ~ sum(j^4) (vs sum(8j) for Spark ML's OR-combined single-hash
    tables, which blows up on correlated corpora). The oracle is the exact
    all-pairs result; verification means banding can only LOSE pairs,
    never add them, and per-pair recall at 4 bands of 4 is 1-(1-j^4)^4 —
    ~98% at j≈0.89, approaching 1 only as j→1 (measured: the grow10
    replica corpus re-rolls the hash draw 10× and deterministically
    drops ONE j=0.889 pair; SCALE.md r07). The fixture corpora are a
    full-recall draw, so the oracle hashes match there; the ~2% miss at
    j≈0.9 is the documented LSH throughput trade — callers needing
    guaranteed recall (the leakage-safe split) use ngram_jaccard_pairs
    instead."""
    return minhash_pairs(Warehouse(spark, sf_dir))


_INCR_MOD = 10  # doc_id % 10 == 0 models "today's new batch"; rest = index

_INCR_ORACLE = f"""
    WITH {_PAIRS_CTE_DUCK}
    SELECT doc_a AS new_id, doc_b AS corpus_id, jaccard FROM pairs
    WHERE doc_a % {_INCR_MOD} = 0 AND doc_b % {_INCR_MOD} <> 0
    UNION ALL
    SELECT doc_b AS new_id, doc_a AS corpus_id, jaccard FROM pairs
    WHERE doc_b % {_INCR_MOD} = 0 AND doc_a % {_INCR_MOD} <> 0
"""


@query("llm_dedup_incremental", _INCR_ORACLE)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production ingestion shape: dedup TODAY'S
    batch against the already-indexed corpus, never recomputing
    corpus×corpus. The banded-signature relation is the persistent index
    (at 100 TB a stored table keyed by band sig, appended per batch);
    each ingest computes signatures for the NEW docs only and equi-joins
    them against the index, so per-batch cost is O(|batch|) + one bucket
    join — while full-recompute dedup is O(|corpus|) every day. Candidates
    get the same exact-Jaccard verification as llm_dedup_minhash; the
    oracle is the exact cross-partition pair set (new side doc_id % 10
    == 0, both directions)."""
    wh = Warehouse(spark, sf_dir)
    sh = (
        _with_shingles(wh.documents.select("doc_id", "text"))
        .select("doc_id", "sh")
        .localCheckpoint(eager=False)
    )
    bands = _band_signatures(sh).localCheckpoint(eager=False)
    is_new = F.col("doc_id") % _INCR_MOD == 0
    newb = bands.filter(is_new)
    index = bands.filter(~is_new)
    cand = (
        newb.alias("n")
        .join(index.alias("c"), F.col("n.sig") == F.col("c.sig"))
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    return _verify_pairs(cand, sh, a_col="new_id", b_col="corpus_id")


_EDIT_ORACLE = f"""
    WITH {_PAIRS_CTE_DUCK},
    nt AS (
      SELECT doc_id, {_NORM_DUCK} AS norm FROM documents
    )
    SELECT
      p.doc_a,
      p.doc_b,
      CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS edit_dist,
      CAST(1.0 - CAST(levenshtein(a.norm, b.norm) AS DOUBLE)
           / greatest(strlen(a.norm), strlen(b.norm)) AS DOUBLE) AS edit_sim
    FROM pairs p
    JOIN nt a ON a.doc_id = p.doc_a
    JOIN nt b ON b.doc_id = p.doc_b
    WHERE levenshtein(a.norm, b.norm)
          <= 0.5 * greatest(strlen(a.norm), strlen(b.norm))
"""


@query("llm_dedup_editdist", _EDIT_ORACLE)
def llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance rescoring of near-dup candidates: the banded-MinHash
    pair set re-scored with character-level Levenshtein on normalized
    text, keeping pairs whose distance is at most half the longer text.
    The expensive O(len²) distance runs ONLY on the candidate pairs the
    LSH stage surfaced — never all-pairs — which is the production
    ordering for fuzzy dedup (set-similarity prefilter, edit-distance
    confirm). Distances are exact integers in both engines, so the score
    (one division + subtraction) is hash-stable.

    UNIT CONTRACT (uni-tier find, r09): the distance is UTF-8 BYTE-level
    Levenshtein — DuckDB's levenshtein counts bytes while Spark's counts
    code points, so the portable definition both engines share is bytes.
    The Spark side gets byte semantics by round-tripping the normalized
    text through ISO-8859-1 (each UTF-8 byte becomes exactly one
    code point — a bijection, so Spark's code-point DP runs over the byte
    string); the oracle normalizes its denominator to strlen() (bytes).
    On ASCII text byte == character level, so pre-r09 hashes and the
    brute-force model test are unchanged."""
    wh = Warehouse(spark, sf_dir)
    pairs = minhash_pairs(wh).select("doc_a", "doc_b")
    norm = wh.documents.select(
        "doc_id",
        F.decode(
            F.encode(F.expr(_NORM_SPARK), "UTF-8"), "ISO-8859-1"
        ).alias("norm"),
    )
    scored = pairs.join(
        norm.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na")),
        "doc_a",
    ).join(
        norm.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb")),
        "doc_b",
    )
    dist = F.levenshtein("na", "nb")
    maxlen = F.greatest(F.length("na"), F.length("nb"))
    return (
        scored.filter(dist <= 0.5 * maxlen)
        .select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("edit_dist"),
            (1.0 - dist.cast("double") / maxlen)
            .cast("double")
            .alias("edit_sim"),
        )
    )


class MinhashIndex:
    """Persistent banded-MinHash dedup index — the continuously-ingesting
    form of llm_dedup_incremental. ``update(batch_docs)`` returns every
    near-dup pair the batch introduces (within-batch pairs AND
    batch-vs-index pairs, exact-Jaccard verified) and appends the batch's
    signatures + shingle sets to the store, so over any partition of a
    corpus into arrival batches the union of emitted pairs equals the
    full-corpus ``minhash_pairs`` result (streaming==batch, equivalence-
    tested in tests/test_streaming.py).

    Storage is two parquet datasets (band signatures; shingle arrays as
    xxhash64 longs), appended per batch — at 100 TB these are the same
    tables a daily-ingest job keys by band sig / doc id, and the
    verification join reads only candidate docs' rows. Retries of the
    same batch would double-append (at-least-once); production puts both
    datasets behind a transactional table format, the same caveat as the
    parquet MV store (operators/serving.py)."""

    def __init__(self, spark: SparkSession, path: str):
        import os

        self.spark = spark
        self.bands_dir = os.path.join(path, "bands")
        self.sh_dir = os.path.join(path, "shingles")

    def _read(self, d: str, ddl: str) -> DataFrame:
        import os

        if os.path.isdir(d):
            return self.spark.read.schema(ddl).parquet(d)
        # empty, derived in the plan (Catalyst folds it to an empty
        # LocalRelation); a Python-list frame runs Python tasks even empty
        return self.spark.range(1).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in StructType.fromDDL(ddl).fields
            ]
        ).limit(0)

    def update(self, batch_docs: DataFrame) -> DataFrame:
        # Per-element hashing stays in whole-stage codegen: explode →
        # xxhash64 → re-collect (the CLAUDE.md lesson; transform-lambdas
        # are interpreted per element). Band signatures are seeded over
        # the shingle STRINGS — the SAME hash family as the batch path's
        # _band_signatures — not over pre-hashed longs: LSH banding has
        # per-pair catch probability < 1 on borderline (J barely >= 0.5)
        # pairs, so two different-but-equally-good families catch
        # DIFFERENT borderline subsets and the streaming==batch pair-set
        # equality silently breaks. Measured on a 50k-doc grown corpus
        # before this fix: 3 extra + 4 missing of 2557 pairs
        # (tools/scale_probe.py --ingest vs one-shot; the sf0.1 fixture
        # is margin-gapped enough to mask it). Only the shingle-SET store
        # keeps the compact xxhash64-long form (exact-Jaccard is
        # family-agnostic, set semantics only). Indexes whose bands were
        # written by the pre-fix long-seeded family must be rebuilt —
        # mixing families in one bands store yields no cross collisions.
        posting_str = (
            _with_shingles(batch_docs.select("doc_id", "text"))
            .select("doc_id", F.explode("sh").alias("s"))
            .localCheckpoint(eager=True)  # feeds bands AND the set store
        )
        sh = (
            posting_str.select("doc_id", F.xxhash64("s").alias("s"))
            .groupBy("doc_id")
            .agg(F.collect_list("s").alias("hs"))
            .localCheckpoint(eager=True)
        )
        bands = _bands_from_postings(posting_str).localCheckpoint(eager=True)
        idx_bands = self._read(self.bands_dir, "doc_id LONG, sig LONG")
        idx_sh = self._read(self.sh_dir, "doc_id LONG, hs ARRAY<LONG>")
        # candidates: batch self-pairs + batch-vs-index. The doc_id
        # inequality also guards the at-least-once retry case: a
        # re-delivered batch band-collides with its OWN stored
        # signatures, which must not emit (x, x) self-pairs.
        self_cand = (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
        )
        cross_cand = (
            bands.alias("n")
            .join(
                idx_bands.alias("i"),
                (F.col("n.sig") == F.col("i.sig"))
                & (F.col("n.doc_id") != F.col("i.doc_id")),
            )
            .select(
                F.least(F.col("n.doc_id"), F.col("i.doc_id")).alias("doc_a"),
                F.greatest(F.col("n.doc_id"), F.col("i.doc_id")).alias("doc_b"),
            )
        )
        cand = self_cand.unionByName(cross_cand).distinct()
        # dropDuplicates(doc_id): an at-least-once retry re-delivers docs
        # whose shingle sets are ALREADY in the index, and a doubled
        # verification relation would emit each surviving pair 4× through
        # the two set-joins — dedup bounds retry duplication to the
        # documented single pair re-emission. Batch row wins arbitrarily;
        # both copies are identical by content-hash construction.
        all_sh = sh.unionByName(idx_sh).dropDuplicates(["doc_id"])
        pairs = _verify_pairs(cand, all_sh, set_col="hs").localCheckpoint(
            eager=True  # materialize BEFORE the appends
        )
        bands.write.mode("append").parquet(self.bands_dir)
        sh.write.mode("append").parquet(self.sh_dir)
        return pairs


# Connected components over the near-dup pair graph: the step that turns
# pairs into dedup DECISIONS (one canonical doc per duplicate cluster).
# Oracle: DuckDB recursive CTE computing min-reachable-id per node over the
# exact-Jaccard edge set (inverted-index pair derivation, exact-equivalent
# to all-pairs — see _PAIRS_CTE_DUCK) — algorithmically independent of the
# Spark side (label propagation over MinHash-candidate edges).
# Connected-component labels (doc_id → rep_id) over the near-dup pair
# graph: the WITH RECURSIVE body shared by the cluster-assignment oracle
# below and the leakage-safe split oracle (llm/sampling.py). Callers
# prepend "WITH RECURSIVE" and select from `comp`.
COMP_CTE_DUCK = f"""
    {_PAIRS_CTE_DUCK},
    e AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM reach JOIN e ON e.v = reach.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(r) AS rep_id FROM reach GROUP BY node
    )
"""

_CLUSTER_ORACLE = f"""
    WITH RECURSIVE
    {COMP_CTE_DUCK}
    SELECT
      c.doc_id,
      c.rep_id,
      n.cluster_size,
      c.doc_id = c.rep_id AS is_canonical
    FROM comp c
    JOIN (
      SELECT rep_id, COUNT(*) AS cluster_size FROM comp GROUP BY rep_id
    ) n USING (rep_id)
"""


def _symmetrize(pairs: DataFrame) -> DataFrame:
    """Symmetric adjacency (u, v) from undirected (doc_a, doc_b) pairs,
    self-loops dropped. No distinct here — the input edge set is already
    deduped each round and a union is shuffle-free; each star round's
    output distinct() is the only dedup shuffle needed."""
    return (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
    )


def _large_star(adj: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): every node connects its strictly-larger neighbors to the
    minimum of its closed neighborhood. One groupBy + one join, all keyed.

    r12 NOTE (an explicit-repartition attempt was tried and REVERTED —
    plan evidence in plans/r12/*_cc_star_round.txt): unlike _small_star,
    the two consumers here read DIFFERENT row sets (the min-aggregate
    needs the full neighborhood, the join-left only v > u), and Catalyst
    pushes the v > u filter below any shared repartition, so the two
    exchange subtrees are never identical and AQE stage reuse cannot
    fire. The planner's own shape is strictly better: the aggregate's
    exchange carries per-partition PARTIAL rows ([u, min] — vocabulary-
    sized), not the adjacency, and the join-left exchange carries the
    v > u half. An explicit repartition replaced that tiny partial-agg
    exchange with a full-adjacency shuffle. The v > u filter stays below
    the join (m is unique per u, so join-then-filter == filter-then-join
    — the join's left exchange carries half the rows either way)."""
    m = adj.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least(F.col("mn"), F.col("u")).alias("m")
    )
    return (
        adj.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("doc_a"), F.col("m").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def _small_star(adj: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller neighbors (and
    itself) to the minimum of those neighbors.

    r12 (guide §2.4 "two operations keyed the same way share one
    exchange"): here BOTH consumers (the min-aggregate and the join-left)
    read the SAME v < u row set, so an explicit repartition placed after
    the filter gives them byte-identical exchange subtrees — AQE stage
    reuse shuffles the small-neighbor half exactly once and m comes out
    already hashpartitioned(u) for the join (zero further exchanges).
    This does NOT transfer to _large_star (see its docstring): its two
    consumers read different row sets, so its planner shape (tiny
    partial-agg exchange + filtered join exchange) is kept instead."""
    small = adj.filter(F.col("v") < F.col("u")).repartition("u")
    m = small.groupBy("u").agg(F.min("v").alias("m"))
    leaf_edges = (
        small.join(m, "u")
        .select(F.col("v").alias("doc_a"), F.col("m").alias("doc_b"))
    )
    self_edges = m.select(F.col("u").alias("doc_a"), F.col("m").alias("doc_b"))
    return (
        leaf_edges.unionByName(self_edges)
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def _edge_fingerprint(pairs: DataFrame):
    """(count, hash-xor) of the canonically-oriented edge set — one tiny
    two-long action per round for fixpoint detection. XOR aggregation:
    order-insensitive and cannot overflow (sum would throw under ANSI)."""
    lo, hi = F.least("doc_a", "doc_b"), F.greatest("doc_a", "doc_b")
    row = pairs.select(
        F.count(F.lit(1)).alias("c"),
        F.bit_xor(F.xxhash64(lo, hi)).alias("h"),
    ).collect()[0]
    return row["c"], row["h"]


def _star_contract(
    pairs: DataFrame, max_iter: int
) -> tuple[DataFrame, int, bool]:
    """Run alternating large-star/small-star rounds to the star fixpoint.
    Returns (final edge set, rounds used, converged). The single shared
    loop behind connected_components and cc_rounds, so the convergence
    property test always certifies the production path."""
    edges = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    prev = _edge_fingerprint(edges)
    for i in range(max_iter):
        edges = _large_star(_symmetrize(edges)).localCheckpoint(eager=False)
        edges = _small_star(_symmetrize(edges)).localCheckpoint(eager=False)
        cur = _edge_fingerprint(edges)
        if cur == prev:  # star fixpoint: every node points at its component min
            return edges, i + 1, True
        prev = cur
    return edges, max_iter, False


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al.) — O(log n) rounds on ANY graph shape,
    including the long-chain duplicate graphs that take O(diameter) rounds
    under plain min-label propagation.

    ``nodes``: one column ``doc_id``; ``pairs``: columns (doc_a, doc_b),
    one row per undirected edge. Returns (doc_id, rep_id) where rep_id is
    the minimum doc_id reachable from the node. Each round is two
    groupBy-min + join passes, all keyed and distributed; the fixpoint
    (edge set = star per component) is detected from a two-scalar edge-set
    fingerprint, one metadata-sized action per round. Raises if the
    contraction has not converged after ``max_iter`` rounds (measured
    rounds ≈ log₂(n): 14 at n=8192, so 30 covers any feasible input —
    silently returning a non-star labeling would split components). Edge
    frames are localCheckpoint'ed per round to truncate lineage — on a
    cluster this is a checkpoint to object storage. Property-tested
    against a union-find model, including a 64-node chain converging in
    O(log n) rounds (tests/test_cluster_props.py)."""
    edges, rounds, converged = _star_contract(pairs, max_iter)
    if not converged:
        raise RuntimeError(
            f"connected_components: star contraction did not converge in "
            f"{rounds} rounds — raise max_iter rather than emit a non-star "
            f"labeling (would silently split components)"
        )
    # Star state: label = min(self, min neighbor); isolated nodes label
    # themselves.
    per_node = _symmetrize(edges).groupBy("u").agg(F.min("v").alias("mn"))
    return (
        nodes.join(per_node, nodes["doc_id"] == per_node["u"], "left")
        .select(
            "doc_id",
            F.least(
                F.col("doc_id"), F.coalesce("mn", "doc_id")
            ).alias("rep_id"),
        )
    )


def cc_rounds(pairs: DataFrame, max_iter: int = 40) -> int:
    """Number of large+small-star rounds until fixpoint — exposed for the
    O(log n) convergence property test; runs the same _star_contract loop
    production uses."""
    _edges, rounds, _converged = _star_contract(pairs, max_iter)
    return rounds


@query("llm_dedup_cluster", _CLUSTER_ORACLE)
def llm_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the near-dup
    graph, representative = min doc_id per component, keep-one-per-cluster
    (`is_canonical`). Property-tested against a union-find model on random
    graphs (tests/test_cluster_props.py); hash-checked against a DuckDB
    recursive-CTE oracle on the fixture corpus."""
    wh = Warehouse(spark, sf_dir)
    labels = connected_components(
        wh.documents.select("doc_id"), minhash_pairs(wh).select("doc_a", "doc_b")
    )
    sizes = labels.groupBy("rep_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "rep_id").select(
        "doc_id",
        "rep_id",
        "cluster_size",
        (F.col("doc_id") == F.col("rep_id")).alias("is_canonical"),
    )


@query("llm_dedup_minhash_ml")
def llm_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternate MinHash path via pyspark.ml MinHashLSH (HashingTF shingles,
    8 OR-combined hash tables, fixed seed) — kept as the library-operator
    variant; rows-only check (estimator RNG). Note: OR-amplification makes
    its candidate set grow with corpus correlation — prefer the banded
    llm_dedup_minhash at scale."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    wh = Warehouse(spark, sf_dir)
    sh = (
        _with_shingles(wh.documents.select("doc_id", "text"))
        .select("doc_id", "sh")  # <3-word docs already dropped upstream
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    # Both sides of the self-similarity join read feats: truncate lineage so
    # shingling + TF run once, not once per side.
    feats = tf.transform(sh).localCheckpoint(eager=False)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    )
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


# ---- decontamination: n-gram overlap between the train split and a held-
# out eval split (the pre-training hygiene step every LLM pipeline runs
# before training: drop train docs that leak eval content).

_DECON_N = 4  # word n-gram size; the fixture vocabulary is small, so 4-grams
_EVAL_MOD = 20  # doc_id % 20 == 0 -> held-out eval split (deterministic)

# Oracle 4-gram built from per-element list ACCESSES inside the unnest
# argument (extremes tier, r10): the previous lateral form projected
# array_to_string(ws[i:i+3]) beside the UNNEST — DuckDB evaluates unnest
# siblings once per OUTPUT row, and a list slice re-materializes the
# whole word list each time, so one 1 MB document ground the gram CTE at
# 22 GB for minutes. Element accesses on the captured list are O(1).
_GRAM_EXPR = " || ' ' || ".join(f"ws[i+{k}]" for k in range(_DECON_N))
_GRAM_UNNEST = (
    f"unnest(list_transform(range(1, greatest(len(ws) - {_DECON_N - 2}, 1)),"
    f" i -> {_GRAM_EXPR}))"
)

_DECON_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             {_GRAM_UNNEST} AS gram
      FROM w
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_EVAL_MOD} = 0),
    tr AS (SELECT doc_id, gram FROM g WHERE doc_id % {_EVAL_MOD} <> 0),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id)
    SELECT
      tr.doc_id,
      COUNT(*) AS n_shared,
      tot.n_grams,
      CAST(COUNT(*) AS DOUBLE) / tot.n_grams AS contam_frac
    FROM tr JOIN ev USING (gram) JOIN tot ON tot.doc_id = tr.doc_id
    GROUP BY tr.doc_id, tot.n_grams
"""


def _word_ngrams(df: DataFrame, n: int) -> DataFrame:
    """Distinct word n-grams per doc as column ``gram`` (exploded), built by
    zip_with over shifted slices — same rationale as _with_shingles: lambda
    variables keep the split() evaluated once per row (CollapseProject
    re-inlines staged columns into element_at lambdas, going O(words²)).
    Rebalanced first: the zip_with chain is interpreted CPU over a
    byte-small scan (see _with_shingles)."""
    df = rebalance(df, "doc_id")
    ws = F.split(F.col("text"), " ")
    ln = F.greatest(F.size(ws) - (n - 1), F.lit(0))
    acc = F.slice(ws, F.lit(1), ln)
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(ws, F.lit(k + 1), ln), lambda a, b: F.concat_ws(" ", a, b)
        )
    return df.select(
        "doc_id", F.explode(F.array_distinct(acc)).alias("gram")
    )


@query("llm_decontaminate", _DECON_ORACLE)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: train docs sharing any 4-gram with the
    held-out split, with overlap counts. The eval side collapses to its
    distinct gram set (small: |eval| ≪ |train|) and joins the train
    postings on the 64-bit gram hash — at 100 TB the eval gram set
    broadcasts and the train side never shuffles; the oracle joins the
    gram strings directly for independence."""
    wh = Warehouse(spark, sf_dir)
    grams = _word_ngrams(wh.documents.select("doc_id", "text"), _DECON_N).select(
        "doc_id", F.xxhash64("gram").alias("gh")
    )
    ev = (
        grams.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("gh")
        .distinct()
    )
    tr = grams.filter(F.col("doc_id") % _EVAL_MOD != 0)
    tot = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    shared = (
        tr.join(F.broadcast(ev), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return shared.join(tot, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_grams",
        (F.col("n_shared").cast("double") / F.col("n_grams")).alias("contam_frac"),
    )


@query(
    "llm_dup_gram_share",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             {_GRAM_UNNEST} AS gram
      FROM w
    ),
    dfreq AS (SELECT gram, COUNT(*) AS ndocs FROM g GROUP BY gram),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
    sh AS (
      SELECT g.doc_id, COUNT(*) AS n_shared
      FROM g JOIN dfreq USING (gram)
      WHERE dfreq.ndocs >= 2
      GROUP BY g.doc_id
    )
    SELECT
      t.doc_id,
      t.n_grams,
      COALESCE(s.n_shared, 0) AS n_shared,
      CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / t.n_grams AS dup_share
    FROM tot t LEFT JOIN sh s USING (doc_id)
    """,
)
def llm_dup_gram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus self-overlap per document: the fraction of a doc's distinct
    word 4-grams that appear in at least one OTHER document (each
    gram is distinct within a doc, so a corpus document-frequency >= 2
    means another doc shares it). This is the cross-document companion to
    the within-doc `llm_repetition` signal — RefinedWeb-style pipelines
    gate on both before the expensive pairwise dedup stages.

    Scale shape: gram postings on 8-byte xxhash64 keys, one shuffle to the
    document-frequency table, one posting re-join, two keyed aggs — linear
    in total grams, never pairwise. The hot-gram skew AQE can't fix here
    is bounded: the df table only answers ">= 2", so at 100 TB the count
    agg can cap per-gram partials early."""
    wh = Warehouse(spark, sf_dir)
    grams = _word_ngrams(wh.documents.select("doc_id", "text"), _DECON_N).select(
        "doc_id", F.xxhash64("gram").alias("gh")
    )
    # Three consumers of one narrow relation: materialize once (same
    # rationale as the minhash posting list; at 100 TB this is an explicit
    # intermediate table write).
    grams = grams.localCheckpoint(eager=False)
    dfreq = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("ndocs"))
    tot = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    shared = (
        grams.join(dfreq.filter(F.col("ndocs") >= 2), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return tot.join(shared, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        (
            F.coalesce("n_shared", F.lit(0)).cast("double") / F.col("n_grams")
        ).alias("dup_share"),
    )


# ---- semantic dedup (SemDeDup shape): cosine near-dup pairs restricted to
# a coarse cluster assignment — here the fixture's label column stands in
# for the k-means cell id an IVF-style quantizer would assign.


@query(
    "llm_dedup_semantic",
    """
    SELECT
      a.vec_id AS vec_a,
      b.vec_id AS vec_b,
      CAST(a.label AS BIGINT) AS label,
      ROUND(list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
        AS cos_sim
    FROM embeddings a
    JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.3
    """,
)
def llm_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding) dedup within coarse clusters — the SemDeDup
    scale shape: pairwise cosine only inside each cluster, so pair cost is
    Σ|cell|² instead of N². One shuffle on the cluster id, then one numpy
    GEMM per cluster via applyInPandas (each pair's dot sums in fixed order
    inside the GEMM → partitioning-invariant). The global all-pairs
    baseline this approximates is llm_dedup_embcos; recall loss is exactly
    the cross-cluster pairs, the quantizer-quality tradeoff IVF documents
    (SCALE.md)."""
    import numpy as np
    import pandas as pd

    wh = Warehouse(spark, sf_dir)
    # A row without a cluster id or without a vector cannot participate
    # in within-cluster pairing — the oracle drops both for free (null
    # labels never equi-join; cosine(NULL, x) never passes the
    # threshold), while Spark's groupBy would form a NULL-label cluster
    # and np.stack would crash on None vectors (nulls-tier find).
    e = wh.embeddings.filter(
        F.col("label").isNotNull() & F.col("embedding").isNotNull()
    ).select(
        "vec_id",
        bigint(F.col("label")).alias("label"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.stack(pdf["emb"].to_numpy())[order]
        # zero-norm → NaN, same contract as cosine_expr's NULLIF
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0] = np.nan
        mat = mat / nrm
        sims = mat @ mat.T
        keep = np.triu(sims >= 0.3, k=1)
        ai, bj = np.nonzero(keep)
        return pd.DataFrame(
            {
                "vec_a": ids[ai],
                "vec_b": ids[bj],
                "label": pdf["label"].iloc[0].repeat(len(ai)),
                "cos_sim": np.round(sims[ai, bj], 6),
            }
        )

    return e.groupBy("label").applyInPandas(
        per_cluster, "vec_a long, vec_b long, label long, cos_sim double"
    )


# two_stage's DEDICATED oracle (extremes tier, r10): _CLUSTER_ORACLE's
# edge set is the shingle-derived pair graph, which cannot see exact
# duplicates whose normalized text yields NO shingles (< 3 words — e.g.
# the empty and whitespace-only docs both normalize to ''). The collapse
# stage merges those BEFORE shingling, so the faithful mirror extends
# the component edges with one star edge per doc to its exact-norm-group
# minimum (linear in docs, never quadratic in copy count). Components
# then match the operator exactly: an LSH pair between non-reps connects
# the same components their reps do (norm-equal docs have equal shingle
# sets), and the component minimum is always its own exact-group rep.
_TWO_STAGE_ORACLE = f"""
    WITH RECURSIVE
    {_PAIRS_CTE_DUCK},
    xg AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5({_NORM_DUCK})) AS rep_exact
      FROM documents
      WHERE text IS NOT NULL
    ),
    e AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
      UNION ALL
      SELECT doc_id AS u, rep_exact AS v FROM xg WHERE doc_id != rep_exact
      UNION ALL
      SELECT rep_exact AS u, doc_id AS v FROM xg WHERE doc_id != rep_exact
    ),
    reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.u, reach.r FROM reach JOIN e ON e.v = reach.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(r) AS rep_id FROM reach GROUP BY node
    )
    SELECT
      c.doc_id,
      c.rep_id,
      n.cluster_size,
      c.doc_id = c.rep_id AS is_canonical
    FROM comp c
    JOIN (
      SELECT rep_id, COUNT(*) AS cluster_size FROM comp GROUP BY rep_id
    ) n USING (rep_id)
"""


@query("llm_dedup_two_stage", _TWO_STAGE_ORACLE)
def llm_dedup_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup ordering (SCALE.md dedup stress): collapse exact
    duplicates FIRST (hash groups — flat cost, linear output), run
    MinHash+clustering over one representative per exact group, then
    expand cluster labels back over all copies. Semantically identical to
    llm_dedup_cluster on any corpus of shingle-BEARING docs — an exact
    duplicate is a Jaccard-1 near-dup, so components merge the same
    either way and the component minimum is always an exact-group
    representative — but pair volume now reflects true near-dups, not
    copy multiplicity: measured 18 s → ~6 s at 10× duplication, and the
    gap widens with dup rate. The one semantic difference (extremes
    tier, r10): exact duplicates TOO SHORT to shingle (e.g. two docs
    both normalizing to '') still collapse here, while the pairs-only
    cluster operator keeps them singletons — hence the dedicated oracle
    above."""
    wh = Warehouse(spark, sf_dir)
    docs = wh.documents.select(
        "doc_id", "text", F.expr(f"md5({_NORM_SPARK})").alias("h")
    )
    # NULL text ⇒ NULL hash: those docs are SINGLETONS (no content, no
    # shingles, no pairs — the oracle's component seed keeps them as
    # their own clusters), NOT one big "null clique" — and the plain
    # equi-join on h would silently DROP them (nulls-tier find: 4882 of
    # 5000 rows). They skip the collapse with rep_exact = doc_id.
    hashed = docs.filter(F.col("h").isNotNull())
    groups = hashed.groupBy("h").agg(F.min("doc_id").alias("rep_exact"))
    mapped = (
        hashed.join(groups, "h")
        .select("doc_id", "rep_exact")
        .unionByName(
            docs.filter(F.col("h").isNull()).select(
                "doc_id", F.col("doc_id").alias("rep_exact")
            )
        )
    )
    mapped = mapped.localCheckpoint(eager=False)  # feeds reps + expansion
    rep_ids = mapped.filter(F.col("doc_id") == F.col("rep_exact")).select(
        "doc_id"
    )
    reps = rep_ids.join(wh.documents.select("doc_id", "text"), "doc_id")
    pairs = minhash_pairs_over(reps).select("doc_a", "doc_b")
    # CC's node set needs only the rep ids — same set as reps (every
    # mapped doc_id exists in documents), minus one text join (r11).
    labels = connected_components(rep_ids, pairs)
    expanded = mapped.join(
        labels.withColumnsRenamed({"doc_id": "rep_exact"}), "rep_exact"
    ).select("doc_id", "rep_id")
    sizes = expanded.groupBy("rep_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return expanded.join(sizes, "rep_id").select(
        "doc_id",
        "rep_id",
        "cluster_size",
        (F.col("doc_id") == F.col("rep_id")).alias("is_canonical"),
    )


def _pagerank_oracle(iters: int = 10, beta: str = "0.85") -> str:
    """DuckDB oracle for graph_pagerank: grouped aggregation inside a
    recursive CTE is outside DuckDB's subset, but the round count is FIXED
    (power iteration), so the loop UNROLLS into `iters` chained CTE
    stages — each the exact relational twin of one plans/graph.py round
    (per-edge rank/deg through DECIMAL(28,15) sums; dangling mass as a
    1-row aggregate; the update expression associates identically:
    ((1-β)/n + (β·dm)/n) + β·inflow). This upgrades the key from
    rows-only to full hash-checked."""
    # Every stage CTE is MATERIALIZED: r{k} is referenced twice by round
    # k+1 (contribs + dangling mass), so un-materialized inlining would
    # re-expand the whole prefix per reference — 2^iters evaluations of
    # the shingle-pair derivation (measured: the plain form never
    # finishes; materialized, the oracle runs in seconds).
    stages = []
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        stages.append(f"""
    c{k} AS MATERIALIZED (
      SELECT e.dst AS id,
             CAST(SUM(CAST(CAST(r.rank / deg.deg AS STRING)
                           AS DECIMAL(28,15))) AS DOUBLE)
               AS inflow
      FROM e JOIN {p} r ON e.src = r.id JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    d{k} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(CAST(r.rank AS STRING) AS DECIMAL(28,15)))
                  AS DOUBLE) AS dm
      FROM {p} r JOIN dang ON dang.id = r.id
    ),
    r{k} AS MATERIALIZED (
      SELECT nodes.id,
             ((1.0 - {beta}) / nn.n + {beta} * COALESCE(d.dm, 0.0) / nn.n)
               + {beta} * COALESCE(c.inflow, 0.0) AS rank
      FROM nodes CROSS JOIN nn CROSS JOIN d{k} d
      LEFT JOIN c{k} c ON c.id = nodes.id
    )""")
    return f"""
    WITH {_PAIRS_CTE_DUCK},
    e AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM documents),
    nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
    dang AS MATERIALIZED (
      SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM deg)
    ),
    r0 AS MATERIALIZED (
      SELECT id, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn
    ),
    {",".join(stages)}
    SELECT id AS doc_id, ROUND(rank, 12) AS rank FROM r{iters}
    """


@query("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup similarity graph (symmetrized MinHash
    pairs): within a duplicate cluster, the highest-ranked doc is the most
    central copy — an alternative canonical-pick to min-doc_id that favors
    the version most others resemble. Hash-checked against a DuckDB
    oracle that unrolls the 10 fixed power rounds into chained CTE stages
    (see _pagerank_oracle — Spark-side decimal contribution sums make
    each round accumulation-order-free, so the two engines agree bit-for-
    bit at the 12-decimal output rounding); additionally property-tested
    against numpy power iteration on random graphs
    (tests/test_cluster_props.py)."""
    from flink_realtime_spark.plans.graph import pagerank

    wh = Warehouse(spark, sf_dir)
    # The edge relation feeds every power round: materialize the banded
    # LSH + verification ONCE (without this the whole pair derivation
    # replays per round — measured 10 rounds × ~1 s of redundant work).
    pairs = minhash_pairs(wh).select("doc_a", "doc_b").localCheckpoint(
        eager=False
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    nodes = wh.documents.select(F.col("doc_id").alias("id"))
    return pagerank(nodes, edges).select(
        F.col("id").alias("doc_id"), F.round("rank", 12).alias("rank")
    )


_SH_BANDS, _SH_BITS, _SH_MAXHAM = 4, 15, 3


@query(
    "llm_dedup_simhash_pairs",
    f"""
    WITH {_SIG_CTE_DUCK}
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a, sig b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {_SH_MAXHAM}
    """,
)
def llm_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by banded bucketing — a provably EXACT LSH
    instance, so it hash-checks against the all-pairs oracle: with the
    60-bit signature cut into 4 bands of 15 bits, any pair within Hamming
    distance 3 differs in at most 3 bands (pigeonhole), so at least one
    band collides and the pair is surfaced; the Hamming verification then
    filters exactly. Zero recall loss, no estimator — unlike MinHash
    banding, whose guarantee is probabilistic. Candidates join on a
    scalar (band, value) key; at 100 TB the candidate volume is bounded by
    band-bucket sizes (add more/wider bands for sharper buckets)."""
    wh = Warehouse(spark, sf_dir)
    sigs = (
        llm_dedup_simhash(spark, sf_dir)
        .withColumnRenamed("simhash", "sig")
        .localCheckpoint(eager=False)  # one signature build, three uses
    )
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        (F.shiftright("sig", b * _SH_BITS) % (1 << _SH_BITS)),
                        F.lit(b),
                    )
                    for b in range(_SH_BANDS)
                ]
            )
        ).alias("bucket"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.filter(ham <= _SH_MAXHAM)
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
    )


@query(
    "llm_source_overlap",
    f"""
    WITH w AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             {_GRAM_UNNEST} AS gram
      FROM w
    )
    SELECT
      a.source AS source_a,
      b.source AS source_b,
      COUNT(*) AS shared_grams
    FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def llm_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: distinct 4-grams shared between
    every source pair — the provenance audit that surfaces scraped
    mirrors and cross-source leakage before mixture weighting. Gram sets
    collapse to distinct per source FIRST, then a single postings
    self-join on the 64-bit gram hash; output is (sources choose 2)
    rows regardless of corpus size."""
    wh = Warehouse(spark, sf_dir)
    grams = (
        _word_ngrams(
            wh.documents.select(
                F.col("source").alias("doc_id"), "text"
            ),
            _DECON_N,
        )
        .withColumnRenamed("doc_id", "source")
        .select("source", F.xxhash64("gram").alias("gh"))
        .distinct()
        .localCheckpoint(eager=False)  # one gram build, both join sides
    )
    return (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


@query(
    "llm_dedup_containment",
    f"""
    WITH {_SHINGLE_CTE_DUCK},
    u AS (SELECT doc_id, unnest(sh) AS g FROM s),
    shr AS (
      SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
             COUNT(*) AS shared
      FROM u a JOIN u b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0)
    SELECT c.contained_doc, c.container_doc,
           CAST(c.shared AS DOUBLE) / sa.n AS containment
    FROM shr c JOIN sz sa ON sa.doc_id = c.contained_doc
    WHERE c.shared >= 0.8 * sa.n
    """,
)
def llm_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection (|A∩B| / |A| ≥ 0.8): the
    quote/excerpt relation Jaccard misses — a short doc embedded in a
    long one scores low Jaccard but high containment. Directed pairs
    (contained, container) via the same hashed-postings join as
    ngram-Jaccard, normalized by the contained side only; the classic
    dedup policy drops the contained copy and keeps the superset
    document.

    The physical plan is PICKED by a cheap exact-dup probe
    (containment_pairs below, the _pick_ngram_mode pattern): organic
    corpora run the half-space posting join directly; duplicate-heavy
    corpora (mirrors/reposts — k-clique groups whose posting join emits
    k²·|sh| candidate gram rows per clique) collapse exact duplicates
    first, run containment over one representative per group, and expand
    — exact duplicates share their whole shingle set, so every expanded
    pair carries the representative's exact containment and within-group
    pairs are containment 1.0 by definition. Identical directed output,
    measured k²·|sh| → k² (the k² is the answer itself)."""
    wh = Warehouse(spark, sf_dir)
    return containment_pairs(wh.documents.select("doc_id", "text"))


# Exact-dup routing crossover (r07, VERDICT r6 #2): collapse iff the
# k-clique pair mass Σ k(k-1) rivals the corpus size — below that the
# collapse's extra text-hash shuffle + expansion joins cost more than the
# redundant posting work they remove (measured, tools/scale_probe.py
# --dedup: dup×10 flat 25.6 s vs collapse ~7 s; dup×100 flat >10 min vs
# collapse ~17 s; organic sf0.1 dup_pairs = 0 stays flat).
_CONTAIN_COLLAPSE_CROSSOVER = 1.0


def _pick_containment_mode(n_docs: float, dup_pairs: float) -> str:
    """flat vs collapse from the exact-dup probe scalars (pure,
    unit-tested): collapse iff directed exact-dup pairs Σ k(k-1) reach
    the corpus size (dup mass ~sqrt-scale or denser)."""
    if dup_pairs >= _CONTAIN_COLLAPSE_CROSSOVER * max(n_docs, 1.0):
        return "collapse"
    return "flat"


def containment_pairs(docs: DataFrame, mode: str = "auto") -> DataFrame:
    """Directed containment pairs (|A∩B|/|A| ≥ 0.8) over
    ``docs(doc_id, text)`` with a dup-rate-chosen physical plan:

    - ``flat``: the r06c half-space posting join, right for organic
      corpora (near-dup pairs are sparse).
    - ``collapse``: exact-collapse on the normalized text hash →
      flat containment over one representative per group → expand.
      Within a group every ordered pair is containment 1.0 (identical
      normalized text ⇒ identical shingle SET ⇒ shared = n_self);
      across groups the representative's containment is every member
      pair's containment for the same reason. Groups whose docs have
      <3 normalized words have empty shingle sets and emit nothing,
      exactly as the flat plan (they never enter the postings).
    - ``auto``: one two-phase aggregate over xxhash64(normalized text)
      yields (n_docs, Σ k(k-1)); _pick_containment_mode routes. O(1)
      driver data, same pattern as ngram-jaccard's df-skew probe.

    Both plans return the identical directed pair set with bit-identical
    containment doubles (same shared/n_self integer division)."""
    th = docs.select(
        "doc_id", F.xxhash64(F.expr(_NORM_SPARK)).alias("th")
    )
    if mode == "auto":
        stats = (
            th.groupBy("th")
            .agg(F.count(F.lit(1)).alias("k"))
            .agg(
                F.sum("k").alias("n"),
                F.sum(F.col("k") * (F.col("k") - 1)).alias("dup_pairs"),
            )
            .collect()[0]
        )
        mode = _pick_containment_mode(
            float(stats["n"] or 0), float(stats["dup_pairs"] or 0)
        )
    if mode == "flat":
        return _containment_flat(docs)
    if mode != "collapse":
        raise ValueError(f"unknown containment mode {mode!r}")
    members = th.localCheckpoint(eager=False)  # feeds reps + 3 expansions
    groups = members.groupBy("th").agg(
        F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("k")
    )
    rep_docs = docs.join(
        groups.select(F.col("rep").alias("doc_id")), "doc_id", "left_semi"
    )
    rep_pairs = _containment_flat(rep_docs)
    rep_th = groups.select("rep", "th")
    # cross-group expansion: each directed representative pair fans out to
    # every (member of contained group, member of container group)
    expanded = (
        rep_pairs.join(
            rep_th.withColumnsRenamed({"rep": "contained_doc", "th": "th_a"}),
            "contained_doc",
        )
        .join(
            rep_th.withColumnsRenamed({"rep": "container_doc", "th": "th_b"}),
            "container_doc",
        )
        .join(
            members.withColumnsRenamed({"th": "th_a", "doc_id": "m_a"}),
            "th_a",
        )
        .join(
            members.withColumnsRenamed({"th": "th_b", "doc_id": "m_b"}),
            "th_b",
        )
        .select(
            F.col("m_a").alias("contained_doc"),
            F.col("m_b").alias("container_doc"),
            "containment",
        )
    )
    # within-group pairs: only groups with a non-empty shingle set (>= 3
    # normalized words) ever reach the postings in the flat plan
    elig = (
        docs.join(
            groups.filter(F.col("k") >= 2).select(
                F.col("rep").alias("doc_id"), "th"
            ),
            "doc_id",
        )
        .filter(F.size(F.split(F.expr(_NORM_SPARK), " ")) >= 3)
        .select("th")
    )
    em = members.join(elig, "th", "left_semi")
    within = (
        em.alias("x")
        .join(
            em.alias("y"),
            (F.col("x.th") == F.col("y.th"))
            & (F.col("x.doc_id") != F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("contained_doc"),
            F.col("y.doc_id").alias("container_doc"),
            F.lit(1.0).alias("containment"),
        )
    )
    return expanded.unionAll(within)


def _containment_flat(docs: DataFrame) -> DataFrame:
    """The r06c half-space posting join: the a < b self-join derives BOTH
    directed rows from ONE unordered pair via a size join + union,
    halving the pair shuffle and the aggregate state vs the r04 `!=`
    join (grow100 probe: 55.2 s → 47.6 s; the gain is bounded because
    shingle construction, not the pair join, dominates that corpus — but
    the halved aggregate state is what matters on a dup-heavy one). The
    oracle's <> join is unchanged — identical directed output."""
    sh = (
        _with_shingles(docs.select("doc_id", "text"))
        .select("doc_id", "sh")  # <3-word docs already dropped upstream
    )
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    postings = sh.select(
        "doc_id", F.explode("sh").alias("s")
    ).select("doc_id", F.xxhash64("s").alias("s"))
    shared = (
        postings.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"}),
            "doc_a",
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"}),
            "doc_b",
        )
    )
    fwd = shared.select(
        F.col("doc_a").alias("contained_doc"),
        F.col("doc_b").alias("container_doc"),
        F.col("shared"),
        F.col("na").alias("n_self"),
    )
    rev = shared.select(
        F.col("doc_b").alias("contained_doc"),
        F.col("doc_a").alias("container_doc"),
        F.col("shared"),
        F.col("nb").alias("n_self"),
    )
    return (
        fwd.unionAll(rev)
        .filter(F.col("shared") >= 0.8 * F.col("n_self"))
        .select(
            "contained_doc",
            "container_doc",
            (F.col("shared").cast("double") / F.col("n_self")).alias(
                "containment"
            ),
        )
    )


# ---- line-level (segment) dedup: the C4/RefinedWeb boilerplate-removal
# stage — drop every "line" that repeats across documents, keep the rest of
# each document intact. The fixture corpus has no newlines, so a line is
# defined as a consecutive 10-word segment; real corpora pass split('\n').

_SEG_WORDS, _SEG_DF_MAX = 10, 2  # drop segments appearing in >= 2 docs


@query(
    "llm_line_dedup",
    f"""
    WITH ws AS MATERIALIZED (
      SELECT doc_id, str_split(text, ' ') AS w FROM documents
    ),
    segs AS MATERIALIZED (
      SELECT doc_id, i AS seg_pos,
             array_to_string(
               w[(i * {_SEG_WORDS} + 1):(i * {_SEG_WORDS} + {_SEG_WORDS})],
               ' ') AS seg
      FROM ws, LATERAL unnest(generate_series(
        0, CAST(ceil(len(w) / {_SEG_WORDS}.0) AS BIGINT) - 1)) t(i)
    ),
    freq AS (
      SELECT seg, COUNT(DISTINCT doc_id) AS dfd FROM segs GROUP BY seg
    ),
    tot AS (
      SELECT doc_id, COUNT(*) AS n_segments FROM segs GROUP BY doc_id
    ),
    kept AS (
      SELECT s.doc_id, s.seg_pos, s.seg
      FROM segs s JOIN freq f ON s.seg = f.seg
      WHERE f.dfd < {_SEG_DF_MAX}
    ),
    ka AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_pos) AS cleaned_text
      FROM kept GROUP BY doc_id
    )
    SELECT
      t.doc_id,
      CAST(t.n_segments AS BIGINT) AS n_segments,
      CAST(t.n_segments - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
      COALESCE(ka.cleaned_text, '') AS cleaned_text
    FROM tot t LEFT JOIN ka USING (doc_id)
    """,
)
def llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level corpus dedup (the C4 / RefinedWeb boilerplate stage):
    every 10-word segment that appears in >= 2 distinct documents is
    removed from ALL of them; each document is reassembled from its
    surviving segments in order. Returns per doc: total segments, removed
    count, cleaned text (deterministic: segments rejoin by position).

    Scale shape: one posexplode of the corpus into words (narrow), one
    shuffle on (doc, segment-id) to build segments, one segment-frequency
    aggregation joined back on the xxhash64 of the segment (8-byte key,
    SCALE.md Lessons), one ordered reassembly per doc — all linear in
    corpus size, no pairwise anything. The higher-order-lambda segmenter
    was rejected deliberately: slice() inside transform() re-inlines the
    split per element (CollapseProject), while posexplode + groupBy stays
    in whole-stage codegen."""
    wh = Warehouse(spark, sf_dir)
    words = rebalance(wh.documents, "doc_id").select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("wpos", "w"),
    )
    segs = (
        words.groupBy(
            "doc_id", (F.col("wpos") / _SEG_WORDS).cast("long").alias("seg_pos")
        )
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("wpos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("seg")
        )
        .withColumn("h", F.xxhash64("seg"))
        .localCheckpoint(eager=False)  # feeds freq + totals + reassembly
    )
    freq = segs.groupBy("h").agg(
        F.count_distinct("doc_id").alias("dfd")
    )
    tot = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    kept = segs.join(freq, "h").filter(F.col("dfd") < _SEG_DF_MAX)
    ka = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("seg_pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return tot.join(ka, "doc_id", "left").select(
        "doc_id",
        F.col("n_segments").cast("long").alias("n_segments"),
        (F.col("n_segments") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
    )


# ---- exact duplicated-substring spans (the suffix-array dedup shape:
# "Deduplicating Training Data Makes Language Models Better", Lee et al.
# 2022, arXiv:2107.06499 — find every character substring of length >= L
# that occurs more than once in the corpus and merge the hits into
# contiguous per-document spans). The reference snapshot (README-only,
# /root/reference/README.md:1-2) names no such operator; NORTH mandates
# it as a first-class training-data op. A distributed suffix array is the
# paper's tool, not the semantics: fixed-length gram anchors recover the
# identical span set, because any duplicated run of length >= L is
# exactly a maximal chain of duplicated L-grams at consecutive offsets.

_SPAN_L = 30  # anchor length = minimum duplicated-run length, chars

# Segmented gram mining (extremes tier, r10): exploding one offset row
# per character position CARRIES THE DOCUMENT per output row — Spark's
# Generate materializes the full text into every position row (a 1 MB
# doc costs ~1 TB of row copies in one task) and DuckDB's LATERAL (and
# even a substr-in-lambda capture) re-materializes the string per
# element the same way. Slicing the doc into overlapping segments of
# _SEG_S positions (overlap L-1 so every gram lives wholly in one
# segment) bounds the copy to len²/S at the segment explode and S+L per
# position row — ~2 GB total for a 1 MB doc instead of 1 TB — and a
# single huge document parallelizes across SEGMENTS instead of pinning
# one task.
_SEG_S = 1024  # positions per segment

# Shared oracle gram CTE (llm_dedup_substring / llm_substring_clean /
# llm_top_boilerplate): g(doc_id, n_chars, p, gram).
_SPAN_G_CTE = f"""
    gsegs AS MATERIALIZED (
      SELECT doc_id, n_chars, segi,
             substr(text, segi * {_SEG_S} + 1, {_SEG_S + _SPAN_L - 1}) AS seg,
             least({_SEG_S}, length(text) - {_SPAN_L} + 1 - segi * {_SEG_S})
               AS npos
      FROM documents,
           LATERAL unnest(range(0, CAST(ceil(
             (length(text) - {_SPAN_L} + 1) / {_SEG_S}.0) AS BIGINT)))
             AS t(segi)
      WHERE length(text) >= {_SPAN_L}
    ),
    g AS (
      SELECT doc_id, n_chars, segi * {_SEG_S} + lp AS p,
             substr(seg, lp + 1, {_SPAN_L}) AS gram
      FROM gsegs, LATERAL unnest(range(0, npos)) AS u(lp)
    )
"""


def _doc_segments(base: DataFrame, L: int) -> DataFrame:
    """Overlapping text segments (doc_id, n_chars, segi, seg, npos): seg
    covers global positions [segi·S, segi·S + npos), npos ≤ S, with L-1
    chars of overlap so every L-gram lies wholly inside one segment.
    ``base`` must already be filtered to length(text) >= L."""
    S = _SEG_S
    return base.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.expr(
                f"sequence(0, CAST(ceil((length(text) - {L} + 1) / {S}.0)"
                f" AS INT) - 1)"
            )
        ).alias("segi"),
        "text",
    ).select(
        "doc_id",
        "n_chars",
        "segi",
        F.expr(f"substring(text, segi * {S} + 1, {S + L - 1})").alias("seg"),
        F.expr(
            f"least({S}, length(text) - {L} + 1 - segi * {S})"
        ).alias("npos"),
    )


def duplicated_spans(docs: DataFrame, L: int = _SPAN_L) -> DataFrame:
    """Per-document merged duplicated-substring spans (start s0 inclusive,
    end e0 exclusive) over ``docs(doc_id, text, n_chars)``.

    Scale shape (100 TB): the naive plan shuffles every L-char gram STRING
    to count occurrences — an L× byte amplification of the corpus. Instead:

    1. explode offsets 0..len-L (codegen), hash each gram to 8 bytes
       (xxhash64) and shuffle ONLY (doc_id, offset, hash) — the window
       count over the hash is the candidate filter. Every occurrence of a
       truly-duplicated gram shares its hash, so all of them survive; a
       hash collision can only ADD candidates, never drop one.
    2. join the (rare) candidates back to the text on doc_id, recompute
       the gram STRING, and re-count over the exact gram — collision
       casualties fall out here, so the result is exact, while the wide
       shuffle runs over the filtered set only.
    3. merge each doc's surviving offsets into maximal spans with one
       gaps-and-islands pass (new island exactly when an offset starts
       after the running end), one WindowExec per doc partition.

    Both duplicate counts run as groupBy().count() two-phase aggregates
    (map-side partial combine) semi-joined back, NOT as counts over
    Window.partitionBy(hash): the window form ships every occurrence of
    a boilerplate mega-gram to ONE partition and sorts it there, and
    window partitions cannot be split; the aggregate counts the hot gram
    distributed, and the semi-join back is a sort-merge AQE's skew
    handling can split (r07, ADVICE r6). Measured price at sf0.1: the
    extra sort+shuffle of the gram relation costs ~0.9 s (window form
    best 1.79 s, this form 2.72 s, same box A/B) — paid knowingly; a
    broadcast/bloom membership side would be cheaper here but is not
    memory-bounded at 100 TB duplicated-gram cardinalities, and the
    merge join is (same rationale as the text join below)."""
    base = docs.filter(F.length("text") >= L)
    # Segmented mining (_SEG_S rationale above): the position explode
    # must NOT carry an UNBOUNDED document — Generate materializes every
    # carried column into each output row, so offsets-beside-text costs
    # len × len row bytes (1 TB for one 1 MB doc, in one task; extremes
    # tier, r10). Docs that fit one segment (len < L + S — every doc of
    # a normal crawl distribution, and the whole fixture corpus) keep
    # the direct explode: its per-row copy is bounded by S + L chars BY
    # THE FILTER, and it skips the extra Generate (+40% on the sf0.1
    # corpus, measured). Longer docs go through segments, bounding the
    # copy to len²/S + len·(S+L) and spreading one giant doc across
    # tasks at the segment shuffle instead of pinning a single task.
    S = _SEG_S
    is_long = F.length("text") >= L + S
    # r11 (guide §2.3 — shuffle fewer bytes): the gram relation carries
    # only (doc_id, p:int, gh) — 24 B/row instead of the previous 40
    # (n_chars rode every position row through two sort-merge semi-joins
    # and p was a long; a Spark string is < 2^31 chars, so int positions
    # are provably safe). n_chars re-attaches per-DOC at the span
    # aggregate in llm_dedup_substring — doc-sized, not position-sized.
    g_short = base.filter(~is_long).select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, length(text) - {L})")).alias("p"),
        "text",
    ).select(
        "doc_id",
        F.col("p").cast("int").alias("p"),
        F.xxhash64(F.expr(f"substring(text, p + 1, {L})")).alias("gh"),
    )
    segs = _doc_segments(base.filter(is_long), L)
    g_long = segs.select(
        "doc_id",
        F.explode(F.expr("sequence(0, npos - 1)")).alias("lp"),
        "segi",
        "seg",
    ).select(
        "doc_id",
        (F.col("segi") * S + F.col("lp")).cast("int").alias("p"),
        F.xxhash64(F.expr(f"substring(seg, lp + 1, {L})")).alias("gh"),
    )
    g = g_short.unionByName(g_long)
    # dup_gh sits above an aggregate (underestimated) and scales with the
    # corpus's dup rate — merge hint for the same bounded-memory rationale
    # as the text join below.
    dup_gh = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("gh")
    )
    cand = g.join(dup_gh.hint("merge"), "gh", "left_semi").select(
        "doc_id", "p"
    )
    # merge hint: cand sits above a Generate (the offset explode) whose
    # row count Catalyst underestimates at the SCAN's cardinality, so on
    # a duplication-heavy corpus the planner statically broadcasts a side
    # that is actually ~every gram position (500k-doc probe: ~100M rows,
    # OOM on an 8g heap). Sort-merge is the only join whose memory stays
    # bounded whatever the dup rate turns out to be (SCALE.md Lessons).
    # The exact-gram recompute mirrors the short/long split: short-doc
    # candidates join their (bounded) text directly; long-doc candidates
    # join their SEGMENT on (doc_id, segi) — a fully-duplicated giant
    # doc would otherwise replicate its text once per candidate position.
    cg_short = cand.join(
        base.filter(~is_long).select("doc_id", "text").hint("merge"),
        "doc_id",
        "inner",
    ).select(
        "doc_id",
        "p",
        F.expr(f"substring(text, p + 1, {L})").alias("gram"),
    )
    cg_long = cand.withColumn(
        "segi", F.expr(f"CAST(p div {S} AS INT)")
    ).join(
        _doc_segments(base.filter(is_long), L)
        .select("doc_id", "segi", "seg")
        .hint("merge"),
        ["doc_id", "segi"],
    ).select(
        "doc_id",
        "p",
        F.expr(f"substring(seg, p - segi * {S} + 1, {L})").alias("gram"),
    )
    cg = cg_short.unionByName(cg_long)
    dup_gram = (
        cg.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c2"))
        .filter(F.col("c2") >= 2)
        .select("gram")
    )
    dup = cg.join(dup_gram.hint("merge"), "gram", "left_semi").select(
        "doc_id", "p"
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = dup.withColumn(
        "isl",
        F.sum(
            F.when(
                F.col("p") > F.coalesce(F.lag("p").over(w) + L, F.lit(-1)),
                1,
            ).otherwise(0)
        ).over(w),
    )
    return isl.groupBy("doc_id", "isl").agg(
        F.min("p").alias("s0"),
        (F.max("p") + L).alias("e0"),
    )


@query(
    "llm_dedup_substring",
    f"""
    WITH {_SPAN_G_CTE},
    c AS (
      SELECT doc_id, n_chars, p,
             COUNT(*) OVER (PARTITION BY gram) AS cnt
      FROM g
    ),
    d AS (SELECT doc_id, n_chars, p FROM c WHERE cnt >= 2),
    f AS (
      SELECT doc_id, n_chars, p,
             CASE WHEN p > COALESCE(
                 LAG(p) OVER (PARTITION BY doc_id ORDER BY p) + {_SPAN_L},
                 -1)
               THEN 1 ELSE 0 END AS newisl
      FROM d
    ),
    i AS (
      SELECT doc_id, n_chars, p,
             SUM(newisl) OVER (PARTITION BY doc_id ORDER BY p) AS isl
      FROM f
    ),
    s AS (
      SELECT doc_id, isl, MIN(n_chars) AS n_chars,
             MIN(p) AS s0, MAX(p) + {_SPAN_L} AS e0
      FROM i GROUP BY doc_id, isl
    )
    SELECT doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_spans,
      CAST(SUM(e0 - s0) AS BIGINT) AS dup_chars,
      CAST((SUM(e0 - s0) * 10000) // MIN(n_chars) AS BIGINT) AS dup_bps
    FROM s GROUP BY doc_id
    """,
)
def llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection, Lee-et-al-2022 semantics: a
    character run belongs to a span iff some substring of length >= 30
    covering it occurs >= 2 times corpus-wide (within- OR
    cross-document). Per doc: span count, duplicated chars, duplicated
    basis points of the doc (integer arithmetic — no float rounding to
    diverge between engines). The oracle counts exact gram strings
    directly; the Spark plan's hash-prefilter + exact-confirm is
    semantics-preserving (see duplicated_spans), so both sides compute
    the identical span set."""
    wh = Warehouse(spark, sf_dir)
    docs = rebalance(
        wh.documents.select("doc_id", "text", "n_chars"), "doc_id"
    )
    spans = duplicated_spans(docs)
    # n_chars joins back at the per-DOC aggregate (doc-sized relation)
    # instead of riding every gram-position row through the pipeline's
    # sort-merge semi-joins — r11, guide §2.3; value-identical because
    # n_chars is constant per doc_id (min(n_chars) == the joined value,
    # including the NULL-metadata rows of the nulls tier).
    agg = spans.groupBy("doc_id").agg(
        bigint(F.count(F.lit(1))).alias("n_spans"),
        bigint(F.sum(F.col("e0") - F.col("s0"))).alias("dup_chars"),
    )
    # merge hint: keeps the family's no-BroadcastExchange invariant
    # (tests/test_plans.py — the r06b OOM finding); both sides are
    # doc-sized so the SMJ costs one doc-level exchange pair.
    return agg.join(
        docs.select("doc_id", "n_chars").hint("merge"), "doc_id"
    ).select(
        "doc_id",
        "n_spans",
        "dup_chars",
        bigint(F.expr("(dup_chars * 10000) div n_chars")).alias("dup_bps"),
    )


@query(
    "llm_substring_clean",
    f"""
    WITH {_SPAN_G_CTE},
    c AS (
      SELECT doc_id, p, COUNT(*) OVER (PARTITION BY gram) AS cnt FROM g
    ),
    d AS (SELECT doc_id, p FROM c WHERE cnt >= 2),
    f AS (
      SELECT doc_id, p,
             CASE WHEN p > COALESCE(
                 LAG(p) OVER (PARTITION BY doc_id ORDER BY p) + {_SPAN_L},
                 -1)
               THEN 1 ELSE 0 END AS newisl
      FROM d
    ),
    i AS (
      SELECT doc_id, p,
             SUM(newisl) OVER (PARTITION BY doc_id ORDER BY p) AS isl
      FROM f
    ),
    s AS (
      SELECT doc_id, isl, MIN(p) AS s0, MAX(p) + {_SPAN_L} AS e0
      FROM i GROUP BY doc_id, isl
    ),
    segs AS (
      SELECT doc_id,
             COALESCE(LAG(e0) OVER (PARTITION BY doc_id ORDER BY s0), 0)
               AS ks,
             s0 AS ke
      FROM s
      UNION ALL
      SELECT s.doc_id, MAX(s.e0) AS ks, MIN(length(dd.text)) AS ke
      FROM s JOIN documents dd USING (doc_id) GROUP BY s.doc_id
    ),
    ka AS (
      SELECT g.doc_id,
             string_agg(substr(dd.text, g.ks + 1, g.ke - g.ks),
                        '' ORDER BY g.ks) AS cleaned_text,
             SUM(g.ke - g.ks) AS kept
      FROM segs g JOIN documents dd USING (doc_id)
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
      CAST(length(d.text) AS BIGINT) AS n_chars,
      CAST(COALESCE(length(d.text) - COALESCE(ka.kept, length(d.text)), 0)
           AS BIGINT) AS n_removed,
      COALESCE(ka.cleaned_text, d.text) AS cleaned_text
    FROM documents d LEFT JOIN ka USING (doc_id)
    """,
)
def llm_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of the suffix-array dedup recipe (Lee et al. 2022
    cut the duplicated spans out of the corpus; llm_dedup_substring only
    reports them): every doc reassembled from the characters OUTSIDE its
    merged duplicated spans. Returns all docs — untouched ones keep their
    full text — so the output is a drop-in replacement corpus.

    Scale shape: duplicated_spans' linear anchor plan, then one keyed
    collect of the (few) spans per doc and a single-pass cut via
    aggregate() over the sorted span array — the higher-order lambda is
    bounded by spans-per-doc (not corpus size), the one place the
    interpreted-lambda rule (SCALE.md Lessons) permits it. The final
    left join returns the untouched majority without shuffling their
    text: spans are the small side, broadcast at fixture scale and a
    keyed merge at 100 TB."""
    wh = Warehouse(spark, sf_dir)
    docs = rebalance(
        wh.documents.select("doc_id", "text", "n_chars"), "doc_id"
    )
    return substring_clean(docs)


def substring_clean(docs: DataFrame, L: int = _SPAN_L) -> DataFrame:
    """The span-cut plan behind llm_substring_clean, parameterized for the
    brute-force property test (tests/test_plan_props.py)."""
    spans = duplicated_spans(docs, L=L)
    sp = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s0", "e0"))).alias("sp")
    )
    cut = F.expr(
        """
        aggregate(
          sp,
          struct(CAST('' AS STRING) AS acc, 0 AS pos),
          (st, x) -> struct(
            concat(st.acc, substring(text, st.pos + 1, x.s0 - st.pos)),
            CAST(x.e0 AS INT)),
          st -> concat(st.acc, substring(text, st.pos + 1,
                                         length(text) - st.pos))
        )
        """
    )
    # sp is post-aggregate (underestimated) and grows with the corpus's
    # dup rate — same merge-hint rationale as duplicated_spans' join.
    # n_chars is DERIVED from the text (both sides), not echoed from the
    # metadata column: the cleaner's report must describe the corpus it
    # actually read, and stale/null metadata (nulls-tier find: NULL
    # n_chars made the oracle's arithmetic NULL while the spans were
    # real) must not leak into the span arithmetic.
    return docs.join(sp.hint("merge"), "doc_id", "left").select(
        "doc_id",
        bigint(F.length("text")).alias("n_chars"),
        F.when(F.col("sp").isNull(), F.lit(0).cast("long"))
        .otherwise(
            F.aggregate(
                "sp",
                F.lit(0).cast("long"),
                lambda a, x: a + (x["e0"] - x["s0"]),
            ).cast("long")
        )
        .alias("n_removed"),
        F.when(F.col("sp").isNull(), F.col("text"))
        .otherwise(cut)
        .alias("cleaned_text"),
    )


@query(
    "llm_top_boilerplate",
    f"""
    WITH {_SPAN_G_CTE},
    c AS (
      SELECT doc_id, p, COUNT(*) OVER (PARTITION BY gram) AS cnt FROM g
    ),
    d AS (SELECT doc_id, p FROM c WHERE cnt >= 2),
    f AS (
      SELECT doc_id, p,
             CASE WHEN p > COALESCE(
                 LAG(p) OVER (PARTITION BY doc_id ORDER BY p) + {_SPAN_L},
                 -1)
               THEN 1 ELSE 0 END AS newisl
      FROM d
    ),
    i AS (
      SELECT doc_id, p,
             SUM(newisl) OVER (PARTITION BY doc_id ORDER BY p) AS isl
      FROM f
    ),
    s AS (
      SELECT doc_id, isl, MIN(p) AS s0, MAX(p) + {_SPAN_L} AS e0
      FROM i GROUP BY doc_id, isl
    ),
    sp AS (
      SELECT substr(dd.text, s.s0 + 1, s.e0 - s.s0) AS snippet
      FROM s JOIN documents dd USING (doc_id)
    )
    SELECT snippet,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(COUNT(*) * length(snippet) AS BIGINT) AS chars_covered
    FROM sp
    GROUP BY snippet
    HAVING COUNT(*) >= 2
    ORDER BY n_spans DESC, snippet ASC
    LIMIT 20
    """,
)
def llm_top_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate miner: the top-20 duplicated span TEXTS by how many
    merged spans carry them verbatim (the license-header / nav-chrome /
    SEO-footer question a crawl curator asks before choosing removal
    rules). A span's text is the maximal duplicated run, so identical
    snippets here are whole repeated regions, not overlapping gram
    shards. Global top-K via orderBy().limit() (TakeOrderedAndProject —
    the bounded form the partition-less-window sweep mandates); unique
    tiebreak (n_spans DESC, snippet ASC) since snippet is the grouping
    key. Scale shape: duplicated_spans' linear plan + one keyed string
    agg over the (rare) spans + a 20-row take."""
    wh = Warehouse(spark, sf_dir)
    docs = rebalance(
        wh.documents.select("doc_id", "text", "n_chars"), "doc_id"
    )
    spans = duplicated_spans(docs)
    # spans is post-aggregate and dup-rate-sized — merge hint as above.
    # r12 (VERDICT r11 #6, guide §2.4/§3): the snippet re-join used to
    # shuffle the WHOLE corpus text a second time (duplicated_spans
    # already shuffles it once for the exact-gram recompute). Splitting
    # the join by the same short/long predicate duplicated_spans uses
    # makes the short side's exchange subtree BYTE-IDENTICAL to the one
    # inside duplicated_spans (same docs object, same filter/select), so
    # AQE stage reuse ships the short-doc text once for both consumers;
    # the long side re-shuffles only the rare giant docs (whose segment
    # relation, not raw text, is what duplicated_spans exchanges).
    # Equivalent join: spans only exist for len(text) >= L docs, and
    # short/long partition that set, so union-of-inner-joins == the old
    # single inner join. The docs-relation filter also drops sub-L docs
    # from the shuffle outright (they can never carry a span).
    base = docs.filter(F.length("text") >= _SPAN_L)
    is_long = F.length("text") >= _SPAN_L + _SEG_S
    snip = (
        spans.join(
            base.filter(~is_long).select("doc_id", "text").hint("merge"),
            "doc_id",
        )
        .unionByName(
            spans.join(
                base.filter(is_long)
                .select("doc_id", "text")
                .hint("merge"),
                "doc_id",
            )
        )
        .select(F.expr("substring(text, s0 + 1, e0 - s0)").alias("snippet"))
    )
    return (
        snip.groupBy("snippet")
        .agg(bigint(F.count(F.lit(1))).alias("n_spans"))
        .filter(F.col("n_spans") >= 2)
        .select(
            "snippet",
            "n_spans",
            bigint(F.col("n_spans") * F.length("snippet")).alias(
                "chars_covered"
            ),
        )
        .orderBy(F.col("n_spans").desc(), F.col("snippet").asc())
        .limit(20)
    )
