"""Similarity search over embeddings — SURVEY.md §2.10.

NORTH-mandated: approximate-nearest-neighbor over an ``array<float>``
embedding column. Brute-force cosine top-k is the exact baseline; the IVF
(inverted-file) variant is the 100 TB path — a KMeans coarse quantizer
partitions the corpus, queries probe only the nprobe nearest cells, so the
scan cost drops from O(N) to O(N · nprobe / ncells) per query and the
candidate join is a plain equi-join on cell id (shuffle-partitioned,
broadcast centroids). Property-checked for recall against the exact top-k
(tests/test_llm_props.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_realtime_spark.exprs import nonfinite, nonfinite_sql
from flink_realtime_spark.llm.dedup import cosine_expr
from flink_realtime_spark.registry import query
from flink_realtime_spark.tables import Warehouse, rebalance
from flink_realtime_spark.worker import crossing

K = 5
N_QUERIES = 20


@query(
    "llm_knn_cosine",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
      WHERE embedding IS NOT NULL
    )
    SELECT
      a.vec_id AS query_id,
      b.vec_id AS neighbor_id,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY a.vec_id
        ORDER BY list_inner_product(a.emb, b.emb)
                   / NULLIF(a.nrm * b.nrm, 0) DESC NULLS LAST,
        b.vec_id ASC
      ) AS BIGINT) AS "rank",
      ROUND(list_inner_product(a.emb, b.emb)
              / NULLIF(a.nrm * b.nrm, 0), 6) AS cos_sim
    FROM base a, base b
    WHERE a.vec_id < {N_QUERIES} AND a.vec_id != b.vec_id
    QUALIFY "rank" <= {K}
    """,
)
def llm_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k (k=5) for the first 20 query vectors, no UDF:
    exploded dot-product join with per-query rank and a deterministic
    neighbor_id tie-break. This is the correctness baseline llm_knn_ivf's
    recall is measured against.

    NULL / zero-norm contract (ADVICE r8): NULL embeddings are filtered at
    the base on BOTH sides (the Spark posexplode silently drops them, so
    the oracle must too — matching ivf_index's r08 filter), and the oracle
    mirrors the Spark side's dot/NULLIF zero-norm guard instead of DuckDB's
    raw list_cosine_similarity (which returns -1.0 for a zero vector — a
    value, not a NULL, so it would rank). Sim ordering pins NULLS LAST on
    both engines (Spark .desc() is already NULLS LAST; DuckDB's is pinned
    explicitly per the r08 rule)."""
    wh = Warehouse(spark, sf_dir)
    # Codegen formulation: posexplode both sides, broadcast the (tiny)
    # query side, equi-join on the dimension index, hash-aggregate the dot
    # products. The zip_with/aggregate lambda form is interpreted per
    # element (≈2s at sf0.1 for 40k pairs × 64 dims); this stays inside
    # whole-stage codegen and partial-aggregates map-side. Double sums are
    # order-dependent only at the ~1e-16 ulp level (decimal sums were tried
    # and are 3× slower on the BigDecimal agg path); the 6-decimal rounding
    # and rank tiebreaks absorb it.
    # The dot-product join fans each corpus vector out |queries| times —
    # compute-dense relative to the byte-small scan, so rebalance the
    # corpus to core parallelism first (no-op once the scan is wide).
    # NULL embeddings carry no similarity signal: drop them at the base on
    # both sides (matching ivf_index's r08 contract) so a null query vector
    # can't diverge the engines (posexplode drops it, a raw oracle keeps it).
    base = rebalance(
        wh.embeddings.filter(F.col("embedding").isNotNull()), "vec_id"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    x = base.select(
        "vec_id", F.posexplode("emb").alias("pos", "v")
    )
    # Norms straight off the array column (one interpreted aggregate over
    # a |corpus|-row relation — trivial) instead of a fourth branch of the
    # exploded relation: keeps the plan to two posexplode subtrees, and a
    # norms table this small broadcasts for BOTH sim joins.
    norms = base.select(
        "vec_id",
        F.sqrt(
            F.aggregate("emb", F.lit(0.0), lambda acc, e: acc + e * e)
        ).alias("norm"),
    )
    qx = x.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "pos", F.col("v").alias("qv")
    )
    cx = x.select(F.col("vec_id").alias("neighbor_id"), "pos", F.col("v").alias("nv"))
    dots = (
        cx.join(F.broadcast(qx), "pos")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("qv") * F.col("nv")).alias("dot"))
    )
    sims = (
        dots.join(
            F.broadcast(norms.withColumnsRenamed({"vec_id": "query_id", "norm": "qn"})),
            "query_id",
        )
        .join(
            F.broadcast(
                norms.withColumnsRenamed({"vec_id": "neighbor_id", "norm": "nn"})
            ),
            "neighbor_id",
        )
        # nullif: zero-norm vectors have NULL similarity (cosine_expr's
        # r08 contract) instead of raising ANSI DIVIDE_BY_ZERO
        .withColumn(
            "sim",
            F.col("dot") / F.nullif(F.col("qn") * F.col("nn"), F.lit(0.0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= K)
        .select(
            "query_id", "neighbor_id", "rank", F.round("sim", 6).alias("cos_sim")
        )
    )



# Corpus-adaptive IVF geometry (VERDICT r9 #3): a FIXED 16-cell index
# breaks one decade past its fixture — at 2M vectors 16 cells means
# 125k-vector cells, GEMM blocks that outgrow a worker and a join kernel
# that paid 1273 s where the rescaled index answered in 67 s
# (tools/ann_probe.py, r09). Geometry therefore derives from a cheap
# corpus count: hold cells at a target row count (clamped), and scale
# nprobe to hold the BASE nprobe/ncells scan fraction so the recall
# floor survives the rescale. The floor of 16 keeps every fixture-scale
# hash unchanged (sf0.01 ... vec100's 200k = exactly 16 cells); the cap
# bounds the broadcast centroid table (4096 × 64 dims ≈ 2 MB).
IVF_MIN_CELLS = 16
IVF_MAX_CELLS = 4096
IVF_TARGET_CELL_ROWS = 12_500


def ivf_geometry(n_vectors: int, base_nprobe: int) -> tuple[int, int]:
    """(n_cells, nprobe) for a corpus of ``n_vectors``: n_cells =
    clamp(ceil(N / 12500), 16, 4096); nprobe = ceil(n_cells ·
    base_nprobe / 16) — the scan fraction stays ≈ base_nprobe/16 at
    every corpus size while cell (and GEMM block) size stays bounded.
    The SQL mirror lives in llm_knn_ivf_hash's geo CTE."""
    n_cells = max(
        IVF_MIN_CELLS,
        min(IVF_MAX_CELLS, -(-n_vectors // IVF_TARGET_CELL_ROWS)),
    )
    nprobe = -(-n_cells * base_nprobe // IVF_MIN_CELLS)
    return n_cells, nprobe


def ivf_index(
    embeddings: DataFrame, n_cells: int | None = None, seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: KMeans coarse quantizer over the corpus.
    Returns (assigned corpus with cell ids, centroid table). At 100 TB the
    quantizer trains on a sample and the assignment is a broadcast join of
    ncells centroids against the corpus — one narrow pass. ``n_cells``
    defaults to the corpus-adaptive ivf_geometry derivation (one cheap
    count; pass it explicitly when the caller already knows)."""
    import numpy as np
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    # NULL vectors cannot be indexed (array_to_vector raises in the JVM
    # UDF — nulls-tier find) and neither can NaN/±Inf-bearing ones
    # (MLlib's Vector validator raises "values MUST NOT be NaN or
    # Infinity" — specials-tier find, r10); neither has a meaningful
    # cell direction: drop both at the index boundary, the exact analog
    # of the GEMM kernels' filter.
    vecs = embeddings.filter(
        F.col("embedding").isNotNull()
        & ~F.exists(
            F.col("embedding").cast("array<double>"), lambda x: nonfinite(x)
        )
    ).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("fv"),
    )
    if n_cells is None:
        n_cells, _ = ivf_geometry(vecs.count(), 1)
    # maxIter 5: the 16-cell quantizer converges by iteration 5 on both
    # fixture SFs (identical assignments and recall vs maxIter 10,
    # measured) and MLlib's per-iteration job overhead dominates the fit
    # (1.52 s → 1.04 s at sf0.1). A coarse quantizer needs rough
    # partitioning, not convergence.
    km = KMeans(
        k=n_cells, seed=seed, featuresCol="fv", predictionCol="cell", maxIter=5
    )
    # A coarse quantizer doesn't need every vector: fit on a deterministic
    # hash-sample (the standard IVF practice — train on a corpus sample,
    # assign the full corpus in one transform pass). ~4× less fit work at
    # any scale; recall is property-checked against the exact top-k.
    train = vecs.filter(F.xxhash64("vec_id") % 4 == 0)
    if train.limit(n_cells * 4).count() < n_cells:
        train = vecs
        n_avail = train.limit(n_cells).count()
        if n_avail == 0:
            # KMeans.fit throws on an empty dataset ("Nothing has been
            # added to this summarizer") — an empty corpus has an empty
            # index, not a crashed one (empty-shape probe find, r09).
            return (
                vecs.select("vec_id", "emb", F.lit(0).alias("cell")).limit(0),
                vecs.select(
                    F.lit(0).alias("cell"), F.col("emb").alias("centroid")
                ).limit(0),
            )
        if n_avail == 1:
            # One vector: MLlib rejects k=1 outright (param validator) —
            # the index degenerates to a single cell holding the corpus
            # (single-row probe find, r09).
            assigned = vecs.select("vec_id", "emb", F.lit(0).alias("cell"))
            centroids = vecs.select(
                F.lit(0).alias("cell"), F.col("emb").alias("centroid")
            )
            return assigned, centroids
        if n_avail < n_cells:
            # Fewer vectors than cells (degenerate corpus): MLlib's
            # kmeans|| init throws when k exceeds the point count — a
            # quantizer can have at most one cell per vector
            # (single-row probe find, r09).
            km.setK(n_avail)
    model = km.fit(train)
    assigned = model.transform(vecs).select("vec_id", "emb", "cell")
    # From pandas through Arrow: a JVM LocalRelation. A Python list builds
    # a LogicalRDD whose scan runs Python tasks: llm_knn_ivf's collect was
    # 891 ms that way, 741 ms this way (median of 7, sf0.1, local[2]).
    centers = model.clusterCenters()
    centroids = vecs.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "cell": np.arange(len(centers), dtype="int32"),
                "centroid": [c.tolist() for c in centers],
            }
        ),
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    return assigned, centroids


@query("llm_knn_ivf")
def llm_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: probe the nprobe=4 nearest KMeans cells per
    query, exact cosine only within those cells. No SQL oracle (KMeans
    initialization is estimator-internal); property-checked: recall@k vs
    llm_knn_cosine above a floor, and the per-query candidate count must
    stay ≈ nprobe/ncells of the corpus (the point of the index). This
    codegen join kernel is the small-Q form; when Q grows with N
    (all-vs-all linking) swap in ivf_topk_gemm below — same index, same
    results (equivalence property test), per-cell matmul kernel
    (tools/ann_probe.py: 88.4 s → 2.6 s at Q=5000, N=8000). Geometry is
    corpus-adaptive (ivf_geometry): 16 cells / nprobe 4 at fixture
    scale; past 200k vectors cells grow with N and nprobe holds the
    4/16 scan fraction."""
    wh = Warehouse(spark, sf_dir)
    n = wh.embeddings.filter(F.col("embedding").isNotNull()).count()
    n_cells, nprobe = ivf_geometry(n, 4)
    assigned, centroids = ivf_index(wh.embeddings, n_cells)
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    # nprobe nearest cells per query (broadcast the tiny centroid table)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("csim", cosine_expr("qe", "centroid"))
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "qe", "cell")
    )
    cand = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne"), "cell"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        probes.join(cand, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine_expr("qe", "ne"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= K)
        .select(
            "query_id", "neighbor_id", "rank", F.round("sim", 6).alias("cos_sim")
        )
    )


def ivf_hash_index(
    embeddings: DataFrame, n_cells: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF index: centroids are ``n_cells`` data-sampled
    corpus vectors chosen by a Knuth multiplicative hash over vec_id
    (reproducible across engines — no estimator randomness), cells
    numbered by seed vec_id order. Returns (assigned corpus with cell
    ids, centroid table). Assignment is a broadcast of ``n_cells``
    centroids against the corpus folded by a map-side partial max_by —
    no sort, no window, one shuffle on vec_id. ``n_cells`` defaults to
    the ivf_geometry derivation over the full row count (this index
    doesn't null-filter; its oracle mirrors with COUNT(*))."""
    if n_cells is None:
        n_cells, _ = ivf_geometry(embeddings.count(), 1)
    base = rebalance(embeddings, "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # the cell-numbering window sits over a LIMIT n_cells (bounded
    # domain); partition by the constant-valued but non-foldable
    # vec_id % 1 so the spec stays non-empty in the plan (the
    # plans/ordered.py pattern — a foldable lit(0) would constant-fold
    # to an EMPTY spec and log WindowExec: No Partition Defined)
    seeds = (
        base.orderBy(
            (F.col("vec_id").cast("long") * F.lit(2654435761))
            % F.lit(4294967296),
            "vec_id",
        )
        .limit(n_cells)
        .withColumn(
            "cell",
            (
                F.row_number().over(
                    Window.partitionBy(F.col("vec_id") % 1).orderBy("vec_id")
                )
                - 1
            ).cast("int"),
        )
        .select("cell", F.col("emb").alias("centroid"))
    )
    scored = base.crossJoin(F.broadcast(seeds)).withColumn(
        "csim", F.round(cosine_expr("emb", "centroid"), 9)
    )
    # argmax cell per vector: hash agg with struct max_by (csim desc,
    # cell asc tiebreak via negation) — partial-aggregates map-side
    assigned = scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("cell"), F.struct(F.col("csim"), (-F.col("cell")).alias("t"))
        ).alias("cell"),
        F.first("emb").alias("emb"),
    )
    return assigned, seeds


@query(
    "llm_knn_ivf_hash",
    f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    geo AS (
      -- ivf_geometry's SQL mirror: cells at a 12500-row target, clamped
      -- to [16, 4096]; nprobe holds the base 6/16 scan fraction
      SELECT
        GREATEST(16, LEAST(4096,
          CAST(CEIL(COUNT(*) / 12500.0) AS BIGINT))) AS ncells
      FROM base
    ),
    seeds AS (
      SELECT vec_id, emb,
        ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell
      FROM (
        SELECT vec_id, emb,
          ROW_NUMBER() OVER (
            ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 4294967296,
                     vec_id
          ) AS hrank
        FROM base
      )
      WHERE hrank <= (SELECT ncells FROM geo)
    ),
    assigned AS (
      SELECT b.vec_id, b.emb, s.cell
      FROM base b, seeds s
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY b.vec_id
        ORDER BY ROUND((list_inner_product(b.emb, s.emb) / NULLIF(sqrt(list_inner_product(b.emb, b.emb)) * sqrt(list_inner_product(s.emb, s.emb)), 0)), 9) DESC,
                 s.cell ASC
      ) = 1
    ),
    probes AS (
      SELECT a.vec_id AS query_id, a.emb AS qe, s.cell
      FROM assigned a, seeds s
      WHERE a.vec_id < {N_QUERIES}
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY a.vec_id
        ORDER BY ROUND((list_inner_product(a.emb, s.emb) / NULLIF(sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(s.emb, s.emb)), 0)), 9) DESC,
                 s.cell ASC
      ) <= (SELECT CAST(CEIL(ncells * 6 / 16.0) AS BIGINT) FROM geo)
    )
    SELECT p.query_id, c.vec_id AS neighbor_id,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY p.query_id
        ORDER BY (list_inner_product(p.qe, c.emb) / NULLIF(sqrt(list_inner_product(p.qe, p.qe)) * sqrt(list_inner_product(c.emb, c.emb)), 0)) DESC, c.vec_id ASC
      ) AS BIGINT) AS "rank",
      ROUND((list_inner_product(p.qe, c.emb) / NULLIF(sqrt(list_inner_product(p.qe, p.qe)) * sqrt(list_inner_product(c.emb, c.emb)), 0)), 6) AS cos_sim
    FROM probes p
    JOIN assigned c ON p.cell = c.cell AND p.query_id != c.vec_id
    QUALIFY "rank" <= {K}
    """,
)
def llm_knn_ivf_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with a DETERMINISTIC coarse quantizer (VERDICT r5 #4):
    the 16 cell centroids are data-sampled corpus vectors chosen by a
    Knuth multiplicative hash over vec_id (a pseudo-random but exactly
    reproducible spread — the 'train on a sample' step of a real IVF
    build with the estimator randomness removed), so unlike llm_knn_ivf's
    KMeans quantizer the ENTIRE path is DuckDB-expressible and this key
    is driver-hash-checked, shrinking the rows-only set. Same query shape
    as llm_knn_ivf: probe the nprobe=6 nearest cells, exact cosine only
    within them.

    Scale shape (100 TB): centroids are ncells rows (corpus-adaptive via
    ivf_geometry, ≤4096) — broadcast; assignment is a broadcast
    nested-loop over the centroids folded by a map-side partial max_by
    (no sort, no window, ONE shuffle on vec_id); the candidate join is a
    plain equi-join on cell. Cell-affinity scores are rounded to 9 dp on
    BOTH sides before ranking so double accumulation order can't flip
    borderline cell assignments between engines (the ×10-tier decimal
    lesson applied to argmax)."""
    wh = Warehouse(spark, sf_dir)
    # geometry from one cheap count (no null filter — this index keys
    # every row; the oracle's geo CTE mirrors with COUNT(*))
    n_cells, nprobe = ivf_geometry(wh.embeddings.count(), 6)
    assigned, seeds = ivf_hash_index(wh.embeddings, n_cells)
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(seeds))
        .withColumn("csim", F.round(cosine_expr("qe", "centroid"), 9))
        .withColumn("crank", F.row_number().over(wq))
        # base nprobe=6 (vs KMeans' 4): sampled seeds partition lumpier
        # than fitted centroids, so the deterministic index buys its
        # recall floor with two extra probes (measured 0.40 -> 0.59
        # recall@5, top-6 scan fraction 0.43 at sf0.01)
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "qe", "cell")
    )
    cand = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne"), "cell"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        probes.join(cand, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine_expr("qe", "ne"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= K)
        .select(
            "query_id", "neighbor_id", "rank", F.round("sim", 6).alias("cos_sim")
        )
    )


@query("llm_knn_ivf_gemm")
def llm_knn_ivf_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GEMM-kernel form of llm_knn_ivf as a first-class query: same
    index, same results (per-key equivalence property test,
    tests/test_llm_props.py), per-cell matmul kernel — the form to run
    when Q grows with N. No SQL oracle for the same reason as
    llm_knn_ivf (KMeans initialization is estimator-internal); the
    equivalence test plus llm_knn_ivf's recall/scan-fraction properties
    are the correctness contract."""
    wh = Warehouse(spark, sf_dir)
    n = wh.embeddings.filter(F.col("embedding").isNotNull()).count()
    n_cells, nprobe = ivf_geometry(n, 4)
    assigned, centroids = ivf_index(wh.embeddings, n_cells)
    return ivf_topk_gemm(assigned, centroids, N_QUERIES, nprobe=nprobe)


def ivf_topk_gemm(
    assigned: DataFrame,
    centroids: DataFrame,
    q_max: int,
    k: int = K,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k with a per-cell GEMM kernel — the large-Q form of
    llm_knn_ivf. The registered key's codegen dot-product join is right at
    small Q (zero Python), but its per-pair cost is per-element work; when
    Q grows with N (all-vs-all linking) the kernel must be a matmul. Here
    each probed cell cogroup-pairs its queries (≤ Q·nprobe replicas total)
    with its members, one numpy GEMM per cell scores the |Q_cell|×|N_cell|
    block, and only each query's per-cell top-k (≤ nprobe·k rows/query)
    survives to the final exact global rank — so the shuffle after the
    kernel is metadata-sized. Same one-equi-shuffle-on-cell plan shape;
    GEMM is order-fixed per pair, hence partitioning-invariant (the
    llm_dedup_embcos lesson). Measured (tools/ann_probe.py, N=8000,
    Q=5000): 86.9 s join-kernel → 2.9 s GEMM-kernel, identical results."""
    import numpy as np
    import pandas as pd

    q = assigned.filter(F.col("vec_id") < q_max).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("csim", cosine_expr("qe", "centroid"))
        .withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("cell", "query_id", "qe")
    )
    members = assigned.select(
        "cell", F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne")
    )

    def cell_topk(qpdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(mpdf):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "sim": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "sim": "float64"})
        qm = np.stack(qpdf["qe"].to_numpy())
        nm = np.stack(mpdf["ne"].to_numpy())
        # zero-norm → NaN sims (cosine_expr's r08 NULLIF contract); the
        # per-cell top-k never promotes NaN over a real similarity
        qd = np.linalg.norm(qm, axis=1, keepdims=True)
        nd = np.linalg.norm(nm, axis=1, keepdims=True)
        qd[qd == 0] = np.nan
        nd[nd == 0] = np.nan
        qn = qm / qd
        nn = nm / nd
        sims = qn @ nn.T
        qids = qpdf["query_id"].to_numpy()
        nids = mpdf["neighbor_id"].to_numpy()
        sims[qids[:, None] == nids[None, :]] = -np.inf  # self-matches out
        kk = min(k, sims.shape[1])
        # Per-query local top-k with the SAME (sim desc, neighbor_id asc)
        # tiebreak the global rank uses — argpartition would keep an
        # arbitrary member of a tied boundary group and could drop the
        # neighbor the deterministic global tiebreak wants. Columns are
        # pre-ordered by neighbor_id, so a stable sort on -sim alone
        # yields exactly that order.
        nord = np.argsort(nids, kind="stable")
        nids_s, sims_s = nids[nord], sims[:, nord]
        top = np.argsort(-sims_s, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(len(qids)), kk)
        cols = top.ravel()
        out = pd.DataFrame(
            {
                "query_id": qids[rows],
                "neighbor_id": nids_s[cols],
                "sim": sims_s[rows, cols],
            }
        )
        return out[out["sim"] != -np.inf]

    cand = probes.groupBy("cell").cogroup(members.groupBy("cell")).applyInPandas(
        crossing(cell_topk), "query_id LONG, neighbor_id LONG, sim DOUBLE"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("sim", 6).alias("cos_sim"),
        )
    )


_CD_NF_V = "(isnan(v) OR abs(v) = CAST('Infinity' AS DOUBLE))"
_CD_NF_SQ = "(isnan(sq) OR abs(sq) = CAST('Infinity' AS DOUBLE))"


@query(
    "llm_centroid_dist",
    f"""
    WITH x AS (
      SELECT
        vec_id, label,
        unnest(CAST(embedding AS DOUBLE[])) AS v,
        unnest(generate_series(1, len(embedding))) AS p
      FROM embeddings
    ),
    c AS (
      SELECT label, p,
        CASE WHEN isnan(sspec) OR sspec != 0.0 THEN sspec / cnt
             ELSE CAST(sfin AS DOUBLE) / cnt END AS cv
      FROM (
        SELECT label, p,
          SUM(CASE WHEN NOT {_CD_NF_V}
              THEN CAST(v AS DECIMAL(18,9)) END) AS sfin,
          SUM(CASE WHEN {_CD_NF_V} THEN v ELSE 0.0 END) AS sspec,
          COUNT(*) AS cnt
        FROM x GROUP BY label, p
      )
    )
    SELECT vec_id, label,
      ROUND(sqrt(CASE WHEN isnan(qspec) OR qspec != 0.0 THEN qspec
                      ELSE CAST(qfin AS DOUBLE) END), 6) AS dist_to_centroid
    FROM (
      SELECT x.vec_id, CAST(x.label AS BIGINT) AS label,
        SUM(CASE WHEN NOT {_CD_NF_SQ}
            THEN CAST(sq AS DECIMAL(18,12)) END) AS qfin,
        SUM(CASE WHEN {_CD_NF_SQ} THEN sq ELSE 0.0 END) AS qspec
      FROM (
        SELECT x.vec_id, x.label, x.p, x.v,
               (x.v - c.cv) * (x.v - c.cv) AS sq
        FROM x JOIN c ON x.label = c.label AND x.p = c.p
      ) x
      GROUP BY x.vec_id, x.label
    )
    """,
)
def llm_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding ops: per-label centroids (exact decimal-averaged per
    dimension) and each vector's euclidean distance to its label centroid.
    posexplode → two keyed aggregations — the distributed formulation that
    never materializes a dense matrix anywhere. Both aggregation stages
    carry dsum's two-channel specials form (r10 tier): a NaN/±Inf element
    makes its dimension's centroid — and every distance through it —
    non-finite IEEE-style instead of crashing the decimal cast."""
    wh = Warehouse(spark, sf_dir)
    x = wh.embeddings.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v"),
    )
    v = F.col("v")
    nf_v = nonfinite(v)
    cagg = x.groupBy("label", "p").agg(
        F.sum(F.when(~nf_v, v).cast("decimal(18,9)")).alias("sfin"),
        F.sum(F.when(nf_v, v).otherwise(F.lit(0.0))).alias("sspec"),
        F.count(F.lit(1)).alias("cnt"),
    )
    c = cagg.select(
        "label",
        "p",
        F.when(
            F.isnan(F.col("sspec")) | (F.col("sspec") != 0.0),
            F.col("sspec") / F.col("cnt"),
        )
        .otherwise(F.col("sfin").cast("double") / F.col("cnt"))
        .alias("cv"),
    )
    sq = (F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv"))
    nf_sq = nonfinite(F.col("sq"))
    qagg = (
        x.join(c, ["label", "p"])
        .withColumn("sq", sq)
        .groupBy("vec_id", F.col("label").cast("long").alias("label"))
        .agg(
            F.sum(F.when(~nf_sq, F.col("sq")).cast("decimal(18,12)")).alias(
                "qfin"
            ),
            F.sum(F.when(nf_sq, F.col("sq")).otherwise(F.lit(0.0))).alias(
                "qspec"
            ),
        )
    )
    return qagg.select(
        "vec_id",
        "label",
        F.round(
            F.sqrt(
                F.when(
                    F.isnan(F.col("qspec")) | (F.col("qspec") != 0.0),
                    F.col("qspec"),
                ).otherwise(F.col("qfin").cast("double"))
            ),
            6,
        ).alias("dist_to_centroid"),
    )


@query(
    "llm_embedding_quantize",
    """
    WITH s AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS e,
             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x)), 'max') AS scale
      FROM embeddings
    )
    SELECT
      vec_id,
      scale,
      array_to_string(list_transform(e,
        x -> COALESCE(CAST(
          CASE WHEN NOT (isnan(x / scale * 127) OR abs(x / scale * 127) = CAST('Infinity' AS DOUBLE))
               THEN CAST(floor(x / scale * 127) AS INTEGER) END
          AS VARCHAR), 'x')), ',') AS codes,
      list_aggregate(list_transform(e,
        x -> CASE WHEN NOT (isnan(x / scale * 127) OR abs(x / scale * 127) = CAST('Infinity' AS DOUBLE))
             THEN abs(floor(x / scale * 127) * scale / 127 - x) END),
        'max') AS max_abs_err
    FROM s
    """,
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-wise symmetric int8 quantization of the embedding column (the
    4×-compression step before an ANN index ships to serving): per-vector
    scale = max |x|, code = floor(x/scale·127), plus the reconstruction
    error bound actually achieved. floor() (not round — HALF_UP vs
    banker's differs between engines) and pure IEEE arithmetic keep both
    engines bit-identical; codes serialize to a CSV string so the hash
    compares scalars, not array-object representations. Narrow map, zero
    shuffles, scan speed at any corpus size."""
    wh = Warehouse(spark, sf_dir)
    s = wh.embeddings.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    ).withColumn(
        "scale", F.array_max(F.transform("e", lambda x: F.abs(x)))
    )
    # SPECIALS (r10 tier): an element whose scaled value x/scale*127 is
    # NaN/±Inf has no int8 code (the INT cast throws in both engines) —
    # it renders as an explicit 'x' marker in the CSV (positions kept;
    # a bare skip would silently shift every later code) and drops out
    # of the reconstruction-error max. A NaN scale (any NaN element —
    # both engines' max is NaN-greatest) marks the whole vector.
    t = lambda x: x / F.col("scale") * 127  # noqa: E731
    code = lambda x: F.when(  # noqa: E731
        ~nonfinite(t(x)), F.floor(t(x)).cast("int")
    )
    return s.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform("e", lambda x: code(x).cast("string")), ",", "x"
        ).alias("codes"),
        F.array_max(
            F.transform(
                "e",
                lambda x: F.when(
                    ~nonfinite(t(x)),
                    F.abs(
                        code(x).cast("double") * F.col("scale") / 127 - x
                    ),
                ),
            )
        ).alias("max_abs_err"),
    )


_PROJ_DIM = 16  # output dimensionality of the signed projection

# Deterministic ±1 sign matrix both engines can compute bit-identically:
# s(i, j) = +1 iff ((i+7)·(j+13)·2654435761) mod 1000 < 500. Integer-only,
# so Spark and DuckDB agree exactly; a production system would use a
# seeded Gaussian/sparse JL matrix — the plan shape is identical.
_PROJ_SIGN_SQL = "CASE WHEN ((i+7)*(j+13)*2654435761) % 1000 < 500 THEN 1.0 ELSE -1.0 END"


_PROJ_TERM = f"(v * {_PROJ_SIGN_SQL})"
_PROJ_NF = f"(isnan({_PROJ_TERM}) OR abs({_PROJ_TERM}) = CAST('Infinity' AS DOUBLE))"


@query(
    "llm_random_projection",
    f"""
    WITH x AS (
      SELECT vec_id,
             unnest(CAST(embedding AS DOUBLE[])) AS v,
             unnest(generate_series(0, len(embedding) - 1)) AS i
      FROM embeddings
    ),
    s AS (
      SELECT
        vec_id,
        CAST(j AS BIGINT) AS out_dim,
        CASE WHEN isnan(sspec) OR sspec != 0.0 THEN sspec
             ELSE CAST(sfin AS DOUBLE) END / sqrt({_PROJ_DIM}) AS raw
      FROM (
        SELECT vec_id, j,
          SUM(CASE WHEN NOT {_PROJ_NF}
              THEN CAST({_PROJ_TERM} AS DECIMAL(28,10)) END) AS sfin,
          SUM(CASE WHEN {_PROJ_NF} THEN {_PROJ_TERM} ELSE 0.0 END) AS sspec
        FROM x CROSS JOIN generate_series(0, {_PROJ_DIM - 1}) AS t(j)
        GROUP BY vec_id, j
      )
    )
    SELECT vec_id, out_dim,
      CASE WHEN isnan(raw) OR abs(raw) = CAST('Infinity' AS DOUBLE)
           THEN raw ELSE ROUND(raw, 6) + 0 END AS proj
    FROM s
    """,
)
def llm_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection (Johnson–Lindenstrauss family): reduce the
    embedding to 16 dims via a deterministic ±1 sign matrix —
    the standard cheap preprocessing before LSH bucketing or coarse ANN,
    and the dense-matrix analog of SimHash's hyperplane signs. Long-format
    output (vec_id, out_dim, proj).

    Scale shape: posexplode the (rebalanced) corpus, broadcast the tiny
    output-dimension range, one two-phase keyed agg — a pure GEMM-by-join
    that stays in whole-stage codegen; cost is O(N·d·k) map-side work with
    partial aggregation, no driver materialization. Sums go through
    DECIMAL(28,10) per term so accumulation order (partitioning) cannot
    move the rounded result.

    NEGATIVE-ZERO normalization (vec100 tier find, r08): projections are
    the one rounded output whose domain crosses zero, and the engines'
    ROUND disagree on the sign of zero — Spark's BigDecimal HALF_UP
    round has no -0.0, DuckDB's IEEE round keeps it (ROUND(-1e-9, 6) →
    -0.0), so a tiny-negative projection hashes as '-0.0' vs '0.0'
    under the driver's repr hash (2 of 3.2M rows at 200k vectors).
    Both sides add +0 after the round: IEEE (-0.0) + (+0.0) = +0.0."""
    wh = Warehouse(spark, sf_dir)
    x = rebalance(wh.embeddings, "vec_id").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v"),
    )
    dims = wh.spark.range(_PROJ_DIM).select(F.col("id").alias("j"))
    sign = F.when(
        ((F.col("i") + 7) * (F.col("j") + 13) * F.lit(2654435761)) % 1000 < 500,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    term = F.col("v") * sign
    nf = nonfinite(term)
    agg = (
        x.crossJoin(F.broadcast(dims))
        .groupBy("vec_id", F.col("j").cast("long").alias("out_dim"))
        .agg(
            F.sum(F.when(~nf, term).cast("decimal(28,10)")).alias("sfin"),
            F.sum(F.when(nf, term).otherwise(F.lit(0.0))).alias("sspec"),
        )
    )
    raw = (
        F.when(
            F.isnan(F.col("sspec")) | (F.col("sspec") != 0.0), F.col("sspec")
        ).otherwise(F.col("sfin").cast("double"))
        / F.lit(_PROJ_DIM) ** 0.5
    )
    return agg.select(
        "vec_id",
        "out_dim",
        F.when(nonfinite(raw), raw)
        .otherwise(F.round(raw, 6) + F.lit(0.0))
        .alias("proj"),
    )
