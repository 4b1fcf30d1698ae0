"""Multimodal columns — SURVEY.md §2.10.

NORTH-mandated: text + vectors + binary media coexisting in one relation.
The join key alignment (documents.doc_id ↔ embeddings.vec_id) is the
text×vector case; binary media (image/audio/video) are opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
pipelines.

The decode stage is STUBBED by design: no image/audio libraries exist in
this container, so ``decode_media`` produces deterministic fake metadata
derived from the bytes (and raises NotImplementedError if a real codec is
requested). Everything around the stub — binary column construction, schema,
mapInPandas batching, frame-sampling explode — is real Spark plumbing and
is oracle-checked, so swapping in a real decoder is a one-function change.

Scale notes: media bytes stay columnar (parquet binary) end to end;
mapInPandas streams Arrow batches so peak memory is one batch per core, and
decode parallelism is pure map-side — repartition by size class first if
codec cost is skewed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_spark.registry import query
from flink_realtime_spark.tables import Warehouse
from flink_realtime_spark.worker import crossing


@query(
    "llm_multimodal_join",
    """
    SELECT
      d.doc_id,
      d.lang,
      CAST(d.n_chars AS BIGINT) AS n_chars,
      CAST(len(e.embedding) AS BIGINT) AS dim,
      CAST(e.label AS BIGINT) AS label,
      ROUND(sqrt(list_sum(list_transform(
        CAST(e.embedding AS DOUBLE[]), x -> x * x))), 6) AS emb_norm
    FROM documents d
    JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def llm_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text × vector multimodality: one relation holding string, numeric and
    array<float> columns (documents ⋈ embeddings on doc_id = vec_id), with a
    computed vector norm. StringType and ArrayType coexist in one schema —
    the premise of every multimodal pipeline."""
    wh = Warehouse(spark, sf_dir)
    return wh.documents.join(
        wh.embeddings, F.col("doc_id") == F.col("vec_id")
    ).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size("embedding").cast("long").alias("dim"),
        F.col("label").cast("long").alias("label"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        F.col("embedding").cast("array<double>"),
                        lambda x: x * x,
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
            6,
        ).alias("emb_norm"),
    )


def fake_media_column(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach a deterministic opaque binary 'media' column (16 md5 bytes of
    the text) + declared media_type — the stand-in for real image/audio
    payload bytes stored in a parquet binary column."""
    return df.withColumn("media", F.unhex(F.md5(F.col(text_col)))).withColumn(
        "media_type",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
    )


_DECODE_SCHEMA = (
    "doc_id LONG, media_type STRING, byte_len LONG, "
    "height LONG, width LONG, channels LONG"
)


def decode_media(real_codec: bool = False):
    """mapInPandas decode stage. The stub derives metadata deterministically
    from the first payload bytes; a real deployment replaces the body with
    PIL/libav calls (real_codec=True raises until one is installed)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if real_codec:
            raise NotImplementedError(
                "no image/audio codec libraries in this environment; "
                "install pillow/av and implement the real decode here"
            )
        for pdf in batches:
            media = pdf["media"]
            # NULL payloads (a doc with no media bytes) decode to NULL
            # metadata — .map(len) on None crashed the worker
            # (nulls-tier find). Nullable Int64 keeps the LONG schema.
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "byte_len": pd.array(
                        [len(b) if b is not None else None for b in media],
                        dtype="Int64",
                    ),
                    "height": pd.array(
                        [b[0] if b is not None else None for b in media],
                        dtype="Int64",
                    ),
                    "width": pd.array(
                        [b[1] if b is not None else None for b in media],
                        dtype="Int64",
                    ),
                    "channels": pd.array(
                        [b[2] % 4 + 1 if b is not None else None for b in media],
                        dtype="Int64",
                    ),
                }
            )

    return _decode


@query(
    "llm_media_meta",
    """
    SELECT
      doc_id,
      ['image', 'audio', 'video'][CAST(doc_id % 3 AS INTEGER) + 1]
        AS media_type,
      CAST(CASE WHEN text IS NULL THEN NULL ELSE 16 END AS BIGINT)
        AS byte_len,
      CAST(CAST(('0x' || substr(md5(text), 1, 2)) AS INTEGER) AS BIGINT)
        AS height,
      CAST(CAST(('0x' || substr(md5(text), 3, 2)) AS INTEGER) AS BIGINT)
        AS width,
      CAST(CAST(('0x' || substr(md5(text), 5, 2)) AS INTEGER) % 4 + 1 AS BIGINT)
        AS channels
    FROM documents
    """,
)
def llm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-media decode pipeline: attach opaque bytes → mapInPandas
    (Arrow batches) → typed metadata. The oracle recomputes the stub's
    metadata from the md5 hex directly, so the whole binary/mapInPandas
    plumbing — not just the stub arithmetic — is hash-checked."""
    wh = Warehouse(spark, sf_dir)
    with_media = fake_media_column(wh.documents.select("doc_id", "text"))
    return with_media.mapInPandas(crossing(decode_media()), _DECODE_SCHEMA)


@query(
    "llm_frame_sample",
    """
    SELECT
      doc_id,
      CAST(unnest(generate_series(0,
        CAST(n_chars % 7 AS BIGINT), 2)) AS BIGINT) AS frame_idx,
      CAST(n_chars % 7 + 1 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def llm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling pattern: a media row fans out to every 2nd
    frame index (stride sampling). Here frame count is derived
    deterministically from metadata; a real pipeline replaces the count
    with container metadata and decodes each sampled frame in a downstream
    mapInPandas — the explode shape is what matters at scale (frame rows,
    never frame bytes, cross the shuffle)."""
    wh = Warehouse(spark, sf_dir)
    n_frames = (F.col("n_chars") % 7 + 1).cast("long")
    return wh.documents.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), n_frames - 1, F.lit(2).cast("long"))
        ).alias("frame_idx"),
        n_frames.alias("n_frames"),
    )

