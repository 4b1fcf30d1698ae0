"""User-defined function surface — SURVEY.md §2.11.

Reference capability: Flink ScalarFunction / AggregateFunction /
TableFunction (provenance FLINK; snapshot is README-only,
/root/reference/README.md:1-2). Spark-first policy: the slow path is
opt-in and always Arrow-vectorized — ``pandas_udf`` scalar and grouped-agg
variants move columnar batches, never rows; the table function is a Spark 4
``F.udtf``. Row-at-a-time ``F.udf`` is deliberately absent from the engine
surface (10-100× slower; NORTH 100 TB mandate).

UDF objects are built lazily (inside the query functions) because
``pandas_udf`` return-type parsing needs an active SparkSession, and this
module imports at registry load time, before the driver's session exists.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_spark.exprs import finite_sql
from flink_realtime_spark.registry import query
from flink_realtime_spark.tables import Warehouse
from flink_realtime_spark.worker import crossing


def _net_price_batches(batches):
    # Vectorized scalar kernel over RAW Arrow batches (Flink
    # ScalarFunction analog on the Arrow-native path). mapInArrow, not
    # pandas_udf, on purpose (r10 specials tier): the pandas float64
    # boundary COLLAPSES NULL and NaN — Arrow→pandas turns NULL inputs
    # into NaN, and pyspark's pandas→Arrow return conversion
    # (Array.from_pandas) turns every NaN back into NULL, so a genuine
    # NaN measurement silently became missing and no masked-dtype trick
    # survives the return trip. pyarrow.compute keeps validity and NaN
    # as the distinct things they are.
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        net = pc.multiply(
            b.column("l_extendedprice"),
            pc.subtract(pa.scalar(1.0, pa.float64()), b.column("l_discount")),
        )
        yield pa.RecordBatch.from_arrays(
            [b.column("l_orderkey"), b.column("l_linenumber"), net],
            names=["l_orderkey", "l_linenumber", "net_price"],
        )


@query(
    "udf_scalar_pandas",
    """
    SELECT
      l_orderkey,
      l_linenumber,
      CAST(l_extendedprice * (1 - l_discount) AS DOUBLE) AS net_price
    FROM lineitem
    WHERE l_quantity >= 45
    """,
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = Warehouse(spark, sf_dir)
    return wh.lineitem.filter(F.col("l_quantity") >= 45).mapInArrow(
        crossing(_net_price_batches),
        "l_orderkey BIGINT, l_linenumber INT, net_price DOUBLE",
    )


@lru_cache(maxsize=1)
def _median_udaf():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    @crossing
    def median_agg(v: pd.Series) -> float:
        # Grouped-aggregate pandas UDF (Flink AggregateFunction analog).
        # Median is order-insensitive → deterministic across batchings.
        # SQL MEDIAN skips NULLs (NaN here) and is NULL on an all-NULL
        # group — np.median would NaN-poison instead (nulls-tier find).
        # Order statistics run over the FINITE subset (the agg_stats r10
        # contract): ±Inf has no interpolable position either, and the
        # oracle mirrors with a finite-filtered MEDIAN.
        arr = v.to_numpy(dtype=np.float64)
        arr = arr[np.isfinite(arr)]
        return float(np.median(arr)) if len(arr) else None

    return median_agg


@query(
    "udaf_grouped_pandas",
    f"""
    SELECT
      l_returnflag,
      ROUND(MEDIAN({finite_sql('l_extendedprice')}), 4) AS med_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = Warehouse(spark, sf_dir)
    return wh.lineitem.groupBy("l_returnflag").agg(
        F.round(_median_udaf()("l_extendedprice"), 4).alias("med_price")
    )


@lru_cache(maxsize=1)
def _split_words_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, pos int")
    class SplitWords:
        # Table function (Flink TableFunction / LATERAL analog):
        # one input string → N (word, position) rows.
        @crossing
        def eval(self, text: str):
            # NULL text → no rows, matching unnest(str_split(NULL, ' '))
            # in SQL (nulls-tier find: .split on None raised).
            if text is None:
                return
            for i, w in enumerate(text.split(" "), start=1):
                if w:
                    yield w, i

    return SplitWords


@query(
    "udtf_split_rows",
    """
    SELECT
      doc_id,
      unnest(str_split(text, ' ')) AS word,
      CAST(unnest(generate_series(1, len(str_split(text, ' ')))) AS BIGINT)
        AS pos
    FROM documents
    WHERE doc_id < 100
    """,
)
def udtf_split_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = Warehouse(spark, sf_dir)
    docs = wh.documents.filter(F.col("doc_id") < 100)
    split_words = _split_words_udtf()
    return docs.lateralJoin(
        split_words(F.col("text").outer()).alias("t")
    ).select("doc_id", "word", F.col("pos").cast("long").alias("pos"))
