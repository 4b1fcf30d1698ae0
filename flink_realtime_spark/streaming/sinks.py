"""Streaming sinks — SURVEY.md §2.1.

Reference capability: Kafka DWD/DWS emission and keyed upsert into an OLAP
store (ClickHouse/HBase/Redis style) at the ADS layer (provenance
FLINK/ARCH; snapshot is README-only, /root/reference/README.md:1-2).
Spark-first: ``writeStream`` with ``foreachBatch`` for idempotent keyed
upserts — Spark's update-mode answer to Flink retract streams
(SURVEY.md §7.4): the sink absorbs changelog semantics by merging each
micro-batch into the keyed store.

Scale notes (100 TB): the parquet upsert store here is the test-scale
stand-in for a real keyed sink (Delta/Iceberg MERGE, ClickHouse
ReplacingMergeTree, HBase put). The merge is keyed — cost scales with
(store keys + batch rows), not history; date-partition ADS outputs so
downstream scans prune.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_spark.plans.layout import recover_dir, replace_dir
from flink_realtime_spark.registry import query
from flink_realtime_spark.streaming.sources import events_stream
from flink_realtime_spark.streaming.stateful import latest_image
from flink_realtime_spark.tables import Warehouse


def kafka_json_payload(df: DataFrame) -> DataFrame:
    """The Kafka value serializer: whole row → JSON with microsecond
    timestamps (the to_json default truncates to ms — the payload must
    roundtrip through kafka_json_source losslessly; tested in
    tests/test_streaming.py)."""
    from flink_realtime_spark.streaming.sources import JSON_TS_OPTS

    return df.select(
        F.to_json(F.struct(*df.columns), JSON_TS_OPTS).alias("value")
    )


def kafka_json_sink(df: DataFrame, brokers: str, topic: str, checkpoint: str):
    """Kafka sink (Flink KafkaSink analog). Plan builder only in this
    container (no broker)."""
    payload = kafka_json_payload(df)
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


class ParquetUpsertStore:
    """Idempotent keyed upsert store over parquet — the foreachBatch target.
    merge() unions the incoming batch with the current store and keeps the
    latest row per key (total order via order_cols), then atomically swaps
    the store directory. Re-running a batch is a no-op → exactly-once per
    the foreachBatch contract. Every batch of a store shares one schema:
    merge() reads the store with the batch's schema rather than inferring
    it, which would cost a Spark job per micro-batch.

    Production mapping (Delta/Iceberg — the artifact cannot be vendored in
    this sandbox, acquisition attempt recorded in SCALE.md; the mapping is
    mechanical because every store op is already expressed as a keyed
    merge over a total order):

    - ``merge(batch)`` →
        ``MERGE INTO store t
        USING (SELECT * FROM batch QUALIFY ROW_NUMBER() OVER (
            PARTITION BY <keys> ORDER BY <order_cols>) = 1) s
        ON <t.k = s.k for k in keys>
        WHEN MATCHED AND (s.<order_cols> newer than t.<order_cols>)
            THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *``
      The inner QUALIFY is latest_image over the batch (same plan as
      here); the MATCHED predicate preserves the keep-latest total order
      under out-of-order replays, which the swap form gets from
      re-compacting the union.
    - tombstones (``tombstone_col``) → add
      ``WHEN MATCHED AND s.<tombstone> THEN DELETE`` before the UPDATE
      clause (and skip inserting tombstone-only keys).
    - atomicity → the table format's commit protocol replaces the
      rename-swap (``plans.layout.replace_dir``); ``recover_dir`` becomes
      unnecessary.
    - idempotent retries → MERGE re-run with the same source is a no-op
      because the MATCHED predicate is strict (older-or-equal rows don't
      overwrite), matching this store's crash-replay contract.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        order_cols,
        tombstone_col: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.keys = keys
        self.order_cols = order_cols
        # When set (a boolean column), a key whose SURVIVING row is a
        # tombstone is deleted from the store — CDC -D absorption. The
        # tombstone must win the order first, then delete: filtering the
        # batch instead would resurrect the previous image. Deleting also
        # forgets the tombstone, so an out-of-order refill OLDER than it
        # would resurrect; production stores retain tombstones for a
        # lateness horizon (Kafka compaction's delete.retention.ms) —
        # upstream state emissions here are monotone per key, so dropping
        # immediately is safe.
        self.tombstone_col = tombstone_col

    def read(self) -> DataFrame | None:
        recover_dir(self.path)
        if not os.path.isdir(self.path):
            return None
        return self.spark.read.parquet(self.path)

    def merge(self, batch_df: DataFrame) -> None:
        # The checkpoint replays a batch a hard crash interrupted; after
        # recover_dir that replay is a no-op by the latest-image contract.
        recover_dir(self.path)
        # schema-pinned read (class docstring): no inference job per batch
        merged = batch_df
        if os.path.isdir(self.path):
            current = self.spark.read.schema(batch_df.schema).parquet(self.path)
            merged = current.unionByName(batch_df, allowMissingColumns=False)
        compacted = latest_image(merged, self.keys, self.order_cols)
        if self.tombstone_col is not None:
            compacted = compacted.filter(~F.col(self.tombstone_col))
        replace_dir(self.path, compacted.write.mode("overwrite").parquet)


def upsert_sink(
    sdf: DataFrame,
    store: ParquetUpsertStore,
    checkpoint: str,
):
    """writeStream.foreachBatch keyed-upsert sink (the ARCH ADS emission)."""
    return (
        sdf.writeStream.foreachBatch(lambda bdf, _bid: store.merge(bdf))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


@query(
    "sink_upsert_latest",
    """
    SELECT user_id, event_id AS last_event_id,
           CAST(value AS DOUBLE) AS last_value
    FROM (
      SELECT *,
        ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def sink_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming upsert: replay events → foreachBatch keyed merge
    into a parquet store → read the final store back. The oracle is the
    latest-image SQL, so the whole sink path (checkpoint, merge, swap) is
    hash-checked, not just smoke-tested."""
    Warehouse(spark, sf_dir)  # pins session confs
    workdir = tempfile.mkdtemp(prefix="upsert_sink_")
    store = ParquetUpsertStore(
        spark,
        os.path.join(workdir, "store"),
        keys=["user_id"],
        order_cols=[F.col("ts").desc(), F.col("event_id").desc()],
    )
    sdf = events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", F.col("value").cast("double")
    )
    q = upsert_sink(sdf, store, os.path.join(workdir, "ckpt")).start()
    q.awaitTermination()
    out = store.read()
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )
