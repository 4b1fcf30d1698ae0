"""Physical layout strategies for warehouse layers — SCALE.md made concrete.

The ARCH layers (DWD/DWS/ADS) are materialized as parquet datasets whose
layout is chosen for the downstream read pattern:

- ``write_partitioned_layer``: hive-style partition directories on a
  low-cardinality column (date, event_type). Readers filtering on the
  partition column scan only matching directories (static partition
  pruning — zero IO for pruned partitions, visible as PartitionFilters in
  the scan node).
- ``write_bucketed_table``: pre-shuffled bucketed layout on a join/agg key.
  Two tables bucketed on the same key with the same bucket count join with
  NO exchange on either side — at 100 TB this turns the nightly
  fact-to-fact join from the dominant shuffle into a local zip.
  (Bucketing requires the table catalog: saveAsTable, not plain paths.)
- ``replace_dir`` / ``recover_dir``: the one crash-safe directory swap
  every store the engine rewrites goes through (the upsert sink, the MV
  and late-refire stores, compaction).

tests/test_layout.py asserts both properties against the actual plans,
and the swap's behaviour in every post-crash directory state.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def recover_dir(path: str) -> None:
    """Undo what a hard crash (SIGKILL/power loss) inside ``replace_dir``
    left behind, where its in-process rollback never ran. If ``path`` is
    gone, the only complete copy is ``path.old``: rename it back, or the
    store would silently reinitialize from the next batch alone. Any
    staging dir is a partial write of the interrupted batch (the streaming
    checkpoint replays it) and any ``.old`` next to a complete ``path`` is
    the previous state, so both are dropped. Call it before reading the
    store, from the store's single writer process."""
    path = path.rstrip("/")
    if not os.path.isdir(path) and os.path.isdir(path + ".old"):
        os.rename(path + ".old", path)
    shutil.rmtree(path + ".staging", ignore_errors=True)
    shutil.rmtree(path + ".old", ignore_errors=True)


def replace_dir(path: str, write: Callable[[str], None]) -> None:
    """Replace the directory ``path`` with what ``write(staging)`` writes
    into a sibling staging dir, by two renames on one filesystem (path
    aside, staging in). ``path`` is never deleted before the new copy is
    in place, so a crash at any point leaves a complete copy that
    ``recover_dir`` restores; an exception (any ``BaseException``) rolls
    the renames back in process. On a real lake the table format's commit
    protocol (Delta/Iceberg) takes this role."""
    path = path.rstrip("/")
    staging, old = path + ".staging", path + ".old"
    shutil.rmtree(staging, ignore_errors=True)
    write(staging)
    shutil.rmtree(old, ignore_errors=True)
    try:
        if os.path.isdir(path):
            os.rename(path, old)
        os.rename(staging, path)
    except BaseException:
        recover_dir(path)
        raise
    shutil.rmtree(old, ignore_errors=True)


def write_partitioned_layer(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def read_layer(spark: SparkSession, path: str) -> DataFrame:
    recover_dir(path)
    return spark.read.parquet(path)


def compact_layer(
    spark: SparkSession, path: str, target_files: int, order_cols: list[str] | None = None
) -> None:
    """Small-file compaction (the OPTIMIZE pass every streaming sink needs:
    micro-batches write a file per trigger per partition, and a month of
    5-minute triggers is ~10k files whose open/footer cost dominates reads).
    Rewrites the dataset into ``target_files`` files, optionally
    sort-within-partition on the hot filter/join key so row-group min/max
    pruning works on point lookups. The swap is ``replace_dir``'s, so a
    crash at any point leaves a complete copy that the next ``read_layer``
    or ``compact_layer`` recovers. On a real lake this is Delta/Iceberg
    OPTIMIZE or a partition-scoped rewrite job."""
    recover_dir(path)
    df = spark.read.parquet(path)
    out = df.coalesce(target_files)
    if order_cols:
        out = df.repartition(target_files).sortWithinPartitions(*order_cols)
    replace_dir(path, out.write.mode("overwrite").parquet)
