"""Fixed-schema loaders for the ten warehouse tables (FIXTURES.md).

A schema-less ``spark.read.parquet`` runs a Spark job that reads the
files' footers to resolve the schema. ``Warehouse`` is the single entry
point queries use — it pins session confs (session.prepare) and serves
cached DataFrames per (session, sf_dir), so that job runs once per table
per session; a ``load_table(fresh=True)`` scan reuses the schema the
cached scan resolved and runs none.

Scale notes (100 TB posture):
- A production deployment points sf_dir at a partitioned lake path; the scan
  benefits from partition pruning when layers are written partitioned by
  date (see streaming/sinks.py).
- Small dimensions (region/nation/supplier at warehouse scale) are served
  broadcast-ready; fact tables are never collected or cached driver-side.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_spark.session import prepare

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimensions small enough to broadcast at any realistic scale factor.
BROADCAST_DIMS = {"region", "nation"}


def path_for(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS), which different Spark builds
    surface differently: as ns-since-epoch BIGINT (legacy nanosAsLong path)
    or as TIMESTAMP_NTZ truncated to µs (native nanos read); Spark-rewritten
    scale fixtures carry instant TIMESTAMP. Normalize ALL of them to
    microsecond TIMESTAMP_NTZ — the engine's event-time contract is
    WALL-CLOCK (naive), matching the DuckDB oracle's TIMESTAMP and, more
    importantly, the driver boundary: pyspark's collect() renders an
    instant TIMESTAMP through the Python process's LOCAL zone (ignoring
    the session tz pin), so any LTZ output column shifts by the host's
    UTC offset on a non-UTC driver box (r10 non-UTC sweep: 38 keys, every
    ts-derived output, 5 h off under TZ=America/New_York). NTZ values
    collect as the same naive datetime under any host zone. The LTZ→NTZ /
    micros→NTZ casts are exact reinterpretations under the session.prepare
    UTC pin, which is active whenever this runs (load_table prepares
    first)."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        # Integer DIV keeps the conversion exact (ns-since-epoch exceeds
        # double's 2^53 mantissa).
        df = df.withColumn(
            col,
            F.expr(
                f"CAST(timestamp_micros(CAST({col} DIV 1000 AS LONG)) "
                "AS TIMESTAMP_NTZ)"
            ),
        )
    elif dt == "timestamp":
        df = df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    return df


# Session-scoped DataFrame cache: a DataFrame is an immutable plan, so the
# same (sf_dir, table) plan can serve every query in the session. Rebuilding
# it per key costs a file listing + footer schema read (~30-60 ms/table,
# ~25 s across a full 162-key driver sweep). Weak keying lets closed
# sessions release their plans. The cached plan snapshots the FILE LISTING:
# if a fixture directory is rewritten mid-session (compaction, regenerated
# test data), call evict_table_cache() first or the stale listing will
# read missing/pre-rewrite files. Each entry is (the raw scan's schema, the
# served plan); fresh scans read with that schema.
_DF_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def evict_table_cache(sf_dir: str | None = None) -> None:
    """Drop cached scan plans — all of them, or those at or under
    ``sf_dir`` (prefix match, so evicting a parent directory evicts every
    fixture dir beneath it). Required before re-reading a table whose
    parquet directory was rewritten in-place during this session."""
    if sf_dir is None:
        _DF_CACHE.clear()
        return
    prefix = os.path.abspath(sf_dir)
    for per_session in _DF_CACHE.values():
        for key in [
            k
            for k in per_session
            if k[0] == prefix or k[0].startswith(prefix + os.sep)
        ]:
            del per_session[key]


def rebalance(df: DataFrame, key: str = None) -> DataFrame:
    """Ensure a CPU-dense narrow stage runs with parallelism >= cores.

    Parquet scans partition by BYTES (maxPartitionBytes), which is right for
    IO-bound work but starves compute-dense transforms over byte-small
    inputs: a 1 MB single-row-group documents file is ONE task no matter how
    expensive the per-row work (shingling, signature hashing) — and a
    single-row-group file cannot be split, so minPartitionNum can't help.
    This is the same mismatch AQE's rebalance fixes for shuffle stages,
    applied to the scan side: hash-repartition to the session's parallelism
    BEFORE the dense transform. Gated on the input's current partition
    count, so at real scale (scan already wider than the core count) it is
    an exact no-op and costs nothing; when it does fire, it ships raw rows
    once — negligible against the transform CPU it parallelizes.

    ``key`` (a column name) makes the placement a deterministic hash
    partitioning; without it Spark uses round-robin, fine for stateless
    per-row work."""
    try:
        sc_parallelism = df.sparkSession.sparkContext.defaultParallelism
        n_parts = df.rdd.getNumPartitions()
    except Exception:
        # Spark Connect: no SparkContext handle and no .rdd — the gate
        # cannot probe the scan's width, and blindly adding a full-data
        # exchange would be wrong at real scale, so decline (query still
        # runs, at the scan's own parallelism).
        return df
    if n_parts >= sc_parallelism:
        return df
    if key is not None:
        return df.repartition(sc_parallelism, F.col(key))
    return df.repartition(sc_parallelism)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fresh: bool = False
) -> DataFrame:
    """``fresh=True`` bypasses the cache and returns a new scan plan with
    its own attribute ids — required when a query must cogroup/self-join
    two branches of the same table (Spark rejects one shared plan as
    ambiguous). A fresh scan reads with the schema the session's cached
    scan resolved, so it launches no footer-reading job."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    prepare(spark)  # timezone/nanos confs must be set before the read resolves
    path = path_for(sf_dir, name)
    per_session = _DF_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    if key not in per_session:
        scan = spark.read.parquet(path)
        df = normalize_event_ts(scan) if name == "events" else scan
        per_session[key] = (scan.schema, df)
    schema, df = per_session[key]
    if not fresh:
        return df
    scan = spark.read.schema(schema).parquet(path)
    return normalize_event_ts(scan) if name == "events" else scan


class Warehouse:
    """Per-(session, sf_dir) table accessor used by every registered query."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = prepare(spark)
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)
