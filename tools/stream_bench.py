"""Streaming throughput benchmark: replay a (replicated) events table
through the full warehouse streaming topology — file source with explicit
schema, broadcast dimension enrichment, JSON prop extraction, watermarked
tumbling-window aggregation, availableNow trigger into a memory sink — and
report end-to-end rows/sec. The bounded replay measures the same
micro-batch machinery (state store, watermark advance, incremental
planning) an unbounded run uses; Kafka swaps in for the file source with
identical downstream plans.

The keyed Python-state path (applyInPandasWithState on RocksDB) is
measured trigger by trigger by `python perfbench/run.py --workload
stream_ods_ads`.

Usage: python tools/stream_bench.py [k]   (events replicated k×, default 10)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from flink_realtime_spark.exprs import dsum
from flink_realtime_spark.session import get_spark
from flink_realtime_spark.streaming.sources import (
    EVENTS_DDL,
    file_stream_source,
    run_available_now,
)
from flink_realtime_spark.tables import load_table

SRC = "/root/testdata/sf0.1"


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("stream-bench")
    from tools.scale_probe import build  # reuses the key-offset replicas

    sf_dir = SRC if k == 1 else build(spark, k)
    n_events = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).count()

    cust = load_table(spark, SRC, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, SRC, "nation").select("n_nationkey", "n_name")

    ev_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(ev_path):
        # replicated build: events.parquet is a dataset directory
        sdf = file_stream_source(spark, ev_path, EVENTS_DDL)
    else:
        sdf = file_stream_source(spark, sf_dir, EVENTS_DDL, glob="events.parquet")
    dwd = (
        sdf.withWatermark("ts", "30 minutes")
        .join(F.broadcast(cust), sdf["user_id"] == cust["c_custkey"])
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "ts",
            "n_name",
            "value",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )
    dws = dwd.groupBy(F.window("ts", "1 hour").alias("w"), "n_name").agg(
        F.count(F.lit(1)).alias("pv"),
        dsum(F.col("value")).alias("value_sum"),
        F.sum("k").alias("k_sum"),
    )

    t0 = time.perf_counter()
    out = run_available_now(
        dws.select(F.col("w.start").alias("ws"), "n_name", "pv"), "append"
    )
    n_out = out.count()
    dt = time.perf_counter() - t0
    print(
        f"streamed {n_events} events through source->broadcast dims->JSON->"
        f"windowed agg in {dt:.2f}s = {n_events / dt / 1e3:.0f}k events/s "
        f"({n_out} closed windows)"
    )
    spark.stop()


if __name__ == "__main__":
    main()
