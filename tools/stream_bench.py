"""Streaming throughput benchmark: replay a (replicated) events table
through the full warehouse streaming topology — file source with explicit
schema, broadcast dimension enrichment, JSON prop extraction, watermarked
tumbling-window aggregation, availableNow trigger into a memory sink — and
report end-to-end rows/sec. The bounded replay measures the same
micro-batch machinery (state store, watermark advance, incremental
planning) an unbounded run uses; Kafka swaps in for the file source with
identical downstream plans.

Usage: python tools/stream_bench.py [k]   (events replicated k×, default 10)
       python tools/stream_bench.py --stateful [k]
         (same replay through the applyInPandasWithState keyed-state path —
          per-user latest-image compaction — measuring the Python-state
          operator family's events/s instead of the JVM-only topology)
       python tools/stream_bench.py --perrow [k]
         (per-row-emission running sum on applyInPandasWithState)
       python tools/stream_bench.py --batch-overhead [k]
         (single-batch vs one-batch-per-file replay → the wall cost of
          one extra micro-batch: state-store commit + checkpoint)
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


def stateful_main() -> None:
    """Throughput of the keyed Python-state path: per-user latest-image
    compaction via applyInPandasWithState (RocksDB state store, one state
    row per key group). This is the family every custom stateful operator
    (CDC compaction, SCD2, timers, NFA) pays for — Arrow batches in, keyed
    state rows, Arrow out."""
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("stream-bench-stateful")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        latest_image_state_fn,
    )
    from tools.scale_probe import build

    sf_dir = SRC if k == 1 else build(spark, k)
    ev_path = os.path.join(sf_dir, "events.parquet")
    n_events = spark.read.parquet(ev_path).count()
    if os.path.isdir(ev_path):
        sdf = file_stream_source(spark, ev_path, EVENTS_DDL)
    else:
        sdf = file_stream_source(spark, sf_dir, EVENTS_DDL, glob="events.parquet")
    out = apply_with_state(
        sdf.select("user_id", "event_id", "ts", "event_type", "value"),
        "user_id",
        latest_image_state_fn,
    )
    t0 = time.perf_counter()
    n_out = run_available_now(out, "append").count()
    dt = time.perf_counter() - t0
    print(
        f"streamed {n_events} events through applyInPandasWithState "
        f"latest-image in {dt:.2f}s = {n_events / dt / 1e3:.0f}k events/s "
        f"({n_out} state emissions)"
    )
    spark.stop()


def asof_main() -> None:
    """Throughput of the r06c streaming as-of twins: the same replicated
    replay through temporal (latest-version enrich), forward (pending
    flush) and nearest (provisional + correction) keyed-state joins —
    the full event stream is keyed and scanned, facts/versions filtered
    inside the fn's batch, so events/s is comparable with --stateful."""
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("stream-bench-asof")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        forward_asof_state_fn,
        nearest_asof_state_fn,
        temporal_join_state_fn,
    )
    from tools.scale_probe import build

    sf_dir = SRC if k == 1 else build(spark, k)
    ev_path = os.path.join(sf_dir, "events.parquet")
    n_events = spark.read.parquet(ev_path).count()
    for name, fn in (
        ("temporal", temporal_join_state_fn),
        ("forward", forward_asof_state_fn),
        ("nearest", nearest_asof_state_fn),
    ):
        if os.path.isdir(ev_path):
            sdf = file_stream_source(spark, ev_path, EVENTS_DDL)
        else:
            sdf = file_stream_source(
                spark, sf_dir, EVENTS_DDL, glob="events.parquet"
            )
        out = apply_with_state(
            sdf.filter(F.col("event_type").isin("click", "purchase")).select(
                "user_id", "event_id", "ts", "event_type", "value"
            ),
            "user_id",
            fn,
        )
        t0 = time.perf_counter()
        n_out = run_available_now(out, "append").count()
        dt = time.perf_counter() - t0
        print(
            f"asof-{name:<8} {n_events} events in {dt:.2f}s = "
            f"{n_events / dt / 1e3:.0f}k events/s ({n_out} emissions)",
            flush=True,
        )
    spark.stop()


def perrow_main() -> None:
    """Throughput of the PER-ROW-emission state path: the streaming OVER
    mitigation (running_sum_state_fn) emits one enriched row per input
    row — output volume equals input volume, the heaviest Arrow-out shape
    a stateful operator can have (latest-image above emits one row per
    KEY per batch). The delta vs --stateful is the cost of row-level
    emission itself."""
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("stream-bench-perrow")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        running_sum_state_fn,
    )
    from tools.scale_probe import build

    sf_dir = SRC if k == 1 else build(spark, k)
    ev_path = os.path.join(sf_dir, "events.parquet")
    n_events = spark.read.parquet(ev_path).count()
    if os.path.isdir(ev_path):
        sdf = file_stream_source(spark, ev_path, EVENTS_DDL)
    else:
        sdf = file_stream_source(spark, sf_dir, EVENTS_DDL, glob="events.parquet")
    out = apply_with_state(
        sdf.select("user_id", "event_id", "value"),
        "user_id",
        running_sum_state_fn,
    )
    t0 = time.perf_counter()
    n_out = run_available_now(out, "append").count()
    dt = time.perf_counter() - t0
    print(
        f"streamed {n_events} events through running_sum per-row state in "
        f"{dt:.2f}s = {n_events / dt / 1e3:.0f}k events/s "
        f"({n_out} enriched rows out)"
    )
    spark.stop()


def batch_overhead_main() -> None:
    """Per-BATCH overhead of the keyed-state path: replay the same ×k
    events through the latest-image topology twice — once as a single
    availableNow batch, once split into one micro-batch per input file
    (maxFilesPerTrigger=1) — and report (multi-batch wall − single-batch
    wall) / extra batches. That difference is what one extra micro-batch
    costs: state-store commit + checkpoint, independent of row volume."""
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("stream-bench-overhead")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        latest_image_state_fn,
    )
    from tools.scale_probe import build

    sf_dir = SRC if k == 1 else build(spark, k)
    # Stage the events into n_files explicit chunk files (the replica
    # build coalesces to one file, which would make the multi-batch leg a
    # no-op): maxFilesPerTrigger=1 then yields exactly n_files batches.
    n_files = 8
    from tools.scale_probe import WORK

    staging = f"{WORK}/overhead_x{k}_{n_files}"
    if not os.path.exists(os.path.join(staging, "_OK")):
        import shutil

        os.makedirs(staging, exist_ok=True)
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        n_ev = ev.selectExpr("max(event_id)").collect()[0][0] + 1
        for i in range(n_files):
            tmp = os.path.join(staging, f"_part{i}")
            ev.filter(
                (F.col("event_id") >= i * n_ev / n_files)
                & (F.col("event_id") < (i + 1) * n_ev / n_files)
            ).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f for f in os.listdir(tmp) if f.endswith(".parquet")
            )
            os.rename(
                os.path.join(tmp, part),
                os.path.join(staging, f"chunk{i}.parquet"),
            )
            shutil.rmtree(tmp)
        open(os.path.join(staging, "_OK"), "w").close()

    def run(mft: int | None) -> float:
        sdf = file_stream_source(
            spark, staging, EVENTS_DDL, max_files_per_trigger=mft
        ).select("user_id", "event_id", "ts", "event_type", "value")
        out = apply_with_state(sdf, "user_id", latest_image_state_fn)
        t0 = time.perf_counter()
        run_available_now(out, "append").count()
        return time.perf_counter() - t0

    run(None)  # warm codegen/state machinery off the clock
    one = run(None)
    many = run(1)
    extra = max(n_files - 1, 1)
    print(
        f"1 batch {one:5.2f}s | {n_files} batches {many:5.2f}s "
        f"| per-extra-batch overhead {(many - one) / extra * 1e3:6.0f} ms"
    )
    spark.stop()


def main() -> None:
    if "--batch-overhead" in sys.argv:
        sys.argv.remove("--batch-overhead")
        batch_overhead_main()
        return
    if "--perrow" in sys.argv:
        sys.argv.remove("--perrow")
        perrow_main()
        return
    if "--asof" in sys.argv:
        sys.argv.remove("--asof")
        asof_main()
        return
    if "--stateful" in sys.argv:
        sys.argv.remove("--stateful")
        stateful_main()
        return
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
