"""Hot-key stress for the r06c as-of twins: all 1M x10 events remapped to
ONE user (bot-account shape), plus the worst-case pending-array shape for
forward/nearest (every click precedes the single purchase, so the whole
fact volume sits in one key's state array before one flush)."""
import os, sys, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F

from flink_realtime_spark.session import get_spark
from flink_realtime_spark.streaming.sources import (
    EVENTS_DDL,
    file_stream_source,
    run_available_now,
)
from flink_realtime_spark.streaming.stateful import (
    apply_with_state,
    forward_asof_state_fn,
    nearest_asof_state_fn,
    temporal_join_state_fn,
)
from flink_realtime_spark.tables import load_table

spark = get_spark("hotkey-asof")
spark.conf.set(
    "spark.sql.streaming.stateStore.providerClass",
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
)

HOT = "/tmp/spark_graft_scale/hotkey_events"
if not os.path.exists(HOT + "/_SUCCESS"):
    ev = load_table(spark, "/tmp/spark_graft_scale/x10", "events")
    ev.withColumn("user_id", F.lit(7).cast("long")).repartition(8).write.mode(
        "overwrite"
    ).parquet(HOT)

# worst-case pending shape: the purchase-typed rows pushed AFTER every
# click in event time (types preserved, click ts compressed before, the
# single max-ts purchase kept) — approximate by retyping: all clicks keep
# ts, purchases moved past max ts via a large offset
WORST = "/tmp/spark_graft_scale/hotkey_worstcase"
if not os.path.exists(WORST + "/_SUCCESS"):
    ev = load_table(spark, "/tmp/spark_graft_scale/x10", "events").withColumn(
        "user_id", F.lit(7).cast("long")
    )
    ev = ev.withColumn(
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.col("ts") + F.expr("INTERVAL 3650 DAYS"),
        ).otherwise(F.col("ts")),
    )
    ev.repartition(8).write.mode("overwrite").parquet(WORST)

for name, fn, src in (
    ("temporal hot", temporal_join_state_fn, HOT),
    ("forward hot", forward_asof_state_fn, HOT),
    ("nearest hot", nearest_asof_state_fn, HOT),
    ("forward worst-pend", forward_asof_state_fn, WORST),
    ("nearest worst-pend", nearest_asof_state_fn, WORST),
):
    sdf = file_stream_source(spark, src, EVENTS_DDL).filter(
        F.col("event_type").isin("click", "purchase")
    ).select("user_id", "event_id", "ts", "event_type", "value")
    out = apply_with_state(sdf, "user_id", fn)
    t0 = time.perf_counter()
    n = run_available_now(out, "append").count()
    print(
        f"{name:<20} {time.perf_counter()-t0:6.1f}s  ({n} emissions)",
        flush=True,
    )
spark.stop()
