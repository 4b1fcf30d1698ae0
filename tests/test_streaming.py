"""Streaming-equivalence suite — SURVEY.md §5.3.

The DuckDB oracle only checks bounded runs; these tests close the gap by
replaying the bounded events table through Structured Streaming and
asserting the result equals the batch analog of the same expression:

- windowed aggregation (complete mode → exact equality; append mode →
  equality on watermark-closed windows),
- dropDuplicatesWithinWatermark vs batch DISTINCT,
- applyInPandasWithState state functions (new-visitor flag, CDC latest
  image) vs their window-function batch analogs, including a multi-
  micro-batch replay that forces state to carry across batches,
- the foreachBatch parquet upsert store merged over two passes.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_realtime_spark import registry
from flink_realtime_spark.exprs import epoch_us
from flink_realtime_spark.streaming.sources import (
    EVENTS_DDL,
    EVENTS_DDL_NTZ,
    events_stream,
    file_stream_source,
    run_available_now,
)

# streaming executions (checkpoint machinery dominates the suite wall) —
# excluded from the fast gate (pytest.ini)
pytestmark = pytest.mark.slow
from flink_realtime_spark.streaming.stateful import (
    apply_with_state,
    latest_image_state_fn,
    new_visitor_state_fn,
)
from flink_realtime_spark.tables import load_table
from tests.conftest import SF_DIR

registry.load_all()

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@pytest.fixture(scope="module")
def chunked_events_dir(spark):
    """events split into 3 arrival-ordered parquet chunks so
    maxFilesPerTrigger=1 yields 3 micro-batches (state must carry over)."""
    d = tempfile.mkdtemp(prefix="events_chunks_")
    ev = load_table(spark, SF_DIR, "events")  # ts normalized to µs TimestampType
    n = ev.count()
    for i in range(3):
        chunk = ev.filter(
            (F.col("event_id") >= i * n / 3) & (F.col("event_id") < (i + 1) * n / 3)
        )
        chunk.coalesce(1).write.mode("overwrite").parquet(f"{d}/part{i}")
        # flatten: move the single parquet file up with an ordered name
        sub = [f for f in os.listdir(f"{d}/part{i}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/part{i}/{sub}", f"{d}/chunk{i}.parquet")
        shutil.rmtree(f"{d}/part{i}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_events_stream_reads_directory_tables(spark, tmp_path):
    """Round-5 regression: the fixture stores events.parquet as a single
    FILE (selected via pathGlobFilter), but any Spark-written table is a
    DIRECTORY of part files whose NAMES never match that glob — the
    stream then sees zero files and an availableNow replay commits no
    batch at all (STDS errors on later state reads, empty smoke output;
    found by the ×10 at-scale sweep). events_stream must replay a
    directory-shaped events table identically to the batch read."""
    src = load_table(spark, SF_DIR, "events")
    dir_sf = tmp_path / "sf_dirshape"
    dir_sf.mkdir()
    src.repartition(4).write.parquet(str(dir_sf / "events.parquet"))

    sdf = events_stream(spark, str(dir_sf))
    n_stream = run_available_now(
        sdf.groupBy().agg(F.count(F.lit(1)).alias("n")), "complete"
    ).collect()[0]["n"]
    assert n_stream == src.count()


def test_stream_tumble_complete_equals_batch(spark):
    sdf = events_stream(spark, SF_DIR)
    agg = sdf.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    streamed = run_available_now(
        agg.select(F.col("w.start").alias("ws"), "event_type", "n"), "complete"
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    assert _rows(streamed, ["ws", "event_type", "n"]) == _rows(
        batch, ["ws", "event_type", "n"]
    )


def test_stream_tumble_append_emits_closed_windows(spark, chunked_events_dir):
    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    agg = (
        sdf.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
    )
    streamed = run_available_now(agg, "append").collect()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "n")
    )
    batch_map = {(r.ws, r.we): r.n for r in batch.collect()}
    # Append mode may withhold the final (unclosed) windows, but every
    # emitted window must exactly match the batch result, and most windows
    # must have been emitted.
    assert len(streamed) >= len(batch_map) - 2
    for r in streamed:
        assert batch_map[(r.ws, r.we)] == r.n


def test_stream_dedup_within_watermark(spark):
    sdf = events_stream(spark, SF_DIR)
    dd = (
        sdf.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    streamed = run_available_now(dd, "append")
    batch = registry.QUERIES["dedup_exact"](spark, SF_DIR)
    assert _rows(streamed, ["user_id", "event_type"]) == _rows(
        batch, ["user_id", "event_type"]
    )


def test_apply_with_state_new_visitor(spark):
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    sdf = events_stream(spark, SF_DIR).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    out = apply_with_state(sdf, "user_id", new_visitor_state_fn)
    streamed = run_available_now(out, "append")
    batch = registry.QUERIES["state_new_visitor"](spark, SF_DIR)
    assert _rows(streamed, ["event_id", "user_id", "is_new"]) == _rows(
        batch, ["event_id", "user_id", "is_new"]
    )


def test_apply_with_state_latest_image_multibatch(spark, chunked_events_dir):
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    out = apply_with_state(
        sdf.select("user_id", "event_id", "ts", "event_type", "value"),
        "user_id",
        latest_image_state_fn,
    )
    _assert_last_images_are_cdc_latest_image(
        spark, run_available_now(out, "append").toPandas()
    )


def _assert_last_images_are_cdc_latest_image(spark, emitted):
    """Update-stream semantics: the final image per key is the last
    emission, and it must equal the batch latest image."""
    final = emitted.groupby("user_id", sort=True).last().reset_index()
    batch = (
        registry.QUERIES["cdc_latest_image"](spark, SF_DIR)
        .select(
            "user_id",
            "last_event_id",
            "last_type",
            "last_value",
            epoch_us(F.col("last_ts")).alias("last_ts_us"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert len(final) == len(batch)
    for col in ["user_id", "last_event_id", "last_type", "last_value", "last_ts_us"]:
        assert final[col].tolist() == batch[col].tolist(), col


def test_apply_with_state_event_time_is_epoch_us_in_any_session_zone(spark, duck):
    """State fns receive event time as epoch µs whatever the session time
    zone: under America/New_York the latest image's last_ts_us still
    equals the oracle's epoch_us(ts), as under UTC (pyspark would hand
    them the local wall clock, off by the UTC offset from the epoch
    watermark timeout_alert_state_fn compares against). A TIMESTAMP_NTZ
    stream crosses as its wall clock read as UTC, the same value."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    ltz = events_stream(spark, SF_DIR).select(*cols)
    ntz = file_stream_source(
        spark, SF_DIR, EVENTS_DDL_NTZ, glob="events.parquet"
    ).select(*cols)
    assert [dict(sdf.dtypes)["ts"] for sdf in (ltz, ntz)] == [
        "timestamp", "timestamp_ntz",
    ]
    want = duck.execute(
        """
        SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us
        FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        ORDER BY user_id
        """
    ).fetchall()
    # set before apply_with_state: its projection resolves the zone then
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        outs = [
            run_available_now(
                apply_with_state(sdf, "user_id", latest_image_state_fn), "append"
            ).toPandas()
            for sdf in (ltz, ntz)
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    for got in outs:
        final = got.groupby("user_id", sort=True).last().reset_index()
        rows = list(
            zip(
                final["user_id"].tolist(),
                final["last_event_id"].tolist(),
                final["last_ts_us"].tolist(),
            )
        )
        assert rows == [tuple(r) for r in want]


def test_apply_with_state_latest_image_restart_restores_group_state(spark, tmp_path):
    """latest_image_state_fn keeps one state row per key group. Two files
    run on RocksDB with Arrow batches small enough to split every group
    over several chunks; the query stops, a third file brings rows older
    than the stored image of half the users, and the query restarts on the
    same checkpoint. The last image emitted per user must equal
    cdc_latest_image: a user whose group state were lost or misread on
    restart would end on its stale row."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    src, ckpt = tmp_path / "events", str(tmp_path / "ckpt")
    src.mkdir()
    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()

    def write(df, name):
        part = tmp_path / f"part_{name}"
        df.coalesce(1).write.parquet(str(part))
        (f,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        os.rename(part / f, src / f"{name}.parquet")

    emitted = []

    def run():
        sdf = file_stream_source(spark, str(src), EVENTS_DDL, max_files_per_trigger=1)
        out = apply_with_state(
            sdf.select("user_id", "event_id", "ts", "event_type", "value"),
            "user_id",
            latest_image_state_fn,
        )
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, bid: emitted.append((bid, bdf.toPandas()))
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    prior = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        write(ev.filter(F.col("event_id") < n / 2), "chunk0")
        write(ev.filter(F.col("event_id") >= n / 2), "chunk1")
        run()
        stale = (
            ev.filter(F.col("user_id") % 2 == 0)
            .groupBy("user_id")
            .agg(F.min("ts").alias("ts"))
            .select(
                (F.col("user_id") + 10 * n).alias("event_id"),
                (F.col("ts") - F.expr("INTERVAL 1 DAY")).alias("ts"),
                "user_id",
                F.lit("stale").alias("event_type"),
                F.lit(-1.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
        )
        stale_users = sorted(r.user_id for r in stale.select("user_id").collect())
        write(stale, "chunk2")
        run()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prior)

    assert [bid for bid, _ in emitted] == [0, 1, 2]
    assert sorted(emitted[-1][1]["user_id"].tolist()) == stale_users
    assert "stale" not in set(emitted[-1][1]["last_type"])
    _assert_last_images_are_cdc_latest_image(
        spark, pd.concat([pdf for _, pdf in emitted], ignore_index=True)
    )


def test_upsert_store_two_phase_merge(spark, chunked_events_dir):
    from flink_realtime_spark.streaming.sinks import ParquetUpsertStore

    workdir = tempfile.mkdtemp(prefix="upsert_two_phase_")
    store = ParquetUpsertStore(
        spark,
        os.path.join(workdir, "store"),
        keys=["user_id"],
        order_cols=[F.col("ts").desc(), F.col("event_id").desc()],
    )
    full = load_table(spark, SF_DIR, "events")
    n = full.count()
    first, second = (
        full.filter(F.col("event_id") < n / 2),
        full.filter(F.col("event_id") >= n / 2),
    )
    store.merge(first.select("user_id", "event_id", "ts", "value"))
    store.merge(second.select("user_id", "event_id", "ts", "value"))
    # idempotency: re-merging the same batch must not change the store
    store.merge(second.select("user_id", "event_id", "ts", "value"))
    got = store.read()
    batch = registry.QUERIES["cdc_latest_image"](spark, SF_DIR)
    assert _rows(got, ["user_id", "event_id"]) == _rows(
        batch, ["user_id", "last_event_id"]
    )
    shutil.rmtree(workdir, ignore_errors=True)


def test_upsert_store_survives_crash_mid_swap(spark):
    """Crash injection at the worst point of the atomic swap: after
    rename(store -> .old) but before rename(.staging -> store) — the state
    a SIGKILL/power loss leaves behind. The next read()/merge() must
    recover the complete pre-crash state from .old (NOT silently
    reinitialize from the next batch), and a replayed merge must be a
    no-op per the latest-image contract."""
    from flink_realtime_spark.streaming.sinks import ParquetUpsertStore

    workdir = tempfile.mkdtemp(prefix="upsert_crash_")
    path = os.path.join(workdir, "store")
    store = ParquetUpsertStore(
        spark,
        path,
        keys=["user_id"],
        order_cols=[F.col("ts").desc(), F.col("event_id").desc()],
    )
    full = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    n = full.count()
    first = full.filter(F.col("event_id") < n / 2)
    second = full.filter(F.col("event_id") >= n / 2)
    store.merge(first)
    expect_first = _rows(store.read(), ["user_id", "event_id"])

    # Hard crash mid-swap: complete state only in .old, partial staging.
    os.rename(path, path + ".old")
    os.makedirs(path + ".staging")
    with open(os.path.join(path + ".staging", "part-junk"), "w") as f:
        f.write("incomplete")

    assert _rows(store.read(), ["user_id", "event_id"]) == expect_first
    assert not os.path.isdir(path + ".staging")
    assert not os.path.isdir(path + ".old")

    # Crash mid-swap again, then recover via merge() (the checkpoint's
    # batch replay path) instead of read().
    os.rename(path, path + ".old")
    store.merge(second)
    got = store.read()
    batch = registry.QUERIES["cdc_latest_image"](spark, SF_DIR)
    assert _rows(got, ["user_id", "event_id"]) == _rows(
        batch, ["user_id", "last_event_id"]
    )
    shutil.rmtree(workdir, ignore_errors=True)


def test_file_stream_trigger_launches_no_listing_job(spark, tmp_path):
    """On a local master, prepare() keeps a file-stream trigger over many
    new files from launching Spark's parallel-listing job (InMemoryFileIndex
    lists more than parallelPartitionDiscovery.threshold paths, default 32,
    in a job of its own). Control: with the default threshold the same
    trigger does launch one, so the job-description check can see it."""
    from flink_realtime_spark.session import prepare

    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    src = tmp_path / "src"
    src.mkdir()
    for i in range(40):
        shutil.copy(os.path.join(SF_DIR, "events.parquet"), src / f"f{i:02d}.parquet")
    store = spark.sparkContext._jsc.sc().statusStore()

    def _scala_list(seq) -> list:
        return [seq.apply(i) for i in range(seq.size())]

    def listing_jobs(ckpt: str) -> list[str]:
        seen = {j.jobId() for j in _scala_list(store.jobsList(None))}
        sdf = file_stream_source(spark, str(src), EVENTS_DDL)
        q = (
            sdf.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        descs = [
            j.description().get()
            for j in _scala_list(store.jobsList(None))
            if j.jobId() not in seen and j.description().isDefined()
        ]
        return [d for d in descs if d.startswith("Listing leaf files")]

    prepare(spark)
    assert listing_jobs("ckpt_pinned") == []
    try:
        spark.conf.set(threshold, "32")
        assert len(listing_jobs("ckpt_default")) == 1
    finally:
        prepare(spark)


def test_mv_store_survives_crash_mid_swap(spark, chunked_events_dir, tmp_path):
    """Same crash injection for the MV fold store: state stranded in .old
    must be recovered by the next fold, and the refolded MV must equal the
    from-scratch recompute."""
    from flink_realtime_spark.operators.serving import (
        mv_merge,
        mv_partial_events,
        mv_serve,
        mv_stream_writer,
    )

    mv_dir = str(tmp_path / "mv_crash")
    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    q = mv_stream_writer(sdf, mv_dir).trigger(availableNow=True).start()
    q.awaitTermination()
    expect = _rows(mv_serve(spark, mv_dir), ["d", "event_type", "n_events"])

    os.rename(mv_dir, mv_dir + ".old")
    os.makedirs(mv_dir + ".tmp")
    got = _rows(mv_serve(spark, mv_dir), ["d", "event_type", "n_events"])
    assert got == expect
    assert not os.path.isdir(mv_dir + ".old")
    assert not os.path.isdir(mv_dir + ".tmp")


def test_stream_stream_interval_join(spark):
    """Stream-stream time-interval join with dual watermarks (the streaming
    form of join_interval_time): clicks x purchases of the same user within
    30 minutes, replayed bounded. State on both sides is bounded by the
    watermark + the interval condition; the emitted pairs must equal the
    batch interval join."""
    sdf = events_stream(spark, SF_DIR)
    c = (
        sdf.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    p = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("click_id", "purchase_id")
    streamed = run_available_now(joined, "append")
    batch = registry.QUERIES["join_interval_time"](spark, SF_DIR)
    assert _rows(streamed, ["click_id", "purchase_id"]) == _rows(
        batch, ["click_id", "purchase_id"]
    )


def test_stream_session_window_complete_equals_batch(spark):
    """Session windows under Structured Streaming (complete mode over the
    bounded replay) must equal the batch session_window aggregation — the
    gap-merge state machine behaves identically in IncrementalExecution."""
    sdf = events_stream(spark, SF_DIR)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            "n",
        )
    )
    streamed = run_available_now(agg, "complete")
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            "n",
        )
    )
    assert _rows(streamed, ["user_id", "ws", "we", "n"]) == _rows(
        batch, ["user_id", "ws", "we", "n"]
    )


def test_funnel_state_fn_matches_batch(spark):
    """Streaming CEP funnel (applyInPandasWithState NFA) over a ts-ordered
    single-batch replay must reach the same final stage per user as the
    batch min-ts-chaining composition."""
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        funnel_state_fn,
    )

    sdf = events_stream(spark, SF_DIR).select(
        "user_id", "event_id", "ts", "event_type"
    )
    out = apply_with_state(sdf, "user_id", funnel_state_fn)
    emitted = run_available_now(out, "append").toPandas()
    final = emitted.groupby("user_id", sort=True).last().reset_index()
    batch = (
        registry.QUERIES["cep_funnel_batch"](spark, SF_DIR)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert final["user_id"].tolist() == batch["user_id"].tolist()
    assert final["funnel_stage"].tolist() == batch["funnel_stage"].tolist()


def test_funnel_within_stream_matches_batch(spark):
    """The anchored-within sequence (compile_pattern_stream's first_match
    lowering with a horizon) must reach the same final stage per user as
    the batch cep_funnel_within chain over a ts-ordered replay."""
    from flink_realtime_spark.streaming.cep import (
        Pattern,
        compile_pattern_stream,
    )
    from flink_realtime_spark.streaming.stateful import apply_with_state

    pat = (
        Pattern.begin("view")
        .followed_by("click")
        .followed_by("purchase")
        .within("1 HOUR")
    )
    sdf = events_stream(spark, SF_DIR).select(
        "user_id", "event_id", "ts", "event_type"
    )
    out = apply_with_state(sdf, "user_id", compile_pattern_stream(pat))
    emitted = run_available_now(out, "append").toPandas()
    final = emitted.groupby("user_id", sort=True).last().reset_index()
    batch = (
        registry.QUERIES["cep_funnel_within"](spark, SF_DIR)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert final["user_id"].tolist() == batch["user_id"].tolist()
    assert final["funnel_stage"].tolist() == batch["funnel_stage"].tolist()
    # the bound must actually bite somewhere on the fixture
    unbounded = registry.QUERIES["cep_funnel_batch"](spark, SF_DIR).toPandas()
    assert unbounded["funnel_stage"].sum() > batch["funnel_stage"].sum()


def test_stream_funnel_any_matches_batch(spark):
    """Alternation steps under streaming: the per-step type SET advances
    the NFA stage on any member, and the final stage per user matches
    the batch cep_funnel_any chain over a ts-ordered replay."""
    from flink_realtime_spark.streaming.cep import (
        Pattern,
        compile_pattern_stream,
    )
    from flink_realtime_spark.streaming.stateful import apply_with_state

    pat = (
        Pattern.begin("signup")
        .followed_by(("view", "click"))
        .followed_by("purchase")
        .within("1 DAY")
    )
    sdf = events_stream(spark, SF_DIR).select(
        "user_id", "event_id", "ts", "event_type"
    )
    out = apply_with_state(sdf, "user_id", compile_pattern_stream(pat))
    emitted = run_available_now(out, "append").toPandas()
    final = emitted.groupby("user_id", sort=True).last().reset_index()
    batch = (
        registry.QUERIES["cep_funnel_any"](spark, SF_DIR)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert final["user_id"].tolist() == batch["user_id"].tolist()
    assert final["funnel_stage"].tolist() == batch["funnel_stage"].tolist()
    # the alternation must bite: a single-type middle step reaches fewer
    # users than the (view|click) set
    single = (
        Pattern.begin("signup")
        .followed_by("view")
        .followed_by("purchase")
        .within("1 DAY")
    )
    from flink_realtime_spark.streaming.cep import compile_pattern
    from flink_realtime_spark.tables import Warehouse

    ev = Warehouse(spark, SF_DIR).events
    n_single = (
        compile_pattern(ev, single).filter(F.col("t_step2").isNotNull()).count()
    )
    n_any = int((batch["funnel_stage"] >= 2).sum())
    assert n_any > n_single


def test_stream_slide_complete_equals_batch(spark):
    """Sliding (hopping) windows under streaming == batch: each event lands
    in size/slide = 2 windows in both modes."""
    sdf = events_stream(spark, SF_DIR)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    streamed = run_available_now(agg, "complete")
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    assert _rows(streamed, ["ws", "n"]) == _rows(batch, ["ws", "n"])


def _kafka_connector_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def test_kafka_builder_requires_connector(spark):
    """kafka_json_source is the production ingest path; without the
    connector jar the builder must fail loudly at plan time (not silently
    yield an empty stream). Pins the failure mode; skipped if the jar is
    present (the executable round-trip below covers that case)."""
    if _kafka_connector_available(spark):
        pytest.skip("kafka connector present — covered by the round-trip test")
    from flink_realtime_spark.streaming.sources import kafka_json_source

    with pytest.raises(Exception) as ei:
        kafka_json_source(
            spark, "broker:9092", "events", EVENTS_DDL
        )
    assert "kafka" in str(ei.value).lower()


def test_kafka_roundtrip_when_environment_allows(spark, chunked_events_dir):
    """Executable Kafka smoke: produce events through kafka_json_sink and
    read them back through kafka_json_source. Requires BOTH the
    spark-sql-kafka connector jar AND a reachable broker
    ($KAFKA_BOOTSTRAP_SERVERS); skipped with an explicit reason otherwise
    — never silently."""
    import os
    import tempfile
    import uuid

    if not _kafka_connector_available(spark):
        from flink_realtime_spark.session import _KAFKA_JAR_SEARCH, find_kafka_jars

        found = find_kafka_jars()
        pytest.skip(
            "no spark-sql-kafka connector jar: vendored-jar load attempted "
            f"(searched {', '.join(_KAFKA_JAR_SEARCH)}; found {found or 'none'}; "
            "Maven Central unreachable from this sandbox — curl to "
            "repo1.maven.org resolves no route), so the missing artifact is "
            "spark-sql-kafka-0-10_2.13 + kafka-clients. "
            "kafka_json_source/_sink stay plan-construction-verified "
            "(test_kafka_builder_requires_connector) with the file-replay "
            "stand-in covering stream semantics; drop the jars in "
            "vendor/jars/ or set SPARK_GRAFT_KAFKA_JARS to flip this to a run"
        )
    brokers = os.environ.get("KAFKA_BOOTSTRAP_SERVERS")
    if not brokers:
        pytest.skip(
            "connector jar present but no broker: set "
            "KAFKA_BOOTSTRAP_SERVERS to run the loopback round-trip"
        )
    from flink_realtime_spark.streaming.sinks import kafka_json_sink
    from flink_realtime_spark.streaming.sources import kafka_json_source
    from flink_realtime_spark.streaming.sources import file_stream_source

    topic = f"sparkgraft_smoke_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="kafka_ckpt_")
    src = file_stream_source(spark, chunked_events_dir, EVENTS_DDL)
    (
        kafka_json_sink(src, brokers, topic, ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    back = kafka_json_source(
        spark, brokers, topic, EVENTS_DDL, starting_offsets="earliest"
    )
    q = (
        back.writeStream.format("memory")
        .queryName(f"kafka_back_{topic}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql(f"SELECT COUNT(*) FROM kafka_back_{topic}").collect()[0][0]
    assert n > 0


def test_stream_stream_left_outer_interval_join(spark, chunked_events_dir):
    """Left-outer stream-stream interval join (the Flink order-without-
    payment timeout pattern): clicks with no purchase within 30 minutes
    must surface null-extended — and only once the watermark passes. The
    multi-batch replay forces the null-emission path; results must equal
    the batch left interval join for every click whose window is closed by
    the final watermark."""
    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    c = (
        sdf.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    p = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("click_id", F.col("purchase_id"))
    streamed = run_available_now(joined, "append").collect()
    got_pairs = {(r.click_id, r.purchase_id) for r in streamed}

    ev = load_table(spark, SF_DIR, "events")
    bc = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = bc.join(
        bp,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select("click_id", "purchase_id", "click_ts")
    rows = batch.collect()
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # matched pairs must all be present; null-extensions only for clicks
    # whose 30-min window closed under the final watermark
    for r in rows:
        if r.purchase_id is not None:
            assert (r.click_id, r.purchase_id) in got_pairs
    batch_nulls = {
        r.click_id
        for r in rows
        if r.purchase_id is None
    }
    stream_nulls = {c for c, pidd in got_pairs if pidd is None}
    assert stream_nulls <= batch_nulls
    # and the vast majority of closed-window nulls did emit
    assert len(stream_nulls) >= 0.8 * len(batch_nulls)


def test_lookup_join_sees_refreshed_dim(spark, chunked_events_dir, tmp_path):
    """Per-micro-batch dim refresh (the Flink lookup-join semantic): batch 0
    joins dim snapshot v1; the dim is overwritten between micro-batches and
    later batches must see v2. foreachBatch re-reads the snapshot each
    batch, so the enrichment tracks the dimension's current version the way
    a Flink lookup join against a KV store does."""
    from flink_realtime_spark.streaming.lookup import lookup_join_per_batch

    dim_dir = str(tmp_path / "dim")
    dim_ddl = "user_id LONG, tier STRING"

    def write_dim(tier: str) -> None:
        spark.createDataFrame(
            [(u, tier) for u in range(200)], dim_ddl
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    write_dim("v1")

    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )

    seen: list[tuple[int, int, str]] = []  # (batch_id, event_id, tier)

    def sink(joined, batch_id: int) -> None:
        for r in joined.select("event_id", "tier").collect():
            seen.append((batch_id, r["event_id"], r["tier"]))
        if batch_id == 0:
            write_dim("v2")  # refresh the dimension between micro-batches

    q = (
        lookup_join_per_batch(
            sdf,
            dim_dir,
            dim_ddl,
            on=lambda b, d: b["user_id"] == d["user_id"],
            sink=sink,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert len(seen) == n_events  # every event enriched exactly once
    batches = sorted({b for b, _, _ in seen})
    assert len(batches) == 3  # maxFilesPerTrigger=1 over 3 chunks
    tiers_by_batch = {b: {t for bb, _, t in seen if bb == b} for b in batches}
    assert tiers_by_batch[batches[0]] == {"v1"}
    assert tiers_by_batch[batches[1]] == {"v2"}
    assert tiers_by_batch[batches[2]] == {"v2"}


def test_checkpoint_recovery_exactly_once(spark, chunked_events_dir, tmp_path):
    """Kill-and-restart recovery (the Flink checkpoint/savepoint contract):
    a keyed count over a file stream runs with a checkpoint, terminates,
    new data arrives, and a NEW query instance on the SAME checkpoint must
    resume from the recorded offsets — counting every row exactly once.
    If restart re-read the old files, state would double-count and the
    final per-key counts would diverge from the batch analog."""
    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    for i in (0, 1):
        shutil.copy(f"{chunked_events_dir}/chunk{i}.parquet", staging)

    emitted: list[tuple[int, str, int]] = []  # (run, event_type, n)

    def run_once(run: int) -> None:
        sdf = file_stream_source(
            spark, str(staging), EVENTS_DDL, max_files_per_trigger=1
        )
        agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

        def sink(bdf, _bid: int) -> None:
            for r in bdf.collect():
                emitted.append((run, r["event_type"], r["n"]))

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once(1)
    first_run_final = {}
    for run, et, n in emitted:
        first_run_final[et] = n
    # new file lands while the query is DOWN
    shutil.copy(f"{chunked_events_dir}/chunk2.parquet", staging)
    run_once(2)

    # run 2 must have emitted updates (it saw the new file) ...
    assert any(run == 2 for run, _, _ in emitted)
    # ... strictly increasing per-key counts (state recovered, not reset)
    final = {}
    for run, et, n in emitted:
        final[et] = n
        if run == 2:
            assert n >= first_run_final.get(et, 0)
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert final == {r["event_type"]: r["n"] for r in batch.collect()}


def test_layered_pipeline_streaming_converges(spark, chunked_events_dir, tmp_path):
    """The full ODS→DWD→DWS→ADS layer DAG (ads_layered_pipeline's shape)
    bound as ONE streaming query: file-stream ODS, broadcast stream-static
    DIM enrichment + JSON parse (DWD), update-mode daily per-nation
    aggregation (DWS), keyed upsert into the ADS store per micro-batch.
    After the bounded replay the store must equal the batch run of the
    same expressions — the engine's bounded==unbounded normative rule
    (SURVEY.md §3.3) for the complete warehouse topology, not just one
    operator."""
    from flink_realtime_spark.exprs import dsum
    from flink_realtime_spark.streaming.sinks import ParquetUpsertStore, upsert_sink

    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_nationkey"
    )
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        "n_nationkey", "n_name"
    )

    def layers(events):
        dwd = (
            events.join(F.broadcast(cust), events["user_id"] == cust["c_custkey"])
            .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
            .select(
                F.date_trunc("day", "ts").alias("day"),
                "n_name",
                "value",
                F.get_json_object("props", "$.k").cast("long").alias("k"),
            )
        )
        return dwd.groupBy("day", "n_name").agg(
            F.count(F.lit(1)).alias("pv"),
            dsum(F.col("value")).alias("value_sum"),
            F.sum("k").alias("k_sum"),
        )

    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "ads_store"),
        keys=["day", "n_name"],
        order_cols=[F.col("pv").desc()],  # update-mode counts are monotone
    )
    q = (
        upsert_sink(layers(sdf), store, str(tmp_path / "ckpt"))
        .outputMode("update")
        .start()
    )
    q.awaitTermination()

    batch_events = load_table(spark, SF_DIR, "events")
    expected = layers(batch_events)
    cols = ["day", "n_name", "pv", "value_sum", "k_sum"]
    assert _rows(store.read(), cols) == _rows(expected, cols)

    # ADS serving layer off the store: top-3 nations per day matches batch.
    from pyspark.sql import Window

    def top3(df):
        w = Window.partitionBy("day").orderBy(F.col("pv").desc(), F.col("n_name"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .drop("rn")
        )

    assert _rows(top3(store.read()), cols) == _rows(top3(expected), cols)


def test_timeout_alert_stream_matches_batch(spark, chunked_events_dir):
    """Event-time timers (Flink registerEventTimeTimer): pending clicks
    alert when the watermark passes click_ts + 30 min with no satisfying
    purchase. Every streamed alert must be a batch-analog alert; every
    alert whose deadline the watermark provably passed mid-replay must
    have been emitted (the final chunk's tail may stay pending — bounded
    replay ends before the watermark crosses it)."""
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        timeout_alert_state_fn,
    )

    sdf = (
        file_stream_source(spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1)
        .filter(F.col("event_type").isin("click", "purchase"))
        .withWatermark("ts", "1 minute")
    )
    alerts = apply_with_state(sdf, "user_id", timeout_alert_state_fn, timeout="event")
    streamed = {
        (r.user_id, r.click_id) for r in run_available_now(alerts, "append").collect()
    }

    batch = registry.QUERIES["state_timeout_alert"](spark, SF_DIR)
    batch_alerts = {
        (r.user_id, r.click_id): r.click_ts for r in batch.collect()
    }
    assert streamed <= set(batch_alerts)

    # Watermark after the 2nd-to-last batch: max ts of chunks 0-1 minus the
    # 1-minute delay. Deadlines strictly before it must have fired.
    import datetime as dt

    chunk01_max = (
        spark.read.parquet(
            f"{chunked_events_dir}/chunk0.parquet",
            f"{chunked_events_dir}/chunk1.parquet",
        )
        .selectExpr("max(ts) AS m")
        .collect()[0]["m"]
    )
    wm = chunk01_max - dt.timedelta(minutes=1)
    must_fire = {
        k
        for k, cts in batch_alerts.items()
        if cts + dt.timedelta(minutes=30) < wm
    }
    assert must_fire <= streamed
    assert len(streamed) >= len(must_fire) > 0


def test_cdc_deletes_flow_to_store(spark, chunked_events_dir, tmp_path):
    """CDC with -D semantics end-to-end: events replayed as a keyed
    changelog (signup=+I, error=-D, else +U) through keyed state that
    emits tombstoned images, into an upsert store that deletes tombstoned
    keys. The final store must equal the batch cdc_apply_changelog result
    — including the ABSENCE of keys whose last operation was a delete."""
    from flink_realtime_spark.streaming.sinks import ParquetUpsertStore, upsert_sink
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        changelog_state_fn,
    )

    sdf = (
        file_stream_source(spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1)
        .select(
            F.col("event_id").alias("seq"),
            F.col("user_id").alias("pk"),
            "ts",
            F.col("value").cast("double").alias("value"),
            F.when(F.col("event_type") == "signup", "I")
            .when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
        )
    )
    images = apply_with_state(sdf, "pk", changelog_state_fn, "update")
    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "dim_store"),
        keys=["pk"],
        order_cols=[F.col("last_seq").desc()],
        tombstone_col="is_tombstone",
    )
    q = (
        upsert_sink(images, store, str(tmp_path / "ckpt"))
        .outputMode("update")
        .start()
    )
    q.awaitTermination()

    cols = ["pk", "last_op", "last_seq", "last_value"]
    got = _rows(store.read(), cols)
    expected = _rows(registry.QUERIES["cdc_apply_changelog"](spark, SF_DIR), cols)
    assert got == expected


def test_cumulate_streaming_slices_serve_running_sum(spark, chunked_events_dir, tmp_path):
    """CUMULATE's documented streaming shape (SURVEY.md §2.5): the hourly
    tumble slices run as a streaming append-mode aggregation with a
    watermark into the keyed store; the expanding daily-so-far sums are
    computed AT SERVING TIME over the stored slices (24 rows/day/key).
    After bounded replay the served cumulative board must equal the batch
    win_cumulate result for every watermark-closed slice."""
    from flink_realtime_spark.exprs import dsum
    from flink_realtime_spark.streaming.sinks import ParquetUpsertStore, upsert_sink
    from pyspark.sql import Window

    sdf = (
        file_stream_source(spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1)
        .withWatermark("ts", "30 minutes")
    )
    hourly = (
        sdf.groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("v"))
        .select("day", F.col("w.end").alias("hour_end"), "n", "v")
    )
    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "slices"),
        keys=["day", "hour_end"],
        order_cols=[F.col("n").desc()],
    )
    q = (
        upsert_sink(hourly, store, str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    q.awaitTermination()

    w = (
        Window.partitionBy("day")
        .orderBy("hour_end")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    served = store.read().select(
        "day",
        "hour_end",
        F.sum("n").over(w).cast("long").alias("cum_events"),
        F.sum(F.col("v").cast("decimal(18,4)")).over(w).cast("double").alias(
            "cum_value"
        ),
    )
    batch = {
        (r.day, r.hour_end): (r.cum_events, r.cum_value)
        for r in registry.QUERIES["win_cumulate"](spark, SF_DIR).collect()
    }
    got = {
        (r.day, r.hour_end): (r.cum_events, r.cum_value) for r in served.collect()
    }
    # Append mode withholds slices the final watermark never closed; all
    # emitted slices must carry the exact batch cumulative values.
    assert set(got) <= set(batch)
    assert len(got) >= len(batch) - 3
    for k, v in got.items():
        assert batch[k] == v


def test_stream_window_tvf_join_equals_batch(spark):
    """Stream-stream window join (join_window_tvf's streaming form): both
    sides assigned their tumbling window BEFORE the join, watermarked, and
    equi-joined on (user, window-start). Spark accepts the window-start
    equality as the join's event-time constraint; emitted pairs over the
    bounded replay must equal the batch window join."""
    sdf = events_stream(spark, SF_DIR)

    def windowed(etype, idname, wmcol):
        return (
            sdf.filter(F.col("event_type") == etype)
            .select(
                F.col("user_id").alias(f"{idname}_user"),
                F.col("event_id").alias(idname),
                F.window("ts", "1 hour").alias(f"{idname}_w"),
            )
            .withWatermark(f"{idname}_w", "1 hour")
        )

    c = windowed("click", "click_id", "cw")
    p = windowed("purchase", "purchase_id", "pw")
    joined = c.join(
        p,
        (F.col("click_id_user") == F.col("purchase_id_user"))
        & (F.col("click_id_w") == F.col("purchase_id_w")),
    ).select("click_id", "purchase_id")
    streamed = run_available_now(joined, "append")
    batch = registry.QUERIES["join_window_tvf"](spark, SF_DIR)
    assert _rows(streamed, ["click_id", "purchase_id"]) == _rows(
        batch, ["click_id", "purchase_id"]
    )


def test_stream_window_dedup_equals_batch(spark):
    """Window dedup under streaming: dropDuplicates on (window, user) with
    a watermark keeps exactly one row per pane. WHICH row is
    arrival-order-dependent (first processed, racing across scan
    partitions), so the assertion is semantic: the surviving key set
    equals the batch win_dedup keys, and every surviving representative
    is a genuine member of its pane."""
    sdf = events_stream(spark, SF_DIR)
    dd = (
        sdf.select("user_id", "event_id", F.window("ts", "1 hour").alias("w"))
        .withWatermark("w", "1 hour")
        .dropDuplicates(["w", "user_id"])
        .select(F.col("w.start").alias("win_start"), "user_id", "event_id")
    )
    streamed = run_available_now(dd, "append")
    batch = registry.QUERIES["win_dedup"](spark, SF_DIR)
    assert _rows(streamed, ["win_start", "user_id"]) == _rows(
        batch, ["win_start", "user_id"]
    )
    # each representative must belong to its (window, user) pane
    ev = load_table(spark, SF_DIR, "events").select(
        F.window("ts", "1 hour").start.alias("win_start"), "user_id", "event_id"
    )
    assert streamed.join(
        ev, ["win_start", "user_id", "event_id"], "left_anti"
    ).count() == 0


def test_rate_source_generates_rows(spark):
    """The rate source must actually produce increasing values through a
    real micro-batch execution (not just build a plan)."""
    import time
    import uuid

    from flink_realtime_spark.streaming.sources import rate_source

    sdf = rate_source(spark, rows_per_second=500, num_partitions=2)
    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.table(name).count()
            if n >= 100:
                break
            time.sleep(0.5)
        assert n >= 100
        vals = [r.value for r in spark.table(name).orderBy("value").limit(5).collect()]
        assert vals == sorted(vals)
    finally:
        q.stop()


def test_socket_source_ingests_lines(spark):
    """The socket source must ingest real lines from a live TCP server —
    executed end-to-end on a loopback socket, not just plan-built."""
    import socket
    import threading
    import time
    import uuid

    from flink_realtime_spark.streaming.sources import socket_source

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        try:
            conn.sendall("".join(f"line{i}\n" for i in range(100)).encode())
            done.wait(timeout=60)  # hold the connection until the test ends
        finally:
            conn.close()
            srv.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    sdf = socket_source(spark, "127.0.0.1", port)
    name = f"sock_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 45
        n = 0
        while time.time() < deadline:
            n = spark.table(name).count()
            if n >= 100:
                break
            time.sleep(0.5)
        assert n >= 100
        got = {r.value for r in spark.table(name).collect()}
        assert {f"line{i}" for i in range(100)} <= got
    finally:
        q.stop()
        done.set()


def test_scd2_stream_matches_batch_history(spark, chunked_events_dir):
    """SCD2 maintenance under multi-batch streaming: close+open emissions
    per change, last-emission-per-version materialized (what the upsert
    store keyed on (user, version) would hold), must equal the batch
    cdc_scd2_history rows with timestamps compared at µs."""
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        scd2_state_fn,
    )

    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    ).select("user_id", "event_id", "event_type", "ts", "value")
    out = apply_with_state(sdf, "user_id", scd2_state_fn, "update")
    emitted = run_available_now(out, "update").toPandas()
    final = (
        emitted.groupby(["user_id", "version_id"], sort=True)
        .last()
        .reset_index()
    )

    batch = (
        registry.QUERIES["cdc_scd2_history"](spark, SF_DIR)
        .select(
            "user_id",
            "version_id",
            "value",
            epoch_us(F.col("valid_from")).alias("valid_from_us"),
            epoch_us(F.col("valid_to")).alias("valid_to_us"),
            "is_current",
        )
        .toPandas()
        .sort_values(["user_id", "version_id"])
        .reset_index(drop=True)
    )
    assert len(final) == len(batch)
    for col in ("user_id", "version_id", "value", "valid_from_us", "is_current"):
        assert final[col].tolist() == batch[col].tolist(), col
    def nullable_long(series):
        # nullable LONG surfaces as object-None or float-NaN via pandas
        return [
            None if v is None or v != v else int(v) for v in series
        ]

    assert nullable_long(final["valid_to_us"]) == nullable_long(
        batch["valid_to_us"]
    )


def test_kafka_sink_payload_roundtrips(spark):
    """The Kafka sink's value serializer (to_json over the full row) must
    roundtrip through from_json with the declared schema — the producer/
    consumer contract the broker would carry, testable without one."""
    from flink_realtime_spark.streaming.sinks import kafka_json_payload
    from flink_realtime_spark.streaming.sources import (
        EVENTS_DDL_NTZ,
        JSON_TS_OPTS,
    )

    ev = load_table(spark, SF_DIR, "events").limit(500)
    payload = kafka_json_payload(ev)
    back = payload.select(
        F.from_json("value", EVENTS_DDL_NTZ, JSON_TS_OPTS).alias("j")
    ).select("j.*")
    assert back.schema == ev.schema
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_curation_pipeline_streams_on_dup_corpus(spark, tmp_path):
    """The corpus-curation DAG bound as a stream: documents arrive
    incrementally (3 micro-batches of a 3x-duplicated corpus), flow
    through lang gate -> quality gate -> streaming exact-dedup
    (dropDuplicates on the normalized-text hash) -> per (lang, source)
    counts in update mode. Which copy survives dedup is arrival-dependent,
    but copies are byte-identical, so the final counts must equal the
    batch composition exactly — the bounded==unbounded rule extended to
    the LLM pipeline."""
    from pyspark.sql import Window

    docs = load_table(spark, SF_DIR, "documents")
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(3).select(F.col("id").alias("rep"))
    tripled = (
        docs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n)
        .drop("rep")
    )
    d = str(tmp_path / "docs_stream")
    for i in range(3):
        (
            tripled.filter(F.col("doc_id") % 3 == i)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/chunk{i}")
        )
    chunks = [f"{d}/chunk{i}" for i in range(3)]
    flat = str(tmp_path / "flat")
    import os
    import shutil

    os.makedirs(flat)
    for i, c in enumerate(chunks):
        src = [f for f in os.listdir(c) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(c, src), os.path.join(flat, f"c{i}.parquet"))

    ddl = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

    def stages(df):
        return (
            df.filter(F.col("lang").isin("de", "en", "es", "fr"))
            .select(
                "lang",
                "source",
                F.size(F.split("text", " ")).cast("long").alias("n_words"),
                F.md5(
                    F.lower(F.trim(F.regexp_replace("text", "\\s+", " ")))
                ).alias("text_hash"),
            )
            .filter(F.col("n_words") >= 20)
        )

    sdf = stages(
        file_stream_source(spark, flat, ddl, max_files_per_trigger=1)
    ).dropDuplicates(["text_hash"])
    agg = sdf.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
    )
    streamed = run_available_now(agg, "complete")

    # any copy per hash works — copies are identical in every aggregated
    # column, so the constant-order rank's arbitrary pick cannot move counts
    batch = (
        stages(tripled.select("doc_id", "text", "lang", "source"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("text_hash").orderBy(F.lit(1))
            ),
        )
        .filter(F.col("rn") == 1)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
        )
    )
    assert _rows(streamed, ["lang", "source", "n_docs", "total_words"]) == _rows(
        batch, ["lang", "source", "n_docs", "total_words"]
    )


def test_stream_session_dynamic_gap_equals_batch(spark):
    """Dynamic-gap session windows under streaming (complete mode over the
    bounded replay) must equal the batch win_session_dynamic result — the
    per-event gap rides the same merge state machine."""
    sdf = events_stream(spark, SF_DIR)
    gap = F.when(
        F.col("event_type").isin("view", "click"), F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
        )
    )
    streamed = run_available_now(agg, "complete")
    batch = registry.QUERIES["win_session_dynamic"](spark, SF_DIR)
    cols = ["user_id", "sess_start", "sess_end", "n_events"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_mv_incremental_stream_matches_batch(spark, chunked_events_dir, tmp_path):
    """Continuous MV maintenance (the streaming form of
    mv_incremental_refresh): a foreachBatch loop folds each micro-batch's
    commutative partials (count / exact-decimal sum / max) into a stored
    MV. After replaying all chunks, serving the MV (avg derived from the
    partials) must equal the from-scratch batch recompute — the
    merge==recompute contract held continuously, not just once."""
    from flink_realtime_spark.operators.serving import mv_serve, mv_stream_writer

    mv_dir = str(tmp_path / "mv_store")
    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    q = mv_stream_writer(sdf, mv_dir).trigger(availableNow=True).start()
    q.awaitTermination()

    served = mv_serve(spark, mv_dir)
    ev = load_table(spark, SF_DIR, "events")
    batch = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_dec"),
            F.max("value").alias("max_value"),
        )
        .select(
            "d",
            "event_type",
            "n_events",
            F.col("sum_dec").cast("double").alias("sum_value"),
            "max_value",
            (F.col("sum_dec").cast("double") / F.col("n_events"))
            .cast("double")
            .alias("avg_value"),
        )
    )
    cols = ["d", "event_type", "n_events", "sum_value", "max_value", "avg_value"]
    assert _rows(served, cols) == _rows(batch, cols)


def test_rule_engine_stream_applies_refreshed_rules(
    spark, chunked_events_dir, tmp_path
):
    """Dynamic rules against a live stream (the Flink broadcast-state
    pattern behind state_rule_engine): each micro-batch joins the CURRENT
    rules snapshot; the rules are rewritten between micro-batches and the
    later batches must alert under the NEW thresholds. Per-batch alert
    counts are checked against batch recomputes of each chunk under the
    rule version that was live when it arrived."""
    from flink_realtime_spark.streaming.lookup import lookup_join_per_batch

    rules_dir = str(tmp_path / "rules")
    rules_ddl = "event_type STRING, threshold DOUBLE"
    types = ["click", "view", "purchase", "signup", "error"]

    def write_rules(threshold: float) -> None:
        spark.createDataFrame(
            [(t, threshold) for t in types], rules_ddl
        ).coalesce(1).write.mode("overwrite").parquet(rules_dir)

    write_rules(90.0)  # v1: strict — few alerts

    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    alerts: dict[int, int] = {}

    def sink(joined, batch_id: int) -> None:
        alerts[batch_id] = joined.filter(
            F.col("value") > F.col("threshold")
        ).count()
        if batch_id == 0:
            write_rules(50.0)  # v2: looser — alert rate jumps mid-stream

    q = (
        lookup_join_per_batch(
            sdf,
            rules_dir,
            rules_ddl,
            on=lambda b, d: b["event_type"] == d["event_type"],
            sink=sink,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert sorted(alerts) == [0, 1, 2]
    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()

    def chunk_alerts(i: int, threshold: float) -> int:
        return (
            ev.filter(
                (F.col("event_id") >= i * n / 3)
                & (F.col("event_id") < (i + 1) * n / 3)
            )
            .filter(F.col("value") > threshold)
            .count()
        )

    assert alerts[0] == chunk_alerts(0, 90.0)  # v1 rules live for batch 0
    assert alerts[1] == chunk_alerts(1, 50.0)  # v2 picked up mid-stream
    assert alerts[2] == chunk_alerts(2, 50.0)
    assert alerts[1] > alerts[0]  # the refresh visibly changed behavior


def test_drift_monitor_stream_flags_shifted_batch(
    spark, chunked_events_dir, tmp_path
):
    """Continuous distribution monitoring (the streaming form of
    dq_drift_chi2): each micro-batch's value distribution is scored
    against a static reference histogram; organic chunks of the same
    fixture score near zero, and a planted covariate-shifted chunk
    (value × 3) must spike the chi-square distance — the alert a
    train/serve-skew monitor exists to raise."""
    staging = tmp_path / "staging"
    staging.mkdir()
    for i in (0, 1):
        shutil.copy(f"{chunked_events_dir}/chunk{i}.parquet", staging)
    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    # chunk 2 re-enters with value*3: same rows, shifted distribution
    (
        ev.filter(F.col("event_id") >= 2 * n / 3)
        .withColumn("value", F.col("value") * 3)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "shifted"))
    )
    shifted_file = [
        f for f in os.listdir(tmp_path / "shifted") if f.endswith(".parquet")
    ][0]
    shutil.copy(tmp_path / "shifted" / shifted_file, staging / "chunk2.parquet")

    bucket = F.least(F.floor(F.col("value") / 50.0).cast("long"), F.lit(9))
    ref = (
        ev.select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_ref"))
        .crossJoin(ev.select(F.count(F.lit(1)).alias("t_ref")).limit(1))
        .collect()
    )
    ref_p = {r["b"]: r["n_ref"] / r["t_ref"] for r in ref}

    scores: dict[int, float] = {}

    def sink(bdf, batch_id: int) -> None:
        rows = (
            bdf.select(bucket.alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        t = sum(r["n"] for r in rows) or 1
        cur_p = {r["b"]: r["n"] / t for r in rows}
        scores[batch_id] = sum(
            (cur_p.get(b, 0.0) - p) ** 2 / p for b, p in ref_p.items() if p > 0
        )

    sdf = file_stream_source(
        spark, str(staging), EVENTS_DDL, max_files_per_trigger=1
    )
    q = (
        sdf.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    assert sorted(scores) == [0, 1, 2]
    organic = [scores[0], scores[1]]
    assert max(organic) < 0.01  # same-distribution chunks barely drift
    assert scores[2] > 10 * max(organic)  # the shifted batch must spike


def test_minhash_index_streaming_ingest_equals_batch(spark, tmp_path):
    """Continuous dedup ingest (MinhashIndex): documents arrive in three
    micro-batches; each batch emits its within-batch pairs plus its
    pairs against the accumulated index, then appends its signatures.
    The union of emitted pairs over the whole replay must equal the
    full-corpus batch minhash_pairs result — the streaming pipeline
    composes to the batch answer regardless of how arrival splits the
    corpus."""
    from flink_realtime_spark.llm.dedup import MinhashIndex, minhash_pairs
    from flink_realtime_spark.tables import Warehouse

    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    chunks_dir = tmp_path / "doc_chunks"
    chunks_dir.mkdir()
    for i in range(3):
        part = docs.filter(
            (F.col("doc_id") >= i * n / 3) & (F.col("doc_id") < (i + 1) * n / 3)
        )
        part.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"p{i}")
        )
        f = [x for x in os.listdir(tmp_path / f"p{i}") if x.endswith(".parquet")][0]
        shutil.copy(tmp_path / f"p{i}" / f, chunks_dir / f"chunk{i}.parquet")

    idx = MinhashIndex(spark, str(tmp_path / "mh_index"))
    emitted: list[tuple[int, int]] = []

    def sink(bdf, _bid: int) -> None:
        for r in idx.update(bdf).collect():
            emitted.append((r["doc_a"], r["doc_b"]))

    sdf = file_stream_source(
        spark,
        str(chunks_dir),
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
        max_files_per_trigger=1,
    )
    q = sdf.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()

    batch = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_pairs(Warehouse(spark, SF_DIR)).collect()
    }
    assert len(emitted) == len(set(emitted))  # no pair emitted twice
    assert set(emitted) == batch


def test_minhash_index_same_banding_family_on_borderline_pairs(spark):
    """Regression for the round-5 family-divergence bug: the ingest path
    seeded its minhashes over PRE-HASHED longs while the batch path seeds
    over shingle strings — two equally-good but different LSH families.
    On margin-gapped fixtures the pair sets coincide (banding catches
    every high-J pair under either family), which is why the
    streaming==batch test above never caught it; on borderline pairs
    (J barely >= 0.5, per-pair catch probability 1-(1-J^4)^4 ~ 0.23) the
    families catch DIFFERENT subsets — measured 3 extra + 4 missing of
    2557 pairs on a 50k-doc grown corpus pre-fix. This test builds 60
    engineered J=0.5 pairs (17-word docs sharing a 12-word prefix = 10 of
    15+15 trigrams shared, disjoint vocabulary per pair): with two
    independent families the expected disagreement is ~21 pairs
    (P(all agree) ~ 1e-11), with ONE family the equality is structural —
    the candidate relations are identical, so whatever banding drops, it
    drops from both paths."""
    from flink_realtime_spark.llm.dedup import MinhashIndex, minhash_pairs_over

    rows = []
    for i in range(60):
        shared = [f"p{i}w{j}" for j in range(12)]
        rows.append((2 * i, " ".join(shared + [f"p{i}a{j}" for j in range(5)])))
        rows.append((2 * i + 1, " ".join(shared + [f"p{i}b{j}" for j in range(5)])))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    batch = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_pairs_over(docs).collect()
    }
    import tempfile

    with tempfile.TemporaryDirectory(prefix="mh_family_") as work:
        idx = MinhashIndex(spark, os.path.join(work, "idx"))
        emitted: set[tuple[int, int]] = set()
        for b in range(3):
            part = docs.filter(F.col("doc_id") % 3 == b)
            for r in idx.update(part).collect():
                emitted.add((r["doc_a"], r["doc_b"]))
    # Not every planted pair survives banding (J=0.5 catch ~ 0.23, that's
    # LSH's documented recall tradeoff) — but both paths must drop the
    # SAME ones.
    assert emitted == batch


def test_minhash_index_retry_emits_no_self_pairs(spark, tmp_path):
    """At-least-once hardening: re-delivering a batch whose signatures
    already landed must not emit (x, x) self-pairs — every doc in the
    retried batch band-collides with its own stored signature, and the
    doc_id inequality on the batch-vs-index join is what keeps those
    degenerate matches out. The re-emitted cross pairs themselves are the
    documented at-least-once duplication; self-loops would corrupt any
    downstream clustering."""
    from flink_realtime_spark.llm.dedup import MinhashIndex

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 600)
    idx = MinhashIndex(spark, str(tmp_path / "mh_retry"))
    first = {(r["doc_a"], r["doc_b"]) for r in idx.update(docs).collect()}
    assert first  # the slice contains planted near-dup pairs
    retried = [(r["doc_a"], r["doc_b"]) for r in idx.update(docs).collect()]
    assert all(a != b for a, b in retried)  # no self-loops
    # the retry re-finds exactly the same real pairs, nothing new
    assert set(retried) == first
    # ... and each pair exactly ONCE: the verification relation dedups by
    # doc_id, so the doubled (batch + already-indexed) shingle rows can't
    # multiply each surviving pair 4x through the two set-joins.
    assert len(retried) == len(first)


def test_late_refire_upsert_convergence(spark, tmp_path):
    """The win_late_refire serving contract: replay the first-fire pane
    emissions, then the corrected-window emissions, through the keyed
    upsert store — the converged store must equal the final (post-
    lateness) aggregates for EVERY window, i.e. downstream state reaches
    Flink's allowedLateness result without streaming re-fire support."""
    from flink_realtime_spark.streaming.sinks import ParquetUpsertStore

    ref = registry.QUERIES["win_late_refire"](spark, SF_DIR)
    assert ref.filter(F.col("corrected")).count() > 0  # panes exercised
    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "refire_store"),
        keys=["win_start"],
        order_cols=[F.col("seq").desc()],
    )
    fires = ref.select(
        "win_start",
        F.col("n_on_time").alias("n"),
        F.col("sum_on_time").alias("s"),
        F.lit(0).alias("seq"),
    )
    corrections = ref.filter(F.col("corrected")).select(
        "win_start",
        F.col("n_final").alias("n"),
        F.col("sum_final").alias("s"),
        F.lit(1).alias("seq"),
    )
    store.merge(fires)
    store.merge(corrections)
    got = store.read().select("win_start", "n", "s")
    want = ref.select(
        "win_start",
        F.col("n_final").alias("n"),
        F.col("sum_final").alias("s"),
    )
    assert _rows(got, ["win_start", "n", "s"]) == _rows(
        want, ["win_start", "n", "s"]
    )


def test_late_refire_stream_matches_chunk_model(spark, tmp_path):
    """Incremental reconciliation (late_refire_stream_writer) over a
    3-micro-batch replay must equal a from-scratch model that classifies
    each chunk against the previous chunks' closing watermark — the exact
    batch-boundary watermark semantics Spark itself uses. The replay is
    chunked by the SAME deterministic straggler arrival order the batch
    win_late_refire key synthesizes (every 7th event +30 min, every 31st
    +3 h), so later micro-batches genuinely carry late rows. Covers state
    carry (watermark + window partials) across batches, late-row folding
    into the final pane, and past-lateness drops."""
    import math

    from flink_realtime_spark.operators.serving import (
        late_refire_serve,
        late_refire_stream_writer,
    )

    # straggler-ordered 3-chunk replay fixture
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "value")
    delay = (
        F.when(F.col("event_id") % 31 == 0, F.expr("INTERVAL 3 HOURS"))
        .when(F.col("event_id") % 7 == 0, F.expr("INTERVAL 30 MINUTES"))
        .otherwise(F.expr("INTERVAL 0 SECONDS"))
    )
    arr = (
        ev.withColumn("arr_ts", F.col("ts") + delay)
        .orderBy("arr_ts", "event_id")
        .toPandas()
    )
    n = len(arr)
    arr["c"] = [min(i * 3 // n, 2) for i in range(n)]
    d = str(tmp_path / "straggler_chunks")
    os.makedirs(d)
    for i in range(3):
        chunk = arr[arr["c"] == i][["event_id", "ts", "value"]]
        sub = spark.createDataFrame(chunk)
        sub.coalesce(1).write.mode("overwrite").parquet(f"{d}/part{i}")
        f = [x for x in os.listdir(f"{d}/part{i}") if x.endswith(".parquet")][0]
        os.rename(f"{d}/part{i}/{f}", f"{d}/chunk{i}.parquet")
        shutil.rmtree(f"{d}/part{i}")

    store = str(tmp_path / "refire_inc")
    sdf = file_stream_source(
        spark, d, "event_id LONG, ts TIMESTAMP, value DOUBLE",
        max_files_per_trigger=1,
    )
    q = (
        late_refire_stream_writer(sdf, store)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    served = {
        r.win_start: r
        for r in late_refire_serve(spark, store).collect()
    }

    # driver-side model over the same chunks
    pdf = arr
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")  # µs epoch
    chunk_max = {c: int(ts_us[pdf["c"] == c].max()) for c in (0, 1, 2)}
    wm_prev = {
        0: None,
        1: chunk_max[0],
        2: max(chunk_max[0], chunk_max[1]),
    }
    HOUR = 3600 * 1_000_000
    D = 10 * 60 * 1_000_000
    model: dict = {}
    for t, v, c in zip(ts_us, pdf["value"], pdf["c"]):
        t = int(t)
        ws = (t // HOUR) * HOUR
        we = ws + HOUR
        wmp = wm_prev[c]
        if wmp is None:
            on_time, kept = True, True
        else:
            eff = wmp - D
            on_time = eff < we
            kept = eff < we + HOUR
        if not kept:
            continue
        m = model.setdefault(ws, [0, 0.0, 0, 0, 0.0])
        val = round(float(v), 4)
        if on_time:
            m[0] += 1
            m[1] += val
        else:
            m[2] += 1
        m[3] += 1
        m[4] += val
    assert len(served) == len(model)
    total_refires = sum(m[2] for m in model.values())
    assert total_refires > 0  # stragglers must actually exercise the path
    import datetime as dt

    for ws_us, (n_on, s_on, n_re, n_fin, s_fin) in model.items():
        key = dt.datetime.utcfromtimestamp(ws_us / 1e6)
        r = served[key]
        assert (r.n_on_time, r.n_refires, r.n_final) == (n_on, n_re, n_fin), key
        assert math.isclose(r.sum_on_time, s_on, abs_tol=1e-4)
        assert math.isclose(r.sum_final, s_fin, abs_tol=1e-4)
        assert r.corrected == (n_re > 0)


def test_mv_checkpoint_restart_resumes_state(spark, tmp_path):
    """Checkpoint RESTART (not just multi-batch): fold chunk 0 in one
    streaming query, stop it, land two more chunks, start a NEW query on
    the SAME checkpoint — the restarted query must resume from the
    committed offset (no re-fold of chunk 0, no gap) and the final MV must
    equal the from-scratch batch recompute. This is the recovery contract
    a production job relies on after any redeploy/crash."""
    from flink_realtime_spark.operators.serving import mv_serve, mv_stream_writer

    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    src = str(tmp_path / "arrivals")
    os.makedirs(src)

    def land(i):
        chunk = ev.filter(
            (F.col("event_id") >= i * n / 3) & (F.col("event_id") < (i + 1) * n / 3)
        )
        chunk.coalesce(1).write.mode("overwrite").parquet(f"{src}/part{i}")
        f = [x for x in os.listdir(f"{src}/part{i}") if x.endswith(".parquet")][0]
        os.rename(f"{src}/part{i}/{f}", f"{src}/chunk{i}.parquet")
        shutil.rmtree(f"{src}/part{i}")

    mv_dir = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")

    land(0)
    sdf = file_stream_source(spark, src, EVENTS_DDL, max_files_per_trigger=1)
    q = (
        mv_stream_writer(sdf, mv_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    after_first = {
        (r.d, r.event_type): r.n_events for r in mv_serve(spark, mv_dir).collect()
    }
    assert sum(after_first.values()) == ev.filter(F.col("event_id") < n / 3).count()

    land(1)
    land(2)
    q2 = (
        mv_stream_writer(sdf, mv_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    served = mv_serve(spark, mv_dir)
    batch = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got = {(r.d, r.event_type): r.n_events for r in served.collect()}
    want = {(r.d, r.event_type): r.n_events for r in batch.collect()}
    # exact equality proves chunk 0 was not re-folded on restart
    assert got == want


def test_mv_changelog_retract_stream(spark, chunked_events_dir, tmp_path):
    """Retract-stream synthesis (the SURVEY 7.4 gap made executable):
    each fold emits the exact +I/-U/+U/-D changelog Flink's aggregation
    would; replaying the changelog (latest non-delete image per key)
    must reconstruct the final MV, retractions must pair up, and the
    first batch must be pure inserts."""
    from flink_realtime_spark.operators.serving import (
        mv_serve,
        mv_stream_writer_with_changelog,
        CHANGELOG_DDL,
    )

    mv_dir = str(tmp_path / "mv_cl")
    cl_dir = str(tmp_path / "changelog")
    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    q = (
        mv_stream_writer_with_changelog(sdf, mv_dir, cl_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pyspark.sql import Window

    cl = spark.read.schema(CHANGELOG_DDL).parquet(cl_dir)
    ops = {r.op: r.n for r in cl.groupBy("op").agg(F.count("*").alias("n")).collect()}
    assert ops.get("-U", 0) == ops.get("+U", 0) > 0  # retractions pair up
    first = cl.filter(F.col("batch_id") == cl.agg(F.min("batch_id")).collect()[0][0])
    assert {r.op for r in first.select("op").distinct().collect()} == {"+I"}

    # replay: latest image per key from the changelog == served MV
    w = Window.partitionBy("d", "event_type").orderBy(
        F.col("batch_id").desc(),
        # within a batch -U precedes +U; the new image must win
        F.when(F.col("op") == "-U", 0).otherwise(1).desc(),
    )
    latest = (
        cl.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "-D") & (F.col("op") != "-U"))
        .select("d", "event_type", "n_events", "sum_dec", "max_value")
    )
    served = mv_serve(spark, mv_dir).select(
        "d", "event_type", "n_events",
        F.col("sum_value"), "max_value",
    )
    got = _rows(
        latest.select(
            "d", "event_type", "n_events",
            F.col("sum_dec").cast("double").alias("sum_value"), "max_value",
        ),
        ["d", "event_type", "n_events", "sum_value", "max_value"],
    )
    want = _rows(served, ["d", "event_type", "n_events", "sum_value", "max_value"])
    assert got == want


def test_stream_per_row_running_sum(spark, chunked_events_dir, tmp_path):
    """TRUE per-row OVER aggregate on a stream (SURVEY §7.4 item 5): Flink
    emits one enriched row per input row from a streaming OVER window;
    Spark disallows analytic windows on streams, so the engine's
    mitigation is running_sum_state_fn (applyInPandasWithState GroupState
    running aggregate) feeding the keyed upsert store, served with a plain
    read. After bounded replay over 3 arrival-ordered micro-batches, the
    store must hold EXACTLY the batch arrival-order running window:
    SUM(DECIMAL(18,4)) OVER (PARTITION BY user_id ORDER BY event_id)."""
    from pyspark.sql import Window
    from flink_realtime_spark.streaming.sinks import ParquetUpsertStore, upsert_sink
    from flink_realtime_spark.streaming.stateful import running_sum_state_fn

    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    out = apply_with_state(
        sdf.select("user_id", "event_id", "value"),
        "user_id",
        running_sum_state_fn,
    )
    store = ParquetUpsertStore(
        spark,
        str(tmp_path / "perrow"),
        keys=["event_id"],
        order_cols=[F.col("run_n").desc()],  # each row emitted once; any order
    )
    q = upsert_sink(out, store, str(tmp_path / "ckpt")).outputMode("append").start()
    q.awaitTermination()

    served = store.read()
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batch = load_table(spark, SF_DIR, "events").select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("run_n"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("run_value"),
    )
    cols = ["event_id", "user_id", "run_n", "run_value"]
    assert _rows(served, cols) == _rows(batch, cols)


def test_state_reader_matches_query_state(spark, chunked_events_dir, tmp_path):
    """State Data Source (the Flink State Processor API / Queryable State
    analog, SURVEY.md §2.9): a keyed streaming count runs against a
    checkpoint in two availableNow rounds with new data landing in
    between; the checkpoint is then read back as BATCH DataFrames.
    Checks: (a) state-metadata catalogs the agg operator's store and its
    committed-batch range; (b) the latest keyed state equals the batch
    groupBy over everything ingested; (c) batchId time-travel returns the
    state as of the FIRST micro-batch — only the first chunk's counts;
    (d) the per-partition size audit sums to the distinct key count."""
    from flink_realtime_spark.streaming.state_inspect import (
        read_operator_state,
        state_metadata,
        state_size_by_key,
    )

    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")
    shutil.copy(f"{chunked_events_dir}/chunk0.parquet", staging)

    def run_round() -> None:
        sdf = file_stream_source(
            spark, str(staging), EVENTS_DDL, max_files_per_trigger=1
        )
        agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_round()  # batch 0: chunk0 only
    shutil.copy(f"{chunked_events_dir}/chunk1.parquet", staging)
    shutil.copy(f"{chunked_events_dir}/chunk2.parquet", staging)
    run_round()  # batches 1..2: one chunk each

    # (a) metadata catalogs the keyed-agg store
    md = state_metadata(spark, ckpt).collect()
    agg_ops = [r for r in md if r["operatorName"] == "stateStoreSave"]
    assert len(agg_ops) == 1
    assert agg_ops[0]["minBatchId"] == 0
    assert agg_ops[0]["maxBatchId"] >= 1

    def counts_of(df) -> dict:
        return {r["event_type"]: r["n"] for r in df.collect()}

    # (b) latest state == batch analog over all ingested chunks
    latest = read_operator_state(spark, ckpt)
    assert set(latest.columns) == {"event_type", "count", "partition_id"}
    got = {r["event_type"]: r["count"] for r in latest.collect()}
    exp = counts_of(
        spark.read.parquet(str(staging))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got == exp

    # (c) time-travel to the first committed batch: chunk0 counts only
    first = read_operator_state(spark, ckpt, batch_id=0)
    got0 = {r["event_type"]: r["count"] for r in first.collect()}
    exp0 = counts_of(
        spark.read.parquet(f"{chunked_events_dir}/chunk0.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got0 == exp0

    # (d) skew audit: total keys across partitions = distinct key count
    sizes = state_size_by_key(spark, ckpt)
    assert sum(r["n_keys"] for r in sizes.collect()) == len(exp)


def test_state_change_feed_replays_to_latest(spark, chunked_events_dir, tmp_path):
    """State change feed (Flink state-changelog analog): the same keyed
    count as the snapshot test, but on the RocksDB store with changelog
    checkpointing — production's incremental-commit configuration. The
    feed must contain one 'update' row per touched key per batch, and
    replaying it (last change per key) must reconstruct exactly the
    latest snapshot read. Provider confs are restored afterwards so the
    shared session's other streaming tests keep the default store."""
    from flink_realtime_spark.streaming.state_inspect import (
        read_operator_state,
        state_changes,
    )

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    changelog_conf = (
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    )
    old_provider = spark.conf.get(provider_conf, None)
    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def run_round() -> None:
        sdf = file_stream_source(
            spark, str(staging), EVENTS_DDL, max_files_per_trigger=1
        )
        agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.conf.set(
        provider_conf,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    spark.conf.set(changelog_conf, "true")
    try:
        shutil.copy(f"{chunked_events_dir}/chunk0.parquet", staging)
        run_round()  # batch 0
        shutil.copy(f"{chunked_events_dir}/chunk1.parquet", staging)
        run_round()  # batch 1
    finally:
        if old_provider is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, old_provider)
        spark.conf.unset(changelog_conf)

    changes = state_changes(spark, ckpt, start_batch=0).collect()
    assert {r["change_type"] for r in changes} == {"update"}
    assert {r["batch_id"] for r in changes} == {0, 1}
    # batch 0's changes are exactly chunk0's per-key counts
    b0 = {r["event_type"]: r["count"] for r in changes if r["batch_id"] == 0}
    exp0 = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{chunked_events_dir}/chunk0.parquet")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert b0 == exp0
    # replay: last change per key == the latest snapshot
    replayed: dict[str, int] = {}
    for r in sorted(changes, key=lambda r: r["batch_id"]):
        replayed[r["event_type"]] = r["count"]
    snapshot = {
        r["event_type"]: r["count"]
        for r in read_operator_state(spark, ckpt).collect()
    }
    assert replayed == snapshot



def test_rocksdb_checkpoint_keeps_checksum_files(spark, chunked_events_dir, tmp_path):
    """session.prepare pins the FileSystem checkpoint manager on a local
    master (no forked readlink/chmod per file). Checksums must survive the
    swap: Hadoop's .N.crc next to every offsets/commits file, and Spark's
    N.changelog.crc next to every RocksDB changelog under state/."""
    from flink_realtime_spark.session import prepare

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_conf, None)
    prepare(spark)
    staging = tmp_path / "staging"
    staging.mkdir()
    ckpt = tmp_path / "ckpt"
    spark.conf.set(provider_conf, ROCKSDB)
    try:
        for i in range(2):
            shutil.copy(f"{chunked_events_dir}/chunk{i}.parquet", staging)
            sdf = file_stream_source(
                spark, str(staging), EVENTS_DDL, max_files_per_trigger=1
            )
            (
                sdf.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .writeStream.outputMode("update")
                .format("noop")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
    finally:
        if old_provider is None:
            spark.conf.unset(provider_conf)
        else:
            spark.conf.set(provider_conf, old_provider)

    for log in ("offsets", "commits"):
        files = set(os.listdir(ckpt / log))
        batches = {f for f in files if f.isdigit()}
        assert batches == {"0", "1"}
        assert all(f".{n}.crc" in files for n in batches), (log, files)
    changelogs = [
        (root, f)
        for root, _dirs, files in os.walk(ckpt / "state")
        for f in files
        if f.endswith(".changelog")
    ]
    assert changelogs
    for root, f in changelogs:
        assert os.path.exists(os.path.join(root, f + ".crc")), (root, f)

def test_cep_absence_stream_matches_batch(spark, chunked_events_dir):
    """Quantified-negation CEP (Flink notFollowedBy + within): a
    prefix-matched click (view within 30 min before it) with no purchase
    in the 30 minutes after alerts when the watermark passes the
    deadline. Every streamed alert must be a batch-analog alert; every
    batch alert whose deadline the watermark provably passed mid-replay
    must have been emitted (the final chunk's tail may stay pending)."""
    from flink_realtime_spark.streaming.stateful import (
        absence_state_fn,
        apply_with_state,
    )

    sdf = (
        file_stream_source(
            spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
        )
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .withWatermark("ts", "1 minute")
    )
    alerts = apply_with_state(sdf, "user_id", absence_state_fn, timeout="event")
    streamed = {
        (r.user_id, r.click_id)
        for r in run_available_now(alerts, "append").collect()
    }

    batch = registry.QUERIES["cep_absence"](spark, SF_DIR)
    batch_alerts = {(r.user_id, r.click_id): r.click_ts for r in batch.collect()}
    assert streamed <= set(batch_alerts)

    import datetime as dt

    chunk01_max = (
        spark.read.parquet(
            f"{chunked_events_dir}/chunk0.parquet",
            f"{chunked_events_dir}/chunk1.parquet",
        )
        .selectExpr("max(ts) AS m")
        .collect()[0]["m"]
    )
    wm = chunk01_max - dt.timedelta(minutes=1)
    must_fire = {
        k
        for k, cts in batch_alerts.items()
        if cts + dt.timedelta(minutes=30) < wm
    }
    assert must_fire <= streamed
    assert len(streamed) >= len(must_fire) > 0


def test_cep_strict_next_stream_matches_batch(spark, chunked_events_dir):
    """Strict-contiguity CEP under streaming: adjacency is decidable the
    moment the successor event arrives (no timers, no pending windows),
    and the chunk replay preserves event-time order, so the streamed
    match set must EXACTLY equal the batch strict_pair relation —
    including pairs whose two events land in different micro-batches
    (carried by the last-event state)."""
    from flink_realtime_spark.streaming.stateful import (
        adjacency_state_fn,
        apply_with_state,
    )

    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    )
    matches = apply_with_state(sdf, "user_id", adjacency_state_fn)
    streamed = {
        (r.user_id, r.prev_id, r.anchor_id)
        for r in run_available_now(matches, "append").collect()
    }
    batch = {
        (r.user_id, r.view_id, r.purchase_id)
        for r in registry.QUERIES["cep_strict_next"](spark, SF_DIR).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_temporal_join_stream_matches_batch_asof(spark, chunked_events_dir):
    """Streaming temporal-table join (Flink FOR SYSTEM_TIME AS OF): the
    keyed latest-version state enriching facts as they arrive must
    reproduce the batch as-of join EXACTLY under order-preserving replay
    — each purchase gets the click version in force at its event time,
    including versions set in an earlier micro-batch (carried by state)
    and purchases before any click (dropped, the batch inner filter)."""
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        temporal_join_state_fn,
    )

    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    ).filter(F.col("event_type").isin("click", "purchase"))
    joined = apply_with_state(sdf, "user_id", temporal_join_state_fn)
    streamed = {
        (r.purchase_id, r.user_id, r.click_id, r.click_value)
        for r in run_available_now(joined, "append").collect()
    }
    batch = {
        (r.purchase_id, r.user_id, r.click_id, r.click_value)
        for r in registry.QUERIES["join_asof_temporal"](
            spark, SF_DIR
        ).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_forward_asof_stream_matches_batch(spark, chunked_events_dir):
    """Streaming forward as-of: each click pends in keyed state until the
    user's next purchase flushes it; under order-preserving replay the
    emitted set equals the batch join_asof_forward relation exactly —
    trailing clicks with no later purchase stay pending, which is
    precisely the batch inner join's dropped set."""
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        forward_asof_state_fn,
    )

    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    ).filter(F.col("event_type").isin("click", "purchase"))
    joined = apply_with_state(sdf, "user_id", forward_asof_state_fn)
    streamed = {
        (r.click_id, r.user_id, r.purchase_id, r.purchase_value)
        for r in run_available_now(joined, "append").collect()
    }
    batch = {
        (r.click_id, r.user_id, r.purchase_id, r.purchase_value)
        for r in registry.QUERIES["join_asof_forward"](
            spark, SF_DIR
        ).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_nearest_asof_stream_upsert_matches_batch(spark, chunked_events_dir):
    """Streaming nearest as-of in the provisional+correction pattern: the
    max-rev emission per click (what a latest-wins upsert store keyed on
    click_id materializes) must equal the batch join_asof_nearest
    relation exactly — provisional backward rows stand unless a strictly
    nearer forward purchase re-emits them."""
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        nearest_asof_state_fn,
    )

    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    ).filter(F.col("event_type").isin("click", "purchase"))
    emitted = run_available_now(
        apply_with_state(sdf, "user_id", nearest_asof_state_fn), "append"
    ).collect()
    latest = {}
    for r in emitted:
        prev = latest.get(r.click_id)
        if prev is None or r.rev > prev[0]:
            latest[r.click_id] = (r.rev, r.user_id, r.purchase_id, r.purchase_value)
    streamed = {
        (cid, u, pid, pval) for cid, (_, u, pid, pval) in latest.items()
    }
    batch = {
        (r.click_id, r.user_id, r.purchase_id, r.purchase_value)
        for r in registry.QUERIES["join_asof_nearest"](
            spark, SF_DIR
        ).collect()
    }
    assert streamed == batch
    assert len(batch) > 0
    # the correction path must actually fire on the fixture
    assert any(r.rev == 1 for r in emitted)


def test_cep_pattern_compiler_shapes_and_validation(spark):
    """The pattern compiler supports exactly three lowering shapes and
    rejects everything else at compile time (no silent wrong answers);
    a required follow-up filters to completed matches, an optional one
    keeps every run with a hit flag."""
    import datetime as dt

    from flink_realtime_spark.streaming.cep import (
        CepUnsupportedPattern,
        Pattern,
        compile_pattern,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: click,click then purchase 10 min later (success);
        # user 2: click,click,click then view; no purchase (miss);
        # user 3: single click (no run)
        (1, t0, 1, "click"),
        (2, t0 + dt.timedelta(minutes=1), 1, "click"),
        (3, t0 + dt.timedelta(minutes=11), 1, "purchase"),
        (4, t0, 2, "click"),
        (5, t0 + dt.timedelta(minutes=1), 2, "click"),
        (6, t0 + dt.timedelta(minutes=2), 2, "click"),
        (7, t0 + dt.timedelta(minutes=3), 2, "view"),
        (8, t0, 3, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )

    opt = (
        Pattern.begin("click")
        .times_or_more(2)
        .followed_by("purchase", optional=True)
        .within("30 MINUTES")
    )
    got = {
        (r.user_id, r.run_len): r.hit for r in compile_pattern(ev, opt).collect()
    }
    assert got == {(1, 2): 1, (2, 3): 0}

    req = (
        Pattern.begin("click")
        .times_or_more(2)
        .followed_by("purchase")
        .within("30 MINUTES")
    )
    req_df = compile_pattern(ev, req)
    assert "hit" not in req_df.columns
    assert [(r.user_id, r.run_len) for r in req_df.collect()] == [(1, 2)]

    anchored = (
        Pattern.begin("view")
        .followed_by("click")
        .not_followed_by("purchase")
        .within("30 MINUTES")
    )
    assert compile_pattern(ev, anchored).count() == 0  # no view->click here

    # strict_pair: click immediately followed by purchase — only user 1's
    # (2, 3) adjacency qualifies (10-min gap), and a 5-min within() bound
    # excludes it
    adj = Pattern.begin("click").next("purchase")
    got_adj = [
        (r.user_id, r.prev_id, r.anchor_id)
        for r in compile_pattern(ev, adj).collect()
    ]
    assert got_adj == [(1, 2, 3)]
    assert (
        compile_pattern(
            ev, Pattern.begin("click").next("purchase").within("5 MINUTES")
        ).count()
        == 0
    )

    seq = Pattern.begin("click").followed_by("purchase")
    first = {
        r.user_id: r.t_step2 is not None
        for r in compile_pattern(ev, seq).collect()
    }
    assert first == {1: True, 2: False, 3: False}

    # anchored within(): user 1's purchase lands 11 min after the FIRST
    # click — inside a 30-min horizon, outside a 5-min one
    tight = Pattern.begin("click").followed_by("purchase").within("5 MINUTES")
    first_tight = {
        r.user_id: r.t_step2 is not None
        for r in compile_pattern(ev, tight).collect()
    }
    assert first_tight == {1: False, 2: False, 3: False}

    for bad in (
        lambda: Pattern.begin("a")._shape(),  # single step
        lambda: (
            Pattern.begin("a").times_or_more(2, consecutive=False)._shape()
        ),  # relaxed quantifier
        lambda: (
            Pattern.begin("a").times_or_more(2).followed_by("b")._shape()
        ),  # quantified follow-up without within()
        lambda: Pattern.begin("a").next("b").not_followed_by("c")._shape(),
        lambda: (
            Pattern.begin("a").not_followed_by("b").followed_by("c")
        ),  # negation is terminal
        lambda: (
            Pattern.begin("a").next("b").followed_by("c")._shape()
        ),  # strict step in a longer chain would be silently relaxed
        lambda: (
            Pattern.begin(("a", "b")).times_or_more(2)._shape()
        ),  # alternation not lowered in quantified shapes
        lambda: (
            Pattern.begin(("a", "b"))
            .followed_by("c")
            .not_followed_by("d")
            .within("1 HOUR")
            ._shape()
        ),  # alternation not lowered in the negation shape
        lambda: Pattern.begin(()),  # empty type set
    ):
        with pytest.raises(CepUnsupportedPattern):
            bad()

    # alternation in strict_pair: (click|view) immediately followed by
    # purchase still finds only user 1's (2, 3) adjacency
    adj_any = Pattern.begin(("click", "view")).next("purchase")
    assert [
        (r.user_id, r.prev_id, r.anchor_id)
        for r in compile_pattern(ev, adj_any).collect()
    ] == [(1, 2, 3)]


def test_cep_strict_vs_relaxed_anchor(spark):
    """The per_anchor negation honors next() vs followed_by(): with an
    intervening event between view and click, the relaxed anchor still
    arms (most recent preceding view) but the strict anchor must NOT —
    its immediately-preceding event is the error, not the view."""
    import datetime as dt

    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 1, "view"),
        (2, t0 + dt.timedelta(minutes=1), 1, "error"),
        (3, t0 + dt.timedelta(minutes=2), 1, "click"),
        (4, t0, 2, "view"),
        (5, t0 + dt.timedelta(minutes=1), 2, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    relaxed = (
        Pattern.begin("view")
        .followed_by("click")
        .not_followed_by("purchase")
        .within("30 MINUTES")
    )
    strict = (
        Pattern.begin("view")
        .next("click")
        .not_followed_by("purchase")
        .within("30 MINUTES")
    )
    got_relaxed = {
        r.user_id for r in compile_pattern(ev, relaxed).collect()
    }
    got_strict = {r.user_id for r in compile_pattern(ev, strict).collect()}
    assert got_relaxed == {1, 2}
    assert got_strict == {2}


def test_cep_pattern_stream_compiler_dispatch():
    """compile_pattern_stream maps each supported shape onto the right
    state-fn factory (with its schema registered) and rejects shapes with
    no streaming finalization signal."""
    from flink_realtime_spark.streaming.cep import (
        CepUnsupportedPattern,
        Pattern,
        compile_pattern_stream,
    )
    from flink_realtime_spark.streaming.stateful import _STATE_SCHEMAS

    anchored = (
        Pattern.begin("view")
        .followed_by("click")
        .not_followed_by("purchase")
        .within("30 MINUTES")
    )
    fn = compile_pattern_stream(anchored)
    assert fn.__name__ == "absence_state_fn" and fn in _STATE_SCHEMAS

    adj = Pattern.begin("view").next("purchase").within("1 DAY")
    fn = compile_pattern_stream(adj)
    assert fn.__name__ == "adjacency_state_fn" and fn in _STATE_SCHEMAS

    # a strict negation anchor would be silently relaxed by
    # absence_state_fn — rejected, not approximated
    with pytest.raises(CepUnsupportedPattern):
        compile_pattern_stream(
            Pattern.begin("view")
            .next("click")
            .not_followed_by("purchase")
            .within("30 MINUTES")
        )

    runs = (
        Pattern.begin("error")
        .times_or_more(3)
        .followed_by("purchase", optional=True)
        .within("2 HOURS")
    )
    fn = compile_pattern_stream(runs)
    assert fn.__name__ == "retry_state_fn" and fn in _STATE_SCHEMAS

    seq = Pattern.begin("signup").followed_by("view").followed_by("purchase")
    fn = compile_pattern_stream(seq)
    assert fn.__name__ == "sequence_state_fn" and fn in _STATE_SCHEMAS

    with pytest.raises(CepUnsupportedPattern):
        compile_pattern_stream(
            Pattern.begin("error").times_or_more(3).within("1 HOUR")
        )
    with pytest.raises(CepUnsupportedPattern):
        compile_pattern_stream(
            Pattern.begin("a")
            .followed_by("b")
            .not_followed_by("c")
            .within("1 fortnight")
        )


def test_cep_retry_stream_matches_batch(spark, chunked_events_dir):
    """Compiler-lowered quantified pattern (click{2,} purchase?) under
    streaming: every streamed burst must appear in the batch strict_runs
    relation with the SAME hit verdict; every batch burst whose verdict
    was provably final mid-replay (hit=1 once its purchase was processed,
    hit=0 once the watermark passed its deadline and a later event closed
    the run) must have been emitted. Trailing open runs stay pending by
    construction."""
    import datetime as dt

    from flink_realtime_spark.streaming.cep import (
        Pattern,
        compile_pattern,
        compile_pattern_stream,
    )
    from flink_realtime_spark.streaming.stateful import apply_with_state

    stream_pat = (
        Pattern.begin("click")
        .times_or_more(2)
        .followed_by("purchase", optional=True)
        .within("30 MINUTES")
    )
    sdf = file_stream_source(
        spark, chunked_events_dir, EVENTS_DDL, max_files_per_trigger=1
    ).withWatermark("ts", "1 minute")
    # the compiler's STREAMING lowering — same dispatch as the batch side
    bursts = apply_with_state(
        sdf, "user_id", compile_pattern_stream(stream_pat), timeout="event"
    )
    streamed = {
        (r.user_id, r.last_click_us, r.run_len): r.hit
        for r in run_available_now(bursts, "append").collect()
    }

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    pat = (
        Pattern.begin("click")
        .times_or_more(2)
        .followed_by("purchase", optional=True)
        .within("30 MINUTES")
    )

    def us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    batch = {
        (r.user_id, us(r.last_ts), r.run_len): r.hit
        for r in compile_pattern(ev, pat).collect()
    }
    assert streamed.items() <= batch.items()

    # verdict-final set: a hit=1 burst emits when its purchase is
    # processed (the purchase itself closes the run); a hit=0 burst needs
    # the final-batch watermark past its deadline AND a later event to
    # have closed the run (strict ts > last_click — tie-closed runs are
    # conservatively excluded).
    wm_final_us = (
        us(
            spark.read.parquet(
                f"{chunked_events_dir}/chunk0.parquet",
                f"{chunked_events_dir}/chunk1.parquet",
            )
            .selectExpr("max(ts) AS m")
            .collect()[0]["m"]
        )
        - 60_000_000
    )
    last_per_user = {
        r.user_id: us(r.m)
        for r in ev.groupBy("user_id").agg(F.max("ts").alias("m")).collect()
    }
    deadline_us = 30 * 60 * 1_000_000
    must_fire = {
        k
        for k, hit in batch.items()
        if (hit == 1 and last_per_user[k[0]] > k[1])
        or (
            hit == 0
            and k[1] + deadline_us < wm_final_us
            and last_per_user[k[0]] > k[1]
        )
    }
    assert must_fire <= set(streamed)
    assert all(streamed[k] == batch[k] for k in must_fire)
    n_hit = sum(1 for k in must_fire if batch[k] == 1)
    assert n_hit > 0 and len(must_fire) > n_hit  # both verdicts exercised


def test_cep_absence_out_of_order_within_watermark(spark, tmp_path):
    """ADVICE r5 regression: late-but-within-watermark out-of-order events
    must follow the batch analog's (ts, event_id) total order, not arrival
    order. Two directions, one staged replay:

    - user 7: a purchase arriving in a LATER micro-batch with an EARLIER
      ts than the armed click precedes the click in event order, so it
      must NOT disarm (the pre-fix one-sided bound disarmed on any
      purchase with ts <= deadline, suppressing an alert batch emits);
    - user 8: a late view with an OLDER ts must not overwrite a newer
      anchor (batch keeps the backward-MAX view ts; last-write-wins made
      a later click fail the 30-minute prefix check and never arm)."""
    import datetime as dt

    from flink_realtime_spark.streaming.sources import EVENTS_DDL, file_stream_source
    from flink_realtime_spark.streaming.stateful import (
        absence_state_fn,
        apply_with_state,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, typ, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, typ, 0.0, "{}")

    # One file per micro-batch (maxFilesPerTrigger=1); batch N runs with
    # the watermark from batch N-1's max event time minus 1 minute.
    chunks = [
        # batch 0 (wm -inf): arm user 7's click (view@0 -> click@10)
        [ev(1, 7, "view", 0), ev(2, 7, "click", 10)],
        # batch 1 (wm 9): user 7 purchase@9.5 — admitted, but PRECEDES the
        # click in (ts, event_id); user 8's anchor view@20
        [ev(0, 7, "purchase", 9.5), ev(10, 8, "view", 20)],
        # batch 2 (wm 19): user 8 late view@19.5 (older than the anchor),
        # then click@50 whose prefix window is [20, 50]
        [ev(11, 8, "view", 19.5), ev(12, 8, "click", 50)],
        # batches 3-4: advance the watermark past both deadlines (40, 80)
        [ev(90, 99, "view", 85)],
        [ev(91, 99, "view", 86)],
    ]
    staging = tmp_path / "chunks"
    staging.mkdir()
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"c{i}"))
        f = [
            x for x in os.listdir(tmp_path / f"c{i}") if x.endswith(".parquet")
        ][0]
        shutil.copy(tmp_path / f"c{i}" / f, staging / f"chunk{i}.parquet")

    sdf = file_stream_source(
        spark, str(staging), EVENTS_DDL, max_files_per_trigger=1
    ).withWatermark("ts", "1 minute")
    alerts = apply_with_state(sdf, "user_id", absence_state_fn, timeout="event")
    emitted = {
        (r.user_id, r.click_id)
        for r in run_available_now(alerts, "append").collect()
    }
    assert emitted == {(7, 2), (8, 12)}


def test_cep_absence_view_only_state_self_cleans(spark, tmp_path):
    """Round-5 state-boundedness hardening, verified through the state
    reader: a view-only user's anchor must be PRUNED once it falls a full
    horizon behind the watermark (Flink CEP prunes partial matches after
    within() the same way) — before the fix it lived forever with no
    timer, growing keyed state with the total user population over a
    long-running job. Three chunks: chunk0 plants a view-only user (1)
    and a view+unanswered-click user (2); chunk1 advances the watermark
    past both deadlines; chunk2 adds a fresh view-only user (3). After
    the replay the store must hold ONLY the fresh anchors."""
    import datetime as dt

    from flink_realtime_spark.streaming.state_inspect import read_operator_state
    from flink_realtime_spark.streaming.stateful import (
        absence_state_fn,
        apply_with_state,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, typ, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, typ, 0.0, "{}")

    chunks = [
        [ev(1, 1, "view", 0), ev(2, 2, "view", 0), ev(3, 2, "click", 1)],
        [ev(4, 50, "view", 40)],
        [ev(5, 3, "view", 41)],
    ]
    staging = tmp_path / "chunks"
    staging.mkdir()
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"c{i}"))
        f = [
            x
            for x in os.listdir(tmp_path / f"c{i}")
            if x.endswith(".parquet")
        ][0]
        shutil.copy(tmp_path / f"c{i}" / f, staging / f"chunk{i}.parquet")

    sdf = file_stream_source(
        spark, str(staging), EVENTS_DDL, max_files_per_trigger=1
    ).withWatermark("ts", "1 minute")
    alerts = apply_with_state(sdf, "user_id", absence_state_fn, timeout="event")
    ckpt = str(tmp_path / "ckpt")
    q = (
        alerts.writeStream.outputMode("append")
        .format("memory")
        .queryName("absence_prune")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    emitted = {
        (r.user_id, r.click_id)
        for r in spark.sql("SELECT * FROM absence_prune").collect()
    }
    assert (2, 3) in emitted  # user 2's unanswered click fired before cleanup

    users = {
        r["user_id"] for r in read_operator_state(spark, ckpt).collect()
    }
    assert 1 not in users  # stale view-only anchor pruned at its own timer
    assert 2 not in users  # alert emitted, then state removed
    assert users >= {3, 50}  # fresh anchors (within horizon of wm) retained


def test_flatten_state_collision_prefixes(spark):
    """ADVICE r4: a store whose key and value structs share a field name
    must flatten to key_/value_ prefixed columns, not duplicates;
    non-colliding fields keep their bare names."""
    from flink_realtime_spark.streaming.state_inspect import _flatten_state

    df = spark.createDataFrame(
        [((1, "a"), (2, 3.0), 0)],
        "key struct<n:int,k:string>, value struct<n:int,v:double>, "
        "partition_id int",
    )
    out = _flatten_state(df)
    assert out.columns == ["key_n", "k", "value_n", "v", "partition_id"]
    row = out.collect()[0]
    assert (row.key_n, row.k, row.value_n, row.v) == (1, "a", 2, 3.0)


def test_state_change_feed_key_caches_checkpoint(spark):
    """The state_change_feed oracle key builds its two-batch RocksDB
    changelog checkpoint once per (session, sf_dir) and reuses it —
    repeated invocations (bench median-of-3, dump_plans) must not launch
    new streaming jobs or leak tempdirs — and the session's state-store
    provider conf is restored after the build."""
    from flink_realtime_spark.streaming import state_inspect

    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(provider_conf, None)
    first = registry.QUERIES["state_change_feed"](spark, SF_DIR)
    n_cached = len(state_inspect._CKPT_CACHE)
    second = registry.QUERIES["state_change_feed"](spark, SF_DIR)
    assert len(state_inspect._CKPT_CACHE) == n_cached
    assert spark.conf.get(provider_conf, None) == before
    cols = ["event_type", "n_state_updates", "batch0_n_events", "final_n_events"]
    assert _rows(first, cols) == _rows(second, cols)
    # the feed's facts agree with the batch table it replayed
    ev = load_table(spark, SF_DIR, "events")
    exp = {
        r.event_type: (r.total, r.even)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(
                F.when(F.pmod("event_id", F.lit(2)) == 0, 1).otherwise(0)
            ).alias("even"),
        )
        .collect()
    }
    for r in first.collect():
        total, even = exp[r.event_type]
        assert r.final_n_events == total
        assert r.batch0_n_events == even
        assert r.n_state_updates == 2


def test_cep_bounded_band_stream_and_batch(spark, tmp_path):
    """times(m, n) band bound, both lowerings on one staged replay:
    a 3-run (in band, recovered), a 4-run (excluded by the upper bound
    even though it satisfies {2,}), and a 2-run with no purchase whose
    deadline the watermark passes (in band, hit=0). The 4-run user is
    the regression: before max_count existed, both lowerings reported
    it."""
    import datetime as dt

    from flink_realtime_spark.streaming.cep import (
        Pattern,
        compile_pattern,
        compile_pattern_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, uid, typ, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, typ, 0.0, "{}")

    chunks = [
        # user 1: errors@0,1,2 → view closes the run → purchase@10 (hit)
        # user 2: errors@0..3 (4-run, band-excluded) → view → purchase
        # user 3: errors@0,1 → view closes → no purchase ever
        [
            ev(1, 1, "error", 0), ev(2, 1, "error", 1), ev(3, 1, "error", 2),
            ev(4, 2, "error", 0), ev(5, 2, "error", 1), ev(6, 2, "error", 2),
            ev(7, 2, "error", 3),
        ],
        [
            ev(8, 1, "view", 5), ev(9, 2, "view", 5), ev(10, 3, "error", 0),
            ev(11, 3, "error", 1), ev(12, 3, "view", 5),
        ],
        # purchases + a far-future watermark driver event so user 3's
        # 30-minute deadline finalizes as hit=0
        [
            ev(13, 1, "purchase", 10), ev(14, 2, "purchase", 10),
            ev(15, 9, "view", 600),
        ],
    ]
    d = tmp_path / "band_chunks"
    d.mkdir()
    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"part{i}"))
        sub = [
            f for f in os.listdir(d / f"part{i}") if f.endswith(".parquet")
        ][0]
        os.rename(d / f"part{i}" / sub, d / f"chunk{i}.parquet")
        shutil.rmtree(d / f"part{i}")

    pat = (
        Pattern.begin("error")
        .times(2, 3)
        .followed_by("purchase", optional=True)
        .within("30 MINUTES")
    )

    all_ev = spark.read.parquet(*(str(d / f"chunk{i}.parquet") for i in range(3)))
    batch = {
        (r.user_id, r.run_len): r.hit for r in compile_pattern(all_ev, pat).collect()
    }
    assert batch == {(1, 3): 1, (3, 2): 0}  # user 2's 4-run banded out

    sdf = file_stream_source(
        spark, str(d), EVENTS_DDL, max_files_per_trigger=1
    ).withWatermark("ts", "1 minute")
    streamed = {
        (r.user_id, r.run_len): r.hit
        for r in run_available_now(
            apply_with_state(
                sdf, "user_id", compile_pattern_stream(pat), timeout="event"
            ),
            "append",
        ).collect()
    }
    assert streamed == batch


def test_cep_times_band_shape_checks():
    """times(m, n) validation: dispatches to strict_runs, rejects an
    inverted band and composes with the existing quantifier guards."""
    import pytest as _pytest

    from flink_realtime_spark.streaming.cep import CepUnsupportedPattern, Pattern

    assert (
        Pattern.begin("a").times(2, 3).followed_by("b", optional=True)
        .within("1 HOUR")._shape()
        == "strict_runs"
    )
    assert Pattern.begin("a").times(1, 4)._shape() == "strict_runs"
    with _pytest.raises(CepUnsupportedPattern):
        Pattern.begin("a").times(3, 2)
    with _pytest.raises(CepUnsupportedPattern):
        Pattern.begin("a").times(0, 2)
    with _pytest.raises(CepUnsupportedPattern):
        Pattern.begin("a").times(2, 3, consecutive=False)._shape()
