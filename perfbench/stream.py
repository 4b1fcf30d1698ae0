"""Open-loop stream workload: ODS file source -> DWD broadcast dimension join
with a JSON extract -> DWS per-user latest image in
``apply_with_state(latest_image_state_fn)`` on RocksDB -> ADS
``ParquetUpsertStore.merge`` per micro-batch (foreachBatch).

A separate generator process (eventgen.py) writes event files on a fixed
schedule at a rate well under the drain rate, then one fixed burst. Event
latency needs no code inside the pipeline: the generator logs each file's
due time, the sink wrapper logs each batch's merge-end time, and the
checkpoint's file-source log (``sources/0``) maps files to batches.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime

from pyspark.sql import functions as F

from perfbench.measure import median, tail

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

# Open-loop schedule. The steady rate sits well under the drain rate, so
# latency reflects per-trigger cost; the burst measures per-event cost.
RATE_EPS = 400
FILES_PER_S = 10
WARM_S = 6.0          # first seconds of the steady phase, not measured
LEAD_S = 0.5          # generator start-up before the first file is due
# Large enough that the trigger taking it spends most of its time on
# per-event work (source read, join, the Python state function) rather
# than on the fixed sink rewrite and commits.
BURST_EVENTS = 30_000
BURST_FILES = 4
# Fixed-interval micro-batches. Spark starts them on multiples of the
# interval since the epoch, and the schedule is laid on the same grid, so
# a file's wait for its trigger follows the same pattern in every run and
# run-to-run spread comes from the pipeline's own work. The burst is due
# midway between the boundary that starts the last steady trigger and the
# next one, so the next trigger takes it whole and on its own; its drain
# is timed from that trigger's start, not from the due time.
# The interval leaves room above a steady trigger (about 4 s on four cores,
# near 6 s on a busy machine), so the stream keeps up with its grid.
TRIGGER_S = 6.0
BURST_AFTER_S = 3.0
OOO_SHARE = 0.1
ZIPF_S = 1.1
# Which customers the Zipf skew makes hot. Fixed, unlike the workload seed
# that drives the generator, so every run loads the state partitions alike.
KEY_SEED = 42
VISIBLE_DEADLINE_S = 90.0


# ------------------------------------------------------------ pure parts


def source_file_batches(source_log_dir: str) -> dict[str, int]:
    """File name -> micro-batch id, from a file-source metadata log.

    The log holds one file per batch ("0", "1", ...); every compaction
    interval a "<N>.compact" file repeats all earlier entries. Checksum
    siblings (".<N>.crc") and temporary files are hidden and skipped. The
    first line of each file is a version marker; each further line is one
    JSON entry with "path" and "batchId"."""
    out: dict[str, int] = {}
    for name in sorted(os.listdir(source_log_dir)):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if not stem.isdigit():
            continue
        with open(os.path.join(source_log_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            entry = json.loads(line)
            base = os.path.basename(entry["path"])
            bid = int(entry["batchId"])
            out[base] = min(bid, out.get(base, bid))
    return out


def file_latencies(
    gen_log: list[dict], batch_of: dict[str, int], merge_end: dict[int, float]
) -> dict[str, float | None]:
    """File name -> seconds from its due time until the merge that made it
    visible returned; None when it never became visible."""
    out = {}
    for rec in gen_log:
        bid = batch_of.get(rec["name"])
        end = merge_end.get(bid) if bid is not None else None
        out[rec["name"]] = None if end is None else end - rec["due"]
    return out


def lateness_ms(gen_log: list[dict]) -> list[float]:
    """How late the generator wrote each file, in ms (0 when on time)."""
    return [max(0.0, (r["written"] - r["due"]) * 1e3) for r in gen_log]


def backlog_files(gen_log: list[dict], batch_of: dict[str, int], trigger_start: dict[int, float]) -> int:
    """Largest number of files already written but not yet taken by any
    earlier batch, seen at the start of a trigger."""
    worst = 0
    for bid, t in trigger_start.items():
        n = sum(
            1 for r in gen_log
            if r["written"] <= t and batch_of.get(r["name"], bid) >= bid
        )
        worst = max(worst, n)
    return worst


def burst_drain(
    gen_log: list[dict], batch_of: dict[str, int], merge_end: dict[int, float],
    trigger_start: dict[int, float], t_end: float,
) -> tuple[float, list[int]]:
    """(seconds, batch ids) of the burst drain: from the start of the first
    trigger that took a burst file until the merge that made the last one
    visible returned. A burst file never taken or never merged ends the
    drain at ``t_end``; with no trigger start known it starts at the
    burst's due time."""
    burst = [r for r in gen_log if r["burst"]]
    if not burst:
        return 0.0, []
    batches = sorted({batch_of[r["name"]] for r in burst if r["name"] in batch_of})
    start = trigger_start.get(batches[0], burst[0]["due"]) if batches else burst[0]["due"]
    ends = [merge_end.get(batch_of.get(r["name"]), t_end) for r in burst]
    return max(ends) - start, batches


def progress_start(p: dict) -> float:
    """Epoch seconds at which a streaming progress report's trigger started."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _next_boundary(t: float) -> float:
    """The first multiple of TRIGGER_S (seconds since the epoch) after t."""
    return (int(t // TRIGGER_S) + 1) * TRIGGER_S


# ------------------------------------------------------------- workload


def _dims(spark, sf_dir: str):
    """customer joined with nation: the DWD enrichment side."""
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
        F.col("c_custkey"), F.col("n_name")
    )


def pipeline(spark, events_dir: str, sf_dir: str, max_files_per_trigger: int | None = None):
    from flink_realtime_spark.streaming.sources import EVENTS_DDL, file_stream_source
    from flink_realtime_spark.streaming.stateful import apply_with_state, latest_image_state_fn

    ods = file_stream_source(spark, events_dir, EVENTS_DDL, max_files_per_trigger=max_files_per_trigger)
    dwd = ods.join(F.broadcast(_dims(spark, sf_dir)), ods.user_id == F.col("c_custkey")).select(
        "user_id", "event_id", "ts", "value",
        F.concat_ws(
            "|", "event_type", "n_name", F.get_json_object("props", "$.k")
        ).alias("event_type"),
    )
    return apply_with_state(dwd, "user_id", latest_image_state_fn)


def _ads_store(spark, root: str):
    """The ADS keyed store: latest image per user."""
    from flink_realtime_spark.streaming.sinks import ParquetUpsertStore

    return ParquetUpsertStore(
        spark, os.path.join(root, "store"), keys=["user_id"],
        order_cols=[F.col("last_ts_us").desc(), F.col("last_event_id").desc()],
    )


ORACLE_SQL = """
WITH ev AS (
  SELECT * FROM read_parquet('{events}/*.parquet')
), dwd AS (
  SELECT e.user_id, e.event_id, e.ts, e.value,
         e.event_type || '|' || n.n_name || '|' || json_extract_string(e.props, '$.k')
           AS event_type
  FROM ev e
  JOIN read_parquet('{dims}/customer.parquet') c ON e.user_id = c.c_custkey
  JOIN read_parquet('{dims}/nation.parquet') n ON c.c_nationkey = n.n_nationkey
)
SELECT user_id, event_id AS last_event_id, event_type AS last_type,
       CAST(value AS DOUBLE) AS last_value, epoch_us(ts) AS last_ts_us
FROM dwd
QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


class StreamWorkload:
    """Set-up and measurement of ``stream_ods_ads``."""

    def __init__(self, args, out_dir: str, work: str):
        from perfbench.oracle import DATA_DIR

        self.args = args
        self.out_dir = out_dir
        self.work = work
        self.sf_dir = DATA_DIR
        self.spark = None
        self.t_first_op = None

    def setup(self) -> None:
        from flink_realtime_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)

    def _warm_pipeline(self) -> None:
        """An available-now run of the whole pipeline over two small
        files, one per trigger, on the measured session: the stateful
        plan's code paths, its Python workers and RocksDB are loaded and
        run twice before the open loop starts (the first trigger of a cold
        pipeline takes several seconds). Part of set-up, like the query
        mix's warm-up repetitions."""
        from perfbench import eventgen

        root = os.path.join(self.work, "stream-warm")
        shutil.rmtree(root, ignore_errors=True)
        spec = self._spec(root, start=time.time(), seed=self.args.seed)
        spec.update(steady_s=0.1, burst_at=time.time(), burst_events=200, burst_files=1)
        eventgen.run(spec)
        store = _ads_store(self.spark, root)
        q = (
            pipeline(self.spark, spec["dir"], self.sf_dir, max_files_per_trigger=1).writeStream
            .foreachBatch(lambda bdf, _bid: store.merge(bdf))
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shutil.rmtree(root, ignore_errors=True)

    def _spec(self, root: str, start: float, seed: int) -> dict:
        import pyarrow.parquet as pq

        steady_s = WARM_S + self.args.seconds
        last_due = start + steady_s - 1.0 / FILES_PER_S
        burst_at = _next_boundary(last_due) + BURST_AFTER_S
        return {
            "dir": os.path.join(root, "events"), "log": os.path.join(root, "gen.jsonl"),
            "seed": seed, "key_seed": KEY_SEED, "start": start,
            "rate_eps": RATE_EPS, "files_per_s": FILES_PER_S,
            "steady_s": steady_s, "burst_at": burst_at,
            "burst_events": BURST_EVENTS, "burst_files": BURST_FILES,
            "users": pq.read_metadata(os.path.join(self.sf_dir, "customer.parquet")).num_rows,
            "zipf_s": ZIPF_S, "ooo_share": OOO_SHARE,
        }

    def measure(self, tracer) -> tuple[dict, dict]:
        from perfbench import sparkstats
        from perfbench.oracle import duck, rows_hash

        spark = self.spark
        self._warm_pipeline()
        self.t_first_op = time.perf_counter()
        root = os.path.join(self.out_dir, "stream")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        # first file due just after a trigger boundary
        spec = self._spec(root, start=_next_boundary(time.time() + LEAD_S) + 0.05, seed=self.args.seed)
        os.makedirs(spec["dir"])
        store = _ads_store(spark, root)
        merges: list[dict] = []

        def sink(bdf, bid):
            rec = {"batch": bid, "start": time.time()}
            tracer.op = f"batch#{bid}"
            with tracer.span("sinks.foreach_batch", batch=bid):
                if tracer.enabled:
                    with tracer.span("dws.compute"):
                        t0 = time.perf_counter()
                        bdf = bdf.persist()
                        bdf.count()
                        rec["compute_ms"] = (time.perf_counter() - t0) * 1e3
                    with tracer.span("sinks.write"):
                        t0 = time.perf_counter()
                        store.merge(bdf)
                        rec["write_ms"] = (time.perf_counter() - t0) * 1e3
                    bdf.unpersist()
                else:
                    store.merge(bdf)
            rec["end"] = time.time()
            merges.append(rec)

        reader = sparkstats.StatusReader(spark) if tracer.enabled else None
        if reader:
            job0, exec0 = reader.last_job_id(), reader.executions_count()
        ckpt = os.path.join(root, "ckpt")
        q = (
            pipeline(spark, spec["dir"], self.sf_dir).writeStream
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{int(TRIGGER_S * 1000)} milliseconds")
            .start()
        )
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "eventgen.py"), json.dumps(spec)],
        )
        errors = []
        try:
            gen_rc = gen.wait(timeout=spec["burst_at"] - time.time() + 60)
            if gen_rc != 0:
                errors.append(f"generator exited {gen_rc}")
            gen_log = _read_jsonl(spec["log"])
            self._wait_visible(q, ckpt, gen_log, merges, errors)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
            t_end = time.time()
            q.stop()
        progress = [json.loads(p.json) for p in q.recentProgress]
        if q.exception() is not None:
            errors.append(f"stream failed: {str(q.exception())[:300]}")

        batch_of = source_file_batches(os.path.join(ckpt, "sources", "0"))
        merge_end = {m["batch"]: m["end"] for m in merges}
        lat = file_latencies(gen_log, batch_of, merge_end)
        t_measure = spec["start"] + WARM_S
        steady = [r for r in gen_log if not r["burst"] and r["due"] >= t_measure]
        steady_ms = [lat[r["name"]] * 1e3 for r in steady if lat[r["name"]] is not None]
        not_visible = [n for n, v in lat.items() if v is None]
        # a burst not fully visible counts as failed; its drain then runs
        # to the end of the wait
        drain_s, burst_batches = burst_drain(
            gen_log, batch_of, merge_end,
            {p["batchId"]: progress_start(p) for p in progress}, t_end,
        )
        burst_progress = [p for p in progress if p["batchId"] in burst_batches]

        # Final ADS store against the DuckDB latest image of every file.
        expected_rows = None
        ok_final = False
        try:
            con = duck(self.sf_dir, os.path.join(self.work, "duckdb-tmp"))
            try:
                cur = con.execute(ORACLE_SQL.format(events=spec["dir"], dims=self.sf_dir))
                exp_cols = [d[0] for d in cur.description]
                exp = cur.fetchall()
            finally:
                con.close()
            expected_rows = len(exp)
            got = store.read()
            cols = ["user_id", "last_event_id", "last_type", "last_value", "last_ts_us"]
            got_rows = got.select(*cols).collect()
            ok_final = rows_hash(cols, got_rows) == rows_hash(exp_cols, exp)
            if not ok_final:
                errors.append(f"ADS store differs from the oracle ({len(got_rows)} vs {len(exp)} rows)")
        except Exception as exc:  # noqa: BLE001 - counted as a failed check
            errors.append(f"final check: {type(exc).__name__}: {str(exc)[:300]}")

        tail_ms, tail_p = tail(steady_ms)
        lag = lateness_ms(gen_log)
        e2e = {
            "latency_p50_ms": median(steady_ms),
            "latency_tail_ms": tail_ms,
            "complete_s": drain_s,
        }
        attempted = len(gen_log) + 1
        failed = len(not_visible) + (0 if ok_final else 1)
        if errors and failed == 0:
            failed = 1
        drain_eps = BURST_EVENTS / drain_s if drain_s > 0 else 0.0
        info = {
            "attempted": attempted,
            "failed": failed,
            "failures": errors + [f"not visible: {n}" for n in not_visible[:5]],
            "summary": (
                f"latency_p50_ms={e2e['latency_p50_ms']:.1f} "
                f"latency_tail_ms={tail_ms:.1f} (p{tail_p} of {len(steady_ms)} files) "
                f"drain_s={drain_s:.3f} drain_eps={drain_eps:.0f} "
                f"(burst batches {burst_batches}: rows="
                f"{[p['numInputRows'] for p in burst_progress]} trigger_ms="
                f"{[p['durationMs'].get('triggerExecution') for p in burst_progress]} add_batch_ms="
                f"{[p['durationMs'].get('addBatch') for p in burst_progress]}) "
                f"triggers={sum(1 for p in progress if p['numInputRows'])} "
                f"gen_lag_ms_max={max(lag) if lag else 0:.0f} "
                f"store_rows={expected_rows}"
            ),
        }
        with open(os.path.join(root, "merges.json"), "w") as fh:
            json.dump({"merges": merges, "batch_of": batch_of, "progress": progress}, fh)
        if tracer.enabled:
            info["layers"] = self._layers(
                progress, merges, gen_log, batch_of, t_measure, lag, expected_rows,
                reader, job0, exec0, t_end - spec["start"],
            )
        return e2e, info

    def _wait_visible(self, q, ckpt, gen_log, merges, errors) -> None:
        """Until every written file's batch has merged and reported its
        progress (the burst drain starts at that trigger's start), or the
        deadline."""
        deadline = time.time() + VISIBLE_DEADLINE_S
        names = {r["name"] for r in gen_log}
        while time.time() < deadline and q.isActive:
            try:
                batch_of = source_file_batches(os.path.join(ckpt, "sources", "0"))
            except (OSError, ValueError):
                batch_of = {}
            done = {m["batch"] for m in merges}
            if names <= set(batch_of) and all(batch_of[n] in done for n in names):
                last = q.lastProgress
                if last is not None and json.loads(last.json)["batchId"] >= max(done):
                    return
            time.sleep(0.05)
        errors.append("deadline passed before every file was visible")

    def _layers(self, progress, merges, gen_log, batch_of, t_measure, lag, store_rows,
                reader, job0, exec0, wall_s) -> dict[str, float]:
        measured = [p for p in progress if progress_start(p) >= t_measure and p["numInputRows"] > 0]
        dur = [p["durationMs"] for p in measured]
        ops = [p["stateOperators"][0] for p in measured if p.get("stateOperators")]
        mm = [m for m in merges if m["start"] >= t_measure]

        def p50(values):
            return median(values) if values else 0.0

        def d(key):
            return p50([x.get(key, 0) for x in dur])

        out = {
            "gen.lag_ms": max(lag) if lag else 0.0,
            "sources.backlog_files": backlog_files(
                gen_log, batch_of, {p["batchId"]: progress_start(p) for p in measured}
            ),
            "trigger.count": len(measured),
            "trigger.rows_p50": p50([p["numInputRows"] for p in measured]),
            "trigger.ms_p50": d("triggerExecution"),
            "trigger.latest_offset_ms": d("latestOffset"),
            "trigger.get_batch_ms": d("getBatch"),
            "trigger.query_planning_ms": d("queryPlanning"),
            "trigger.wal_commit_ms": d("walCommit"),
            "trigger.commit_offsets_ms": d("commitOffsets"),
            "trigger.add_batch_ms": d("addBatch"),
            "stateful.rows_total": ops[-1]["numRowsTotal"] if ops else 0,
            "stateful.rows_updated": p50([o["numRowsUpdated"] for o in ops]),
            "stateful.memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
            "stateful.commit_ms": p50([o["commitTimeMs"] for o in ops]),
            "stateful.all_updates_ms": p50([o["allUpdatesTimeMs"] for o in ops]),
            "stateful.rocksdb_commit_ms": p50([
                sum(v for k, v in o.get("customMetrics", {}).items()
                    if k.startswith("rocksdbCommit") and "Latency" in k)
                for o in ops
            ]),
            "sinks.merge_ms": p50([(m["end"] - m["start"]) * 1e3 for m in mm]),
            "sinks.store_rows": store_rows or 0,
            "dws.compute_ms": p50([m["compute_ms"] for m in mm if "compute_ms" in m]),
            "sinks.write_ms": p50([m["write_ms"] for m in mm if "write_ms" in m]),
        }
        reader.drain()
        jobs = reader.jobs_after(job0)
        out["exec.jobs"] = len(jobs)
        out.update({f"exec.{k}": v for k, v in reader.stage_totals(jobs).items()})
        out["exec.busy_ratio"] = out["exec.task_run_ms"] / (wall_s * 1e3 * reader.cores)
        out.update({f"arrow.{k}": v for k, v in reader.python_crossing(exec0).items()})
        return out


def _read_jsonl(path: str) -> list[dict]:
    try:
        with open(path) as fh:
            return [json.loads(line) for line in fh if line.strip()]
    except OSError:
        return []

