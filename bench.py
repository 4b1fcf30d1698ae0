"""Headline benchmark — prints ONE JSON line the driver records per round.

Usage: python bench.py [KEY ...]

With no arguments it times the HEADLINE keys (the driver contract); with
arguments it times exactly those registered keys, in the order given. An
unknown key exits non-zero, naming it, before Spark starts. Keys run at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], each $SPARK_GRAFT_BENCH_ITERS times (default 3).
Per-query time is the wall time of building the DataFrame plan, executing
it and materializing the (small aggregated) result with count(); Spark
session startup is excluded, and one warm-up count per key at sf0.001
keeps codegen/classloading off the first measured run.

Full-registry sweep (one run per key; the stdout line outgrows the
driver's 2 KB tail, so read the per-key stderr lines):

    SPARK_GRAFT_BENCH_ITERS=1 python bench.py $(python -c "from flink_realtime_spark import registry; registry.load_all(); print(*sorted(registry.QUERIES))")
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_realtime_spark import registry
from flink_realtime_spark.session import REFUSED_CONFS, get_spark
from perfbench.measure import calibrate_ms

# Headline set: one representative per major category, PLUS each family's
# WORST-case key (BASELINE.md per-family table) so the per-round artifact
# captures tail regressions, not just the fast paths.
HEADLINE = [
    "agg_star_flagship",
    "agg_groupby_basic",
    "agg_count_distinct",
    "agg_rollup",
    "join_inner_equi",
    "join_dim_broadcast",
    "join_asof_temporal",
    "win_tumble",
    "win_session",
    "over_topn_pergroup",
    "scalar_json_props",
    "cdc_latest_image",
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_knn_cosine",
    "llm_text_stats",
    # per-family worst keys (tail guard)
    "cogroup_apply",
    "agg_funnel_window",
    "tpch_q21_waiting",
    "llm_doc_keywords",
    "llm_knn_ivf",
    "llm_cooccurrence",
    "ads_stickiness_dau_wau",
    "graph_pagerank",
    # stateful/serving family representatives (round-4 breadth)
    "cep_error_burst",
    "cep_absence",
    "ads_gap_fill_ffill",
    "win_late_refire",
    # round-6 additions: the compiler-lowered quantified pattern, the
    # deterministic-quantizer IVF (the oracle-hashable ANN form), and the
    # substring-span dedup (the heaviest per-char dedup stage; the
    # cep_bounded_burst band is plan-identical to cep_retry_then_success
    # and stays out to keep the stdout artifact compact)
    "cep_retry_then_success",
    "llm_knn_ivf_hash",
    "llm_dedup_substring",
    # r06c additions: the cheapest CEP shape (one LAG pass — a plan
    # regression here means WindowExec machinery drift) and the
    # asymmetric containment dedup (posting-join family's directed form)
    "cep_strict_next",
    "llm_dedup_containment",
    # streaming-executing keys: these run a real availableNow streaming
    # job (checkpoint + micro-batch scheduling + sink), reported both
    # per-key and as a separate stream-exec subtotal since their wall is
    # engine machinery, not plan-vs-plan comparable with batch keys.
    "src_stream_smoke",
    "sink_upsert_latest",
    # state_change_feed builds its two-batch RocksDB+changelog checkpoint on
    # the FIRST iteration and reuses it after (checkpoints are immutable), so
    # its median reports the change-feed READ path and spread[max] the full
    # streaming build — both are the numbers a state-audit user cares about.
    "state_change_feed",
]

STREAM_EXEC = {"src_stream_smoke", "sink_upsert_latest", "state_change_feed"}


def select_keys(args: list[str]) -> list[str]:
    """The keys to time: HEADLINE when ``args`` is empty, else ``args`` in
    the order given. Every key must be registered; an unknown one raises
    SystemExit naming it, before Spark starts."""
    keys = args or HEADLINE
    registry.load_all()
    unknown = [k for k in keys if k not in registry.QUERIES]
    if unknown:
        raise SystemExit(f"bench.py: unknown query key(s): {' '.join(unknown)}")
    return keys


def warmup_failure(key: str, exc: Exception) -> tuple[str, str]:
    """(key, "ExcType: first line of the message") for a headline key whose
    warm-up raised, printed as one `# warm-up failed:` stderr line, so a
    key broken at the warm-up scale does not vanish."""
    reason = ": ".join([type(exc).__name__, *str(exc).strip().splitlines()[:1]])
    print(f"# warm-up failed: {key}: {reason}", file=sys.stderr)
    return key, reason


def sidecar(
    spread: dict, warmup_failures: list, calib_ms: list, payload: dict
) -> dict:
    """The /tmp sidecar record: the stdout payload plus the [min, max]
    envelopes, the warm-up failures, the quiet-box calibration [before,
    after] (perfbench.measure.calibrate_ms) and the (conf, reason) pairs
    the session refused to pin (session.REFUSED_CONFS)."""
    return {
        "spread": spread,
        "warmup_failures": warmup_failures,
        "calib_ms": calib_ms,
        "refused_confs": [list(p) for p in REFUSED_CONFS],
        **payload,
    }


def main() -> None:
    keys = select_keys(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    # Quiet-box sentinel: a fixed Spark-free work unit timed before the
    # first warm-up and after the last key. Uniform CPU steal inflates
    # both, which the per-key spread guard below cannot see.
    calib_before = calibrate_ms()
    spark = get_spark("flink-realtime-spark-bench")
    # Warm up the engine off the clock: parquet footers at the bench SF, and
    # one tiny end-to-end query (sf0.001) to JIT the codegen compiler,
    # broadcast machinery and Arrow paths a long-running engine would have
    # warm. Measured queries still do all their own IO/planning/execution.
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
    # Warm every timed plan once at sf0.001 (trivial data): generated
    # whole-stage-codegen classes are keyed by plan shape, not data
    # location, so this pre-compiles/JITs each query's code paths the way
    # a continuously-serving engine would have them. The measured sf runs
    # below still perform all of their own analysis, optimization,
    # scheduling, IO and execution.
    warmup_failures = []
    for key in keys:
        try:
            registry.QUERIES[key](spark, "/root/testdata/sf0.001").count()
        except Exception as e:
            warmup_failures.append(warmup_failure(key, e))

    # Median-of-N per key (VERDICT r4 #4): single-shot cold-plan timings
    # showed ±29% scheduler/codegen jitter on sub-second keys between
    # rounds, which would eventually mask a real regression. Each key runs
    # N times after the shared warmup; `queries` reports the MEDIAN (so
    # the per-key series stays comparable with r01–r04 single-shot
    # numbers), `spread` the [min, max] envelope, and the totals are
    # sums of medians.
    times: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for key in keys:
        fn = registry.QUERIES[key]
        samples: list[float] = []
        n = 0
        for _ in range(iters):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        times[key] = round(samples[len(samples) // 2], 4)
        spread[key] = [round(samples[0], 4), round(samples[-1], 4)]
        print(
            f"# {key}: median {times[key]:.3f}s "
            f"[{spread[key][0]:.3f}, {spread[key][1]:.3f}] ({n} rows)",
            file=sys.stderr,
        )

    total = round(sum(times.values()), 4)
    # r01/r02 comparability: the headline total covered exactly the first
    # 16 keys through round 2; the widened set adds the per-family worst
    # keys, so expose the legacy subtotal alongside.
    legacy16 = round(sum(times[k] for k in HEADLINE[:16] if k in times), 4)
    stream_exec = round(
        sum(t for k, t in times.items() if k in STREAM_EXEC), 4
    )
    # The driver tail-captures stdout (~2 KB) and parses the LAST line as
    # the round's bench artifact — r05's line outgrew the window once
    # `spread` joined it and the artifact lost its front (VERDICT r5 #6).
    # Keep the stdout line COMPACT (totals + medians only); the [min,max]
    # envelopes go to stderr and a local sidecar for regression analysis.
    # Regression-watch note: state_change_feed's FIRST iteration builds a
    # RocksDB+changelog checkpoint (spread-max ~3 s vs ~0.3 s median) —
    # median-of-3 excludes the build, but any single-shot comparison
    # (SPARK_GRAFT_BENCH_ITERS=1) or naive spread-based 2x check must not
    # treat that cold build as a regression; it is also kept out of the
    # headline by the stream_exec_total_sec split.
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "iters_per_key": iters,
        "legacy16_total_sec": legacy16,
        "stream_exec_total_sec": stream_exec,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(f"# spread {json.dumps(spread)}", file=sys.stderr)
    # Contaminated-run self-identification (VERDICT r11 #10): the r11
    # driver bench showed 5-50x-wide envelopes from hypervisor steal and
    # was unusable as a cross-round comparator. A wide max/min on any
    # non-streaming key flags the RUN (not the code) right in the stderr
    # tail; state_change_feed is exempt (its first iteration legitimately
    # builds the RocksDB checkpoint, ~10x the median read path).
    noisy = {
        k: v
        for k, v in spread.items()
        if k != "state_change_feed" and v[0] > 0 and v[1] / v[0] > 5.0
    }
    if noisy:
        print(
            f"# WARNING: spread max/min > 5x on {sorted(noisy)} — "
            "likely machine contention during this run; re-run those "
            "keys (python bench.py KEY ...) before reading regressions "
            "from it",
            file=sys.stderr,
        )
    # The payload line must be the LAST thing on stdout (the driver
    # tail-captures ~2 KB and parses the last line). Round 7 lost its
    # bench artifact because spark.stop() ran AFTER the print and the
    # streaming keys' StateStore maintenance thread raced a shutdown WARN
    # onto stdout behind the JSON (VERDICT r7 #1). Quiesce everything
    # first — cancel the maintenance task, stop Spark, drain in-flight
    # JVM log lines — and only then emit the payload.
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # no StateStores registered (or API drift): nothing to quiesce
    spark.stop()
    time.sleep(1.0)
    # The closing calibration runs with Spark stopped, like the opening
    # one: inside a live session the same work unit read 95-119 ms against
    # 66-72 ms after stop (4 cores), so a live reading would show the JVM,
    # not the box drift the pair is there to show.
    calib_ms = [round(calib_before, 1), round(calibrate_ms(), 1)]
    print(f"# calib_ms before {calib_ms[0]} after {calib_ms[1]}", file=sys.stderr)
    try:
        with open("/tmp/spark_graft_bench_spread.json", "w") as fh:
            json.dump(sidecar(spread, warmup_failures, calib_ms, payload), fh)
    except OSError:
        pass  # sidecar is best-effort; the stdout contract is the artifact
    sys.stderr.flush()
    print(json.dumps(payload))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
