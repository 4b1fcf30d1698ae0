"""Closed-loop query mixes: one client runs registered query keys back to
back, each as build (``registry.QUERIES[k](spark, sf_dir)``) plus
``collect()``, and checks every result against its oracle hash.

Why ``collect()``: it executes the DataFrame's own QueryExecution, so after
it the executed plan reads ``isFinalPlan=true`` and its ReusedExchange
nodes can be counted. ``count()`` and a noop write plan and run a
different QueryExecution, leaving ``df``'s plan un-executed.
"""

from __future__ import annotations

import gc
import os
import random
import sys
import time

from flink_realtime_spark import registry

from perfbench import sparkstats
from perfbench.measure import Tracer, median, tail
from perfbench.oracle import rows_hash

# The llm.* curation pipeline: a plan build that launches Spark jobs inside
# its builder and an applyInPandas GEMM that crosses into Python (embcos:
# 2 builder jobs, ~5 MB of Arrow to Python per run), a second, smaller
# GEMM key (semantic), and two JVM-only text-shuffle keys (doc_keywords,
# cooccurrence) that an Arrow change should leave alone. The JVM-only keys
# take ~1 s each: the ~0.3 s keys (exact, text_stats) were mostly fixed
# per-query overhead and spread ~0.3 between runs on a shared 4-core
# machine. The rest of the family (containment, ~20 s cold; substring,
# ~5 s; minhash, knn_ivf_hash, ...) is left out to keep a run, cold start
# included, within the time budget.
LLM_KEYS = [
    "llm_doc_keywords", "llm_dedup_embcos", "llm_dedup_semantic", "llm_cooccurrence",
]

# Untimed repetitions before the timed ones. After one, the JIT is still
# compiling: the next repetition of the slow keys ran 20-30% faster.
WARM_REPS = 2

# Timed repetitions at least, whatever --seconds says: each key's latency
# is the median of this many executions or more.
MIN_TIMED_REPS = 5

PLAN_NOTE = (
    "Executed plan of each timed collect(), latest repetition per key.\n"
    "The benchmark times collect() because it runs the DataFrame's own\n"
    "QueryExecution: afterwards the plan reads isFinalPlan=true and its\n"
    "ReusedExchange nodes are the ones that ran. count() and the noop write\n"
    "execute a different QueryExecution and leave this plan un-executed.\n"
)


class EngineProbe:
    """Traced runs only: counts and times calls into ``tables.load_table``
    and ``session.prepare`` by rebinding them, in every engine module that
    imported them, to timing wrappers. Spans nest under the current op."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.counts = {"tables.load": [0, 0.0], "session.prepare": [0, 0.0]}
        self._undo: list = []

    def _wrap(self, name: str, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with self.tracer.span(name):
                try:
                    return fn(*args, **kwargs)
                finally:
                    c = self.counts[name]
                    c[0] += 1
                    c[1] += (time.perf_counter() - t0) * 1e3

        return wrapper

    def install(self) -> None:
        from flink_realtime_spark import session, tables

        for name, fn in (("tables.load", tables.load_table), ("session.prepare", session.prepare)):
            wrapped = self._wrap(name, fn)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("flink_realtime_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapped)
                        self._undo.append((mod, attr, fn))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()

    def take(self) -> dict[str, float]:
        out = {}
        for name, (calls, ms) in self.counts.items():
            out[f"{name}_calls"] = calls
            out[f"{name}_ms"] = ms
            self.counts[name] = [0, 0.0]
        return out


def run_mix(
    spark,
    keys: list[str],
    sf_dir: str,
    expected: dict[str, str],
    seconds: float,
    seed: int,
    tracer: Tracer,
    out_dir: str,
) -> tuple[list[dict], list[dict], float]:
    """Run whole repetitions of ``keys``, order permuted per repetition
    from ``seed``. The first ``WARM_REPS`` repetitions warm the session's
    code paths (codegen, JIT) and are checked but not timed; timed
    repetitions follow until ``seconds`` have passed, at least
    ``MIN_TIMED_REPS`` of them. Returns
    (samples, per-op layer records (only when traced), and the
    perf_counter time the first timed repetition started)."""
    plan_dir = os.path.join(out_dir, "plans")
    os.makedirs(plan_dir, exist_ok=True)
    with open(os.path.join(plan_dir, "NOTE.txt"), "w") as fh:
        fh.write(PLAN_NOTE)
    reader = sparkstats.StatusReader(spark) if tracer.enabled else None
    probe = EngineProbe(tracer) if tracer.enabled else None
    if probe:
        probe.install()
    samples: list[dict] = []
    layers: list[dict] = []
    t_start = None
    rep = 0
    try:
        while rep < WARM_REPS + MIN_TIMED_REPS or time.perf_counter() - t_start < seconds:
            if rep == WARM_REPS:
                t_start = time.perf_counter()
            order = list(keys)
            random.Random(seed * 1000 + rep).shuffle(order)
            settle(spark)
            for key in order:
                samples.append(
                    _one(spark, key, rep, sf_dir, expected, tracer, reader, probe,
                         plan_dir, layers if rep >= WARM_REPS else [])
                )
            rep += 1
    finally:
        if probe:
            probe.uninstall()
    return samples, layers, t_start


def settle(spark) -> None:
    """Untimed, before every repetition: collect garbage in the client and
    then in the driver JVM. The previous repetition's DataFrames are then
    unreachable on both sides, so Spark's ContextCleaner drops their
    shuffle files and localCheckpoint blocks now rather than whenever the
    heap next fills, and every repetition starts from a like heap and block
    store instead of one that depends on how many ran before it. (Settling
    before every operation instead added ~0.2 s each to a run's time.)"""
    gc.collect()
    spark._jvm.System.gc()


def _one(spark, key, rep, sf_dir, expected, tracer, reader, probe, plan_dir, layers):
    sample = {"key": key, "rep": rep, "ok": False, "error": None}
    tracer.op = f"{key}#{rep}"
    if reader:
        job0, exec0 = reader.last_job_id(), reader.executions_count()
    try:
        with tracer.span("op", key=key):
            t0 = time.perf_counter()
            with tracer.span("registry.build"):
                df = registry.QUERIES[key](spark, sf_dir)
            t1 = time.perf_counter()
            if reader:
                reader.drain()
                build_jobs = len(reader.jobs_after(job0))
            t2 = time.perf_counter()
            with tracer.span("spark.collect"):
                rows = df.collect()
            t3 = time.perf_counter()
    except Exception as exc:  # one failed operation counts, the run goes on
        sample["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        tracer.op = None
        return sample
    sample["build_ms"] = (t1 - t0) * 1e3
    sample["total_ms"] = (t1 - t0 + t3 - t2) * 1e3
    sample["ok"] = rows_hash(df.columns, rows) == expected[key]
    if not sample["ok"]:
        sample["error"] = "result hash differs from the oracle"
    plan = sparkstats.final_plan(df)
    exchanges, reused = sparkstats.plan_exchange_counts(plan)
    with open(os.path.join(plan_dir, f"{key}.txt"), "w") as fh:
        fh.write(f"# rep={rep} exchanges={exchanges} reused_exchanges={reused}\n{plan}\n")
    if reader:
        reader.drain()
        jobs = reader.jobs_after(job0)
        wall_ms = sample["total_ms"]
        rec = {
            "key": key,
            "registry.build_ms": sample["build_ms"],
            "registry.build_jobs": build_jobs,
            "exec.jobs": len(jobs),
            "plan.exchanges": exchanges,
            "plan.reused_exchanges": reused,
            "wall_ms": wall_ms,
        }
        rec.update({f"catalyst.{k}_ms": v for k, v in sparkstats.catalyst_phases_ms(df).items()})
        rec.update({f"exec.{k}": v for k, v in reader.stage_totals(jobs).items()})
        rec.update({f"arrow.{k}": v for k, v in reader.python_crossing(exec0).items()})
        rec.update(probe.take())
        layers.append(rec)
    tracer.op = None
    return sample


def mix_metrics(samples: list[dict]) -> dict:
    """Over successful timed executions: each key's latency (the median of
    its build+collect times) and mix_s, the sum of those over keys.

    Query latency percentiles are taken over these per-key latencies, not
    over single executions: a run holds a few timed executions per key, and
    the pooled median of such a sample falls between two keys' clusters and
    moves with either key's noise."""
    per_key: dict[str, list[float]] = {}
    for s in samples:
        if s["ok"] and s["rep"] >= WARM_REPS:
            per_key.setdefault(s["key"], []).append(s["total_ms"])
    key_ms = {k: median(v) for k, v in per_key.items()}
    return {"mix_s": sum(key_ms.values()) / 1e3, "key_ms": key_ms}


def mix_layers(layers: list[dict], cores: int) -> dict[str, float]:
    """Per-layer numbers for one mix pass: for each metric, the sum over
    keys of the per-key median (the same aggregation as mix_s), plus the
    executor busy ratio over all traced executions."""
    per_key: dict[str, list[dict]] = {}
    for rec in layers:
        per_key.setdefault(rec["key"], []).append(rec)
    names = [n for n in layers[0] if n not in ("key", "wall_ms")] if layers else []
    out = {
        name: sum(median([r[name] for r in recs]) for recs in per_key.values())
        for name in names
    }
    wall = sum(r["wall_ms"] for r in layers)
    run = sum(r["exec.task_run_ms"] for r in layers)
    out["exec.busy_ratio"] = run / (wall * cores) if wall else 0.0
    return out


class MixWorkload:
    """Set-up and measurement of one closed-loop query mix."""

    def __init__(self, keys: list[str], args, out_dir: str, work: str):
        from perfbench.oracle import DATA_DIR

        self.keys = keys
        self.args = args
        self.out_dir = out_dir
        self.work = work
        self.main_dir = DATA_DIR
        self.spark = None
        self.expected: dict[str, str] = {}
        self.t_first_op = None

    def setup(self) -> None:
        from flink_realtime_spark.session import get_spark

        from perfbench.oracle import OracleCache, fingerprint

        registry.load_all()
        fp = fingerprint(self.main_dir)
        cache = OracleCache(
            os.path.join(self.work, "oracle-cache"), os.path.join(self.work, "duckdb-tmp")
        )
        self.expected = {
            k: cache.expected(registry.ORACLES[k], self.main_dir, fp) for k in self.keys
        }
        self.spark = get_spark("perfbench")

    def measure(self, tracer) -> tuple[dict, dict]:
        samples, layers, self.t_first_op = run_mix(
            self.spark, self.keys, self.main_dir, self.expected,
            self.args.seconds, self.args.seed, tracer, self.out_dir,
        )
        m = mix_metrics(samples)
        lat = list(m["key_ms"].values())
        tail_ms, tail_p = tail(lat)
        e2e = {
            "latency_p50_ms": median(lat),
            "latency_tail_ms": tail_ms,
            "complete_s": m["mix_s"],
        }
        failed = [s for s in samples if not s["ok"]]
        info = {
            "attempted": len(samples),
            "failed": len(failed),
            "failures": [f"{s['key']}#{s['rep']}: {s['error']}" for s in failed][:10],
            "key_ms": m["key_ms"],
            "summary": (
                f"mix_s={m['mix_s']:.3f} query_p50_ms={e2e['latency_p50_ms']:.1f} "
                f"query_tail_ms={tail_ms:.1f} "
                f"({'max' if tail_p is None else f'p{tail_p}'} of {len(lat)} per-key latencies) "
                f"reps={max(s['rep'] for s in samples) + 1} keys={len(self.keys)}"
            ),
            "samples": samples,
        }
        if tracer.enabled:
            info["layers"] = mix_layers(layers, self.spark.sparkContext.defaultParallelism)
            info["layer_records"] = layers
        return e2e, info
