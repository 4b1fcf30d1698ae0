"""Repository benchmark: streaming ODS->ADS latency and drain, and a
closed-loop query mix, with a traced run that splits time by module.

Usage (from the repository root):

    python3 perfbench/run.py --workload {stream_ods_ads,llm_curation}
        --seed N --seconds S --trace {0,1}

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The line before it is a human-readable summary. Everything the
run writes stays under ``.bench_work/`` in the repository root; per-run
artifacts (final plans, spans, stream logs) land in
``.bench_work/runs/<workload>-s<seed>-t<trace>/``. See perfbench/METRICS.md.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

CALIB_DRIFT_BOUND = 0.10

WORKLOADS = ("stream_ods_ads", "llm_curation")

# Spark task slots per workload. The query mix runs on two: at sf0.1 its
# tasks keep two slots no less busy than four (a repetition took as long),
# and the driver JVM's JIT and GC threads, the Python client and the Arrow
# workers then have cores of their own instead of competing with the tasks;
# on four slots the mix's figures spread twice as far between runs. The
# stream keeps four, so its burst trigger has the cores to drain on.
CORES = {"stream_ods_ads": 4, "llm_curation": 2}

sys.path.insert(0, ROOT)
from perfbench.sparkenv import isolate_environment, shutdown_jvm  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    isolate_environment(ROOT, WORK, CORES[args.workload])
    from perfbench.measure import RssSampler, Tracer, calibrate_ms

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {
        kind: {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")
    }

    out_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    tracer = Tracer(enabled=bool(args.trace))

    calib_before = calibrate_ms()
    try:
        with RssSampler() as rss:
            if args.workload == "stream_ods_ads":
                from perfbench.stream import StreamWorkload

                wl = StreamWorkload(args, out_dir, WORK)
            else:
                from perfbench.mixes import LLM_KEYS, MixWorkload

                wl = MixWorkload(LLM_KEYS, args, out_dir, WORK)
            wl.setup()
            e2e, info = wl.measure(tracer)
    finally:
        shutdown_jvm()
    calib_after = calibrate_ms()

    drift = calib_after / calib_before - 1.0
    # process start -> first timed operation: interpreter, JVM and session
    # start, oracle cache, and the workload's untimed warm-up pass
    e2e["setup_s"] = wl.t_first_op - _T_PROCESS
    e2e["peak_rss_mb"] = rss.peak / 2**20
    attempted, failed = info["attempted"], info["failed"]
    quiet = abs(drift) <= CALIB_DRIFT_BOUND
    summary = (
        f"# {args.workload} seed={args.seed} trace={args.trace}: {info['summary']} "
        f"setup_s={e2e['setup_s']:.3f} "
        f"error_rate={failed / max(attempted, 1):.4f} (attempted={attempted} failed={failed}) "
        f"calib_ms={calib_before:.1f}->{calib_after:.1f} drift={drift:+.1%}"
        + ("" if quiet else f" FLAGGED: calibration drift beyond {CALIB_DRIFT_BOUND:.0%}, box not quiet")
    )
    record = {
        "args": vars(args), "e2e": e2e,
        "calib_ms": [calib_before, calib_after], "quiet": quiet,
        "peak_rss_by_process_mb": {k: v / 2**20 for k, v in rss.peak_by_name.items()},
        **{k: v for k, v in info.items() if k != "summary"},
    }
    if tracer.enabled:
        with open(os.path.join(out_dir, "spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
        layer_vals = {**info.get("layers", {}), "box.calib_ms": calib_before}
        layer_vals["box.calib_drift"] = drift
        self_ms = tracer.self_times_ms()
        record["self_ms"] = self_ms
        summary += " self_ms=" + json.dumps({k: round(v, 1) for k, v in sorted(self_ms.items())})
        unknown = set(layer_vals) - set(units["per_layer"])
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer the workload does not use reads 0
        metrics = {
            k: {"value": float(layer_vals.get(k, 0.0)), "unit": u}
            for k, u in units["per_layer"].items()
        }
        untraced = _latest_untraced(args)
        if untraced:
            over = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
            record["tracing_overhead"] = over
            summary += " tracing_overhead=" + json.dumps({k: round(v, 3) for k, v in over.items()})
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units["end_to_end"].items()}
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(summary, flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _latest_untraced(args) -> dict | None:
    """End-to-end numbers of the untraced run of the same workload and
    seed, when one ran earlier in this checkout (for tracing overhead)."""
    path = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t0", "result.json")
    try:
        with open(path) as fh:
            return json.load(fh)["e2e"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    sys.exit(main())
