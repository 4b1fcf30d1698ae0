"""Tests of the benchmark's own logic: the percentile rule, file-to-batch
mapping from a file-source log, burst drain timing, generator lateness
accounting, and that METRICS.md documents every metric of BENCHMARK.json.

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

from perfbench import eventgen
from perfbench.measure import Tracer, percentile, tail, tail_percentile
from perfbench.stream import (
    backlog_files, burst_drain, file_latencies, lateness_ms, source_file_batches,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------- percentile rule


@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (11, 9), (20, 50), (21, 52), (40, 75), (100, 90), (120, 91), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        rank = -(-n * p // 100)  # ceil
        assert n - rank >= 10
        # one percentile higher would leave fewer than ten beyond
        assert p == 99 or n - -(-n * (p + 1) // 100) < 10


def test_tail_reports_value_and_percentile():
    values = list(range(1, 101))  # 1..100
    assert tail(values) == (90, 90)
    assert percentile(values, 50) == 50
    # below eleven samples the rule has no percentile: report the maximum
    assert tail([3.0, 1.0, 2.0]) == (3.0, None)


# ------------------------------------------------ file -> batch mapping


def _write_log(d, name, batch_entries):
    with open(os.path.join(d, name), "w") as fh:
        fh.write("v1\n")
        for path, bid in batch_entries:
            fh.write(json.dumps({"path": path, "timestamp": 1, "batchId": bid, "action": "add"}) + "\n")


def test_source_log_mapping_reads_compact_and_skips_crc(tmp_path):
    d = str(tmp_path)
    uri = "file:///data/events/"
    # batches 0..9 compacted into 9.compact (which repeats 0..8), then 10, 11
    for b in range(9):
        _write_log(d, str(b), [(f"{uri}ev-{b:06d}.parquet", b)])
    _write_log(d, "9.compact", [(f"{uri}ev-{b:06d}.parquet", b) for b in range(10)])
    _write_log(d, "10", [(f"{uri}ev-000010.parquet", 10), (f"{uri}ev-000011.parquet", 10)])
    _write_log(d, "11", [(f"{uri}ev-000012.parquet", 11)])
    # checksum siblings and an in-flight temporary file must be ignored
    for junk in (".9.compact.crc", ".10.crc", ".11.tmp"):
        with open(os.path.join(d, junk), "wb") as fh:
            fh.write(b"\x00\x01 not a log")
    got = source_file_batches(d)
    assert got == {f"ev-{b:06d}.parquet": b for b in range(10)} | {
        "ev-000010.parquet": 10, "ev-000011.parquet": 10, "ev-000012.parquet": 11,
    }


def test_source_log_mapping_after_old_files_are_deleted(tmp_path):
    """Once a compaction exists Spark may delete the per-batch files it
    folded in; the compact file alone must still map every file."""
    d = str(tmp_path)
    _write_log(d, "19.compact", [(f"file:///x/ev-{b:06d}.parquet", b) for b in range(20)])
    assert source_file_batches(d)["ev-000003.parquet"] == 3


def test_file_latencies_use_the_merge_of_the_mapped_batch():
    gen_log = [
        {"name": "a", "due": 100.0, "written": 100.01},
        {"name": "b", "due": 100.5, "written": 100.6},
        {"name": "c", "due": 101.0, "written": 101.0},
    ]
    lat = file_latencies(gen_log, {"a": 0, "b": 1}, {0: 102.0, 1: 103.5})
    assert lat == {"a": 2.0, "b": 3.0, "c": None}


def test_burst_drain_starts_at_the_trigger_that_took_the_burst():
    gen_log = [
        {"name": "s", "due": 10.0, "burst": False},
        {"name": "b1", "due": 12.0, "burst": True},
        {"name": "b2", "due": 12.0, "burst": True},
    ]
    batch_of = {"s": 3, "b1": 4, "b2": 4}
    merge_end = {3: 11.0, 4: 19.5}
    # due at 12.0, taken by the trigger starting at 14.0: 5.5 s, not 7.5
    assert burst_drain(gen_log, batch_of, merge_end, {3: 8.0, 4: 14.0}, 99.0) == (5.5, [4])
    # split over two triggers: first trigger start to last merge end
    batch_of["b2"] = 5
    merge_end[5] = 22.0
    assert burst_drain(gen_log, batch_of, merge_end, {4: 14.0, 5: 19.6}, 99.0) == (8.0, [4, 5])


def test_burst_drain_runs_to_the_end_when_a_file_is_never_visible():
    gen_log = [{"name": "b1", "due": 12.0, "burst": True}, {"name": "b2", "due": 12.0, "burst": True}]
    assert burst_drain(gen_log, {"b1": 4}, {4: 19.5}, {4: 14.0}, 40.0) == (26.0, [4])
    # never taken at all: from the due time
    assert burst_drain(gen_log, {}, {}, {}, 40.0) == (28.0, [])


# ------------------------------------------------- generator lateness


def test_lateness_counts_only_late_writes():
    gen_log = [
        {"name": "a", "due": 10.0, "written": 10.0004},
        {"name": "b", "due": 10.1, "written": 11.2},
        {"name": "c", "due": 10.2, "written": 10.1},  # early clock read: not negative
    ]
    got = lateness_ms(gen_log)
    assert got[0] == pytest.approx(0.4)
    assert got[1] == pytest.approx(1100.0)
    assert got[2] == 0.0


def test_backlog_counts_written_files_not_taken_earlier():
    gen_log = [{"name": n, "written": w} for n, w in (("a", 1.0), ("b", 2.0), ("c", 2.5), ("d", 9.0))]
    batch_of = {"a": 0, "b": 1, "c": 1, "d": 2}
    # at batch 1's start (3.0) b and c were waiting; at batch 2's (9.5) only d
    assert backlog_files(gen_log, batch_of, {0: 1.5, 1: 3.0, 2: 9.5}) == 2


def test_generator_writes_on_schedule_and_logs_lateness(tmp_path):
    import time

    start = time.time() + 0.2
    spec = {
        "dir": str(tmp_path / "events"), "log": str(tmp_path / "gen.jsonl"), "seed": 7, "key_seed": 1,
        "start": start, "rate_eps": 200, "files_per_s": 20, "steady_s": 0.5,
        "burst_at": start + 0.7, "burst_events": 300, "burst_files": 3, "users": 50,
        "zipf_s": 1.1, "ooo_share": 0.2,
    }
    eventgen.run(spec)
    with open(spec["log"]) as fh:
        log = [json.loads(x) for x in fh]
    assert [r["burst"] for r in log] == [False] * 10 + [True] * 3
    assert sum(r["n"] for r in log) == 10 * 10 + 300
    assert all(r["written"] >= r["due"] - 0.01 for r in log)
    burst = [r for r in log if r["burst"]]
    assert burst[-1]["written"] - burst[0]["written"] < 0.05  # published together
    names = sorted(os.listdir(spec["dir"]))
    assert names == sorted(r["name"] for r in log)  # no temporary leftovers
    # event ids are dense across files
    assert [r["first_id"] for r in log] == [sum(x["n"] for x in log[:i]) for i in range(len(log))]


def test_generator_is_deterministic_per_seed():
    spec = {"start": 0.0, "rate_eps": 100, "files_per_s": 10, "steady_s": 0.3,
            "burst_at": 0.5, "burst_events": 20, "burst_files": 2, "users": 30,
            "zipf_s": 1.1, "ooo_share": 0.3, "seed": 11, "key_seed": 1}
    a = eventgen.build_files(spec, eventgen.schedule(spec))
    b = eventgen.build_files(spec, eventgen.schedule(spec))
    assert all(x.equals(y) for x, y in zip(a, b))
    spec["seed"] = 12
    c = eventgen.build_files(spec, eventgen.schedule(spec))
    assert not all(x.equals(y) for x, y in zip(a, c))


# ------------------------------------------------------------ tracing


def test_self_time_subtracts_direct_children():
    tr = Tracer(enabled=True)
    with tr.span("op"):
        with tr.span("build"):
            pass
        with tr.span("collect"):
            pass
    spans = {s["name"]: s for s in tr.spans}
    assert spans["build"]["parent"] == spans["op"]["id"]
    own = tr.self_times_ms()
    whole = (spans["op"]["end"] - spans["op"]["start"]) * 1e3
    assert own["op"] + own["build"] + own["collect"] == pytest.approx(whole)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == []


# ------------------------------------------------------ metric lists


def test_metrics_reference_documents_every_metric_and_workload():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(ROOT, "perfbench", "METRICS.md")) as fh:
        doc = fh.read()
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert f"| `{m['name']}` | {m['unit']} |" in doc, m["name"]
    for w in spec["workloads"]:
        assert f"`{w['name']}`" in doc
