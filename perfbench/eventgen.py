"""Open-loop event generator for the stream workload, run as its own process
with one thread:

    python3 perfbench/eventgen.py SPEC_JSON

It builds every event file in memory first, then writes each one at its
due time, whether or not the stream keeps up: write to a hidden temporary
name (Spark's file source skips names starting with "."), then rename,
so the source never lists a partial file. The final burst's files are
written ahead and renamed together when due. After each file it appends one
JSON line to the log: name, due and written wall-clock times (epoch
seconds), event count, first event id, and whether it belongs to the final
burst. ``written - due`` is how late the generator ran.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def schedule(spec: dict) -> list[dict]:
    """File plan: steady files at ``files_per_s`` for ``steady_s`` seconds
    from ``start``, then ``burst_files`` files all due at ``burst_at``."""
    n_steady = int(round(spec["steady_s"] * spec["files_per_s"]))
    per_file = int(round(spec["rate_eps"] / spec["files_per_s"]))
    plan = [
        {"i": i, "due": spec["start"] + i / spec["files_per_s"], "n": per_file, "burst": False}
        for i in range(n_steady)
    ]
    t_burst = spec["burst_at"]
    per_burst = spec["burst_events"] // spec["burst_files"]
    plan += [
        {"i": n_steady + j, "due": t_burst, "n": per_burst, "burst": True}
        for j in range(spec["burst_files"])
    ]
    return plan


def build_files(spec: dict, plan: list[dict]) -> list[pa.Table]:
    """Event tables for ``plan``. User keys are Zipf-skewed over the
    customer keys; event time is the due time, except that a fixed share
    of events carries an earlier time (out of order). Which customers are
    hot comes from ``key_seed``, not the run seed, so every run puts the
    same skew on the same state partitions."""
    rng = np.random.default_rng(spec["seed"])
    users = spec["users"]
    weights = 1.0 / np.arange(1, users + 1) ** spec["zipf_s"]
    ranks = np.random.default_rng(spec["key_seed"]).permutation(users)
    probs = weights / weights.sum()
    tables, next_id = [], 0
    for f in plan:
        n = f["n"]
        due_us = int(f["due"] * 1e6)
        late = rng.random(n) < spec["ooo_share"]
        back_us = np.where(late, rng.integers(1_000_000, 60_000_000, n), 0)
        # distinct event times within a file keep (user, ts) pairs unique
        ts_us = due_us - back_us - np.arange(n)
        tables.append(pa.table({
            "event_id": pa.array(np.arange(next_id, next_id + n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(ranks[rng.choice(users, n, p=probs)].astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[x] for x in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }))
        f["first_id"] = next_id
        next_id += n
    return tables


def run(spec: dict) -> None:
    plan = schedule(spec)
    tables = build_files(spec, plan)
    out, log_path = spec["dir"], spec["log"]
    os.makedirs(out, exist_ok=True)
    steady = [(f, t) for f, t in zip(plan, tables) if not f["burst"]]
    burst = [(f, t) for f, t in zip(plan, tables) if f["burst"]]
    with open(log_path, "a") as log:
        for f, table in steady:
            _sleep_until(f["due"])
            tmp = _write_hidden(out, f, table)
            _publish(out, f, tmp, log)
        # The burst files are written ahead and renamed together at their
        # due time, so the source lists all of them in one poll.
        tmps = [_write_hidden(out, f, table) for f, table in burst]
        if burst:
            _sleep_until(burst[0][0]["due"])
        for (f, _), tmp in zip(burst, tmps):
            _publish(out, f, tmp, log)


_PARENT = os.getppid()


def _sleep_until(t: float) -> None:
    """Sleep until wall-clock time t; exit if the benchmark that started
    this process is gone."""
    while True:
        if os.getppid() != _PARENT:
            sys.exit(1)
        wait = t - time.time()
        if wait <= 0:
            return
        time.sleep(min(wait, 0.5))


def _name(f: dict) -> str:
    return f"ev-{f['i']:06d}.parquet"


def _write_hidden(out: str, f: dict, table: pa.Table) -> str:
    tmp = os.path.join(out, f".{_name(f)}.tmp")
    pq.write_table(table, tmp)
    return tmp


def _publish(out: str, f: dict, tmp: str, log) -> None:
    os.rename(tmp, os.path.join(out, _name(f)))
    rec = {
        "name": _name(f), "due": f["due"], "written": time.time(), "n": f["n"],
        "first_id": f["first_id"], "burst": f["burst"],
    }
    log.write(json.dumps(rec) + "\n")
    log.flush()


if __name__ == "__main__":
    run(json.loads(sys.argv[1]))
