"""Measurement helpers: the percentile rule, spans, the RSS sampler and the
quiet-box calibration sentinel. Nothing here imports Spark."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile p with at least ``beyond`` of ``n``
    samples above it, or None when n <= beyond. "Above p" means ranked
    after the nearest-rank p-th sample, i.e. n - ceil(n * p / 100) of them."""
    best = None
    for p in range(1, 100):
        if n - math.ceil(n * p / 100) >= beyond:
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the sample itself, never interpolated)."""
    s = sorted(values)
    if not s:
        return 0.0
    return float(s[max(0, math.ceil(len(s) * p / 100) - 1)])


def tail(values, beyond: int = 10) -> tuple[float, int | None]:
    """(value, percentile) at the highest percentile the sample supports;
    falls back to the maximum (percentile None) below ``beyond`` + 1
    samples."""
    p = tail_percentile(len(values), beyond)
    if p is None:
        return (max(values) if values else 0.0), None
    return percentile(values, p), p


# ---------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans: (name, start, end, parent, op). Disabled tracers
    cost one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct children
        cover (children of one span never overlap: calls are sequential)."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                ) * 1e3
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


# ------------------------------------------------------- process-tree RSS


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, resident bytes) for ``root`` and all its
    descendants. A child still running its parent's program under one of
    the parent's thread names is between fork and exec (the JVM starting a
    helper process): it shares or copies the parent's memory, so counting
    it would count the JVM twice, and it is skipped."""
    kids = _children_map()
    out, todo = {}, [(root, None)]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid, parent = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            exe = os.readlink(f"/proc/{pid}/exe")
        except OSError:
            continue
        todo.extend((k, (exe, comm)) for k in kids.get(pid, ()))
        if parent is None or exe != parent[0] or comm == parent[1]:
            out[pid] = (comm, rss)
    return out


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak`` is the
    largest sum seen and ``peak_by_name`` its split by command name."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        procs = tree_rss(os.getpid())
        total = sum(rss for _, rss in procs.values())
        if total > self.peak:
            self.peak = total
            by_name: dict[str, int] = {}
            for name, rss in procs.values():
                by_name[name] = by_name.get(name, 0) + rss
            self.peak_by_name = by_name

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


# --------------------------------------------------- quiet-box sentinel


def calibrate_ms(reps: int = 7) -> float:
    """Fastest of ``reps`` timings of a fixed single-threaded work unit
    (integer and float arithmetic in the interpreter). The fastest sample
    drops one-off interruptions; uniform CPU steal still inflates it,
    which a per-query spread check cannot see."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0.0
        for i in range(600_000):
            acc += (i * i) % 7 * 0.5
        best = min(best, (time.perf_counter() - t0) * 1e3)
    return best
