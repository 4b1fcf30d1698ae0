"""The worker's archive-directory memo (flink_realtime_spark/worker.py).

Every probe runs in a subprocess so the patched zipimporter never leaks
into the pytest process. The fast probes count calls to
``zipimport._read_directory`` around ``importlib.invalidate_caches()`` on
one small zip; the slow probe does the same inside a reused Spark worker.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MEMO_PROBE = r"""
import importlib, json, os, sys, tempfile, zipfile, zipimport
from flink_realtime_spark import worker

mode = sys.argv[1]
path = os.path.join(tempfile.mkdtemp(), "probe.zip")
reads = []
real = zipimport._read_directory


def counted(archive):
    reads.append(archive)
    return real(archive)


def write(body, mtime_s):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("probe_mod.py", body)
    os.utime(path, ns=(mtime_s * 10**9, mtime_s * 10**9))


def value():
    sys.modules.pop("probe_mod", None)
    return importlib.import_module("probe_mod").X


def sweep():
    del reads[:]
    importlib.invalidate_caches()
    return reads.count(path)


write("X = 1\n", 1000)
sys.path.insert(0, path)
out = {"before": value()}
zipimport._read_directory = counted
out["unpatched"] = sweep()
worker.install()
if mode == "twice":
    write("X = 22\n", 2000)
    worker.install()
elif mode == "rewritten":
    write("X = 22\n", 2000)
elif mode == "missing":
    os.remove(path)
out["sweeps"] = [sweep(), sweep()]
if mode != "missing":
    out["after"] = value()
out["patched"] = zipimport.zipimporter.invalidate_caches is worker._invalidate_caches
print(json.dumps(out))
"""


def _run(script: str, *args: str, timeout: int = 120) -> dict:
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_not_reread():
    out = _run(_MEMO_PROBE, "unchanged")
    assert out["unpatched"] == 1  # the count sees the stock re-read
    assert out["sweeps"] == [0, 0]
    assert (out["before"], out["after"], out["patched"]) == (1, 1, True)


def test_rewritten_archive_is_reread_and_imported_fresh():
    out = _run(_MEMO_PROBE, "rewritten")
    assert out["sweeps"] == [1, 0]
    assert (out["before"], out["after"]) == (1, 22)


def test_install_twice_equals_once():
    # The second install must not record the rewritten archive as read.
    out = _run(_MEMO_PROBE, "twice")
    assert out["sweeps"] == [1, 0]
    assert (out["after"], out["patched"]) == (22, True)


def test_archive_that_cannot_be_stated_is_always_reread():
    out = _run(_MEMO_PROBE, "missing")
    assert out["sweeps"] == [1, 1]


_REUSE_PROBE = r"""
import json
from pyspark.sql import SparkSession
from flink_realtime_spark.worker import crossing


def reads_since_last_task(batches):
    # Counts _read_directory calls from the end of this worker's previous
    # task to the start of this one: pyspark's per-task invalidate_caches.
    import os
    import zipimport

    import pandas as pd

    if not hasattr(zipimport, "_probe_reads"):
        real = zipimport._read_directory
        zipimport._probe_reads = [0]

        def counted(archive):
            zipimport._probe_reads[0] += 1
            return real(archive)

        zipimport._read_directory = counted
    reads = zipimport._probe_reads[0]
    for _ in batches:
        pass
    zipimport._probe_reads[0] = 0
    yield pd.DataFrame({"pid": [os.getpid()], "reads": [reads]})


spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)


def job(fn):
    (row,) = spark.range(0, 1, 1, 1).mapInPandas(fn, "pid long, reads long").collect()
    return [row.pid, row.reads]


wrapped = crossing(reads_since_last_task)
runs = [job(reads_since_last_task), job(reads_since_last_task), job(wrapped), job(wrapped)]
spark.stop()
print(json.dumps(runs))
"""


@pytest.mark.slow
def test_reused_worker_pays_no_archive_reread():
    """local[1]: four one-task jobs in one reused Python worker. Without
    the memo the second task re-reads every archive; once a crossing has
    installed it, the next task re-reads none."""
    runs = _run(_REUSE_PROBE, timeout=300)
    assert len({pid for pid, _ in runs}) == 1  # one reused worker
    assert runs[1][1] > 0
    assert runs[3][1] == 0
