"""Strict output checks against DuckDB oracles, with an on-disk cache.

The comparator is the repository's strict representation hash
(``tools/drive_driver.py``: ``canon``/``frame_hash``), so "61" vs "61.0"
or int vs float fails here exactly as in the driver simulation. Oracle
hashes are computed off the clock and cached under a key made of the
oracle SQL text and a digest of the input files: join_dim_broadcast's
oracle alone takes ~10 s at sf0.1, and the inputs of the query mixes do
not change between runs.

The inputs are the repository's sf0.1 fixture tables that the workloads
read (documents, embeddings, customer, nation), kept byte for byte under
``perfbench/data/sf0.1`` so that a run reads nothing outside its checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(_ROOT, "perfbench", "data", "sf0.1")


def _import_comparator():
    # drive_driver edits sys.path at import time; keep ours as it was.
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(_ROOT, "tools"))
    try:
        from drive_driver import canon, frame_hash
    finally:
        sys.path[:] = saved
    return canon, frame_hash


canon, frame_hash = _import_comparator()


def tables(sf_dir: str) -> list[str]:
    return sorted(n[: -len(".parquet")] for n in os.listdir(sf_dir) if n.endswith(".parquet"))


def fingerprint(sf_dir: str) -> str:
    """Digest of every input table's bytes; keys the oracle cache."""
    h = hashlib.sha256()
    for t in tables(sf_dir):
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode())
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def duck(sf_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """A fresh connection with the input tables as views. Bounded memory
    and threads: the oracle shares the machine with the Spark driver."""
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in tables(sf_dir):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


def rows_hash(cols, rows) -> str:
    return frame_hash(list(cols), [tuple(r) for r in rows])


class OracleCache:
    """DuckDB oracle hashes, one JSON file per (oracle SQL, inputs)."""

    def __init__(self, cache_dir: str, tmp_dir: str):
        self.cache_dir = cache_dir
        self.tmp_dir = tmp_dir
        os.makedirs(cache_dir, exist_ok=True)
        os.makedirs(tmp_dir, exist_ok=True)
        self.computed = 0

    def _path(self, sql: str, fp: str) -> str:
        key = hashlib.sha256((sql + "\x00" + fp).encode()).hexdigest()
        return os.path.join(self.cache_dir, f"{key}.json")

    def expected(self, sql: str, sf_dir: str, fp: str) -> str:
        path = self._path(sql, fp)
        try:
            with open(path) as fh:
                return json.load(fh)["hash"]
        except (OSError, ValueError, KeyError):
            pass
        con = duck(sf_dir, self.tmp_dir)
        try:
            cur = con.execute(sql)
            h = rows_hash([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"hash": h}, fh)
        os.replace(tmp, path)
        self.computed += 1
        return h
