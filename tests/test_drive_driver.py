"""tools/drive_driver.py: the oracle memory limit it splices into SQL."""

from __future__ import annotations

import pytest

from tools.drive_driver import oracle_mem_limit


def test_oracle_mem_limit_accepts_size(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_MEM", "1.5 GB")
    assert oracle_mem_limit() == "1.5 GB"


def test_oracle_mem_limit_rejects_stray_quote(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_MEM", "24GB'")
    with pytest.raises(ValueError, match="SPARK_GRAFT_ORACLE_MEM"):
        oracle_mem_limit()
