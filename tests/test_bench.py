"""bench.py: key selection, and a key that fails its warm-up is reported,
not dropped."""

from __future__ import annotations

import pytest

import bench
from flink_realtime_spark import registry


def test_no_keys_times_headline():
    assert bench.select_keys([]) == bench.HEADLINE


def test_named_keys_keep_their_order():
    assert bench.select_keys(["llm_doc_keywords", "agg_rollup"]) == [
        "llm_doc_keywords",
        "agg_rollup",
    ]


def test_unknown_key_exits_naming_it():
    with pytest.raises(SystemExit, match="nosuchkey") as exc:
        bench.select_keys(["agg_rollup", "nosuchkey"])
    assert "agg_rollup" not in str(exc.value)


def test_headline_keys_are_registered():
    registry.load_all()
    assert [k for k in bench.HEADLINE if k not in registry.QUERIES] == []


def test_warmup_failure_records_and_prints_one_line(capsys):
    got = bench.warmup_failure("broken_key", ValueError("bad plan\nsecond line"))
    assert got == ("broken_key", "ValueError: bad plan")
    assert bench.warmup_failure("k", KeyError()) == ("k", "KeyError")
    assert capsys.readouterr().err.splitlines() == [
        "# warm-up failed: broken_key: ValueError: bad plan",
        "# warm-up failed: k: KeyError",
    ]


def test_refused_confs_reach_sidecar_and_driver_line(monkeypatch):
    """The (conf, reason) pairs of session.REFUSED_CONFS and the quiet-box
    calibration go to bench.py's sidecar, the refused confs also to one
    drive_driver line; the stdout payload is unchanged."""
    import json

    from tools.drive_driver import refused_confs_line

    payload = {"metric": "headline_queries_total_sec", "value": 1.0}
    monkeypatch.setattr(bench, "REFUSED_CONFS", [])
    assert bench.sidecar({}, [], [], payload)["refused_confs"] == []
    assert refused_confs_line([]) is None

    refused = [("spark.sql.adaptive.enabled", "RuntimeError: locked\nby host")]
    monkeypatch.setattr(bench, "REFUSED_CONFS", refused)
    got = bench.sidecar({"k": [1.0, 2.0]}, [("k", "E")], [41.5, 43.0], payload)
    assert got["refused_confs"] == [list(refused[0])]
    assert got["calib_ms"] == [41.5, 43.0]
    assert json.loads(json.dumps(got))["refused_confs"] == got["refused_confs"]
    assert {k: got[k] for k in payload} == payload
    assert refused_confs_line(refused).splitlines() == [
        '# refused confs: [["spark.sql.adaptive.enabled", '
        '"RuntimeError: locked\\nby host"]]'
    ]
