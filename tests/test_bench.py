"""bench.py: a headline key that fails its warm-up is reported, not dropped."""

from __future__ import annotations

import bench


def test_warmup_failure_records_and_prints_one_line(capsys):
    got = bench.warmup_failure("broken_key", ValueError("bad plan\nsecond line"))
    assert got == ("broken_key", "ValueError: bad plan")
    assert bench.warmup_failure("k", KeyError()) == ("k", "KeyError")
    assert capsys.readouterr().err.splitlines() == [
        "# warm-up failed: broken_key: ValueError: bad plan",
        "# warm-up failed: k: KeyError",
    ]


def test_refused_confs_reach_sidecar_and_driver_line(monkeypatch):
    """The (conf, reason) pairs of session.REFUSED_CONFS go to bench.py's
    sidecar and to one drive_driver line; the stdout payload is unchanged."""
    import json

    from tools.drive_driver import refused_confs_line

    payload = {"metric": "headline_queries_total_sec", "value": 1.0}
    monkeypatch.setattr(bench, "REFUSED_CONFS", [])
    assert bench.sidecar({}, [], payload)["refused_confs"] == []
    assert refused_confs_line([]) is None

    refused = [("spark.sql.adaptive.enabled", "RuntimeError: locked\nby host")]
    monkeypatch.setattr(bench, "REFUSED_CONFS", refused)
    got = bench.sidecar({"k": [1.0, 2.0]}, [("k", "E")], payload)
    assert got["refused_confs"] == [list(refused[0])]
    assert json.loads(json.dumps(got))["refused_confs"] == got["refused_confs"]
    assert {k: got[k] for k in payload} == payload
    assert refused_confs_line(refused).splitlines() == [
        '# refused confs: [["spark.sql.adaptive.enabled", '
        '"RuntimeError: locked\\nby host"]]'
    ]
