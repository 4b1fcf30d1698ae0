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
