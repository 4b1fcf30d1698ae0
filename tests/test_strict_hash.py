"""flink_realtime_spark.strict_hash: the one comparator of the fast gate,
tools/drive_driver.py and perfbench. perfbench caches oracle hashes on disk,
so any drift in ``canon`` or ``frame_hash`` would show there as wrong
outputs; the golden digest below pins both."""

from __future__ import annotations

import pytest

from flink_realtime_spark.strict_hash import canon, frame_hash
from tests.conftest import assert_strict_parity

COLS = ["b", "a"]
ROWS = [
    (61, 61.0),
    ("61", "61.0"),
    (-0.0, 0.0),
    (float("nan"), None),
    (b"\x00\xff", True),
]
GOLDEN = "5e718987ac469bcb8938e56330e4f34e7ac906319d3e58909786ac9b85e58ff8"


def test_frame_hash_golden():
    assert frame_hash(COLS, ROWS) == GOLDEN
    # column order and row order do not matter
    swapped = [(a, b) for b, a in reversed(ROWS)]
    assert frame_hash(["a", "b"], swapped) == GOLDEN


def test_canon_keeps_representations_apart():
    assert [canon(v) for v in (61, 61.0, "61", "61.0")] == [
        "61", "61.0", "'61'", "'61.0'",
    ]
    assert [canon(v) for v in (-0.0, 0.0)] == ["-0.0", "0.0"]
    assert [canon(v) for v in (float("nan"), None)] == ["NaN", "NULL"]
    assert canon(b"\x00\xff") == "0x00ff"


def test_seeded_string_divergence_fails_parity():
    rows = [(1, "61"), (2, "x")]
    seeded = [(1, "61.0"), (2, "x")]
    assert_strict_parity("same", ["id", "v"], rows, ["v", "id"], [
        (v, i) for i, v in rows
    ])
    with pytest.raises(AssertionError) as err:
        assert_strict_parity("seeded", ["id", "v"], rows, ["id", "v"], seeded)
    msg = str(err.value)
    assert "seeded: strict hash differs" in msg
    assert "spark: 1\x1f'61'\n" in msg
    assert "duck : 1\x1f'61.0'" in msg
