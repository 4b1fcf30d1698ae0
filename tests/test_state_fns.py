"""State functions driven directly, without Spark.

applyInPandasWithState hands a state fn its key, an iterator of pandas
chunks and a GroupState; apply_with_state turns event time into int64
epoch µs before the crossing. A stub GroupState is enough to check a state
fn's output and state against a plain row-by-row reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from flink_realtime_spark.streaming.stateful import latest_image_state_fn


class StubState:
    """The GroupState surface the state fns use: exists, get, update."""

    def __init__(self, value: tuple | None = None):
        self.value = value

    @property
    def exists(self) -> bool:
        return self.value is not None

    @property
    def get(self) -> tuple:
        return self.value

    def update(self, value: tuple) -> None:
        self.value = tuple(value)


def reference_latest_image(key, pdf_iter, state):
    """The row loop latest_image_state_fn replaced, kept as the reference."""
    best = tuple(state.get) if state.exists else None
    user_id = key[0]
    for pdf in pdf_iter:
        for r in pdf.itertuples(index=False):
            cand = (
                int(r.ts),
                int(r.event_id),
                str(r.event_type),
                float(r.value),
            )
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
    if best is not None:
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": pd.Series([user_id], dtype="int64"),
                "last_event_id": pd.Series([best[1]], dtype="int64"),
                "last_type": [best[2]],
                "last_value": pd.Series([best[3]], dtype="float64"),
                "last_ts_us": pd.Series([best[0]], dtype="int64"),
            }
        )


def us(ts) -> int:
    """Epoch µs of a naive timestamp string (or µs int, passed through)."""
    return ts if isinstance(ts, int) else pd.Timestamp(ts).value // 1000


def chunk(rows: list[tuple]) -> pd.DataFrame:
    """(ts, event_id, event_type, value) rows as the chunk pandas receives
    from Arrow behind apply_with_state: int64 epoch-µs ts, int64 ids."""
    return pd.DataFrame(
        {
            "user_id": pd.Series([7] * len(rows), dtype="int64"),
            "event_id": pd.Series([r[1] for r in rows], dtype="int64"),
            "ts": pd.Series([us(r[0]) for r in rows], dtype="int64"),
            "event_type": pd.Series([r[2] for r in rows], dtype="object"),
            "value": pd.Series([r[3] for r in rows], dtype="float64"),
        }
    )


def run_both(chunks: list[pd.DataFrame], state: tuple | None = None):
    """(outputs, final state) of the state fn and of the reference."""
    results = []
    for fn in (latest_image_state_fn, reference_latest_image):
        st = StubState(state)
        out = list(fn((np.int64(7),), iter([c.copy() for c in chunks]), st))
        results.append((out, st.value))
    return results


def assert_same(chunks, state=None):
    (got, got_state), (want, want_state) = run_both(chunks, state)
    assert got_state == want_state
    assert len(got) == len(want)
    for g, w in zip(got, want):
        pd.testing.assert_frame_equal(g, w)
    return got, got_state


def test_out_of_order_within_and_across_chunks():
    chunks = [
        chunk([
            ("2024-01-01 10:00:05.000007", 3, "a", 1.5),
            ("2024-01-01 10:00:09.123456", 1, "b", 2.5),
            ("2024-01-01 10:00:01", 9, "c", 3.5),
        ]),
        chunk([
            ("2024-01-01 09:00:00", 20, "d", 4.5),
            ("2024-01-01 10:00:09.123457", 2, "e", 5.5),
            ("2024-01-01 10:00:08", 30, "f", 6.5),
        ]),
        chunk([("2024-01-01 10:00:09.123456", 99, "g", 7.5)]),
    ]
    got, state = assert_same(chunks)
    assert state[1:] == (2, "e", 5.5)


def test_state_newer_than_batch_reemits_state_image():
    state = (1_800_000_000_000_000, 5, "kept", 9.25)
    chunks = [
        chunk([("2024-01-01 10:00:00", 6, "x", 1.0)]),
        chunk([("2025-06-01 00:00:00", 7, "y", 2.0)]),
    ]
    got, new_state = assert_same(chunks, state)
    assert new_state == state
    assert got[0]["last_type"].tolist() == ["kept"]


def test_exact_tie_first_row_wins():
    chunks = [
        chunk([
            ("2024-01-01 10:00:00.000001", 4, "first", 1.0),
            ("2024-01-01 10:00:00.000001", 4, "second", 2.0),
        ]),
        chunk([("2024-01-01 10:00:00.000001", 4, "third", 3.0)]),
    ]
    got, state = assert_same(chunks)
    assert state[2] == "first"
    # the state also beats a later row it ties with exactly
    got, state = assert_same(chunks, (1_704_103_200_000_001, 4, "state", 0.0))
    assert state[2] == "state"


def test_int64_us_ts_passes_through_verbatim():
    # A Spark TIMESTAMP has no sub-µs part, so no floor happens here: the
    # µs values, pre-1970 negatives included, reach state and output as-is
    chunks = [
        chunk([
            (-1, 1, "a", 1.0),
            (-86_400_000_001, 2, "b", 2.0),
            (-2, 3, "c", 3.0),
        ])
    ]
    got, state = assert_same(chunks)
    assert state[:2] == (-1, 1)
    assert got[0]["last_ts_us"].tolist() == [-1]
    got, state = assert_same([chunk([(1_704_103_200_000_001, 9, "d", 4.0)])], state)
    assert state[:2] == (1_704_103_200_000_001, 9)


def test_empty_chunk():
    empty = chunk([])
    assert_same([empty])
    assert run_both([empty])[0] == ([], None)
    assert_same([empty, chunk([("2024-01-01", 1, "a", 1.0)]), empty])
    assert_same([empty], (1, 2, "s", 3.0))


def test_output_dtypes():
    (got, _), _ = run_both([chunk([("2024-01-01", 1, "a", 1.0)])])
    assert [str(t) for t in got[0].dtypes] == [
        "int64", "int64", "object", "float64", "int64",
    ]
    assert list(got[0].columns) == [
        "user_id", "last_event_id", "last_type", "last_value", "last_ts_us",
    ]


def test_random_chunks_match_reference():
    rng = np.random.default_rng(0)
    base = us("2024-01-01")
    for _ in range(200):
        chunks = []
        for _ in range(int(rng.integers(1, 4))):
            n = int(rng.integers(0, 6))
            # few distinct ts and ids, so ties are common
            ts = base + rng.integers(0, 3, n) * 1000
            chunks.append(chunk([
                (int(t), int(e), f"t{j}", float(j))
                for j, (t, e) in enumerate(zip(ts, rng.integers(0, 3, n)))
            ]))
        state = None if rng.random() < 0.5 else (base + 1, 1, "s", -1.0)
        assert_same(chunks, state)
