"""State functions driven directly, without Spark.

applyInPandasWithState hands a state fn its grouping key, an iterator of
pandas chunks and a GroupState; apply_with_state turns event time into
int64 epoch µs before the crossing. latest_image_state_fn is key-grouped:
one call holds every user of one key group, and its state is one row of
per-user arrays. A stub GroupState is enough to check its output and
state, user by user, against a plain per-key row-by-row reference.
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
    """The per-key row loop, kept as the reference: one user's chunks, its
    (ts_us, event_id, event_type, value) state, one output row."""
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


def chunk(rows: list[tuple], user: int | None = None) -> pd.DataFrame:
    """(user_id, ts, event_id, event_type, value) rows — or (ts, event_id,
    event_type, value) rows of one ``user`` — as the chunk pandas receives
    from Arrow behind apply_with_state: int64 epoch-µs ts, int64 ids."""
    if user is not None:
        rows = [(user, *r) for r in rows]
    return pd.DataFrame(
        {
            "user_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "event_id": pd.Series([r[2] for r in rows], dtype="int64"),
            "ts": pd.Series([us(r[1]) for r in rows], dtype="int64"),
            "event_type": pd.Series([r[3] for r in rows], dtype="object"),
            "value": pd.Series([r[4] for r in rows], dtype="float64"),
            "__key_group": pd.Series([3] * len(rows), dtype="int64"),
        }
    )


def group_state(images: dict[int, tuple] | None) -> tuple | None:
    """The group's state row (user_id, ts_us, event_id, event_type, value
    arrays) holding each user's (ts_us, event_id, event_type, value)."""
    if images is None:
        return None
    users = list(images)
    return (users, *([images[u][i] for u in users] for i in range(4)))


def run_group(chunks: list[pd.DataFrame], images=None):
    """(output frames, final per-user images) of one latest_image_state_fn
    call over one key group."""
    st = StubState(group_state(images))
    out = list(
        latest_image_state_fn((np.int64(3),), iter([c.copy() for c in chunks]), st)
    )
    if st.value is None:
        return out, None
    # the state crosses back to the JVM pickled: plain Python values only
    assert all(
        isinstance(arr, list) and all(type(x) in (int, float, str) for x in arr)
        for arr in st.value
    )
    assert len({len(arr) for arr in st.value}) == 1
    users, *fields = st.value
    assert len(set(users)) == len(users)
    return out, {u: tuple(f[i] for f in fields) for i, u in enumerate(users)}


def run_reference(chunks: list[pd.DataFrame], images=None):
    """The same, from the per-key reference run once per user present in
    the chunks (its rows in chunk order, its own prior image)."""
    final = dict(images or {})
    out = []
    users = sorted({int(u) for c in chunks for u in c["user_id"]})
    for u in users:
        st = StubState(final.get(u))
        per_user = [c[c["user_id"] == u] for c in chunks]
        out += list(reference_latest_image((np.int64(u),), iter(per_user), st))
        final[u] = st.value
    if out:
        out = [pd.concat(out, ignore_index=True)]
    return out, (final or None)


def assert_same(chunks, images=None):
    """Output rows and state of every user equal the reference's."""
    got, got_state = run_group(chunks, images)
    want, want_state = run_reference(chunks, images)
    assert got_state == want_state
    assert len(got) == len(want)
    for g, w in zip(got, want):
        pd.testing.assert_frame_equal(g, w)
    return got, got_state


def test_out_of_order_within_and_across_chunks():
    chunks = [
        chunk([
            (7, "2024-01-01 10:00:05.000007", 3, "a", 1.5),
            (8, "2024-01-01 10:00:02", 40, "h", 8.5),
            (7, "2024-01-01 10:00:09.123456", 1, "b", 2.5),
            (7, "2024-01-01 10:00:01", 9, "c", 3.5),
        ]),
        chunk([
            (7, "2024-01-01 09:00:00", 20, "d", 4.5),
            (8, "2024-01-01 10:00:01", 41, "i", 9.5),
            (7, "2024-01-01 10:00:09.123457", 2, "e", 5.5),
            (7, "2024-01-01 10:00:08", 30, "f", 6.5),
        ]),
        chunk([
            (7, "2024-01-01 10:00:09.123456", 99, "g", 7.5),
            (2, "2023-12-31 23:59:59", 50, "j", 0.5),
        ]),
    ]
    got, state = assert_same(chunks)
    assert state[7][1:] == (2, "e", 5.5)
    assert state[8][1:] == (40, "h", 8.5)
    assert got[0]["user_id"].tolist() == [2, 7, 8]


def test_state_newer_than_batch_reemits_state_image():
    images = {
        7: (1_800_000_000_000_000, 5, "kept", 9.25),
        8: (us("2024-01-01 10:00:00"), 1, "old", 1.0),
    }
    chunks = [
        chunk([(7, "2024-01-01 10:00:00", 6, "x", 1.0)]),
        chunk([
            (7, "2025-06-01 00:00:00", 7, "y", 2.0),
            (8, "2024-01-01 10:00:01", 2, "new", 3.0),
        ]),
    ]
    got, new_state = assert_same(chunks, images)
    assert new_state[7] == images[7]
    assert new_state[8] == (us("2024-01-01 10:00:01"), 2, "new", 3.0)
    out = got[0].set_index("user_id")
    assert out.loc[[7], "last_type"].tolist() == ["kept"]


def test_users_absent_from_the_batch_keep_state_and_emit_nothing():
    images = {
        1: (us("2024-01-01"), 1, "a", 1.0),
        2: (us("2024-01-02"), 2, "b", 2.0),
    }
    got, state = assert_same([chunk([("2024-01-03", 3, "c", 3.0)], user=5)], images)
    assert got[0]["user_id"].tolist() == [5]
    assert state == {**images, 5: (us("2024-01-03"), 3, "c", 3.0)}


def test_exact_tie_first_row_wins():
    t = "2024-01-01 10:00:00.000001"
    chunks = [
        chunk([(7, t, 4, "first", 1.0), (9, t, 4, "u9 first", 1.0)]),
        chunk([(7, t, 4, "second", 2.0), (9, t, 4, "u9 second", 2.0)]),
        chunk([(7, t, 4, "third", 3.0)]),
    ]
    got, state = assert_same(chunks)
    assert state[7][2] == "first"
    assert state[9][2] == "u9 first"
    # the state also beats a later row it ties with exactly
    got, state = assert_same(chunks, {7: (us(t), 4, "state", 0.0)})
    assert state[7][2] == "state"
    assert state[9][2] == "u9 first"
    # a tie within one chunk: the earlier row wins
    got, state = assert_same([chunk([(7, t, 4, "a", 1.0), (7, t, 4, "b", 2.0)])])
    assert state[7][2] == "a"


def test_int64_us_ts_passes_through_verbatim():
    # A Spark TIMESTAMP has no sub-µs part, so no floor happens here: the
    # µs values, pre-1970 negatives included, reach state and output as-is
    chunks = [
        chunk([
            (7, -1, 1, "a", 1.0),
            (7, -86_400_000_001, 2, "b", 2.0),
            (8, -86_400_000_001, 5, "e", 5.0),
            (7, -2, 3, "c", 3.0),
        ])
    ]
    got, state = assert_same(chunks)
    assert state[7][:2] == (-1, 1)
    assert state[8][:2] == (-86_400_000_001, 5)
    assert got[0]["last_ts_us"].tolist() == [-1, -86_400_000_001]
    got, state = assert_same(
        [chunk([(7, 1_704_103_200_000_001, 9, "d", 4.0)])], state
    )
    assert state[7][:2] == (1_704_103_200_000_001, 9)
    assert state[8][:2] == (-86_400_000_001, 5)


def test_empty_chunk():
    empty = chunk([])
    assert_same([empty])
    assert run_group([empty]) == ([], None)
    assert_same([empty, chunk([("2024-01-01", 1, "a", 1.0)], user=7), empty])
    # no row in the batch: nothing emitted, the state left as it was
    images = {7: (1, 2, "s", 3.0)}
    assert_same([empty], images)
    assert run_group([empty], images) == ([], images)


def test_output_dtypes():
    for images in (None, {9: (1, 2, "s", 3.0)}):
        got, _ = run_group([chunk([(7, "2024-01-01", 1, "a", 1.0)])], images)
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
            n = int(rng.integers(0, 12))
            # few users, ts and ids, so ties are common
            users = rng.integers(1, 5, n)
            ts = base + rng.integers(-1, 3, n) * 1000
            eids = rng.integers(0, 3, n)
            chunks.append(chunk([
                (int(u), int(t), int(e), f"t{j}", float(j))
                for j, (u, t, e) in enumerate(zip(users, ts, eids))
            ]))
        images = {
            int(u): (base + int(rng.integers(-1, 3)) * 1000, int(rng.integers(0, 3)), "s", -1.0)
            for u in rng.choice(np.arange(1, 6), int(rng.integers(0, 4)), replace=False)
        } or None
        assert_same(chunks, images)
