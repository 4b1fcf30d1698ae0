"""Randomized property tests (hypothesis) for the custom composed plans —
the operators we built from primitives rather than calling built-ins, where
a fixture-based oracle alone could miss edge semantics:

- plans/asof.py asof_join vs a brute-force per-fact python model,
  including equal timestamps (version-visible-at-tie rule), facts before
  any version, duplicate keys, and left vs inner;
- streaming/sinks.py ParquetUpsertStore merge vs a dict model over random
  batch splits (associativity + idempotency of the keyed merge).

Inputs are generated by hypothesis but executed through the real Spark
plans on a shared local session.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_realtime_spark.plans.asof import asof_join
from flink_realtime_spark.streaming.sinks import ParquetUpsertStore


# hypothesis property sweeps over the state twins and span models — excluded from the fast gate (pytest.ini)
pytestmark = pytest.mark.slow


_BASE = dt.datetime(2024, 1, 1)

_ts = st.integers(min_value=0, max_value=50)
_key = st.integers(min_value=0, max_value=3)

facts_strategy = st.lists(
    st.tuples(_key, _ts), min_size=0, max_size=25
)
versions_strategy = st.lists(
    st.tuples(_key, _ts, st.integers(min_value=0, max_value=999)),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(facts=facts_strategy, versions=versions_strategy)
def test_asof_join_matches_bruteforce(spark, facts, versions):
    fact_rows = [
        (i, k, _BASE + dt.timedelta(minutes=t)) for i, (k, t) in enumerate(facts)
    ]
    # Duplicate (key, ts) versions stay IN: the plan's tiebreak (smallest
    # ver_id wins among same-ts versions) must hold, picking ONE row's
    # (ver_id, val) pair — never mixing columns across same-ts rows.
    ver_rows = [
        (k, _BASE + dt.timedelta(minutes=t), j, float(val))
        for j, (k, t, val) in enumerate(versions)
    ]

    fdf = spark.createDataFrame(
        fact_rows, "fact_id LONG, k LONG, fts TIMESTAMP"
    )
    vdf = spark.createDataFrame(
        ver_rows, "k LONG, vts TIMESTAMP, ver_id LONG, val DOUBLE"
    )
    got = {
        r.fact_id: (r.ver_id, r.val)
        for r in asof_join(
            fdf,
            vdf,
            key="k",
            fact_ts="fts",
            version_ts="vts",
            version_cols=["ver_id", "val"],
            how="left",
        ).collect()
    }
    for fact_id, k, fts in fact_rows:
        visible = [(vts, ver, val) for (vk, vts, ver, val) in ver_rows
                   if vk == k and vts <= fts]
        if visible:
            # latest ts; among same-ts versions the smallest ver_id wins
            max_ts = max(v[0] for v in visible)
            expect = min(v for v in visible if v[0] == max_ts)[1:]
            assert got[fact_id] == expect, (fact_id, got[fact_id], expect)
        else:
            assert got[fact_id] == (None, None)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(_key, _ts, st.integers(min_value=0, max_value=99)),
        min_size=1,
        max_size=30,
    ),
    split=st.integers(min_value=0, max_value=29),
)
def test_upsert_store_matches_dict_model(spark, rows, split):
    # unique (key, ts, seq) per row via enumeration → total order
    data = [
        (k, _BASE + dt.timedelta(minutes=t), i, float(v))
        for i, (k, t, v) in enumerate(rows)
    ]
    split = min(split, len(data))
    workdir = tempfile.mkdtemp(prefix="upsert_prop_")
    store = ParquetUpsertStore(
        spark,
        os.path.join(workdir, "store"),
        keys=["k"],
        order_cols=[F.col("ts").desc(), F.col("seq").desc()],
    )
    schema = "k LONG, ts TIMESTAMP, seq LONG, v DOUBLE"
    first, second = data[:split], data[split:]
    if first:
        store.merge(spark.createDataFrame(first, schema))
    if second:
        store.merge(spark.createDataFrame(second, schema))
        store.merge(spark.createDataFrame(second, schema))  # idempotency
    model = {}
    for k, ts, seq, v in data:
        if k not in model or (ts, seq) > (model[k][0], model[k][1]):
            model[k] = (ts, seq, v)
    got = {r.k: (r.ts, r.seq, r.v) for r in store.read().collect()}
    assert got == model


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    skewed=st.lists(
        st.tuples(st.integers(min_value=0, max_value=2), st.integers(0, 99)),
        min_size=0,
        max_size=40,
    ),
    small=st.lists(
        st.tuples(st.integers(min_value=0, max_value=4), st.integers(0, 9)),
        min_size=0,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
)
def test_salted_join_equals_plain_join(spark, skewed, small):
    """plans/skew.salted_join must be result-equivalent to the plain join
    it replaces (inner and left), for any key overlap pattern."""
    from flink_realtime_spark.plans.skew import salted_join

    sdf = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(skewed)] or [],
        "k LONG, row_id LONG, v LONG",
    )
    mdf = spark.createDataFrame(small or [], "k LONG, m LONG")
    for how in ("inner", "left"):
        got = sorted(
            tuple(r)
            for r in salted_join(
                sdf, mdf, key="k", salt_from="row_id", n_salts=4, how=how
            )
            .select("k", "row_id", "v", "m")
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in sdf.join(mdf, "k", how).select("k", "row_id", "v", "m").collect()
        )
        assert got == want, how


def test_salted_join_rejects_outer_types(spark):
    import pytest as _pytest

    from flink_realtime_spark.plans.skew import salted_join

    sdf = spark.createDataFrame([(1, 1, 1)], "k LONG, row_id LONG, v LONG")
    mdf = spark.createDataFrame([(1, 2)], "k LONG, m LONG")
    for how in ("right", "full", "full_outer"):
        with _pytest.raises(ValueError):
            salted_join(sdf, mdf, key="k", salt_from="row_id", how=how)


_val = st.integers(min_value=0, max_value=100)
_band = st.tuples(
    st.integers(min_value=-10, max_value=95),  # lo
    st.integers(min_value=1, max_value=25),  # width
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(vals=st.lists(_val, min_size=0, max_size=30),
       bands=st.lists(_band, min_size=1, max_size=8))
def test_binned_range_join_matches_naive(spark, vals, bands):
    from flink_realtime_spark.plans.rangejoin import binned_range_join

    vdf = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "vid LONG, x DOUBLE"
    )
    bdf = spark.createDataFrame(
        [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(bands)],
        "band_id LONG, lo DOUBLE, hi DOUBLE",
    )
    bin_width = float(min(w for _, w in bands))
    got = sorted(
        (r.vid, r.band_id)
        for r in binned_range_join(vdf, bdf, "x", "lo", "hi", bin_width).collect()
    )
    expected = sorted(
        (i, j)
        for i, v in enumerate(vals)
        for j, (lo, w) in enumerate(bands)
        if lo <= v < lo + w
    )
    assert got == expected


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(facts=facts_strategy, versions=versions_strategy)
def test_asof_forward_matches_bruteforce(spark, facts, versions):
    fact_rows = [
        (i, k, _BASE + dt.timedelta(minutes=t)) for i, (k, t) in enumerate(facts)
    ]
    # duplicate (key, ts) versions stay in — smallest ver_id must win
    ver_rows = [
        (k, _BASE + dt.timedelta(minutes=t), j, float(val))
        for j, (k, t, val) in enumerate(versions)
    ]

    fdf = spark.createDataFrame(
        fact_rows, "fact_id LONG, k LONG, fts TIMESTAMP"
    )
    vdf = spark.createDataFrame(
        ver_rows, "k LONG, vts TIMESTAMP, ver_id LONG, val DOUBLE"
    )
    got = {
        r.fact_id: (r.ver_id, r.val)
        for r in asof_join(
            fdf,
            vdf,
            key="k",
            fact_ts="fts",
            version_ts="vts",
            version_cols=["ver_id", "val"],
            how="left",
            direction="forward",
        ).collect()
    }
    for fact_id, k, fts in fact_rows:
        visible = [(vts, ver, val) for (vk, vts, ver, val) in ver_rows
                   if vk == k and vts >= fts]
        if visible:
            # earliest ts, then smallest ver_id — one consistent row
            expect = min(visible)[1:]
            assert got[fact_id] == expect, (fact_id, got[fact_id], expect)
        else:
            assert got[fact_id] == (None, None)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=364),  # day offset
            st.sampled_from(["O", "F", "P"]),  # status
            st.integers(min_value=1, max_value=10_000_000),  # price in cents
        ),
        min_size=1,
        max_size=60,
    ),
    n_splits=st.integers(min_value=1, max_value=5),
)
def test_mv_partial_merge_matches_recompute(spark, rows, n_splits):
    """The incremental-MV contract beyond the registered key's single fixed
    cutoff: for ANY partition of the fact rows into delta slices, folding
    the slices' commutative partials (count / exact-decimal sum / max)
    must equal the from-scratch recompute — associativity+commutativity of
    the state triple is what makes continuous maintenance correct."""
    df = spark.createDataFrame(
        [
            (
                dt.datetime(2024, 1, 1) + dt.timedelta(days=d),
                s,
                cents / 100.0,
            )
            for d, s, cents in rows
        ],
        "o_orderdate TIMESTAMP, o_orderstatus STRING, o_totalprice DOUBLE",
    )

    def partial(sl):
        return sl.groupBy(
            F.date_trunc("month", "o_orderdate").alias("m"), "o_orderstatus"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"),
            F.max("o_totalprice").alias("mx"),
        )

    merged = None
    for i in range(n_splits):
        sl = df.filter(F.crc32(F.col("o_orderdate").cast("string")) % n_splits == i)
        p = partial(sl)
        merged = p if merged is None else (
            merged.unionByName(p)
            .groupBy("m", "o_orderstatus")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").cast("decimal(18,4)").alias("s"),
                F.max("mx").alias("mx"),
            )
        )
    got = sorted(
        tuple(r) for r in merged.select("m", "o_orderstatus", "n", "s", "mx").collect()
    )
    want = sorted(
        tuple(r)
        for r in partial(df).select("m", "o_orderstatus", "n", "s", "mx").collect()
    )
    assert got == want


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(facts=facts_strategy, versions=versions_strategy)
def test_asof_nearest_matches_bruteforce(spark, facts, versions):
    """direction='nearest' picks the time-closest version either side,
    exact tie preferring the earlier (backward) one, then the smallest
    ver_id among same-ts versions — checked against a brute-force
    min-(|delta|, ts, ver_id) model on generated inputs with duplicate
    (key, ts) versions allowed."""
    fact_rows = [
        (i, k, _BASE + dt.timedelta(minutes=t)) for i, (k, t) in enumerate(facts)
    ]
    ver_rows = [
        (k, _BASE + dt.timedelta(minutes=t), j, float(val))
        for j, (k, t, val) in enumerate(versions)
    ]

    fdf = spark.createDataFrame(fact_rows, "fact_id LONG, k LONG, fts TIMESTAMP")
    vdf = spark.createDataFrame(
        ver_rows, "k LONG, vts TIMESTAMP, ver_id LONG, val DOUBLE"
    )
    got = {
        r.fact_id: (r.ver_id, r.val)
        for r in asof_join(
            fdf,
            vdf,
            key="k",
            fact_ts="fts",
            version_ts="vts",
            version_cols=["ver_id", "val"],
            how="left",
            direction="nearest",
        ).collect()
    }
    for fact_id, k, fts in fact_rows:
        cands = [
            (abs((vts - fts).total_seconds()), vts, ver, val)
            for (vk, vts, ver, val) in ver_rows
            if vk == k
        ]
        if cands:
            # min by (|delta|, earlier ts) — the backward tie preference
            expect = min(cands)[2:]
            assert got[fact_id] == expect, (fact_id, got[fact_id], expect)
        else:
            assert got[fact_id] == (None, None)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=72 * 60),  # event minute
            st.integers(min_value=0, max_value=240),  # arrival delay (min)
            st.integers(min_value=1, max_value=10_000),  # value in cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_late_refire_panes_match_bruteforce(spark, rows):
    """win_late_refire's pane classification under ARBITRARY arrival
    disorder (not just the fixture's straggler pattern): running-max
    watermark over arrival order, 10-minute delay, 1-hour windows,
    1-hour lateness — on-time/refire/drop decisions and both panes'
    counts must match a per-row python model."""
    import datetime as _dt

    from flink_realtime_spark.plans.ordered import Prefix, ordered_prefix
    from pyspark.sql import functions as F

    base = _dt.datetime(2024, 3, 1)
    data = [
        (
            i,
            base + _dt.timedelta(minutes=t),
            base + _dt.timedelta(minutes=t + d),
            v / 100.0,
        )
        for i, (t, d, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id LONG, ts TIMESTAMP, arr_ts TIMESTAMP, value DOUBLE"
    )
    # engine side: same composition as the registered key, but ordered by
    # the generated arrival column
    wm_df = ordered_prefix(
        df,
        [F.col("arr_ts"), F.col("event_id")],
        prefixes=[Prefix("wm", F.col("ts"), "max")],
    )
    ws = F.date_trunc("hour", F.col("ts"))
    we = ws + F.expr("INTERVAL 1 HOUR")
    eff = F.col("wm") - F.expr("INTERVAL 10 MINUTES")
    got = {
        r.ws: (r.n_on, r.n_re, r.n_fin)
        for r in (
            wm_df.filter(eff < we + F.expr("INTERVAL 1 HOUR"))
            .select(ws.alias("ws"), (eff < we).alias("on_time"))
            .groupBy("ws")
            .agg(
                F.count(F.when(F.col("on_time"), 1)).alias("n_on"),
                F.count(F.when(~F.col("on_time"), 1)).alias("n_re"),
                F.count(F.lit(1)).alias("n_fin"),
            )
            .collect()
        )
    }
    # python model: sort by (arr_ts, event_id), running max ts
    HOUR = 3600
    model: dict = {}
    wm = None
    for i, ts, arr, v in sorted(data, key=lambda x: (x[2], x[0])):
        wm = ts if wm is None or ts > wm else wm
        ts_s = int(ts.timestamp())
        ws_s = (ts_s // HOUR) * HOUR
        we_s = ws_s + HOUR
        eff_s = int(wm.timestamp()) - 600
        if not eff_s < we_s + HOUR:
            continue
        m = model.setdefault(_dt.datetime.utcfromtimestamp(ws_s), [0, 0, 0])
        if eff_s < we_s:
            m[0] += 1
        else:
            m[1] += 1
        m[2] += 1
    assert got == {k: tuple(v) for k, v in model.items()}


_mv_state = st.dictionaries(
    keys=st.tuples(
        st.integers(min_value=0, max_value=3),  # day index
        st.sampled_from(["click", "view", "purchase"]),
    ),
    values=st.tuples(
        st.integers(min_value=1, max_value=50),  # n_events
        st.integers(min_value=0, max_value=10_000),  # sum in cents
        # max_value is nullable: an all-NULL value group yields NULL, and
        # a key transitioning to/from NULL must still emit -U/+U (the
        # null-unsafe != bug ADVICE r3 flagged swallowed exactly that).
        st.one_of(st.none(), st.integers(min_value=0, max_value=100)),
    ),
    max_size=8,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(old_state=_mv_state, new_state=_mv_state)
def test_mv_changelog_diff_reconstructs_and_is_minimal(
    spark, old_state, new_state
):
    """mv_changelog_diff over ARBITRARY old/new MV states: applying the
    emitted changelog to `old` must reconstruct `new` exactly (+I insert,
    -U/+U replace, -D delete), retraction rows must carry the OLD image,
    and unchanged keys must emit nothing (minimality)."""
    from decimal import Decimal

    from flink_realtime_spark.operators.serving import mv_changelog_diff

    def to_df(state):
        rows = [
            (dt.datetime(2024, 1, 1 + d), et, n, Decimal(s) / 100,
             None if mx is None else float(mx))
            for (d, et), (n, s, mx) in state.items()
        ]
        return spark.createDataFrame(
            rows,
            "d TIMESTAMP, event_type STRING, n_events LONG, "
            "sum_dec DECIMAL(28,4), max_value DOUBLE",
        )

    cl = mv_changelog_diff(to_df(old_state), to_df(new_state), 7).collect()
    assert all(r.batch_id == 7 for r in cl)
    # minimality: unchanged keys absent
    norm = lambda v: (
        v[0], Decimal(v[1]) / 100, None if v[2] is None else float(v[2])
    )
    touched = {(r.d, r.event_type) for r in cl}
    for k in set(old_state) & set(new_state):
        if norm(old_state[k]) == norm(new_state[k]):
            key = (dt.datetime(2024, 1, 1 + k[0]), k[1])
            assert key not in touched, key
    # retractions carry the old image
    for r in cl:
        k = ((r.d - dt.datetime(2024, 1, 1)).days, r.event_type)
        if r.op in ("-U", "-D"):
            assert norm(old_state[k]) == (r.n_events, r.sum_dec, r.max_value)
        else:
            assert norm(new_state[k]) == (r.n_events, r.sum_dec, r.max_value)
    # replay: old + changelog == new
    replayed = {
        ((r.d - dt.datetime(2024, 1, 1)).days, r.event_type): (
            r.n_events, r.sum_dec, r.max_value,
        )
        for r in cl
        if r.op in ("+I", "+U")
    }
    deleted = {
        ((r.d - dt.datetime(2024, 1, 1)).days, r.event_type)
        for r in cl
        if r.op == "-D"
    }
    final = {k: norm(v) for k, v in old_state.items() if k not in deleted}
    final.update(replayed)
    assert final == {k: norm(v) for k, v in new_state.items()}


def _event_batch(rows):
    """(event_id, naive datetime, event_type, value) rows as the chunk a
    state fn receives behind apply_with_state: ts as int64 epoch µs."""
    import pandas as pd

    return pd.DataFrame(
        {
            "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "ts": pd.Series(
                [pd.Timestamp(r[1]).value // 1000 for r in rows], dtype="int64"
            ),
            "user_id": pd.Series([7] * len(rows), dtype="int64"),
            "event_type": pd.Series([r[2] for r in rows]),
            "value": pd.Series([r[3] for r in rows], dtype="float64"),
        }
    )


class _FakeGroupState:
    """Minimal GroupState stand-in: .exists/.get/.update — enough to drive
    an applyInPandasWithState function body without a streaming query."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.floats(
                min_value=-1000, max_value=1000,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=30), max_size=3),
)
def test_running_sum_state_fn_split_invariant(vals, cuts):
    """running_sum_state_fn must produce the SAME per-row running values
    no matter how the input is split into micro-batches (the associativity
    a streaming operator owes across batch boundaries), and must follow
    SQL SUM semantics on NULLs (row counts, value doesn't). The model is
    exact-decimal accumulation in arrival order."""
    import decimal

    import pandas as pd

    from flink_realtime_spark.streaming.stateful import running_sum_state_fn

    rows = [
        (i, float("nan") if v is None else v) for i, v in enumerate(vals)
    ]
    _Q = decimal.Decimal("0.0001")
    model, acc = {}, decimal.Decimal(0)
    for i, (eid, v) in enumerate(rows):
        if v == v:
            acc += decimal.Decimal(repr(v)).quantize(
                _Q, rounding=decimal.ROUND_HALF_UP
            )
        model[eid] = (i + 1, float(acc))

    def run(batches):
        state = _FakeGroupState()
        got = {}
        for batch in batches:
            if not batch:
                continue
            pdf = pd.DataFrame(
                {
                    "event_id": pd.Series(
                        [r[0] for r in batch], dtype="int64"
                    ),
                    "value": pd.Series(
                        [r[1] for r in batch], dtype="float64"
                    ),
                }
            )
            for out in running_sum_state_fn((7,), iter([pdf]), state):
                for r in out.itertuples(index=False):
                    assert r.user_id == 7
                    got[r.event_id] = (r.run_n, r.run_value)
        return got

    # single batch == model
    assert run([rows]) == model
    # arbitrary contiguous splits == model (state carries across batches)
    bounds = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    batches = [
        rows[a:b] for a, b in zip(bounds, bounds[1:])
    ]
    assert run(batches) == model


def test_running_sum_quantize_repr_ties():
    """The r08 vectorized quantize path must keep SHORTEST-REPR tie
    semantics (Spark's double→DECIMAL cast quantizes Double.toString,
    not the binary expansion): 0.12345's binary product is 1234.4999…,
    yet the cast sees "0.12345" and HALF_UP rounds to 1235 — exactly the
    rows the longdouble fast path hands back to the Decimal fallback.
    Model = the original per-row Decimal loop."""
    import decimal

    import pandas as pd

    from flink_realtime_spark.streaming.stateful import running_sum_state_fn

    vals = [
        0.12345, -0.12345, 0.00005, -0.00005, 2.00015, 123.45675,
        0.0, -0.0, float("nan"), 1e-300, -1e-300, 99999.99995,
        1.00004999999999999, 0.999949999999999, 5e-5, 1.5e-4, -2.5e-4,
        7.77775, 123456789.00005, 3.00025, -88.88885,
    ] + [round(x * 0.37 - 50, 5) for x in range(200)]
    _Q = decimal.Decimal("0.0001")
    acc, model = 0, []
    for v in vals:
        if v == v:
            acc += int(
                decimal.Decimal(repr(v))
                .quantize(_Q, rounding=decimal.ROUND_HALF_UP)
                .scaleb(4)
            )
        model.append(acc / 1e4)

    pdf = pd.DataFrame(
        {
            "event_id": pd.Series(range(len(vals)), dtype="int64"),
            "value": pd.Series(vals, dtype="float64"),
        }
    )
    state = _FakeGroupState()
    out = pd.concat(
        list(running_sum_state_fn((7,), iter([pdf]), state)),
        ignore_index=True,
    )
    assert out["run_value"].tolist() == model
    assert out["run_n"].tolist() == list(range(1, len(vals) + 1))


def test_temporal_join_state_fn_tie_discipline():
    """The streaming temporal join must apply plans/asof.py's tie rules:
    an equal-ts version IS visible to the fact it ties with (version
    sorts before fact), among equal-ts versions the SMALLEST id wins,
    facts before any version emit nothing, and the current version
    carries across micro-batches."""
    import datetime as dt

    from flink_realtime_spark.streaming.stateful import (
        temporal_join_state_fn,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    state = _FakeGroupState()
    got = []
    # batch 1, deliberately unsorted: purchase id 1 ties the clicks at t0;
    # clicks ids 5 and 3 tie each other; purchase id 0 precedes everything
    b1 = _event_batch(
        [
            (5, t0, "click", 5.0),
            (1, t0, "purchase", 99.0),
            (0, t0 - dt.timedelta(minutes=1), "purchase", 99.0),
            (3, t0, "click", 3.0),
        ]
    )
    for out in temporal_join_state_fn((7,), iter([b1]), state):
        got.extend(
            (r.purchase_id, r.click_id, r.click_value)
            for r in out.itertuples(index=False)
        )
    # purchase 0 dropped (no version yet); purchase 1 joins click 3
    # (equal-ts version visible, smallest id among the tie)
    assert got == [(1, 3, 3.0)]

    # batch 2: the click-3 version carries across the batch boundary
    got2 = []
    b2 = _event_batch([(9, t0 + dt.timedelta(minutes=5), "purchase", 99.0)])
    for out in temporal_join_state_fn((7,), iter([b2]), state):
        got2.extend(
            (r.purchase_id, r.click_id, r.click_value)
            for r in out.itertuples(index=False)
        )
    assert got2 == [(9, 3, 3.0)]


def test_forward_asof_state_fn_tie_discipline():
    """The forward twin's tie rules: a click ties an equal-ts purchase
    (at-or-after inclusive — fact sorts before version), among equal-ts
    purchases the smallest id takes the flush, a purchase with no
    pending clicks emits nothing, and unresolved clicks carry across
    batches until a purchase arrives."""
    import datetime as dt

    from flink_realtime_spark.streaming.stateful import (
        forward_asof_state_fn,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    state = _FakeGroupState()
    got = []
    # unsorted batch: purchase id 2 at t0-1m has no pending click (noop);
    # click id 1 ties purchases ids 6 and 4 at t0 — smallest id (4) wins
    b1 = _event_batch(
        [
            (6, t0, "purchase", 6.0),
            (1, t0, "click", 99.0),
            (2, t0 - dt.timedelta(minutes=1), "purchase", 2.0),
            (4, t0, "purchase", 4.0),
            (8, t0 + dt.timedelta(minutes=1), "click", 99.0),
        ]
    )
    for out in forward_asof_state_fn((7,), iter([b1]), state):
        got.extend(
            (r.click_id, r.purchase_id, r.purchase_value)
            for r in out.itertuples(index=False)
        )
    assert got == [(1, 4, 4.0)]

    # click 8 is still pending; the next batch's purchase resolves it
    got2 = []
    b2 = _event_batch([(9, t0 + dt.timedelta(minutes=9), "purchase", 9.0)])
    for out in forward_asof_state_fn((7,), iter([b2]), state):
        got2.extend(
            (r.click_id, r.purchase_id, r.purchase_value)
            for r in out.itertuples(index=False)
        )
    assert got2 == [(8, 9, 9.0)]


def test_nearest_asof_state_fn_tie_discipline():
    """The nearest twin's rules: a provisional backward emission (rev 0)
    on fact arrival, correction (rev 1) only when the forward delta is
    STRICTLY smaller, equidistant prefers backward (no correction), a
    fact with no backward resolves forward at rev 0, and pendings carry
    across batches."""
    import datetime as dt

    from flink_realtime_spark.streaming.stateful import (
        nearest_asof_state_fn,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def run(state, rows):
        got = []
        batches = iter([_event_batch(rows)])
        for out in nearest_asof_state_fn((7,), batches, state):
            got.extend(
                (r.click_id, r.purchase_id, r.purchase_value, r.rev)
                for r in out.itertuples(index=False)
            )
        return got

    state = _FakeGroupState()
    m = dt.timedelta(minutes=1)
    # click 1 has no backward: resolved forward by purchase 2 at rev 0
    assert run(state, [(1, t0, "click", 99.0), (2, t0 + m, "purchase", 2.0)]) == [
        (1, 2, 2.0, 0)
    ]
    # click 3 one minute after purchase 2: provisional (3,2); purchase 4
    # three minutes later is FARTHER (3 > 1) — no correction
    assert run(
        state,
        [(3, t0 + 2 * m, "click", 99.0), (4, t0 + 5 * m, "purchase", 4.0)],
    ) == [(3, 2, 2.0, 0)]
    # click 5 equidistant between purchases 4 and 6 (2 min each):
    # backward preferred, provisional only
    assert run(
        state,
        [(5, t0 + 7 * m, "click", 99.0), (6, t0 + 9 * m, "purchase", 6.0)],
    ) == [(5, 4, 4.0, 0)]
    # click 7 pends across the batch boundary; purchase 8 one minute
    # after beats backward purchase 6 (delta 1 < 5): rev-1 correction
    assert run(state, [(7, t0 + 14 * m, "click", 99.0)]) == [(7, 6, 6.0, 0)]
    assert run(state, [(8, t0 + 15 * m, "purchase", 8.0)]) == [(7, 8, 8.0, 1)]


def test_nearest_asof_state_fn_straggler_recorrects():
    """A cross-batch straggler version (older in event time, later in
    arrival order) must not freeze a pending fact's match (ADVICE r6):
    the fact keeps its per-fact best delta, so a strictly nearer
    subsequent version still issues the next-rev correction; and a
    straggler FARTHER than the current best never corrects at all."""
    import datetime as dt

    from flink_realtime_spark.streaming.stateful import (
        nearest_asof_state_fn,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)

    def run(state, rows):
        got = []
        batches = iter([_event_batch(rows)])
        for out in nearest_asof_state_fn((7,), batches, state):
            got.extend(
                (r.click_id, r.purchase_id, r.purchase_value, r.rev)
                for r in out.itertuples(index=False)
            )
        return got

    state = _FakeGroupState()
    # click 1 at +10m, no version yet: pends silently
    assert run(state, [(1, t0 + 10 * m, "click", 99.0)]) == []
    # straggler purchase 2 at +5m (behind the fact): provisional rev-0
    # match at delta 5 — and the fact must STAY pending (the r06 form
    # flushed it here and froze the match forever)
    assert run(state, [(2, t0 + 5 * m, "purchase", 2.0)]) == [(1, 2, 2.0, 0)]
    # purchase 3 at +11m is strictly nearer (1 < 5): rev-1 correction,
    # then the fact settles (max version ts ≥ fact ts)
    assert run(state, [(3, t0 + 11 * m, "purchase", 3.0)]) == [(1, 3, 3.0, 1)]

    # a straggler farther than the current best never corrects: click 4
    # one minute after purchase 3 holds backward delta 1
    assert run(state, [(4, t0 + 12 * m, "click", 99.0)]) == [(4, 3, 3.0, 0)]
    assert run(state, [(5, t0 + 2 * m, "purchase", 5.0)]) == []


# ---- split-invariance properties for the r06c keyed-state twins ----------
#
# The cross-batch contract every streaming twin owes: over an
# order-preserving replay, ANY contiguous micro-batch split of the
# ts-sorted event sequence yields the same final answer as one batch, and
# that answer equals the batch-semantics model. Timestamps are drawn
# UNIQUE per key so every twin's internal tie sort coincides with plain ts
# order and splits can never reorder ties across a boundary (the tie rules
# themselves are pinned by the unit tests above; cross-batch ties are the
# documented arrival-order gap).

_seq_strategy = st.lists(
    st.sampled_from(["click", "purchase", "view"]), min_size=1, max_size=24
).flatmap(
    lambda types: st.tuples(
        st.just(types),
        st.sets(
            st.integers(min_value=0, max_value=200),
            min_size=len(types),
            max_size=len(types),
        ),
        st.lists(st.integers(min_value=0, max_value=24), max_size=3),
    )
)


def _mk_rows(types, ts_set):
    return [
        (i, _BASE + dt.timedelta(minutes=ts), ty, float(i))
        for i, (ts, ty) in enumerate(zip(sorted(ts_set), types))
    ]


def _run_split(fn, rows, cuts, out_cols):
    state = _FakeGroupState()
    bounds = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    got = []
    for a, b in zip(bounds, bounds[1:]):
        if a == b:
            continue
        for out in fn((7,), iter([_event_batch(rows[a:b])]), state):
            got.extend(
                tuple(getattr(r, c) for c in out_cols)
                for r in out.itertuples(index=False)
            )
    return got


@settings(max_examples=60, deadline=None)
@given(data=_seq_strategy)
def test_temporal_join_state_fn_split_invariant(data):
    from flink_realtime_spark.streaming.stateful import (
        temporal_join_state_fn,
    )

    types, ts_set, cuts = data
    rows = _mk_rows(types, ts_set)
    cols = ("purchase_id", "click_id", "click_value")
    model, cur = {}, None
    for eid, _, ty, val in rows:  # unique ascending ts
        if ty == "click":
            cur = (eid, val)
        elif ty == "purchase" and cur is not None:
            model[eid] = cur
    expect = [(p, c, v) for p, (c, v) in model.items()]
    assert sorted(_run_split(temporal_join_state_fn, rows, [], cols)) == sorted(expect)
    assert sorted(_run_split(temporal_join_state_fn, rows, cuts, cols)) == sorted(expect)


@settings(max_examples=60, deadline=None)
@given(data=_seq_strategy)
def test_forward_asof_state_fn_split_invariant(data):
    from flink_realtime_spark.streaming.stateful import (
        forward_asof_state_fn,
    )

    types, ts_set, cuts = data
    rows = _mk_rows(types, ts_set)
    cols = ("click_id", "purchase_id", "purchase_value")
    model, pend = {}, []
    for eid, _, ty, val in rows:
        if ty == "click":
            pend.append(eid)
        elif ty == "purchase":
            for c in pend:
                model[c] = (eid, val)
            pend = []
    expect = [(c, p, v) for c, (p, v) in model.items()]
    assert sorted(_run_split(forward_asof_state_fn, rows, [], cols)) == sorted(expect)
    assert sorted(_run_split(forward_asof_state_fn, rows, cuts, cols)) == sorted(expect)


@settings(max_examples=60, deadline=None)
@given(data=_seq_strategy)
def test_nearest_asof_state_fn_split_invariant(data):
    from flink_realtime_spark.streaming.stateful import (
        nearest_asof_state_fn,
    )

    types, ts_set, cuts = data
    rows = _mk_rows(types, ts_set)
    purchases = [(r[1], r[0], r[3]) for r in rows if r[2] == "purchase"]
    model = {}
    for eid, ts, ty, _ in rows:
        if ty != "click":
            continue
        back = [p for p in purchases if p[0] < ts]
        fwd = [p for p in purchases if p[0] > ts]
        b = back[-1] if back else None
        f = fwd[0] if fwd else None
        if b is None and f is None:
            continue
        if f is None or (b is not None and (ts - b[0]) <= (f[0] - ts)):
            model[eid] = (b[1], b[2])
        else:
            model[eid] = (f[1], f[2])

    def latest(emissions):
        best = {}
        for cid, pid, pval, rev in emissions:
            if cid not in best or rev > best[cid][0]:
                best[cid] = (rev, pid, pval)
        return sorted((c, p, v) for c, (_, p, v) in best.items())

    cols = ("click_id", "purchase_id", "purchase_value", "rev")
    expect = sorted((c, p, v) for c, (p, v) in model.items())
    assert latest(_run_split(nearest_asof_state_fn, rows, [], cols)) == expect
    assert latest(_run_split(nearest_asof_state_fn, rows, cuts, cols)) == expect


@settings(max_examples=60, deadline=None)
@given(data=_seq_strategy)
def test_adjacency_state_fn_split_invariant(data):
    from flink_realtime_spark.streaming.stateful import (
        make_adjacency_state_fn,
    )

    types, ts_set, cuts = data
    rows = _mk_rows(types, ts_set)
    within = dt.timedelta(minutes=5)
    model = [
        (a[0], b[0])
        for a, b in zip(rows, rows[1:])
        if a[2] == "view" and b[2] == "purchase" and b[1] <= a[1] + within
    ]
    cols = ("prev_id", "anchor_id")
    fn1 = make_adjacency_state_fn("view", "purchase", within_us=300_000_000)
    fn2 = make_adjacency_state_fn("view", "purchase", within_us=300_000_000)
    assert sorted(_run_split(fn1, rows, [], cols)) == sorted(model)
    assert sorted(_run_split(fn2, rows, cuts, cols)) == sorted(model)


# ---- duplicated-substring spans vs a brute-force model -------------------

_doc_strategy = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=40),
    min_size=0,
    max_size=12,
)

# Multi-byte variant (VERDICT r6 #5): 2-byte (é), 3-byte CJK (日本),
# and 4-byte supplementary-plane (🦀, UTF-16 surrogate pair) code
# points, so the char-offset arithmetic (posexplode index → substring
# p+1 → span [s0, e0)) is pinned as CODE-POINT counting, not bytes or
# UTF-16 units, against the pure-Python model (str indexing = code
# points). Small alphabet keeps coincidental repeats frequent.
_doc_strategy_mb = st.lists(
    st.text(alphabet="a日本🦀é ", min_size=0, max_size=30),
    min_size=0,
    max_size=10,
)


def _span_model(texts: list[str], L: int) -> dict[tuple[int, int, int], None]:
    """Brute force: count every L-gram corpus-wide, mark duplicated
    offsets, merge offsets into maximal spans (new span when an offset
    starts strictly after the running end)."""
    from collections import Counter

    counts: Counter[str] = Counter()
    for t in texts:
        for p in range(len(t) - L + 1):
            counts[t[p : p + L]] += 1
    spans: dict[tuple[int, int, int], None] = {}
    for d, t in enumerate(texts):
        hits = [
            p
            for p in range(len(t) - L + 1)
            if counts[t[p : p + L]] >= 2
        ]
        cur = None
        for p in hits:
            if cur is not None and p <= cur[1]:
                cur = (cur[0], p + L)
            else:
                if cur is not None:
                    spans[(d, cur[0], cur[1])] = None
                cur = (p, p + L)
        if cur is not None:
            spans[(d, cur[0], cur[1])] = None
    return spans


def _check_spans_vs_model(spark, texts, L):
    from flink_realtime_spark.llm.dedup import duplicated_spans, substring_clean
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id LONG, text STRING, n_chars LONG",
    )
    model = set(_span_model(texts, L))
    got = {
        (r.doc_id, r.s0, r.e0)
        for r in duplicated_spans(docs, L=L).collect()
    }
    assert got == model
    # the removal half: every doc's cleaned text = chars outside its spans
    by_doc: dict[int, list[tuple[int, int]]] = {}
    for d, s0, e0 in model:
        by_doc.setdefault(d, []).append((s0, e0))
    cleaned = {
        r.doc_id: (r.n_removed, r.cleaned_text)
        for r in substring_clean(docs, L=L).collect()
    }
    assert set(cleaned) == set(range(len(texts)))
    for d, t in enumerate(texts):
        keep = [
            ch
            for i, ch in enumerate(t)
            if not any(s0 <= i < e0 for s0, e0 in by_doc.get(d, []))
        ]
        assert cleaned[d] == (len(t) - len(keep), "".join(keep)), d


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=_doc_strategy)
def test_duplicated_spans_match_bruteforce(spark, texts):
    """The hash-prefilter + exact-confirm + gaps-and-islands composition in
    duplicated_spans must equal the quadratic reference model — including
    within-doc self-overlap runs ('aaaaa...'), adjacent-span merges, and
    docs shorter than L (no grams, no spans). The 3-char alphabet forces
    coincidental repeats so the multi-span merge path actually fires
    (the sf fixtures only contain single-span docs)."""
    _check_spans_vs_model(spark, texts, L=5)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=_doc_strategy_mb)
def test_duplicated_spans_match_bruteforce_multibyte(spark, texts):
    """Same model, non-ASCII corpora (VERDICT r6 #5): spans, offsets,
    n_removed, and cleaned_text must count CODE POINTS under 2/3/4-byte
    UTF-8 (é / 日本 / 🦀) exactly as Python string indexing does — a
    byte- or UTF-16-unit-based substring would shift every offset."""
    _check_spans_vs_model(spark, texts, L=4)
