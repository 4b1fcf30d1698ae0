"""Stateful streaming operators — SURVEY.md §2.9.

Reference capability: Flink KeyedProcessFunction state machines, CDC
changelog compaction, streaming dedup with TTL, CEP pattern detection
(provenance FLINK/ARCH; snapshot is README-only,
/root/reference/README.md:1-2).

Spark-first split, per the engine's normative rule (SURVEY.md §3.3): every
streaming operator has a bounded batch analog with identical semantics —
the batch analog is what the DuckDB oracle hash-checks; the streaming form
(applyInPandasWithState state functions below via apply_with_state,
dropDuplicatesWithinWatermark) is exercised by tests/test_streaming.py
equivalence replays.

Scale notes (100 TB): state lives in the executor-local RocksDB store keyed
by shuffle partition; state size is bounded by (keys × state row), not by
input volume. The batch analogs are single-shuffle window compositions.
A key-grouped fn (latest_image_state_fn) keeps one state row per key
group: each trigger rewrites every touched group's arrays, O(K/256) per
group for K keys, where the ADS store it feeds already rewrites O(K).
The key→group mapping (KEY_GROUPS, xxhash64) must never change under an
existing checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from flink_realtime_spark.exprs import epoch_us
from flink_realtime_spark.registry import query
from flink_realtime_spark.tables import Warehouse
from flink_realtime_spark.worker import crossing

# state/output schemas per stateful function: static fns are added in one
# update() block below; factory-built fns register their instances at
# construction time (see make_sequence/absence/retry_state_fn)
_STATE_SCHEMAS: dict = {}

# State fns registered here take one KEY GROUP per call instead of one key
# (apply_with_state groups their rows by pmod(xxhash64(key), KEY_GROUPS)).
# A key's group is where its state lives, so KEY_GROUPS and the hash must
# never change under an existing checkpoint: restored state would be read
# by the wrong group. 256 leaves several groups per task at any
# shuffle-partition count the engine pins (the host's cores) and keeps the
# calls per trigger far below the keys.
_KEY_GROUPED: set = set()
KEY_GROUPS = 256


def latest_image(df: DataFrame, keys: list[str], order_cols: list) -> DataFrame:
    """Changelog → latest row per key (Flink retract/upsert compaction).
    ``order_cols`` must define a total order (include a unique tiebreak) so
    the surviving row is deterministic. One shuffle; Catalyst plans
    WindowGroupLimit so only the top row per key per partition crosses."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "cdc_latest_image",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           CAST(value AS DOUBLE) AS last_value, ts AS last_ts
    FROM (
      SELECT *,
        ROW_NUMBER() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def cdc_latest_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog compaction (Flink CDC → DIM layer): the events table
    read as a per-user changelog, compacted to the latest image. Streaming
    form: latest_image_state_fn below, equivalence-tested."""
    wh = Warehouse(spark, sf_dir)
    out = latest_image(
        wh.events,
        keys=["user_id"],
        order_cols=[F.col("ts").desc(), F.col("event_id").desc()],
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.col("value").cast("double").alias("last_value"),
        F.col("ts").alias("last_ts"),
    )


@query(
    "state_new_visitor",
    """
    SELECT
      event_id,
      user_id,
      CAST(CASE WHEN ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts, event_id
      ) = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_new
    FROM events
    """,
)
def state_new_visitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical DWD per-key state machine (Flink KeyedProcessFunction
    'new visitor' flag): mark each user's first-ever event. Batch analog =
    row_number()=1; streaming form = new_visitor_state_fn via
    apply_with_state (applyInPandasWithState), equivalence-tested."""
    wh = Warehouse(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return wh.events.select(
        "event_id",
        "user_id",
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).cast("long").alias(
            "is_new"
        ),
    )


@query(
    "cep_funnel_batch",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT
      u.user_id,
      CAST(CASE
        WHEN p.user_id IS NOT NULL THEN 3
        WHEN c.user_id IS NOT NULL THEN 2
        WHEN v.user_id IS NOT NULL THEN 1
        ELSE 0
      END AS BIGINT) AS funnel_stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def cep_funnel_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-lite pattern detection (Flink CEP view→click→purchase funnel),
    batch analog: strictly ordered first-occurrence chaining via min-ts
    joins, declared through the pattern compiler (streaming/cep.py
    first_match lowering — r06 re-expression, hash-identical to the
    hand-lowered r01 plan). Streaming form = funnel_state_fn below. Flink
    gap note: Spark has no MATCH_RECOGNIZE; this composition plus the
    stateful processor is the engine's documented CEP surface
    (SURVEY.md §4)."""
    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    wh = Warehouse(spark, sf_dir)
    ev = wh.events
    pat = Pattern.begin("view").followed_by("click").followed_by("purchase")
    matched = compile_pattern(ev, pat)
    users = ev.select("user_id").distinct()
    return users.join(matched, "user_id", "left").select(
        "user_id",
        F.when(F.col("t_step3").isNotNull(), 3)
        .when(F.col("t_step2").isNotNull(), 2)
        .when(F.col("t_step1").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("funnel_stage"),
    )


@query(
    "cep_funnel_within",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2, MIN(v.t1) AS t1c
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t1c + INTERVAL 1 HOUR
      GROUP BY e.user_id
    )
    SELECT
      u.user_id,
      CAST(CASE
        WHEN p.user_id IS NOT NULL THEN 3
        WHEN c.user_id IS NOT NULL THEN 2
        WHEN v.user_id IS NOT NULL THEN 1
        ELSE 0
      END AS BIGINT) AS funnel_stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def cep_funnel_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel pattern with Flink CEP's within() bound, through the
    r06 compiler: view → click → purchase where every later step must
    land within ONE HOUR of the user's first view (anchored-within — the
    'did they convert within the hour' funnel board; the compiler
    documents how this differs from NFA re-anchoring). Same min-ts chain
    as cep_funnel_batch with per-step deadline filters; the anchor ts
    rides the chain as a constant per key, so the plan shape (three keyed
    aggs + broadcast-out left joins) is unchanged."""
    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    wh = Warehouse(spark, sf_dir)
    ev = wh.events
    pat = (
        Pattern.begin("view")
        .followed_by("click")
        .followed_by("purchase")
        .within("1 HOUR")
    )
    matched = compile_pattern(ev, pat)
    users = ev.select("user_id").distinct()
    return users.join(matched, "user_id", "left").select(
        "user_id",
        F.when(F.col("t_step3").isNotNull(), 3)
        .when(F.col("t_step2").isNotNull(), 2)
        .when(F.col("t_step1").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("funnel_stage"),
    )


@query(
    "cep_funnel_any",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2, MIN(s1.t1) AS t1c
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type IN ('view', 'click') AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t1c + INTERVAL 1 DAY
      GROUP BY e.user_id
    )
    SELECT
      u.user_id,
      CAST(CASE
        WHEN s3.user_id IS NOT NULL THEN 3
        WHEN s2.user_id IS NOT NULL THEN 2
        WHEN s1.user_id IS NOT NULL THEN 1
        ELSE 0
      END AS BIGINT) AS funnel_stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
)
def cep_funnel_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternation funnel (Flink CEP composite OR conditions, r06c):
    signup → (view|click) → purchase, each later step within ONE DAY of
    the user's first signup — 'did the new account engage either way and
    convert inside day one'. The middle step is a type SET, which the
    compiler lowers to one isin() filter in the same min-ts chain as
    cep_funnel_batch (no plan-shape change, no extra shuffle; the
    alternatives share a single keyed aggregate). Streaming form:
    make_sequence_state_fn accepts per-step type sets — the same NFA
    stage advances on any member. Stage distribution on the fixture:
    55/71/24 across stages 1/2/3."""
    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    wh = Warehouse(spark, sf_dir)
    ev = wh.events
    pat = (
        Pattern.begin("signup")
        .followed_by(("view", "click"))
        .followed_by("purchase")
        .within("1 DAY")
    )
    matched = compile_pattern(ev, pat)
    users = ev.select("user_id").distinct()
    return users.join(matched, "user_id", "left").select(
        "user_id",
        F.when(F.col("t_step3").isNotNull(), 3)
        .when(F.col("t_step2").isNotNull(), 2)
        .when(F.col("t_step1").isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("funnel_stage"),
    )


# --------------------------------------------------------------------------
# Streaming forms: arbitrary keyed state (the KeyedProcessFunction analog).
#
# One API: applyInPandasWithState (Arrow-based GroupState, event-time
# timeouts via GroupStateTimeout) through apply_with_state. It needs no
# protobuf on driver or workers and covers every operator below; SCALE.md
# §TWS-vs-portable records why it is the only path.
# --------------------------------------------------------------------------


def new_visitor_state_fn(key, pdf_iter, state):
    """GroupState per user: is_new=1 only for the user's first-ever event
    (arrival order; feed ts-ordered input for event-time semantics). The
    Flink 'new visitor' DWD flag. State: one boolean per key — at 100 TB,
    bound it with a timeout (GroupStateTimeout) like Flink state TTL."""
    import pandas as pd

    seen = state.exists
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        flags = [0] * len(pdf)
        if not seen and len(pdf):
            flags[0] = 1
            seen = True
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].astype("int64"),
                "user_id": pdf["user_id"].astype("int64"),
                "is_new": pd.Series(flags, dtype="int64").values,
            }
        )
    state.update((1,))


def latest_image_state_fn(key, pdf_iter, state):
    """Latest image per user, one call per KEY GROUP: apply_with_state
    groups this fn's rows by pmod(xxhash64(user_id), KEY_GROUPS), so one
    call sees every user of its group. The group's state is one row of
    parallel arrays, one element per user the group has seen: (user_id,
    ts_us, event_id, event_type, value). Emits the refreshed image of
    every user present in the micro-batch — the upsert/update stream a
    Flink retract sink would consume.

    The order per user is (ts_us, event_id); on an exact tie the earlier
    row wins, and the state counts as earliest. One stable lexsort over
    the state and the chunks, by (user, ts, event_id, -position), puts
    each user's winner last in its run, so the whole group is decided in
    numpy without a per-user frame."""
    import numpy as np
    import pandas as pd

    dtypes = ("int64", "int64", "int64", object, "float64")
    prior = state.get if state.exists else [[]] * len(dtypes)
    parts = [[np.asarray(arr, dtype=dt)] for arr, dt in zip(prior, dtypes)]
    n_state = len(prior[0])
    for pdf in pdf_iter:
        for part, col, dt in zip(
            parts, ("user_id", "ts", "event_id", "event_type", "value"), dtypes
        ):
            part.append(pdf[col].to_numpy(dtype=dt))
    uid, ts_us, eid, etype, value = (np.concatenate(p) for p in parts)
    if len(uid) == n_state:
        return  # no row in this micro-batch
    order = np.lexsort((-np.arange(len(uid)), eid, ts_us, uid))
    by_user = uid[order]
    best = order[np.append(by_user[1:] != by_user[:-1], True)]
    state.update(
        tuple(a[best].tolist() for a in (uid, ts_us, eid, etype, value))
    )
    fresh = best[np.isin(uid[best], uid[n_state:])]
    yield pd.DataFrame(
        {
            "user_id": uid[fresh],
            "last_event_id": eid[fresh],
            "last_type": etype[fresh],
            "last_value": value[fresh],
            "last_ts_us": ts_us[fresh],
        }
    )


def make_sequence_state_fn(step_types: tuple, within_us: int | None = None):
    """Factory for the first_match streaming lowering (cep.py
    compile_pattern_stream): CEP-lite NFA per key advancing through the
    given step types on strictly increasing event time, emitting the
    current stage after each micro-batch. With ``within_us``, ANCHORED
    semantics matching the batch lowering: every transition after step 1
    must land within the horizon of the key's FIRST step-1 event
    (expired events simply don't transition). State = (stage,
    last_transition ts_us, anchor ts_us); feed ts-ordered batches for
    event-time semantics (out-of-order events within a batch are sorted
    here; cross-batch stragglers follow arrival order — the documented
    Spark-vs-Flink ordering gap)."""
    # each element: one type or a tuple of alternatives (compiler sets)
    steps = tuple(
        s if isinstance(s, tuple) else (s,) for s in step_types
    )
    n_steps = len(steps)

    def sequence_state_fn(key, pdf_iter, state):
        import pandas as pd

        stage, last_us, anchor_us = (
            tuple(state.get) if state.exists else (0, -1, -1)
        )
        user_id = key[0]
        saw_any = False
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples(index=False):
                saw_any = True
                t_us = int(r.ts)
                if (
                    stage < n_steps
                    and r.event_type in steps[stage]
                    and t_us > last_us
                ):
                    if stage > 0 and (
                        within_us is not None
                        and t_us > anchor_us + within_us
                    ):
                        continue  # past the anchored horizon: no transition
                    if stage == 0:
                        anchor_us = t_us
                    stage, last_us = stage + 1, t_us
        if saw_any:
            state.update((stage, last_us, anchor_us))
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([user_id], dtype="int64"),
                    "funnel_stage": pd.Series([stage], dtype="int64"),
                }
            )

    _STATE_SCHEMAS[sequence_state_fn] = (
        "stage LONG, last_us LONG, anchor_us LONG",
        "user_id LONG, funnel_stage LONG",
    )
    return sequence_state_fn


# The engine's canonical funnel twin (view → click → purchase), kept as a
# module-level instance of the factory for direct import by tests.
funnel_state_fn = make_sequence_state_fn(("view", "click", "purchase"))


def running_sum_state_fn(key, pdf_iter, state):
    """TRUE per-row OVER aggregate on a stream (SURVEY.md §7.4): Flink's
    ``SUM(value) OVER (PARTITION BY user ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` emits one enriched row per input row, which Spark
    disallows as a streaming analytic window. This is the engine's second
    documented mitigation (the first — windowed pre-agg into the keyed
    store + OVER at serving time — is the CUMULATE serving test): keyed
    GroupState carrying (n, sum) per user, each incoming row emitted with
    its running count/total.

    Ordering contract: rows are processed in ARRIVAL order (event_id
    within a batch, batch order across batches) — Flink's
    processing-time OVER window. The event-time form at scale is served
    from the store by over_running_sum's plan; equivalence between this
    stream and the batch arrival-order window is tested in
    tests/test_streaming.py::test_stream_per_row_running_sum.

    Exactness: values accumulate as integer 1e-4 units quantized HALF_UP
    per row (the DECIMAL(18,4) per-row cast discipline of exprs.dsum), so
    the running total is accumulation-order-exact and bit-stable across
    retries; LONG holds ~9e14 value-units of headroom per key.

    The quantize is VECTORIZED (r08 — the per-row Decimal loop was the
    bench's hottest Python path at 1M rows): |v|·10⁴ is computed in
    80-bit longdouble where it is EXACT (53-bit double mantissa + 10
    bits for the 625 factor ≤ 64-bit ext mantissa), HALF_UP is
    sign·floor(|x|+0.5), and the one place the exact-binary product can
    disagree with Spark's cast — which quantizes the SHORTEST REPR
    (Double.toString), not the binary expansion — is a row whose product
    sits within a double-ulp of a .5 tie; those rows (frac within
    spacing(|v|)·2e4 of the tie) fall back to the original
    Decimal(repr(v)) quantize. Kernel equivalence vs the Decimal loop is
    pinned in tests (incl. repr-tie values like 0.12345, where the
    binary product 1234.4999… must still round UP)."""
    import decimal

    import numpy as np
    import pandas as pd

    _Q = decimal.Decimal("0.0001")
    n, sum_c4 = (tuple(state.get) if state.exists else (0, 0))
    user_id = key[0]
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        pdf = pdf.sort_values("event_id")
        # SQL SUM semantics: NULL values don't contribute to the sum but
        # the row still counts (matches F.count(F.lit(1)) + F.sum(value)
        # in the batch window). pandas surfaces NULL doubles as NaN.
        v = pdf["value"].astype("float64").to_numpy()
        x = np.abs(v.astype(np.longdouble)) * 10000
        nan = np.isnan(v)
        units_f = np.sign(v) * np.floor(x + 0.5)
        units_f[nan] = 0
        units = units_f.astype(np.int64)
        frac = np.abs(x - np.floor(x) - 0.5).astype(np.float64)
        sus = np.nonzero(~nan & (frac <= np.spacing(np.abs(v)) * 2e4))[0]
        for i in sus:
            units[i] = int(
                decimal.Decimal(repr(float(v[i])))
                .quantize(_Q, rounding=decimal.ROUND_HALF_UP)
                .scaleb(4)
            )
        run = sum_c4 + np.cumsum(units)
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].astype("int64").to_numpy(),
                "user_id": np.full(len(pdf), user_id, dtype="int64"),
                "run_n": np.arange(n + 1, n + len(pdf) + 1, dtype="int64"),
                "run_value": run.astype("float64") / 1e4,
            }
        )
        n += len(pdf)
        sum_c4 = int(run[-1])
    state.update((n, sum_c4))


def scd2_state_fn(key, pdf_iter, state):
    """SCD2 version maintenance per key (the streaming form of
    cdc_scd2_history): each qualifying change CLOSES the previously open
    version (emits it with valid_to = new change's ts) and OPENS a new
    one (valid_to null). Consumers take the last emission per version —
    the upsert store keyed on (user_id, version_id) materializes exactly
    the batch history. State = the open version (ts_us, version_id,
    value)."""
    import pandas as pd

    cur = tuple(state.get) if state.exists else None  # (ts_us, vid, value)
    user_id = key[0]
    rows = []
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        for r in pdf.itertuples(index=False):
            if r.event_type not in ("signup", "purchase"):
                continue
            t_us = int(r.ts)
            if cur is not None:
                rows.append((cur[1], cur[2], cur[0], t_us, False))  # close
            cur = (t_us, int(r.event_id), float(r.value))
    if cur is not None:
        state.update(cur)
        rows.append((cur[1], cur[2], cur[0], None, True))  # open version
    if rows:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([user_id] * len(rows), dtype="int64"),
                "version_id": pd.Series([r[0] for r in rows], dtype="int64"),
                "value": pd.Series([r[1] for r in rows], dtype="float64"),
                "valid_from_us": pd.Series(
                    [r[2] for r in rows], dtype="int64"
                ),
                "valid_to_us": pd.Series(
                    [r[3] for r in rows], dtype="object"
                ),
                "is_current": pd.Series([r[4] for r in rows], dtype="bool"),
            }
        )


_STATE_SCHEMAS.update({
    new_visitor_state_fn: ("seen INT", "event_id LONG, user_id LONG, is_new LONG"),
    # timeout_alert_state_fn registered after its definition below;
    # factory-built fns (make_sequence/absence/retry_state_fn) register
    # their own instances at construction time
    latest_image_state_fn: (
        "user_id ARRAY<LONG>, ts_us ARRAY<LONG>, event_id ARRAY<LONG>, "
        "event_type ARRAY<STRING>, value ARRAY<DOUBLE>",
        "user_id LONG, last_event_id LONG, last_type STRING, "
        "last_value DOUBLE, last_ts_us LONG",
    ),
    running_sum_state_fn: (
        "n LONG, sum_c4 LONG",
        "event_id LONG, user_id LONG, run_n LONG, run_value DOUBLE",
    ),
    scd2_state_fn: (
        "ts_us LONG, version_id LONG, value DOUBLE",
        "user_id LONG, version_id LONG, value DOUBLE, "
        "valid_from_us LONG, valid_to_us LONG, is_current BOOLEAN",
    ),
})
_KEY_GROUPED.add(latest_image_state_fn)


def make_temporal_join_state_fn(version_type: str, fact_type: str):
    """Streaming temporal-table join (Flink ``FOR SYSTEM_TIME AS OF`` on
    a changelog stream) — the streaming twin of join_asof_temporal: both
    the version stream and the fact stream arrive as ONE keyed event
    stream (the CDC union shape), keyed state holds the key's current
    version (ts_us, id, value), and each fact emits enriched with the
    version in force at its event time. O(1) state per key — Flink's
    temporal join keeps the full version history per key because facts
    may arrive arbitrarily out of order; under Spark's micro-batch
    arrival-order contract (shared with make_sequence_state_fn: batches
    sorted here, cross-batch stragglers follow arrival order) only the
    CURRENT version is reachable, so latest-image state suffices — the
    same state the upsert store keeps.

    Tie discipline (must match plans/asof.py): within a batch rows sort
    (ts, version-before-fact, event_id), so an equal-ts version is
    visible to the fact it ties with; among equal-ts versions the
    smallest id wins (strict ``>`` replacement under ascending order).
    Facts with no version yet emit nothing (the batch plan's inner
    filter)."""

    def temporal_join_state_fn(key, pdf_iter, state):
        import pandas as pd

        v_ts, v_id, v_val = (
            tuple(state.get) if state.exists else (-1, -1, float("nan"))
        )
        user_id = key[0]
        out_fact, out_vid, out_vval = [], [], []
        saw_any = False
        for pdf in pdf_iter:
            pdf = pdf.assign(
                __is_fact=(pdf["event_type"] == fact_type).astype("int64")
            ).sort_values(["ts", "__is_fact", "event_id"])
            for r in pdf.itertuples(index=False):
                saw_any = True
                t_us = int(r.ts)
                if r.event_type == version_type:
                    if t_us > v_ts:
                        v_ts, v_id, v_val = t_us, int(r.event_id), float(r.value)
                elif r.event_type == fact_type and v_id >= 0:
                    out_fact.append(int(r.event_id))
                    out_vid.append(v_id)
                    out_vval.append(v_val)
        if saw_any:
            state.update((v_ts, v_id, v_val))
        if out_fact:
            yield pd.DataFrame(
                {
                    "purchase_id": pd.Series(out_fact, dtype="int64"),
                    "user_id": pd.Series(
                        [user_id] * len(out_fact), dtype="int64"
                    ),
                    "click_id": pd.Series(out_vid, dtype="int64"),
                    "click_value": pd.Series(out_vval, dtype="float64"),
                }
            )

    _STATE_SCHEMAS[temporal_join_state_fn] = (
        "v_ts_us LONG, v_id LONG, v_value DOUBLE",
        "purchase_id LONG, user_id LONG, click_id LONG, click_value DOUBLE",
    )
    return temporal_join_state_fn


# The engine's canonical temporal-join twin (purchases enriched with the
# click version in force), matching join_asof_temporal.
temporal_join_state_fn = make_temporal_join_state_fn("click", "purchase")


def make_forward_asof_state_fn(fact_type: str, version_type: str):
    """Streaming twin of join_asof_forward: each fact (click) waits in
    keyed state for the key's NEXT version (purchase) at-or-after its
    event time; the version's arrival resolves and flushes every pending
    fact at once. Facts with no later version stay pending forever —
    exactly the rows the batch inner join drops, so under
    order-preserving replay the emitted set EQUALS the batch relation.
    State is bounded by the facts between two consecutive versions of
    one key (the same buffer Flink's event-time interval join holds).

    Tie discipline (plans/asof.py reverse scan): a fact ties an equal-ts
    version (at-or-after is inclusive), so within a batch rows sort
    (ts, fact-before-version, event_id); among equal-ts versions the
    smallest id arrives first and takes the flush."""

    def forward_asof_state_fn(key, pdf_iter, state):
        import pandas as pd

        pend = list(state.get[0]) if state.exists else []
        user_id = key[0]
        out_fact, out_vid, out_vval = [], [], []
        saw_any = False
        for pdf in pdf_iter:
            pdf = pdf.assign(
                __is_ver=(pdf["event_type"] == version_type).astype("int64")
            ).sort_values(["ts", "__is_ver", "event_id"])
            for r in pdf.itertuples(index=False):
                saw_any = True
                if r.event_type == fact_type:
                    pend.append(int(r.event_id))
                elif r.event_type == version_type and pend:
                    v_id, v_val = int(r.event_id), float(r.value)
                    out_fact.extend(pend)
                    out_vid.extend([v_id] * len(pend))
                    out_vval.extend([v_val] * len(pend))
                    pend = []
        if saw_any:
            state.update((pend,))
        if out_fact:
            yield pd.DataFrame(
                {
                    "click_id": pd.Series(out_fact, dtype="int64"),
                    "user_id": pd.Series(
                        [user_id] * len(out_fact), dtype="int64"
                    ),
                    "purchase_id": pd.Series(out_vid, dtype="int64"),
                    "purchase_value": pd.Series(out_vval, dtype="float64"),
                }
            )

    _STATE_SCHEMAS[forward_asof_state_fn] = (
        "pend ARRAY<LONG>",
        "click_id LONG, user_id LONG, purchase_id LONG, "
        "purchase_value DOUBLE",
    )
    return forward_asof_state_fn


# The canonical forward twin (clicks resolved by the next purchase),
# matching join_asof_forward.
forward_asof_state_fn = make_forward_asof_state_fn("click", "purchase")


def make_nearest_asof_state_fn(fact_type: str, version_type: str):
    """Streaming twin of join_asof_nearest, in the engine's
    provisional-emit + latest-wins-upsert serving pattern (the same
    Lambda shape win_late_refire uses): a fact emits PROVISIONALLY with
    its backward version the moment it arrives (rev 0), then pends; the
    key's next version resolves every pending fact — re-emitting with
    rev+1 only when the forward delta is STRICTLY smaller (equal deltas
    prefer backward, matching plans/asof.py's p.ts ASC tie). The
    max-rev row per fact is the batch nearest relation; a keyed upsert
    store (sink_upsert_latest) materializes exactly that. Facts whose
    nearest is the backward version never re-emit; trailing facts with
    no later version keep their provisional row — both are the batch
    answer, so the upserted relation equals batch under ordered replay.

    Each pending fact carries its own (best_delta, rev) in state, so a
    version arriving in ANY later batch — including an event-time
    STRAGGLER older than the fact — issues a further rev+1 correction
    whenever it is strictly nearer; deltas are absolute, so a straggler
    can no longer mis-consume the pending set the way the r06 flush-once
    form did (ADVICE r6). A fact retires from state once the maximum
    version timestamp seen reaches its own: by then best ≤ that forward
    delta, and every FUTURE in-order version is farther, so its match is
    settled — the state bound stays O(facts since the latest version).
    Residual (documented) gaps, both priced at unbounded state to
    close: (1) a straggler VERSION landing nearer to an already-settled
    fact does not re-open it; (2) a straggler FACT arriving with
    ts <= the latest version's ts settles on arrival against the
    retained latest version only — the retirement argument ("best <=
    every future in-order forward delta") bounds future versions, not
    past ones, so a nearer EARLIER version already dropped from state
    is not consulted (ADVICE r7).

    Tie discipline: equal deltas never correct (strict ``<``), so
    backward wins an equidistant pair and the EARLIER of two equidistant
    forward versions keeps the match — plans/asof.py's p.ts ASC tie. An
    equal-ts version resolves the fact it ties with at forward delta 0
    (fact sorts before version), which picks the same purchase the
    batch plan calls a backward delta-0 match — same row either way."""

    _NO_BEST = 1 << 62  # pending fact with no candidate match yet

    def nearest_asof_state_fn(key, pdf_iter, state):
        import pandas as pd

        b_ts, b_id, b_val, p_ids, p_ts, p_best, p_rev = (
            tuple(state.get)
            if state.exists
            else (-1, -1, float("nan"), [], [], [], [])
        )
        pend = [list(t) for t in zip(p_ids, p_ts, p_best, p_rev)]
        user_id = key[0]
        out = []  # (click_id, purchase_id, purchase_value, rev)
        saw_any = False
        for pdf in pdf_iter:
            pdf = pdf.assign(
                __is_ver=(pdf["event_type"] == version_type).astype("int64")
            ).sort_values(["ts", "__is_ver", "event_id"])
            for r in pdf.itertuples(index=False):
                saw_any = True
                t_us = int(r.ts)
                if r.event_type == fact_type:
                    if b_id >= 0:
                        out.append((int(r.event_id), b_id, b_val, 0))
                        best, rev = abs(t_us - b_ts), 0
                    else:
                        best, rev = _NO_BEST, -1
                    if t_us > b_ts:
                        pend.append([int(r.event_id), t_us, best, rev])
                    # else settled on arrival: the latest version is
                    # at-or-after this fact, so best ≤ every future
                    # in-order forward delta already
                elif r.event_type == version_type:
                    v_id, v_val = int(r.event_id), float(r.value)
                    for f in pend:
                        d = abs(t_us - f[1])
                        if d < f[2]:
                            f[2], f[3] = d, f[3] + 1
                            out.append((f[0], v_id, v_val, f[3]))
                    if t_us > b_ts:
                        b_ts, b_id, b_val = t_us, v_id, v_val
                    pend = [f for f in pend if f[1] > b_ts]
        if saw_any:
            state.update(
                (
                    b_ts,
                    b_id,
                    b_val,
                    [f[0] for f in pend],
                    [f[1] for f in pend],
                    [f[2] for f in pend],
                    [f[3] for f in pend],
                )
            )
        if out:
            yield pd.DataFrame(
                {
                    "click_id": pd.Series([o[0] for o in out], dtype="int64"),
                    "user_id": pd.Series([user_id] * len(out), dtype="int64"),
                    "purchase_id": pd.Series(
                        [o[1] for o in out], dtype="int64"
                    ),
                    "purchase_value": pd.Series(
                        [o[2] for o in out], dtype="float64"
                    ),
                    "rev": pd.Series([o[3] for o in out], dtype="int64"),
                }
            )

    _STATE_SCHEMAS[nearest_asof_state_fn] = (
        "b_ts LONG, b_id LONG, b_val DOUBLE, "
        "p_ids ARRAY<LONG>, p_ts ARRAY<LONG>, "
        "p_best ARRAY<LONG>, p_rev ARRAY<LONG>",
        "click_id LONG, user_id LONG, purchase_id LONG, "
        "purchase_value DOUBLE, rev LONG",
    )
    return nearest_asof_state_fn


# The canonical nearest twin (clicks attached to the time-closest
# purchase either side), matching join_asof_nearest.
nearest_asof_state_fn = make_nearest_asof_state_fn("click", "purchase")


def apply_with_state(
    sdf: DataFrame,
    key: str,
    state_fn,
    output_mode: str = "append",
    timeout: str = "none",
) -> DataFrame:
    """groupBy(key).applyInPandasWithState with the function's registered
    state/output schemas — the engine's portable KeyedProcessFunction
    surface. ``timeout``: "none" | "event" (event-time timers driven by
    the watermark — the stream must carry withWatermark) | "processing".

    A key-grouped fn (registered in _KEY_GROUPED) is grouped by the
    LONG column pmod(xxhash64(key), KEY_GROUPS) instead of the key: each
    pyspark call (about 1.4–2.0 ms of fixed per-group work) then covers
    every key of one group. Such a fn takes no timeout, since a timeout
    fires per grouping key, i.e. per group.

    Event-time contract: every TIMESTAMP column reaches the state fn as
    an int64 epoch-µs LONG under the same name, whatever the session
    time zone (a TIMESTAMP_NTZ column as its wall clock read as UTC, the
    engine's NTZ convention). State fns never convert timestamps. Given a
    TIMESTAMP, pyspark turns each group's slice into a tz-aware series
    and localizes it, and hands a non-UTC session local wall-clock
    values; the stream_ods_ads burst spent 3.36 ms/key of state-operator
    task time with that and 2.57 without (4 cores, medians of 20 runs).
    The LONG keeps the field's metadata, so a withWatermark above still
    drives event-time timeouts and Spark's late-row filter compares µs
    with µs."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    grouped = state_fn in _KEY_GROUPED
    if grouped and timeout != "none":
        raise ValueError(
            f"{state_fn.__name__} takes one key group per call; "
            f"timeout={timeout!r} would fire per group, not per key"
        )
    conf = {
        "none": GroupStateTimeout.NoTimeout,
        "event": GroupStateTimeout.EventTimeTimeout,
        "processing": GroupStateTimeout.ProcessingTimeTimeout,
    }[timeout]
    state_schema, output_schema = _STATE_SCHEMAS[state_fn]
    cols = []
    for f in sdf.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, TimestampType):
            c = epoch_us(c).alias(f.name, metadata=f.metadata)
        elif isinstance(f.dataType, TimestampNTZType):
            # epoch_us would read the wall clock in the session zone
            c = F.timestamp_diff(
                "MICROSECOND", F.lit("1970-01-01").cast("timestamp_ntz"), c
            ).alias(f.name, metadata=f.metadata)
        cols.append(c)
    if grouped:
        group = F.pmod(F.xxhash64(key), F.lit(KEY_GROUPS))
        cols.append(group.alias("__key_group"))
        key = "__key_group"
    return sdf.select(*cols).groupBy(key).applyInPandasWithState(
        crossing(state_fn),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=conf,
    )


@query(
    "cdc_apply_changelog",
    """
    WITH changelog AS (
      SELECT
        event_id AS seq,
        user_id AS pk,
        ts,
        value,
        CASE
          WHEN event_type = 'signup' THEN 'I'
          WHEN event_type = 'error' THEN 'D'
          ELSE 'U'
        END AS op
      FROM events
    ),
    latest AS (
      SELECT * FROM (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY pk ORDER BY ts DESC, seq DESC) AS rn
        FROM changelog
      ) WHERE rn = 1
    )
    SELECT pk, op AS last_op, seq AS last_seq,
           CAST(value AS DOUBLE) AS last_value
    FROM latest
    WHERE op != 'D'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply (Flink CDC +I/+U/-D semantics): the events table read
    as a keyed changelog with op codes derived per event type; the
    materialized table is the latest image per key, with keys whose final
    operation is a delete removed entirely. One window pass — delete
    handling costs nothing extra over compaction. Streaming form:
    changelog_state_fn below emits refreshed images with is_tombstone on
    deletes, and the upsert store's tombstone_col drops the key —
    equivalence-tested end-to-end in tests/test_streaming.py."""
    wh = Warehouse(spark, sf_dir)
    changelog = wh.events.select(
        F.col("event_id").alias("seq"),
        F.col("user_id").alias("pk"),
        "ts",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    latest = latest_image(
        changelog, keys=["pk"], order_cols=[F.col("ts").desc(), F.col("seq").desc()]
    )
    return latest.filter(F.col("op") != "D").select(
        "pk",
        F.col("op").alias("last_op"),
        F.col("seq").alias("last_seq"),
        F.col("value").cast("double").alias("last_value"),
    )


@query(
    "state_timeout_alert",
    """
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.user_id = c.user_id
          AND p.event_type = 'purchase'
          AND p.ts > c.ts
          AND p.ts <= c.ts + INTERVAL 30 MINUTE
      )
    """,
)
def state_timeout_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timer-based timeout alert (the Flink KeyedProcessFunction
    registerEventTimeTimer pattern): a click with no purchase from the same
    user within 30 minutes raises an alert. Batch analog = anti interval
    join (NOT EXISTS with equi key + time-range residual → left-anti hash
    join, one shuffle). Streaming form = timeout_alert_state_fn below:
    pending clicks in keyed state, an event-time timeout per key at the
    earliest pending deadline, alerts emitted when the watermark passes it
    — equivalence-tested in tests/test_streaming.py."""
    wh = Warehouse(spark, sf_dir)
    clicks = wh.events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = wh.events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTE"))
    )
    return clicks.join(purchases, cond, "left_anti").select(
        "user_id", "click_id", "click_ts"
    )


_TIMEOUT_US = 30 * 60 * 1_000_000


def timeout_alert_state_fn(key, pdf_iter, state):
    """Keyed pending-click timers (Flink event-time timer analog): clicks
    enter state with deadline = ts + 30 min; purchases clear the pending
    clicks they satisfy; when the watermark passes the earliest deadline
    the group times out and expired clicks emit as alerts. State is two
    parallel arrays (click ts_us, event_id) — bounded by a user's
    unsatisfied clicks inside the horizon, the same bound Flink's timer
    state has."""
    import pandas as pd

    pend_ts, pend_id = (
        (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
    )
    user_id = key[0]

    if not state.hasTimedOut:
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples(index=False):
                t_us = int(r.ts)
                if r.event_type == "click":
                    pend_ts.append(t_us)
                    pend_id.append(int(r.event_id))
                elif r.event_type == "purchase":
                    keep = [
                        (ct, ci)
                        for ct, ci in zip(pend_ts, pend_id)
                        if not (ct < t_us <= ct + _TIMEOUT_US)
                    ]
                    pend_ts, pend_id = [list(x) for x in zip(*keep)] if keep else ([], [])
    # Emit every pending click whose deadline the watermark has passed —
    # on timeout wake-ups AND inline (a purchase-free batch may advance the
    # watermark past older deadlines before any timer fires).
    wm_us = state.getCurrentWatermarkMs() * 1000
    expired = [
        (ct, ci) for ct, ci in zip(pend_ts, pend_id) if ct + _TIMEOUT_US < wm_us
    ]
    live = [(ct, ci) for ct, ci in zip(pend_ts, pend_id) if ct + _TIMEOUT_US >= wm_us]
    if expired:
        yield pd.DataFrame(
            {
                "user_id": pd.Series([user_id] * len(expired), dtype="int64"),
                "click_id": pd.Series([ci for _, ci in expired], dtype="int64"),
                "click_ts_us": pd.Series([ct for ct, _ in expired], dtype="int64"),
            }
        )
    if live:
        ts_l, id_l = [list(x) for x in zip(*live)]
        state.update((ts_l, id_l))
        # next wake-up: earliest outstanding deadline (ms, event-time)
        state.setTimeoutTimestamp(min(ts_l) // 1000 + _TIMEOUT_US // 1000)
    else:
        state.remove()


_STATE_SCHEMAS[timeout_alert_state_fn] = (
    "pend_ts ARRAY<LONG>, pend_id ARRAY<LONG>",
    "user_id LONG, click_id LONG, click_ts_us LONG",
)


def changelog_state_fn(key, pdf_iter, state):
    """CDC apply with delete semantics (Flink +I/+U/-D): per-key running
    latest (ts_us, seq, value, op); after each micro-batch emit the
    refreshed image, with is_tombstone=True when the surviving operation is
    a delete — the downstream keyed sink drops the key (retract-stream
    absorption, SURVEY.md §7.4). State: one row per key, same bound as
    latest_image_state_fn."""
    import pandas as pd

    best = tuple(state.get) if state.exists else None
    pk = key[0]
    saw_any = False
    for pdf in pdf_iter:
        for r in pdf.itertuples(index=False):
            saw_any = True
            cand = (
                int(r.ts),
                int(r.seq),
                float(r.value),
                str(r.op),
            )
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
    if saw_any and best is not None:
        state.update(best)
        yield pd.DataFrame(
            {
                "pk": pd.Series([pk], dtype="int64"),
                "last_op": [best[3]],
                "last_seq": pd.Series([best[1]], dtype="int64"),
                "last_value": pd.Series([best[2]], dtype="float64"),
                "is_tombstone": pd.Series([best[3] == "D"], dtype="bool"),
            }
        )


_STATE_SCHEMAS[changelog_state_fn] = (
    "ts_us LONG, seq LONG, value DOUBLE, op STRING",
    "pk LONG, last_op STRING, last_seq LONG, last_value DOUBLE, "
    "is_tombstone BOOLEAN",
)


@query(
    "cdc_scd2_history",
    """
    SELECT
      user_id,
      event_id AS version_id,
      value,
      ts AS valid_from,
      LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        AS valid_to,
      LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        AS is_current
    FROM events
    WHERE event_type IN ('signup', 'purchase')
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from a changelog: each update becomes a
    version row with [valid_from, valid_to) bounds (LEAD over the per-key
    change order; open interval = current row). The DIM-layer product the
    as-of join (join_asof_temporal) consumes — together they close the
    loop: CDC ingest → versioned dimension → temporally correct fact
    enrichment. Open intervals keep NULL valid_to (a 9999-12-31 sentinel
    overflows Arrow's ns timestamps in pandas interchange — real lesson;
    filter on is_current or COALESCE at the consumer). One shuffle on the
    key; ts+event_id tiebreak keeps simultaneous changes deterministic. In streaming this is the
    latest-image state fn emitting close+open row pairs per change
    (update mode into the upsert store)."""
    wh = Warehouse(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        wh.events.filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            F.col("event_id").alias("version_id"),
            "value",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )


@query(
    "cep_error_burst",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
        SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING
        ) AS island
      FROM events
    ),
    runs AS (
      SELECT user_id, island,
        COUNT(*) AS run_len,
        MAX(ts) AS last_error_ts
      FROM seq WHERE event_type = 'error'
      GROUP BY user_id, island
      HAVING COUNT(*) >= 3
    ),
    alerted AS (
      SELECT r.user_id, r.island,
        MAX(CASE WHEN e.event_id IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM runs r
      LEFT JOIN events e
        ON e.user_id = r.user_id AND e.event_type = 'purchase'
        AND e.ts > r.last_error_ts
        AND e.ts <= r.last_error_ts + INTERVAL 30 MINUTE
      GROUP BY r.user_id, r.island
    )
    SELECT
      user_id,
      COUNT(*) AS n_bursts,
      CAST(SUM(hit) AS BIGINT) AS n_recovered
    FROM alerted
    GROUP BY user_id
    """,
)
def cep_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified CEP pattern (Flink CEP ``error{3,} purchase?``): maximal
    runs of >= 3 consecutive errors per user (consecutive in event order —
    the gaps-and-islands rewrite of the NFA quantifier), and how many
    bursts saw a purchase within 30 minutes after the last error (the
    'recovered after failure storm' signal). Batch analog of the CEP
    state machine, declared through the pattern compiler
    (streaming/cep.py strict_runs lowering — r06 re-expression,
    hash-identical to the hand-lowered r03 plan): one window pass for
    islands, one keyed agg for runs, one time-bounded join for the
    follow-up — each stage keyed on user_id, so a cluster co-partitions
    the chain."""
    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    wh = Warehouse(spark, sf_dir)
    ev = wh.events.select("user_id", "event_id", "ts", "event_type")
    pat = (
        Pattern.begin("error")
        .times_or_more(3)
        .followed_by("purchase", optional=True)
        .within("30 MINUTES")
    )
    alerted = compile_pattern(ev, pat)
    return alerted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_bursts"),
        F.sum("hit").cast("long").alias("n_recovered"),
    )


@query(
    "cep_retry_then_success",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
        SUM(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING
        ) AS island
      FROM events
    ),
    runs AS (
      SELECT user_id, island,
        COUNT(*) AS run_len,
        MAX(ts) AS last_click_ts
      FROM seq WHERE event_type = 'click'
      GROUP BY user_id, island
      HAVING COUNT(*) >= 2
    ),
    alerted AS (
      SELECT r.user_id, r.island, r.run_len,
        MAX(CASE WHEN e.event_id IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM runs r
      LEFT JOIN events e
        ON e.user_id = r.user_id AND e.event_type = 'purchase'
        AND e.ts > r.last_click_ts
        AND e.ts <= r.last_click_ts + INTERVAL 30 MINUTE
      GROUP BY r.user_id, r.island, r.run_len
    )
    SELECT
      user_id,
      COUNT(*) AS n_retry_bursts,
      CAST(SUM(hit) AS BIGINT) AS n_success,
      CAST(MAX(run_len) AS BIGINT) AS max_retries
    FROM alerted
    GROUP BY user_id
    """,
)
def cep_retry_then_success(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified CEP pattern through the r06 pattern COMPILER
    (streaming/cep.py), proving a new pattern no longer costs a new
    hand-written plan (VERDICT r5 #5): ``click{2,} purchase?`` — maximal
    runs of >= 2 consecutive clicks per user (retry storms) and whether a
    purchase landed within 30 minutes of the last retry (the 'user kept
    hammering and finally got through' signal). Same strict_runs lowering
    as cep_error_burst with different literals — islands window pass,
    keyed run agg, time-bounded follow-up join, all co-partitioned on
    user_id. Streaming form = retry_state_fn below, equivalence-tested."""
    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    wh = Warehouse(spark, sf_dir)
    ev = wh.events.select("user_id", "event_id", "ts", "event_type")
    pat = (
        Pattern.begin("click")
        .times_or_more(2)
        .followed_by("purchase", optional=True)
        .within("30 MINUTES")
    )
    alerted = compile_pattern(ev, pat)
    return alerted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_retry_bursts"),
        F.sum("hit").cast("long").alias("n_success"),
        F.max("run_len").cast("long").alias("max_retries"),
    )


@query(
    "cep_bounded_burst",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
        SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING
        ) AS island
      FROM events
    ),
    runs AS (
      SELECT user_id, island,
        COUNT(*) AS run_len,
        MAX(ts) AS last_error_ts
      FROM seq WHERE event_type = 'error'
      GROUP BY user_id, island
      HAVING COUNT(*) BETWEEN 2 AND 3
    ),
    alerted AS (
      SELECT r.user_id, r.island, r.run_len,
        MAX(CASE WHEN e.event_id IS NOT NULL THEN 1 ELSE 0 END) AS hit
      FROM runs r
      LEFT JOIN events e
        ON e.user_id = r.user_id AND e.event_type = 'purchase'
        AND e.ts > r.last_error_ts
        AND e.ts <= r.last_error_ts + INTERVAL 30 MINUTE
      GROUP BY r.user_id, r.island, r.run_len
    )
    SELECT
      user_id,
      COUNT(*) AS n_bursts,
      CAST(SUM(hit) AS BIGINT) AS n_recovered,
      CAST(MAX(run_len) AS BIGINT) AS max_len
    FROM alerted
    GROUP BY user_id
    """,
)
def cep_bounded_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-band quantifier through the pattern compiler: Flink CEP
    ``error{2,3} purchase?`` — MAXIMAL runs of consecutive errors whose
    length lands in [2, 3] (a storm of 4+ is a different signal and is
    excluded by the upper bound — the band is what separates 'flaky but
    recovering' from cep_error_burst's open-ended {3,} storms), plus
    whether a purchase landed within 30 minutes of the last error.
    Lowering is the same strict_runs shape with one extra run_len
    predicate on the keyed agg — no new shuffle. Maximal-run semantics
    (skip-past-last-event): a 5-run is NOT re-reported as its 2- and
    3-sub-runs; Flink's skip-to-next strategy would emit those, a
    documented divergence (cep.py Pattern.times). Streaming form =
    make_retry_state_fn with the same band, equivalence-tested."""
    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    wh = Warehouse(spark, sf_dir)
    ev = wh.events.select("user_id", "event_id", "ts", "event_type")
    pat = (
        Pattern.begin("error")
        .times(2, 3)
        .followed_by("purchase", optional=True)
        .within("30 MINUTES")
    )
    alerted = compile_pattern(ev, pat)
    return alerted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_bursts"),
        F.sum("hit").cast("long").alias("n_recovered"),
        F.max("run_len").cast("long").alias("max_len"),
    )


_SNAPSHOT_AT = "2024-01-15 00:00:00"


@query(
    "cdc_snapshot_at",
    f"""
    WITH hist AS (
      SELECT
        user_id,
        event_id AS version_id,
        value,
        ts AS valid_from,
        LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS valid_to
      FROM events
      WHERE event_type IN ('signup', 'purchase')
    )
    SELECT user_id, version_id, value, valid_from
    FROM hist
    WHERE valid_from <= TIMESTAMP '{_SNAPSHOT_AT}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SNAPSHOT_AT}')
    """,
)
def cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the changelog: the dimension's state AS OF a fixed
    instant, read from the SCD2 version history (valid_from <= T <
    valid_to) — the reproducibility contract that lets yesterday's report
    re-run against yesterday's dimension. One partition-pruned filter
    over the versioned store at scale; here it composes directly on
    cdc_scd2_history's interval rows."""
    hist = cdc_scd2_history(spark, sf_dir)
    t = F.lit(_SNAPSHOT_AT).cast("timestamp")
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "version_id", "value", "valid_from")


@query(
    "cep_absence",
    """
    WITH ev AS (
      SELECT user_id, event_id, ts, event_type
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    ctx AS (
      SELECT user_id, event_id, ts, event_type,
        MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) AS prev_view_ts,
        MIN(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
        ) AS next_purchase_ts
      FROM ev
    )
    SELECT user_id, event_id AS click_id, ts AS click_ts,
      prev_view_ts AS view_ts
    FROM ctx
    WHERE event_type = 'click'
      AND prev_view_ts IS NOT NULL
      AND prev_view_ts >= ts - INTERVAL 30 MINUTE
      AND (next_purchase_ts IS NULL
           OR next_purchase_ts > ts + INTERVAL 30 MINUTE)
    """,
)
def cep_absence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified-negation CEP (Flink CEP
    ``begin("view").followedBy("click").notFollowedBy("purchase")
    .within(30m)``):
    a click whose pattern prefix matched (a view from the same user within
    the 30 minutes before it, earlier in (ts, event_id) event order) that
    is NOT followed by any purchase within 30 minutes after it. Distinct
    from state_timeout_alert's single-event timeout: the negation guards a
    *pattern edge* — only prefix-matched clicks arm the absence timer.

    Batch analog of the NFA, declared through the pattern compiler
    (streaming/cep.py per_anchor lowering — r06 re-expression,
    hash-identical to the hand-lowered r05 plan): ONE window pass per
    user — a backward MAX frame finds the most recent prior view, a
    forward MIN frame finds the earliest following purchase; both share
    the (user_id, ts, event_id) sort so they lower to a single WindowExec
    after one shuffle on user_id. "Strictly before/after" is defined by
    the (ts, event_id) total order on BOTH sides (oracle uses the
    identical frames), so ties are deterministic. Streaming form =
    absence_state_fn below (equivalence-tested in
    tests/test_streaming.py). At 100 TB the plan is a single hash
    exchange on user_id + sort — no self-join, no range-join blowup on
    hot users."""
    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    wh = Warehouse(spark, sf_dir)
    ev = wh.events.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_id", "ts", "event_type")
    pat = (
        Pattern.begin("view")
        .followed_by("click")
        .not_followed_by("purchase")
        .within("30 MINUTES")
    )
    return compile_pattern(ev, pat).select(
        "user_id",
        F.col("anchor_id").alias("click_id"),
        F.col("anchor_ts").alias("click_ts"),
        F.col("prev_ts").alias("view_ts"),
    )


@query(
    "cep_strict_next",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, event_type,
             LAG(event_type) OVER w AS prev_type,
             LAG(ts) OVER w AS prev_ts,
             LAG(event_id) OVER w AS prev_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           prev_id AS view_id, prev_ts AS view_ts,
           event_id AS purchase_id, ts AS purchase_ts
    FROM o
    WHERE event_type = 'purchase' AND prev_type = 'view'
      AND ts <= prev_ts + INTERVAL 1 DAY
    """,
)
def cep_strict_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT-contiguity CEP (Flink CEP ``begin("view").next("purchase")
    .within(1d)``): a purchase whose IMMEDIATELY preceding event in the
    user's (ts, event_id) order is a view — zero intervening events of
    any type — within a day of it (the 'saw it and bought it in one
    motion' signal; followed_by would also match view→click→…→purchase
    sessions). The compiler's strict_pair lowering (streaming/cep.py —
    the fourth shape, r06c): ONE LAG window pass per user, every
    adjacency a match. Distinct from cep_funnel_batch (relaxed chain,
    first match only) and cep_absence (negation): this is the contiguity
    semantics Flink's next() has and Spark has no native operator for.
    Streaming form = adjacency_state_fn below (last-event keyed state),
    equivalence-tested in tests/test_streaming.py. At 100 TB: one hash
    exchange on user_id + one sort — the cheapest CEP shape; no join,
    no state beyond the window sort."""
    from flink_realtime_spark.streaming.cep import Pattern, compile_pattern

    wh = Warehouse(spark, sf_dir)
    ev = wh.events.select("user_id", "event_id", "ts", "event_type")
    pat = Pattern.begin("view").next("purchase").within("1 DAY")
    return compile_pattern(ev, pat).select(
        "user_id",
        F.col("prev_id").alias("view_id"),
        F.col("prev_ts").alias("view_ts"),
        F.col("anchor_id").alias("purchase_id"),
        F.col("anchor_ts").alias("purchase_ts"),
    )


def make_absence_state_fn(
    prefix_type: str, anchor_type: str, neg_type: str, timeout_us: int
):
    """Factory for the per_anchor streaming lowering (cep.py
    compile_pattern_stream) — the notFollowedBy + within shape: keyed
    state holds the key's most recent prefix-step ts plus the pending
    prefix-matched anchors (anchor ts_us, anchor id, prefix ts_us). An
    anchor arms a pending entry only when the stored prefix event is
    within the horizon before it; a negation event disarms every pending
    anchor whose absence window it lands in; when the watermark passes a
    pending deadline the group times out and the anchor emits as a
    confirmed absence. State is bounded by a key's unmatched anchors
    inside the horizon — the same bound Flink's NFA pending-match buffer
    has — and, like Flink CEP pruning partial matches after within(),
    the prefix anchor itself is dropped once it falls a full horizon
    behind the watermark: any anchor it could still arm would be late
    beyond the watermark and dropped before reaching this function, so
    retaining it would grow state with the total key population forever
    (a long per key is small, but 'forever' is what kills month-long
    streaming jobs). Prefix-only state sets its own expiry timer so
    pruning does not depend on the key ever sending another event."""
    _TIMEOUT_US = timeout_us

    def absence_state_fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            last_view, pend_ts, pend_id, pend_view = (
                state.get[0],
                list(state.get[1]),
                list(state.get[2]),
                list(state.get[3]),
            )
        else:
            last_view, pend_ts, pend_id, pend_view = None, [], [], []
        user_id = key[0]

        if not state.hasTimedOut:
            for pdf in pdf_iter:
                pdf = pdf.sort_values(["ts", "event_id"])
                for r in pdf.itertuples(index=False):
                    t_us = int(r.ts)
                    if r.event_type == prefix_type:
                        # Max, not last-write: a late-but-within-watermark view in a
                        # later micro-batch may carry an OLDER ts; the batch analog's
                        # backward MAX frame keeps the maximum preceding view ts.
                        last_view = t_us if last_view is None else max(last_view, t_us)
                    elif r.event_type == anchor_type:
                        if last_view is not None and last_view >= t_us - _TIMEOUT_US:
                            pend_ts.append(t_us)
                            pend_id.append(int(r.event_id))
                            pend_view.append(last_view)
                    elif r.event_type == neg_type:
                        p_eid = int(r.event_id)
                        keep = [
                            (ct, ci, cv)
                            for ct, ci, cv in zip(pend_ts, pend_id, pend_view)
                            # Two-sided disarm, lexicographic on (ts, event_id)
                            # to mirror the batch analog's forward frame exactly
                            # (ADVICE r5): a purchase at/before the click in
                            # event order — including a late out-of-order arrival
                            # admitted by the watermark — must NOT disarm; a
                            # same-ts purchase with a LATER event_id must (batch
                            # counts it as strictly following).
                            if not ((t_us, p_eid) > (ct, ci) and t_us <= ct + _TIMEOUT_US)
                        ]
                        pend_ts, pend_id, pend_view = (
                            [list(x) for x in zip(*keep)] if keep else ([], [], [])
                        )
        wm_us = state.getCurrentWatermarkMs() * 1000
        expired = [
            (ct, ci, cv)
            for ct, ci, cv in zip(pend_ts, pend_id, pend_view)
            if ct + _TIMEOUT_US < wm_us
        ]
        live = [
            (ct, ci, cv)
            for ct, ci, cv in zip(pend_ts, pend_id, pend_view)
            if ct + _TIMEOUT_US >= wm_us
        ]
        if expired:
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([user_id] * len(expired), dtype="int64"),
                    "click_id": pd.Series([ci for _, ci, _ in expired], dtype="int64"),
                    "click_ts_us": pd.Series([ct for ct, _, _ in expired], dtype="int64"),
                    "view_ts_us": pd.Series([cv for _, _, cv in expired], dtype="int64"),
                }
            )
        if last_view is not None and last_view + _TIMEOUT_US < wm_us:
            last_view = None  # stale anchor: clicks it could arm are behind the watermark
        if live or last_view is not None:
            ts_l = [ct for ct, _, _ in live]
            id_l = [ci for _, ci, _ in live]
            vw_l = [cv for _, _, cv in live]
            state.update((last_view, ts_l, id_l, vw_l))
            if ts_l:
                state.setTimeoutTimestamp(min(ts_l) // 1000 + _TIMEOUT_US // 1000)
            else:
                # view-only state: wake at the anchor's own deadline to
                # self-clean (>= watermark here, so the timer is valid —
                # pyspark rejects only timestamps strictly below it).
                state.setTimeoutTimestamp(
                    last_view // 1000 + _TIMEOUT_US // 1000
                )
        else:
            state.remove()



    _STATE_SCHEMAS[absence_state_fn] = (
        "last_view_us LONG, pend_ts ARRAY<LONG>, pend_id ARRAY<LONG>, "
        "pend_view ARRAY<LONG>",
        "user_id LONG, click_id LONG, click_ts_us LONG, view_ts_us LONG",
    )
    return absence_state_fn


# The engine's canonical absence twin (view -> click, notFollowedBy
# purchase, within 30 min), kept as a module-level factory instance for
# direct import by tests and docs.
absence_state_fn = make_absence_state_fn("view", "click", "purchase", _TIMEOUT_US)


def make_adjacency_state_fn(
    a_type: str, b_type: str, within_us: int | None = None
):
    """Factory for the strict_pair streaming lowering (cep.py
    compile_pattern_stream) — Flink ``begin(a).next(b)``: keyed state is
    just the key's LAST event (ts_us, id, type); each incoming event is
    checked against its predecessor and emits a match when the
    predecessor is an ``a``, the event is a ``b``, and (with within) the
    gap fits the horizon. O(1) state per key — the smallest CEP state
    there is; no timers needed because adjacency is decidable the moment
    the successor arrives. Ordering contract (shared with
    make_sequence_state_fn): batches are processed in (ts, event_id)
    order; cross-batch stragglers follow arrival order — the documented
    Spark-vs-Flink ordering gap (a straggler that lands between two
    previously-adjacent events is adjudicated by arrival, where Flink's
    watermark-sorted NFA would re-order)."""

    a_types = a_type if isinstance(a_type, tuple) else (a_type,)
    b_types = b_type if isinstance(b_type, tuple) else (b_type,)

    def adjacency_state_fn(key, pdf_iter, state):
        import pandas as pd

        last_us, last_id, last_type = (
            tuple(state.get) if state.exists else (-1, -1, "")
        )
        user_id = key[0]
        m_prev_id, m_prev_us, m_id, m_us = [], [], [], []
        saw_any = False
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for r in pdf.itertuples(index=False):
                saw_any = True
                t_us = int(r.ts)
                if (
                    last_type in a_types
                    and r.event_type in b_types
                    and (within_us is None or t_us <= last_us + within_us)
                ):
                    m_prev_id.append(last_id)
                    m_prev_us.append(last_us)
                    m_id.append(int(r.event_id))
                    m_us.append(t_us)
                last_us, last_id, last_type = (
                    t_us,
                    int(r.event_id),
                    r.event_type,
                )
        if saw_any:
            state.update((last_us, last_id, last_type))
        if m_id:
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([user_id] * len(m_id), dtype="int64"),
                    "prev_id": pd.Series(m_prev_id, dtype="int64"),
                    "prev_ts_us": pd.Series(m_prev_us, dtype="int64"),
                    "anchor_id": pd.Series(m_id, dtype="int64"),
                    "anchor_ts_us": pd.Series(m_us, dtype="int64"),
                }
            )

    _STATE_SCHEMAS[adjacency_state_fn] = (
        "last_us LONG, last_id LONG, last_type STRING",
        "user_id LONG, prev_id LONG, prev_ts_us LONG, "
        "anchor_id LONG, anchor_ts_us LONG",
    )
    return adjacency_state_fn


# The engine's canonical adjacency twin (view immediately followed by
# purchase, within a day), matching cep_strict_next above.
adjacency_state_fn = make_adjacency_state_fn(
    "view", "purchase", within_us=86_400_000_000
)


def make_retry_state_fn(
    run_type: str,
    follow_type: str,
    min_count: int,
    timeout_us: int,
    max_count: int | None = None,
):
    """Factory for the strict_runs streaming lowering (cep.py
    compile_pattern_stream) — the quantified-run-then-follow-up shape
    (e.g. cep_retry_then_success's ``click{2,} purchase?``): keyed state
    tracks the key's OPEN run of consecutive run_type events plus the
    closed runs still awaiting their success window. Any other event
    closes the open run (length in [min_count, max_count] — max_count
    None means unbounded — → it becomes a pending burst, else
    discarded); a follow_type event then marks every pending burst whose
    window it lands in as success (hit=1, emitted immediately — the
    window bound is strict ``last < t``, matching the batch join's
    ``e.ts > last_ts``); when the watermark passes a pending deadline the
    burst emits hit=0 (any in-window follow-up would now be behind the
    watermark, so the verdict is final). State is bounded by pending
    bursts inside the horizon plus one open-run pair; the open run itself
    only emits once an event closes it — a trailing open run stays
    pending by construction (the equivalence test's must-fire set
    accounts for it). Contiguity is event-order within the replay: like
    the sibling twins, a late cross-batch event cannot retroactively
    split an already-closed run (documented stream/batch divergence under
    extreme disorder)."""
    _TIMEOUT_US = timeout_us

    def retry_state_fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            run_len, last_click, pend_last, pend_len = (
                int(state.get[0]),
                int(state.get[1]),
                list(state.get[2]),
                list(state.get[3]),
            )
        else:
            run_len, last_click, pend_last, pend_len = 0, 0, [], []
        user_id = key[0]
        emit_last: list[int] = []
        emit_len: list[int] = []
        emit_hit: list[int] = []

        if not state.hasTimedOut:
            for pdf in pdf_iter:
                pdf = pdf.sort_values(["ts", "event_id"])
                for r in pdf.itertuples(index=False):
                    t_us = int(r.ts)
                    if r.event_type == run_type:
                        run_len += 1
                        last_click = t_us
                    else:
                        if run_len >= min_count and (
                            max_count is None or run_len <= max_count
                        ):
                            pend_last.append(last_click)
                            pend_len.append(run_len)
                        run_len, last_click = 0, 0
                        if r.event_type == follow_type:
                            keep_last, keep_len = [], []
                            for pl, pn in zip(pend_last, pend_len):
                                if pl < t_us <= pl + _TIMEOUT_US:
                                    emit_last.append(pl)
                                    emit_len.append(pn)
                                    emit_hit.append(1)
                                else:
                                    keep_last, keep_len = (
                                        keep_last + [pl],
                                        keep_len + [pn],
                                    )
                            pend_last, pend_len = keep_last, keep_len
        wm_us = state.getCurrentWatermarkMs() * 1000
        live_last, live_len = [], []
        for pl, pn in zip(pend_last, pend_len):
            if pl + _TIMEOUT_US < wm_us:
                emit_last.append(pl)
                emit_len.append(pn)
                emit_hit.append(0)
            else:
                live_last.append(pl)
                live_len.append(pn)
        if emit_last:
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([user_id] * len(emit_last), dtype="int64"),
                    "last_click_us": pd.Series(emit_last, dtype="int64"),
                    "run_len": pd.Series(emit_len, dtype="int64"),
                    "hit": pd.Series(emit_hit, dtype="int64"),
                }
            )
        if live_last or run_len > 0:
            state.update((run_len, last_click, live_last, live_len))
            if live_last:
                state.setTimeoutTimestamp(min(live_last) // 1000 + _TIMEOUT_US // 1000)
        else:
            state.remove()



    _STATE_SCHEMAS[retry_state_fn] = (
        "run_len LONG, last_click_us LONG, pend_last ARRAY<LONG>, "
        "pend_len ARRAY<LONG>",
        "user_id LONG, last_click_us LONG, run_len LONG, hit LONG",
    )
    return retry_state_fn


# The engine's canonical retry twin (click{2,} purchase? within 30 min),
# kept as a module-level factory instance for direct import by tests.
retry_state_fn = make_retry_state_fn("click", "purchase", 2, _TIMEOUT_US)
