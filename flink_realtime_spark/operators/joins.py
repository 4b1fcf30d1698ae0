"""Join operators — SURVEY.md §2.3.

Reference capability: Flink SQL regular/interval/temporal/lookup joins and
DataStream connect/cogroup (provenance FLINK/ARCH; snapshot is README-only,
/root/reference/README.md:1-2). Spark-first: equi-joins are plain
``df.join`` — Catalyst chooses broadcast vs shuffle strategy and AQE
re-plans at runtime; the dimension-lookup join (the signature real-time-
warehouse op, async KV lookup in Flink) becomes an explicit
``F.broadcast(dim)`` hash join, which at 100 TB is the only formulation
that avoids shuffling the fact table.

The as-of/temporal join is a composed plan (plans/asof.py): union + keyed
window fill — one shuffle, no N×M pair blow-up.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_spark.exprs import dsum, dsum_sql, epoch_us
from flink_realtime_spark.plans.asof import asof_join
from flink_realtime_spark.plans.rangejoin import binned_range_join
from flink_realtime_spark.registry import query
from flink_realtime_spark.tables import Warehouse
from flink_realtime_spark.worker import crossing


@query(
    "join_inner_equi",
    """
    SELECT
      l.l_orderkey,
      l.l_linenumber,
      p.p_brand,
      p.p_size,
      CAST(l.l_extendedprice - p.p_retailprice AS DOUBLE) AS price_delta
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 10
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact × part (Flink SQL regular join). Catalyst picks
    broadcast (part is small) or shuffle hash/SMJ by stats; the p_size
    filter pushes below the join into the part scan."""
    wh = Warehouse(spark, sf_dir)
    p = wh.part.filter(F.col("p_size") <= 10)
    return wh.lineitem.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        "p_size",
        (F.col("l_extendedprice") - F.col("p_retailprice"))
        .cast("double")
        .alias("price_delta"),
    )


@query(
    "join_outer_left",
    """
    SELECT
      o.o_orderkey,
      o.o_orderstatus,
      COALESCE(l.l_linenumber, -1) AS linenumber,
      CAST(COALESCE(l.l_quantity, 0) AS DOUBLE) AS qty
    FROM orders o
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 49) l
      ON o.o_orderkey = l.l_orderkey
    """,
)
def join_outer_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every order, null-extended where no bulk line
    exists. Nulls are coalesced to sentinels so both engines agree on
    output types (nullable ints become float64 in pandas otherwise)."""
    wh = Warehouse(spark, sf_dir)
    bulk = wh.lineitem.filter(F.col("l_quantity") >= 49)
    return wh.orders.join(
        bulk, F.col("o_orderkey") == F.col("l_orderkey"), "left"
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce(F.col("l_linenumber"), F.lit(-1)).alias("linenumber"),
        F.coalesce(F.col("l_quantity"), F.lit(0.0)).cast("double").alias("qty"),
    )


@query(
    "join_outer_full",
    """
    SELECT
      COALESCE(c.k, s.k) AS nationkey,
      COALESCE(c.n, 0) AS n_rich_cust,
      COALESCE(s.n, 0) AS n_rich_supp
    FROM (SELECT c_nationkey AS k, COUNT(*) AS n FROM customer
          WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
    FULL JOIN (SELECT s_nationkey AS k, COUNT(*) AS n FROM supplier
               WHERE s_acctbal > 5000 GROUP BY s_nationkey) s
      ON c.k = s.k
    """,
)
def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregated sides with asymmetric key sets."""
    wh = Warehouse(spark, sf_dir)
    c = (
        wh.customer.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    s = (
        wh.supplier.filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("sn"))
    )
    return c.join(s, c["ck"] == s["sk"], "full").select(
        F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
        F.coalesce(F.col("cn"), F.lit(0)).alias("n_rich_cust"),
        F.coalesce(F.col("sn"), F.lit(0)).alias("n_rich_supp"),
    )


@query(
    "join_semi",
    """
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join — EXISTS filtering without duplication (Flink SQL
    IN/EXISTS rewrite)."""
    wh = Warehouse(spark, sf_dir)
    bulk = wh.lineitem.filter(F.col("l_quantity") >= 49)
    return wh.orders.join(
        bulk, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    ).select("o_orderkey", "o_orderpriority")


@query(
    "join_anti",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join — absence filtering (customers with no finished
    order)."""
    wh = Warehouse(spark, sf_dir)
    finished = wh.orders.filter(F.col("o_orderstatus") == "F")
    return wh.customer.join(
        finished, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_mktsegment")


@query(
    "join_dim_broadcast",
    f"""
    SELECT
      r.r_name,
      n.n_name,
      COUNT(*) AS n_lines,
      {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 12, 38)} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_dim_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature 实时数仓 dimension-lookup join: fact stream enriched
    against small DIM tables. Flink does async KV lookups; Spark-first is an
    explicit broadcast hash join — the fact table never shuffles for the
    enrichment, which is the only viable plan at 100 TB."""
    wh = Warehouse(spark, sf_dir)
    return (
        wh.lineitem.join(
            F.broadcast(wh.supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(wh.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(wh.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 12, 38).alias(
                "revenue"
            ),
        )
    )


@query(
    "join_interval_time",
    """
    SELECT
      c.user_id,
      c.event_id AS click_id,
      p.event_id AS purchase_id,
      CAST(DATE_DIFF('second', c.ts, p.ts) AS BIGINT) AS lag_sec
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def join_interval_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (Flink intervalJoin): click×purchase pairs of the same
    user within 30 minutes. Batch analog of the stream-stream time-bounded
    join; the streaming variant adds withWatermark on both sides so state
    is bounded (streaming/stateful.py notes)."""
    wh = Warehouse(spark, sf_dir)
    ev = wh.events
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            ((epoch_us(F.col("purchase_ts")) / F.lit(1_000_000)).cast("long")
             - (epoch_us(F.col("click_ts")) / F.lit(1_000_000)).cast("long"))
        ).alias("lag_sec"),
    )


@query(
    "join_interval_left",
    """
    SELECT
      c.user_id,
      c.event_id AS click_id,
      COALESCE(p.event_id, -1) AS purchase_id,
      CAST(COALESCE(DATE_DIFF('second', c.ts, p.ts), -1) AS BIGINT)
        AS lag_sec
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def join_interval_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join (Flink supports all outer variants of
    intervalJoin; Spark's streaming stream-stream join does too, emitting
    the null side once the watermark closes the interval): every click
    kept, un-purchased clicks carry sentinel -1 (nulls coalesced on BOTH
    sides — the outer-join int64→float64 pandas gotcha). Plan shape is
    identical to the inner form: hash join on the user equi-key with the
    time residual as a join-condition filter, never a BNL."""
    wh = Warehouse(spark, sf_dir)
    ev = wh.events
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        "left",
    ).select(
        "user_id",
        "click_id",
        F.coalesce("purchase_id", F.lit(-1)).cast("long").alias("purchase_id"),
        F.coalesce(
            ((epoch_us(F.col("purchase_ts")) / F.lit(1_000_000)).cast("long")
             - (epoch_us(F.col("click_ts")) / F.lit(1_000_000)).cast("long")),
            F.lit(-1),
        )
        .cast("long")
        .alias("lag_sec"),
    )


@query(
    "join_asof_temporal",
    """
    WITH c0 AS (
      SELECT user_id, ts,
        arg_min(event_id, event_id) AS click_id,
        arg_min(CAST(value AS DOUBLE), event_id) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    u AS (
      SELECT user_id, ts, 0 AS is_fact, CAST(NULL AS BIGINT) AS purchase_id,
             click_id, click_value
      FROM c0
      UNION ALL
      SELECT user_id, ts, 1, event_id, NULL, NULL
      FROM events WHERE event_type = 'purchase'
    ),
    filled AS (
      SELECT user_id, is_fact, purchase_id,
        LAST_VALUE(click_id IGNORE NULLS) OVER w AS click_id,
        LAST_VALUE(click_value IGNORE NULLS) OVER w AS click_value
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_fact
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT purchase_id, user_id, click_id, click_value
    FROM filled WHERE is_fact = 1 AND click_id IS NOT NULL
    """,
)
def join_asof_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal/as-of join (Flink FOR SYSTEM_TIME AS OF): each purchase
    joins the user's latest click at-or-before purchase time. Composed plan
    from plans/asof.py (union + keyed window fill — one shuffle). The
    oracle was DuckDB's native ASOF JOIN through round 5; the ×10
    replicated-facts hash sweep showed native ASOF is UNDERSPECIFIED when
    several versions share the boundary (user_id, ts) — which row wins is
    engine-internal — so since r05 the oracle writes the total order out
    explicitly (latest click, smallest id among ts ties), the same rule
    plans/asof.py documents. The r05 rank form paired every fact with
    every eligible version (O(per-user density²) — intractable at the
    ×100 tier, VERDICT r5 #2), so the oracle is now the LINEAR merge-fill
    equivalent: collapse version ts-ties to their min-id representative,
    union versions before facts at equal ts, one running
    LAST_VALUE(IGNORE NULLS) fill per user. The rank form remains the
    SPEC; tests/test_oracle_parity.py::test_asof_linear_oracle_matches_
    rank_spec asserts both DuckDB forms agree on the fixture."""
    wh = Warehouse(spark, sf_dir)
    ev = wh.events
    facts = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    versions = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").cast("double").alias("click_value"),
    )
    return asof_join(
        facts,
        versions,
        key="user_id",
        fact_ts="ts",
        version_ts="click_ts",
        version_cols=["click_id", "click_value"],
        how="inner",
    ).select("purchase_id", "user_id", "click_id", "click_value")


@query(
    "join_theta_range",
    """
    SELECT
      n1.n_regionkey,
      n1.n_name AS nation_a,
      n2.n_name AS nation_b
    FROM nation n1
    JOIN nation n2
      ON n1.n_regionkey = n2.n_regionkey
     AND n1.n_nationkey < n2.n_nationkey
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta / non-equi join: unordered nation pairs within a region. The
    equi component keeps it a hash join with a residual predicate (not a
    cartesian product) — the formulation that survives scale-up."""
    wh = Warehouse(spark, sf_dir)
    n1 = wh.nation.select(
        "n_regionkey",
        F.col("n_nationkey").alias("k1"),
        F.col("n_name").alias("nation_a"),
    )
    n2 = wh.nation.select(
        F.col("n_regionkey").alias("r2"),
        F.col("n_nationkey").alias("k2"),
        F.col("n_name").alias("nation_b"),
    )
    return n1.join(
        n2, (F.col("n_regionkey") == F.col("r2")) & (F.col("k1") < F.col("k2"))
    ).select("n_regionkey", "nation_a", "nation_b")


_COGROUP_SCHEMA = (
    "key long, n_events long, n_orders long, sum_value double"
)


def _cogroup_profile(events_tbl, orders_tbl):
    """Per-key profile across two keyed inputs (pyarrow Tables in, Table
    out). math.fsum gives a correctly rounded sum independent of row order,
    keeping the result deterministic."""
    import pyarrow as pa

    kcol = (
        events_tbl.column("user_id")
        if events_tbl.num_rows
        else orders_tbl.column("o_custkey")
    )
    k = kcol[0].as_py()
    # NULL is a valid cogroup key (grouping semantics: Spark's cogroup
    # pairs the two sides' null groups, like GROUP BY — the oracle join
    # is IS NOT DISTINCT FROM for the same reason; nulls-tier find).
    key = int(k) if k is not None else None
    # SQL SUM skips NULL values; the row still counts in n_events.
    vals = [v for v in events_tbl.column("value").to_pylist() if v is not None]
    # dsum's specials contract (r10): NaN/±Inf propagate IEEE-style —
    # plain float addition of ONLY the specials is order-independent
    # (any NaN → NaN, +Inf with -Inf → NaN, else the signed infinity);
    # math.fsum would RAISE on -inf + inf, and the exact-decimal round
    # only applies to the finite branch.
    spec = [v for v in vals if math.isnan(v) or math.isinf(v)]
    if spec:
        sv = sum(spec)
    else:
        # dsum's finite channel, kernel form (extremes tier, r10): a
        # per-value quantize of the SHORTEST REPR then an exact decimal
        # sum — round(fsum(...), 4) diverged from the oracle's decimal
        # path once sums reached 17 significant digits. repr(v) is
        # Python's shortest round-trip string, the exact analog of
        # Spark's BigDecimal.valueOf quantize; float(Decimal) is
        # correctly rounded, the analog of the oracle's string route.
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.0001")
        sv = (
            float(
                sum(
                    Decimal(repr(v)).quantize(q, rounding=ROUND_HALF_UP)
                    for v in vals
                )
            )
            if vals
            else 0.0
        )
    return pa.table(
        {
            # explicit int64: pa.table infers the NULL type from [None]
            # and Spark's Arrow verifier rejects the schema mismatch
            "key": pa.array([key], type=pa.int64()),
            "n_events": [events_tbl.num_rows],
            "n_orders": [orders_tbl.num_rows],
            "sum_value": [sv],
        }
    )


@query(
    "cogroup_apply",
    f"""
    SELECT
      COALESCE(e.k, o.k) AS key,
      COALESCE(e.n, 0) AS n_events,
      COALESCE(o.n, 0) AS n_orders,
      COALESCE(e.sv, 0.0) AS sum_value
    FROM (SELECT user_id AS k, COUNT(*) AS n, {dsum_sql('value')} AS sv
          FROM events GROUP BY user_id) e
    FULL JOIN (SELECT o_custkey AS k, COUNT(*) AS n
               FROM orders GROUP BY o_custkey) o
      ON e.k IS NOT DISTINCT FROM o.k
    """,
)
def cogroup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two keyed inputs processed together (Flink connect/CoProcessFunction):
    cogroup + applyInArrow. The Python path is justified here — the
    operator models arbitrary per-key two-stream logic; this instance (a
    per-key profile) also has a SQL equivalent, so it stays oracle-checked.
    Arrow Tables instead of pandas frames cut the per-group overhead ~7×
    (17.5s → 2.6s at sf0.1 over 15k small groups — SCALE.md Lessons);
    applyInPandas remains the right call only when per-group logic needs
    pandas semantics."""
    wh = Warehouse(spark, sf_dir)
    ev = wh.events.select("user_id", "value")
    od = wh.orders.select("o_custkey")
    return (
        ev.groupBy("user_id")
        .cogroup(od.groupBy("o_custkey"))
        .applyInArrow(crossing(_cogroup_profile), _COGROUP_SCHEMA)
    )


_BAND_N, _BAND_STRIDE, _BAND_WIDTH = 10, 50000.0, 75000.0


@query(
    "join_range_binned",
    f"""
    SELECT
      t.band_id,
      CAST(t.band_id * {_BAND_STRIDE} AS DOUBLE) AS band_lo,
      COUNT(*) AS n_orders,
      {dsum_sql('o.o_totalprice')} AS sum_price
    FROM range({_BAND_N}) t(band_id)
    JOIN orders o
      ON o.o_totalprice >= t.band_id * {_BAND_STRIDE}
     AND o.o_totalprice < t.band_id * {_BAND_STRIDE} + {_BAND_WIDTH}
    GROUP BY 1, 2
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join — the scale-safe plan for pure interval-containment
    predicates (no equi component, so a naive join is a broadcast
    nested-loop scanning every (row, band) pair). Quantize the value domain
    into bins no wider than the narrowest band; each band explodes to the
    2-3 bins it covers and each row computes its bin — the join becomes a
    hash equi-join on bin with the original range predicate as a residual
    filter. Cost drops from O(rows × bands) to O(rows × bins-per-band); at
    100 TB this is the difference between a BNL over the fact table and one
    ordinary shuffle. The oracle runs the naive inequality join — same
    result, different algorithm."""
    wh = Warehouse(spark, sf_dir)
    bands = spark.range(_BAND_N).select(
        F.col("id").alias("band_id"),
        (F.col("id") * _BAND_STRIDE).cast("double").alias("band_lo"),
        (F.col("id") * _BAND_STRIDE + _BAND_WIDTH).cast("double").alias("band_hi"),
    )
    joined = binned_range_join(
        wh.orders.select("o_totalprice"),
        bands,
        "o_totalprice",
        "band_lo",
        "band_hi",
        bin_width=_BAND_STRIDE,
    )
    return (
        joined.groupBy("band_id", "band_lo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@query(
    "join_asof_forward",
    """
    WITH p0 AS (
      SELECT user_id, ts,
        arg_min(event_id, event_id) AS purchase_id,
        arg_min(CAST(value AS DOUBLE), event_id) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    u AS (
      SELECT user_id, ts, 0 AS is_fact, CAST(NULL AS BIGINT) AS click_id,
             purchase_id, purchase_value
      FROM p0
      UNION ALL
      SELECT user_id, ts, 1, event_id, NULL, NULL
      FROM events WHERE event_type = 'click'
    ),
    filled AS (
      SELECT user_id, is_fact, click_id,
        LAST_VALUE(purchase_id IGNORE NULLS) OVER w AS purchase_id,
        LAST_VALUE(purchase_value IGNORE NULLS) OVER w AS purchase_value
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, is_fact
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT click_id, user_id, purchase_id, purchase_value
    FROM filled WHERE is_fact = 1 AND purchase_id IS NOT NULL
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click attaches the user's NEXT purchase
    at-or-after click time — the attribution/next-event lookup that
    mirrors join_asof_temporal's latest-version semantics. Same
    one-shuffle merge composition (plans/asof.py) with the window scanned
    in reverse time order. Oracle: the linear merge-fill form of the
    explicit tie-total rank spec (earliest purchase, smallest id among ts
    ties — reverse-scan fill over min-id ts-tie representatives); see
    join_asof_temporal for the rank-vs-fill history and the spec
    equivalence test."""
    wh = Warehouse(spark, sf_dir)
    ev = wh.events
    facts = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    versions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").cast("double").alias("purchase_value"),
    )
    return asof_join(
        facts,
        versions,
        key="user_id",
        fact_ts="ts",
        version_ts="purchase_ts",
        version_cols=["purchase_id", "purchase_value"],
        how="inner",
        direction="forward",
    ).select("click_id", "user_id", "purchase_id", "purchase_value")


@query(
    "join_asof_nearest",
    """
    WITH p0 AS (
      SELECT user_id, ts,
        arg_min(event_id, event_id) AS purchase_id,
        arg_min(CAST(value AS DOUBLE), event_id) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    u AS (
      SELECT user_id, ts, 0 AS is_fact, CAST(NULL AS BIGINT) AS click_id,
             purchase_id, purchase_value, ts AS pts
      FROM p0
      UNION ALL
      SELECT user_id, ts, 1, event_id, NULL, NULL, NULL
      FROM events WHERE event_type = 'click'
    ),
    filled AS (
      SELECT user_id, ts, is_fact, click_id,
        LAST_VALUE(purchase_id IGNORE NULLS) OVER wb AS b_id,
        LAST_VALUE(purchase_value IGNORE NULLS) OVER wb AS b_val,
        LAST_VALUE(pts IGNORE NULLS) OVER wb AS b_ts,
        LAST_VALUE(purchase_id IGNORE NULLS) OVER wf AS f_id,
        LAST_VALUE(purchase_value IGNORE NULLS) OVER wf AS f_val,
        LAST_VALUE(pts IGNORE NULLS) OVER wf AS f_ts
      FROM u
      WINDOW wb AS (PARTITION BY user_id ORDER BY ts, is_fact
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY ts DESC, is_fact
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT click_id, user_id,
      CASE WHEN f_id IS NULL THEN b_id
           WHEN b_id IS NULL THEN f_id
           WHEN epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts)
             THEN b_id ELSE f_id END AS purchase_id,
      CASE WHEN f_id IS NULL THEN b_val
           WHEN b_id IS NULL THEN f_val
           WHEN epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts)
             THEN b_val ELSE f_val END AS purchase_value
    FROM filled
    WHERE is_fact = 1 AND (b_id IS NOT NULL OR f_id IS NOT NULL)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (pandas merge_asof direction='nearest' parity):
    each click attaches the user's time-CLOSEST purchase, before or after,
    exact-µs tie preferring the earlier one. Composed from the same
    one-shuffle merge as backward/forward — both direction windows share
    the key exchange, only the second sort is added — then a per-fact
    pick of the smaller delta. The oracle mirrors that composition
    linearly (two direction fills + a delta CASE) instead of ranking the
    O(density²) per-user pair space — the rank spec equivalence is
    asserted in tests/test_oracle_parity.py; delta ties prefer the
    backward (earlier-ts) purchase, matching the rank's p.ts ASC."""
    wh = Warehouse(spark, sf_dir)
    ev = wh.events
    facts = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    versions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").cast("double").alias("purchase_value"),
    )
    return asof_join(
        facts,
        versions,
        key="user_id",
        fact_ts="ts",
        version_ts="purchase_ts",
        version_cols=["purchase_id", "purchase_value"],
        how="inner",
        direction="nearest",
    ).select("click_id", "user_id", "purchase_id", "purchase_value")


@query(
    "join_salted_skew",
    f"""
    SELECT
      o.o_orderpriority,
      COUNT(*) AS n_lines,
      {dsum_sql('l.l_extendedprice')} AS sum_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit salted join as a first-class query (plans/skew.py):
    lineitem joins orders on a (key, salt) composite so any hot orderkey
    spreads over 8 reducers — the manual mitigation for skew cases AQE's
    SMJ splitter can't reach (hash joins, hot aggregation keys).
    Deterministic salting (xxhash64 of the line number, not rand()) keeps
    the result identical to the plain join, which is exactly what the
    oracle checks; the salt only moves WORK, never rows."""
    from flink_realtime_spark.plans.skew import salted_join

    wh = Warehouse(spark, sf_dir)
    li = wh.lineitem.select(
        F.col("l_orderkey").alias("k"), "l_linenumber", "l_extendedprice"
    )
    od = wh.orders.select(F.col("o_orderkey").alias("k"), "o_orderpriority")
    return (
        salted_join(li, od, key="k", salt_from="l_linenumber", n_salts=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )
