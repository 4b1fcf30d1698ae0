"""Physical-plan assertions — the 100 TB posture checks (SURVEY.md §4/§6).

Correctness says the operator computes the right answer; these say it
computes it with the plan that survives scale-up: filters pushed into the
parquet scan, dimension joins broadcast (fact table never shuffles for
enrichment), global top-k as per-partition heaps."""

from __future__ import annotations

import contextlib
import io

import pytest

from flink_realtime_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def plan_of(spark, key: str) -> str:
    df = registry.QUERIES[key](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown(spark):
    plan = plan_of(spark, "filter_predicates")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "In(o_orderpriority" in pushed[0]
    assert "GreaterThanOrEqual(o_totalprice" in pushed[0]


def test_column_pruning(spark):
    plan = plan_of(spark, "proj_compute")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read  # narrow scan only
    for col in ["l_orderkey", "l_extendedprice", "l_discount"]:
        assert col in read
    assert "l_partkey" not in read  # unreferenced column pruned


def test_dim_join_broadcasts(spark):
    plan = plan_of(spark, "join_dim_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "sort_topk")


def test_flagship_no_cartesian(spark):
    plan = plan_of(spark, "agg_star_flagship")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("key", ["agg_groupby_basic", "join_dim_broadcast"])
def test_partial_aggregation_present(spark, key):
    # Two-phase agg: a partial HashAggregate must appear below the exchange
    # (map-side combine — mandatory at 100 TB).
    plan = plan_of(spark, key)
    assert plan.count("HashAggregate") >= 2


def test_q3_dimension_filter_pushed_and_broadcast(spark):
    plan = plan_of(spark, "tpch_q3_priority")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("c_mktsegment" in l and "EqualTo" in l for l in pushed)
    assert "BroadcastHashJoin" in plan


def test_q6_no_join_no_extra_shuffle(spark):
    plan = plan_of(spark, "tpch_q6_forecast")
    assert "Join" not in plan
    # single-group agg: one partial/final pair, exchange only for the final
    assert plan.count("HashAggregate") >= 2
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_discount" in pushed and "l_quantity" in pushed


@pytest.mark.parametrize(
    "key",
    [
        "tpch_q5_local_supplier",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_profit",
    ],
)
def test_multiway_star_joins_all_broadcast(spark, key):
    # The dimension chain must fully broadcast: at 100 TB the fact table
    # shuffles once (final agg), never for enrichment.
    plan = plan_of(spark, key)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q1_single_exchange_two_phase(spark):
    plan = plan_of(spark, "tpch_q1_pricing")
    assert plan.count("HashAggregate") >= 2  # partial/final split
    assert len([l for l in plan.splitlines() if "Exchange" in l and "(" in l]) >= 1
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed


def test_q10_topn_is_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "tpch_q10_returns")


def test_q21_single_lineitem_scan(spark):
    """r11 rewrite: the EXISTS/NOT-EXISTS pair folds into one
    per-(order, supplier) aggregate + per-order window — lineitem must
    be scanned exactly ONCE (the decorrelated semi/anti form scanned it
    three times and shuffled it three ways), with no per-row subquery
    re-execution (no existence/semi/anti nodes at all)."""
    plan = plan_of(spark, "tpch_q21_waiting")
    low = plan.lower()
    assert low.count("lineitem.parquet") == 1
    assert "leftsemi" not in low and "leftanti" not in low
    assert "window" in low


def test_apply_with_state_feeds_event_time_as_long_with_watermark(spark):
    """apply_with_state hands the Python state operator event time as an
    epoch-µs LONG that still carries the watermark delay, so event-time
    timeouts keep their watermark and Spark's late-row filter compares
    µs with µs."""
    from flink_realtime_spark.streaming.sources import events_stream
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        timeout_alert_state_fn,
    )

    sdf = events_stream(spark, SF_DIR).withWatermark("ts", "1 minute")
    out = apply_with_state(sdf, "user_id", timeout_alert_state_fn, timeout="event")

    def find(node, name):
        if node.nodeName() == name:
            return node
        kids = node.children()
        for i in range(kids.size()):
            hit = find(kids.apply(i), name)
            if hit is not None:
                return hit
        return None

    node = find(
        out._jdf.queryExecution().analyzed(), "FlatMapGroupsInPandasWithState"
    )
    assert node is not None
    child_out = node.child().output()
    ts = [
        a for a in (child_out.apply(i) for i in range(child_out.size()))
        if a.name() == "ts"
    ]
    assert len(ts) == 1
    assert ts[0].dataType().typeName() == "long"
    assert ts[0].metadata().contains("spark.watermarkDelayMs")
    assert ts[0].metadata().getLong("spark.watermarkDelayMs") == 60_000


def test_latest_image_groups_by_fixed_key_group(spark):
    """latest_image_state_fn's state lives per key group: the Python state
    operator groups by one LONG column defined as pmod(xxhash64(user_id),
    256), not by user_id. Restored state is found by that mapping, so a
    change to the group count or the hash must fail here first."""
    from flink_realtime_spark.streaming.sources import events_stream
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        latest_image_state_fn,
    )

    out = apply_with_state(events_stream(spark, SF_DIR), "user_id", latest_image_state_fn)
    (node,) = [
        n for n in _iter_nodes(out._jdf.queryExecution().analyzed())
        if n.nodeName() == "FlatMapGroupsInPandasWithState"
    ]
    grouping = node.groupingAttributes()
    assert grouping.size() == 1
    group = grouping.apply(0)
    assert group.name() != "user_id"
    assert group.dataType().typeName() == "long"
    projected = node.child().projectList()
    (defn,) = [
        e for e in (projected.apply(i) for i in range(projected.size()))
        if e.exprId().equals(group.exprId())
    ]
    assert defn.child().sql() == "pmod(xxhash64(user_id), CAST(256 AS BIGINT))"


def test_key_grouped_state_fn_refuses_timeouts(spark):
    """A timeout fires per grouping key, so on a key-grouped fn it would
    fire per group: apply_with_state refuses it."""
    from flink_realtime_spark.streaming.sources import events_stream
    from flink_realtime_spark.streaming.stateful import (
        apply_with_state,
        latest_image_state_fn,
    )

    sdf = events_stream(spark, SF_DIR).withWatermark("ts", "1 minute")
    for timeout in ("event", "processing"):
        with pytest.raises(ValueError, match="per group"):
            apply_with_state(sdf, "user_id", latest_image_state_fn, timeout=timeout)


def test_aqe_splits_skewed_join(spark):
    """The 100 TB skew posture (SCALE.md Joins): a hot key must trigger
    AQE's skew-join split at runtime — SortMergeJoin(skew=true) in the
    final adaptive plan — with no salting or manual handling in the query.
    Thresholds are lowered to make sf-test data 'skewed'; production keeps
    the defaults."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(200000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        )
        cool = spark.range(2000).select(
            (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(51).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
        j = hot.union(cool).join(right, "k")
        # collect j ITSELF: .count() would finalize a different plan
        assert len(j.collect()) == 202000
        final = (
            j._jdf.queryExecution().executedPlan().toString()
        ).split("== Initial Plan ==")[0]
        assert "skew=true" in final
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """The 100 TB selective-join posture: when a big-big join's build side
    carries a selective filter, Spark injects a runtime bloom filter on
    the probe side (BloomFilterAggregate → might_contain above the fact
    scan), so fact rows that cannot join die before the shuffle. Size
    thresholds are lowered to trigger on sf-test data; production keeps
    the defaults (the feature is on by default and sizes itself)."""
    from pyspark.sql import functions as F

    from flink_realtime_spark.tables import Warehouse
    from tests.conftest import SF_DIR

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        wh = Warehouse(spark, SF_DIR)
        sel = wh.orders.filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey", "o_orderdate")
        j = wh.lineitem.join(sel, wh.lineitem["l_orderkey"] == sel["o_orderkey"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        assert "might_contain" in buf.getvalue()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_binned_join_is_hash_not_bnl(spark):
    # The whole point of join_range_binned: the interval predicate must ride
    # an equi-join on the bin, never a nested-loop over (rows × bands).
    plan = plan_of(spark, "join_range_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_stratified_sample_uses_window_group_limit(spark):
    # Per-stratum Top-N must push the rank limit below the exchange.
    assert "WindowGroupLimit" in plan_of(spark, "pipe_sample_stratified")


def test_retention_compresses_before_join(spark):
    # The (user, day) distinct must aggregate BEFORE the cohort self-join:
    # partial HashAggregates on both join inputs, and no BNL anywhere.
    plan = plan_of(spark, "agg_retention")
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4


def test_curation_pipeline_filters_below_window(spark):
    # The lang/quality gates must reach the scan (pushed or at least below
    # the dedup window shuffle), and the whole DAG stays one plan with no
    # joins and exactly the window + agg exchanges.
    plan = plan_of(spark, "llm_curation_pipeline")
    assert "Join" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("In(lang" in l for l in pushed)


def _iter_nodes(jnode):
    stack = [jnode]
    while stack:
        n = stack.pop()
        yield n
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


# Keys whose partition-less window legitimately sits over an Aggregate
# with a BOUNDED grouping domain that the structural check below cannot
# prove. Every entry must say WHY the domain is bounded — "it's an
# Aggregate" is not a reason (word types, token pairs, user ids etc. all
# grow with the corpus; that allowance is exactly what let the round-3
# weak keys through).
_BOUNDED_DOMAIN_WINDOW_KEYS: dict[str, str] = {
    # Currently empty: the calendar-bounded boards (ads_gmv_dashboard,
    # ads_monthly_yoy) now partition their windows by
    # plans/ordered.single_bucket (non-foldable constant zero), so their
    # partition specs are never empty and they don't reach this check.
    # New entries must say WHY the grouping domain is bounded — prefer
    # single_bucket over an entry here: it declares the same fact in the
    # plan itself and keeps the executor log free of the single-task WARN.
}


def _partitionless_window_input_bounded(key: str, jwin) -> bool:
    # Descend through unary nodes under the window. Bounded iff we hit:
    #  - a Limit (Global/Local) — the input is at most K rows by
    #    construction (TakeOrderedAndProject re-rank pattern);
    #  - an Aggregate on a key in _BOUNDED_DOMAIN_WINDOW_KEYS, where a
    #    human has written down why the grouping domain is bounded.
    # Any other Aggregate (word types, token pairs, entity ids — group
    # cardinality grows with the corpus) is an offender. Note the
    # plans/ordered.py __pid summary no longer needs an allowance here:
    # its single-bucket window partitions by `__pid % 1` (non-foldable),
    # so its partitionSpec is never empty and it never reaches this check.
    n = jwin.children().apply(0)
    while True:
        name = n.nodeName()
        if "Limit" in name:
            return True
        if name in ("LocalRelation", "OneRowRelation"):
            return True
        if name == "Aggregate":
            return key in _BOUNDED_DOMAIN_WINDOW_KEYS
        ch = n.children()
        if ch.size() != 1:
            return False
        n = ch.apply(0)


@pytest.mark.parametrize("key", sorted(registry.QUERIES))
def test_no_partitionless_window_over_raw_relation(spark, key):
    """The fatal scale anti-pattern: row_number()/sum() OVER (ORDER BY ...)
    with no PARTITION BY moves the entire relation to one task. Sweep every
    registered key's optimized plan: any Window with an empty partition
    spec must sit over a provably BOUNDED input — a Limit, or an
    Aggregate whose bounded grouping domain is documented in
    _BOUNDED_DOMAIN_WINDOW_KEYS. A bare 'window over Aggregate' is NOT
    enough: group cardinality can grow with the corpus (the round-3 weak
    keys llm_cooccurrence / llm_vocab_coverage rode that allowance)."""
    df = registry.QUERIES[key](spark, SF_DIR)
    offenders = []
    for n in _iter_nodes(df._jdf.queryExecution().optimizedPlan()):
        if n.nodeName() == "Window" and n.partitionSpec().isEmpty():
            if not _partitionless_window_input_bounded(key, n):
                offenders.append(n.simpleString(120))
    assert not offenders, offenders


def _physical_nodes(df):
    return _iter_nodes(df._jdf.queryExecution().sparkPlan())


def _subtree_is_bounded(n) -> bool:
    # A relation is metadata-sized iff boundedness holds at THIS node: it
    # is a full aggregation (group-cardinality output: 1-row stat frames,
    # the 16-centroid fit, a distinct types dim), an explicit row limit, a
    # literal/driver-side relation, a small literal Range — or every input
    # of a non-bounding node is itself bounded (a join of two bounded
    # relations stays bounded; a projection over a raw scan does NOT:
    # requiring ALL children, not ANY, is what stops `fact JOIN tiny-agg`
    # from laundering a fact-sized broadcast through a contained
    # aggregate). A bare scan is fact-sized by definition.
    name = n.nodeName()
    if "Aggregate" in name or "Limit" in name or "TakeOrdered" in name:
        return True
    if "LocalTableScan" in name or name == "LocalRelation":
        return True
    # createDataFrame from driver-side data (e.g. the fitted KMeans
    # centroids in llm_knn_ivf): driver-memory-bounded by construction.
    if "ExistingRDD" in name:
        return True
    # spark.range with a literal small cardinality (e.g. the 16 projection
    # dims in llm_random_projection). A big Range stays fact-sized.
    if name == "Range":
        import re

        m = re.match(r"Range \((-?\d+), (-?\d+)", n.simpleString(120))
        if m and int(m.group(2)) - int(m.group(1)) <= 100_000:
            return True
    ch = n.children()
    if ch.size() == 0:
        return False  # raw scan / leaf source: grows with the data
    return all(
        _subtree_is_bounded(ch.apply(i)) for i in range(ch.size())
    )


@pytest.mark.parametrize("key", sorted(registry.QUERIES))
def test_no_bnl_with_unbounded_broadcast(spark, key):
    """Sweep every key's physical plan: a BroadcastNestedLoopJoin is legal
    ONLY when its broadcast side is bounded (aggregate-/limit-derived or a
    literal relation — O(1) vs the data), so the join costs
    O(stream × O(1)). A BNL whose broadcast side is itself fact-sized
    (e.g. the round-2 ads_stickiness_dau_wau calendar theta-join) is the
    scale-killer this guards against: O(|stream| × |broadcast|)
    comparisons with no equi pruning."""
    df = registry.QUERIES[key](spark, SF_DIR)
    offenders = []
    for n in _physical_nodes(df):
        if "BroadcastNestedLoopJoin" not in n.nodeName():
            continue
        build_right = "BuildRight" in n.toString().splitlines()[0]
        build = n.children().apply(1 if build_right else 0)
        if not _subtree_is_bounded(build):
            offenders.append(n.simpleString(160))
    assert not offenders, offenders


def test_stickiness_is_bounded_explode_equijoin(spark):
    # Regression for the round-2 finding: the trailing-7-day membership
    # must ride the exploded-day equi-join, never a calendar theta BNL.
    plan = plan_of(spark, "ads_stickiness_dau_wau")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_line_dedup_stays_linear(spark):
    # Line-level dedup must be linear: frequency join on the hashed
    # segment, no pairwise join shapes, partial aggregation present.
    plan = plan_of(spark, "llm_line_dedup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for segs/freq


def test_rebalance_gates_on_partition_count(spark):
    """rebalance() must widen a narrow scan to core parallelism and be an
    exact no-op (same object) when the input is already wide — the
    guarantee that makes it free at real scale."""
    from flink_realtime_spark.tables import rebalance

    wide = spark.range(0, 1000, 1, 64).withColumnRenamed("id", "k")
    assert rebalance(wide, "k") is wide
    narrow = spark.range(0, 1000, 1, 1).withColumnRenamed("id", "k")
    out = rebalance(narrow, "k")
    assert (
        out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_shingle_rebalance_not_undone_by_pushdown(spark):
    """Regression guard for the pushdown-through-repartition trap
    (SCALE.md Lessons): no zip_with (the dense shingle expression) may
    appear BELOW the rebalance Exchange — a `size(sh) > 0`-style filter
    pushed through it would re-run the whole shingle build serially in
    the single-task scan."""
    from flink_realtime_spark.llm.dedup import _with_shingles
    from flink_realtime_spark.tables import Warehouse

    wh = Warehouse(spark, SF_DIR)
    df = _with_shingles(wh.documents.select("doc_id", "text"))
    found = []
    for n in _iter_nodes(df._jdf.queryExecution().optimizedPlan()):
        if "RepartitionByExpression" in n.nodeName():
            found.append(n)
    assert found, "shingle build lost its rebalance exchange"
    for rep in found:
        below = rep.children().apply(0).treeString()
        assert "zip_with" not in below, (
            "dense shingle expression pushed below the rebalance exchange"
        )


@pytest.mark.parametrize(
    "key",
    ["llm_dedup_substring", "llm_substring_clean", "llm_top_boilerplate"],
)
def test_substring_family_joins_are_sort_merge(spark, key):
    """The substring-dedup joins must stay memory-bounded whatever the
    corpus's duplication rate: the candidate side sits above a Generate
    (offset explode) whose row count Catalyst estimates at the SCAN's
    cardinality, so without the merge hints the static planner broadcast
    a side that materialized ~100M rows on the 500k-doc dup-heavy probe
    and OOM'd an 8g heap (r06b finding). No BroadcastExchange anywhere in
    these plans — every join sort-merge."""
    plan = plan_of(spark, key)
    assert "BroadcastExchange" not in plan, key
    assert "SortMergeJoin" in plan, key


# Constant data stays on the JVM. A DataFrame built from a Python list is
# a LogicalRDD whose scan runs one Python task per partition, even for
# zero rows (~0.13 s each here before any work).


def _leaves(df) -> list[str]:
    return [
        n.nodeName()
        for n in _iter_nodes(df._jdf.queryExecution().optimizedPlan())
        if n.children().size() == 0
    ]


def test_embcos_tile_keys_stay_in_plan(spark):
    qe = registry.QUERIES["llm_dedup_embcos"](spark, SF_DIR)._jdf.queryExecution()
    names = [n.nodeName() for n in _iter_nodes(qe.optimizedPlan())]
    assert "LogicalRDD" not in names
    python_nodes = [
        n for n in names if "Pandas" in n or "Python" in n or "Arrow" in n
    ]
    assert python_nodes == ["FlatMapCoGroupsInPandas"]
    assert "BroadcastExchange" not in qe.executedPlan().toString()


def test_constant_tables_are_local_relations_or_derived(spark, tmp_path):
    from flink_realtime_spark.llm.dedup import MinhashIndex
    from flink_realtime_spark.llm.similarity import ivf_index
    from flink_realtime_spark.operators.serving import _wm_row
    from flink_realtime_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    for corpus in (emb, emb.limit(0)):  # fitted, and the empty-corpus case
        _, centroids = ivf_index(corpus, 4)
        assert _leaves(centroids) == ["LocalRelation"]
        assert centroids.dtypes == [("cell", "int"), ("centroid", "array<double>")]

    for wm in (1_700_000_000_000_000, None):
        row = _wm_row(spark, wm)
        assert _leaves(row) == ["Range"]
        assert row.dtypes == [("wm_us", "bigint")]
        assert [tuple(r) for r in row.collect()] == [(wm,)]

    empty = MinhashIndex(spark, str(tmp_path))._read(
        str(tmp_path / "missing"), "doc_id LONG, hs ARRAY<LONG>"
    )
    assert _leaves(empty) == ["LocalRelation"]
    assert empty.dtypes == [("doc_id", "bigint"), ("hs", "array<bigint>")]
    assert empty.collect() == []


@pytest.mark.parametrize("name", ["embeddings", "events"])
def test_fresh_scan_reuses_resolved_schema(spark, name):
    """After one plain read, a fresh scan resolves its schema without a
    Spark job (no footer read) and still gets its own attribute ids."""
    from flink_realtime_spark.tables import load_table

    cached = load_table(spark, SF_DIR, name)
    sc = spark.sparkContext
    group = f"fresh-scan-{name}"
    sc.setJobGroup(group, "load_table(fresh=True)")
    try:
        fresh = load_table(spark, SF_DIR, name, fresh=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert fresh.schema == cached.schema

    def ids(df):
        out = df._jdf.queryExecution().analyzed().output()
        return {out.apply(i).exprId().id() for i in range(out.size())}

    assert not ids(fresh) & ids(cached)


def test_no_python_list_create_dataframe():
    """CI guard: no engine module builds a DataFrame from a Python list,
    tuple or comprehension literal (the LogicalRDD path above)."""
    import ast
    import pathlib

    import flink_realtime_spark

    literal = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp)
    root = pathlib.Path(flink_realtime_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                continue
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None
            )
            if isinstance(data, literal):
                hits.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    assert hits == []


_CROSSING_CALLS = {
    "applyInPandas", "applyInArrow", "mapInPandas", "mapInArrow",
    "applyInPandasWithState",
}
_UDF_FACTORIES = {"pandas_udf", "udtf", "udf"}


def _unwrapped_crossings(source: str) -> list[int]:
    """Lines where a function handed to a Python worker skips
    worker.crossing: the first argument of a _CROSSING_CALLS call is not
    a ``crossing(...)`` call, a ``@pandas_udf``/``@udf`` def lacks
    ``@crossing``, a ``@udtf`` class's ``eval`` lacks it, or a UDF
    factory is called directly on anything but ``crossing(...)``."""
    import ast

    def name(node):
        node = node.func if isinstance(node, ast.Call) else node
        return getattr(node, "attr", getattr(node, "id", None))

    def is_crossing(node):
        return isinstance(node, ast.Call) and name(node) == "crossing"

    tree = ast.parse(source)
    decorators = {
        id(d)
        for n in ast.walk(tree)
        for d in getattr(n, "decorator_list", ())
    }
    hits = []
    for node in ast.walk(tree):
        decos = {name(d) for d in getattr(node, "decorator_list", ())}
        if isinstance(node, ast.Call) and id(node) not in decorators:
            fn = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg in ("func", "f")), None
            )
            if name(node) in _CROSSING_CALLS | _UDF_FACTORIES and not is_crossing(fn):
                hits.append(node.lineno)
        elif isinstance(node, ast.FunctionDef) and decos & _UDF_FACTORIES:
            if "crossing" not in decos:
                hits.append(node.lineno)
        elif isinstance(node, ast.ClassDef) and decos & _UDF_FACTORIES:
            evals = [
                b for b in node.body
                if isinstance(b, ast.FunctionDef) and b.name == "eval"
            ]
            if not evals or "crossing" not in {name(d) for d in evals[0].decorator_list}:
                hits.append(node.lineno)
    return sorted(hits)


def test_crossing_guard_flags_unwrapped_functions():
    bad = (
        "df.mapInPandas(fn, schema)\n"
        "g.applyInPandasWithState(state_fn, outputStructType=o)\n"
        "cg.applyInArrow(func=fn, schema=s)\n"
        "@pandas_udf('double')\n"
        "def f(v): ...\n"
        "@udtf(returnType='w string')\n"
        "class T:\n"
        "    def eval(self, t): ...\n"
        "u = pandas_udf(f, 'double')\n"
    )
    assert _unwrapped_crossings(bad) == [1, 2, 3, 5, 7, 9]
    good = (
        "df.mapInPandas(crossing(fn), schema)\n"
        "cg.applyInArrow(func=crossing(fn), schema=s)\n"
        "@pandas_udf('double')\n"
        "@crossing\n"
        "def f(v): ...\n"
        "@udtf(returnType='w string')\n"
        "class T:\n"
        "    @crossing\n"
        "    def eval(self, t): ...\n"
    )
    assert _unwrapped_crossings(good) == []


def test_python_crossings_install_worker_memo():
    """CI guard: every engine function that runs in a Python worker goes
    through flink_realtime_spark.worker.crossing, whose first call there
    stops pyspark's per-task archive re-reads (~0.2 s a task)."""
    import pathlib

    import flink_realtime_spark

    root = pathlib.Path(flink_realtime_spark.__file__).parent
    hits = [
        f"{path.relative_to(root.parent)}:{line}"
        for path in sorted(root.rglob("*.py"))
        for line in _unwrapped_crossings(path.read_text())
    ]
    assert hits == []


def _renames(source: str) -> list[tuple[str, int]]:
    """(outermost enclosing function, line) of every ``os.rename`` /
    ``os.replace`` call; module-level calls report ``<module>``."""
    import ast

    hits = []

    def visit(node, outer):
        for child in ast.iter_child_nodes(node):
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("rename", "replace")
                and isinstance(child.func.value, ast.Name)
                and child.func.value.id == "os"
            ):
                hits.append((outer or "<module>", child.lineno))
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, outer or (child.name if is_def else None))

    visit(ast.parse(source), None)
    return hits


def test_rename_guard_finds_every_rename():
    src = (
        "import os\n"
        "os.rename('a', 'b')\n"
        "def replace_dir(p, w):\n"
        "    os.rename(p, p + '.old')\n"
        "    def inner():\n"
        "        os.replace('x', 'y')\n"
        "class Store:\n"
        "    def merge(self):\n"
        "        os.rename(self.path, self.old)\n"
        "'s'.replace('a', 'b')\n"
        "pathlib.Path('z').rename('w')\n"
    )
    assert _renames(src) == [
        ("<module>", 2), ("replace_dir", 4), ("replace_dir", 6), ("merge", 9)
    ]


def test_one_directory_swap():
    """CI guard: the engine swaps directories in one place. Every rename
    is in plans/layout.py's recover_dir/replace_dir, apart from
    state_change_feed's single-file move of a staged parquet part; a
    store that hand-rolls its own rename-swap fails here."""
    import pathlib

    import flink_realtime_spark

    root = pathlib.Path(flink_realtime_spark.__file__).parent
    feed = ("streaming/state_inspect.py", "state_change_feed")
    allowed = {
        ("plans/layout.py", "recover_dir"),
        ("plans/layout.py", "replace_dir"),
        feed,
    }
    hits = [
        (path.relative_to(root).as_posix(), fn, line)
        for path in sorted(root.rglob("*.py"))
        for fn, line in _renames(path.read_text())
    ]
    assert [h for h in hits if h[:2] not in allowed] == []
    assert [h[:2] for h in hits].count(feed) == 1
