"""Layout-strategy proofs (SCALE.md): partition pruning on partitioned
layers and exchange-free joins on bucketed tables — asserted against the
actual physical plans, not just claimed. The directory swap every store
uses (``replace_dir``/``recover_dir``) is checked on plain files in each
state a crash can leave behind."""

from __future__ import annotations

import contextlib
import io
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_realtime_spark.plans import layout
from flink_realtime_spark.plans.layout import recover_dir, replace_dir
from flink_realtime_spark.tables import load_table
from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_layer_prunes(spark):
    from flink_realtime_spark.plans.layout import (
        read_layer,
        write_partitioned_layer,
    )

    events = load_table(spark, SF_DIR, "events")
    d = tempfile.mkdtemp(prefix="layer_")
    path = os.path.join(d, "dwd_events")
    write_partitioned_layer(
        events.withColumn("day", F.to_date("ts")), path, ["day"]
    )
    # hive-style partition dirs exist
    days = [p for p in os.listdir(path) if p.startswith("day=")]
    assert len(days) > 5
    filtered = read_layer(spark, path).filter(F.col("day") == days[0][4:])
    plan = _plan(filtered)
    scan = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "isnotnull(day" in scan and "day" in scan
    # pruned read touches exactly one partition's rows
    one_day = filtered.count()
    total = read_layer(spark, path).count()
    assert 0 < one_day < total


def test_bucketed_join_has_no_exchange(spark):
    from flink_realtime_spark.plans.layout import write_bucketed_table

    # The warehouse directory outlives the in-memory catalog: a table from a
    # previous session's run leaves its LOCATION behind while DROP TABLE
    # no-ops, so clear both.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_bucketed_table(
        orders.select("o_orderkey", "o_orderpriority"), "b_orders", "o_orderkey", 8
    )
    write_bucketed_table(
        li.select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 8
    )
    # At test scale the planner would (rightly) broadcast the small side and
    # ignore bucketing; disable broadcast to simulate the large-large case
    # bucketing exists for.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("b_orders")
        b = spark.table("b_lineitem")
        joined = a.join(b, a["o_orderkey"] == b["l_orderkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # the whole point: neither side shuffles
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_compact_layer_reduces_files_preserves_rows(spark):
    from flink_realtime_spark.plans.layout import compact_layer, read_layer

    d = tempfile.mkdtemp(prefix="compact_src_")
    path = os.path.join(d, "dws")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    # simulate a streaming sink's fragmentation: many tiny files
    ev.repartition(40).write.mode("overwrite").parquet(path)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 30
    before = sorted(r.event_id for r in read_layer(spark, path).collect())

    compact_layer(spark, path, target_files=4, order_cols=["user_id"])
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after <= 4
    after = sorted(r.event_id for r in read_layer(spark, path).collect())
    assert before == after

    import shutil

    shutil.rmtree(d, ignore_errors=True)


def test_read_layer_recovers_compaction_killed_between_renames(spark, tmp_path):
    """A compaction killed between its two renames leaves the whole
    dataset in ``path.old`` and nothing at ``path``; the next read
    restores it instead of failing with PATH_NOT_FOUND."""
    from flink_realtime_spark.plans.layout import read_layer

    path = str(tmp_path / "dws")
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id")
    ev.write.parquet(path)
    before = sorted(read_layer(spark, path).collect())

    os.rename(path, path + ".old")
    assert sorted(read_layer(spark, path).collect()) == before
    assert os.listdir(tmp_path) == ["dws"]


# ---- the crash-safe directory swap, on plain files -----------------------


def _writer(tag: str):
    """A write callback producing one complete two-file copy."""

    def write(d: str) -> None:
        os.makedirs(d)
        for i in range(2):
            with open(os.path.join(d, f"part-{i}"), "w") as f:
                f.write(tag)

    return write


def _half_written(d: str) -> None:
    os.makedirs(d)
    with open(os.path.join(d, "part-0"), "w") as f:
        f.write("partial")


def _tree(root) -> dict:
    """{directory: {file: text}} for every directory under ``root``."""
    return {
        d.name: {f.name: f.read_text() for f in sorted(d.iterdir())}
        for d in sorted(root.iterdir())
    }


A = {"store": {"part-0": "a", "part-1": "a"}}
B = {"store": {"part-0": "b", "part-1": "b"}}


def _staging_half_written(path: str) -> None:
    replace_dir(path, _writer("a"))
    _half_written(path + ".staging")


def _path_moved_to_old(path: str) -> None:
    replace_dir(path, _writer("a"))
    _writer("b")(path + ".staging")
    os.rename(path, path + ".old")


def _staging_renamed_in(path: str) -> None:
    _path_moved_to_old(path)
    os.rename(path + ".staging", path)


def _first_write_in_staging(path: str) -> None:
    _half_written(path + ".staging")


@pytest.mark.parametrize(
    "crash, expect",
    [
        (_staging_half_written, A),
        (_path_moved_to_old, A),
        (_staging_renamed_in, B),
        (_first_write_in_staging, {}),
    ],
    ids=[
        "staging_half_written",
        "path_moved_to_old",
        "staging_renamed_in",
        "first_write_in_staging",
    ],
)
def test_recover_dir_leaves_one_complete_copy(tmp_path, crash, expect):
    path = str(tmp_path / "store")
    crash(path)
    recover_dir(path)
    assert _tree(tmp_path) == expect
    recover_dir(path)  # idempotent
    assert _tree(tmp_path) == expect


def test_replace_dir_swaps_in_the_new_copy(tmp_path):
    path = str(tmp_path / "store")
    replace_dir(path, _writer("a"))
    assert _tree(tmp_path) == A
    replace_dir(path + "/", _writer("b"))
    assert _tree(tmp_path) == B


def test_replace_dir_failed_write_leaves_path_untouched(tmp_path):
    path = str(tmp_path / "store")
    replace_dir(path, _writer("a"))

    def fail(d: str) -> None:
        _half_written(d)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        replace_dir(path, fail)
    assert not os.path.exists(path + ".old")
    assert _tree(tmp_path)["store"] == A["store"]


def test_replace_dir_rolls_back_a_failed_rename(tmp_path, monkeypatch):
    path = str(tmp_path / "store")
    replace_dir(path, _writer("a"))
    rename = os.rename
    calls = []

    def second_fails(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("rename failed")
        rename(src, dst)

    monkeypatch.setattr(layout.os, "rename", second_fails)
    with pytest.raises(OSError):
        replace_dir(path, _writer("b"))
    assert calls[:2] == [path, path + ".staging"]
    assert _tree(tmp_path) == A


def test_dynamic_partition_pruning_from_dim_filter(spark):
    """Static pruning (above) needs the literal partition predicate; the
    production star-join case filters a DIMENSION and expects the fact
    scan to prune at RUNTIME — Spark's dynamic partition pruning inserts a
    `dynamicpruning` subquery on the fact's partition column from the dim
    side's filter. Without DPP a 100 TB date-partitioned fact would full-
    scan whenever the date restriction arrives through a join. Two
    triggers matter and both are pinned here: the dim predicate must be
    LIKELY-SELECTIVE (an `= literal` — a bare boolean attribute does not
    qualify), and at sf-test size the stats-based benefit estimate vetoes
    the subquery, so the fallback ratio simulates the 100 TB fact
    (production keeps the defaults)."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("dpp_fact", "dpp_dim"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    ev = load_table(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    ev.write.partitionBy("day").saveAsTable("dpp_fact")
    (
        ev.select("day")
        .distinct()
        .withColumn(
            "tag",
            F.when(F.dayofmonth("day") <= 2, "campaign").otherwise("normal"),
        )
        .write.saveAsTable("dpp_dim")
    )
    confs = {
        "spark.sql.optimizer.dynamicPartitionPruning.useStats": "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio": "1000",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = spark.sql(
            "SELECT * FROM dpp_fact JOIN dpp_dim ON dpp_fact.day = dpp_dim.day "
            "WHERE dpp_dim.tag = 'campaign'"
        )
        plan = _plan(j)
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        want = (
            spark.table("dpp_fact")
            .join(
                F.broadcast(
                    spark.table("dpp_dim").filter("tag = 'campaign'").select("day")
                ),
                "day",
            )
            .count()
        )
        assert j.count() == want > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for t in ("dpp_fact", "dpp_dim"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
