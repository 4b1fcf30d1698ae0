"""session.prepare: conf pins on a session the engine did not build."""

from __future__ import annotations

from flink_realtime_spark import session


def test_prepare_records_refused_conf(spark, monkeypatch):
    # a static conf cannot be set on a live session: the host "refuses" it
    static = "spark.sql.warehouse.dir"
    monkeypatch.setattr(
        session, "_RUNTIME_CONF", {static: "/nonexistent", **session._RUNTIME_CONF}
    )
    monkeypatch.setattr(session, "REFUSED_CONFS", [])
    session.prepare(spark)
    session.prepare(spark)
    assert [k for k, _ in session.REFUSED_CONFS] == [static]
    assert "CANNOT_MODIFY_STATIC_CONFIG" in session.REFUSED_CONFS[0][1]
    # the refusal stops no other pin
    assert spark.conf.get(static) != "/nonexistent"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    ) == "true"
    # the test session runs on a local[...] master
    assert spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"
    ) == str(2**31 - 1)


def test_ship_package_records_add_py_file_failure(spark, monkeypatch):
    def refuse(path):
        raise RuntimeError("addPyFile disabled")

    monkeypatch.setattr(spark.sparkContext, "addPyFile", refuse)
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.setattr(session, "REFUSED_CONFS", [])
    session.prepare(spark)
    session.prepare(spark)
    assert session.REFUSED_CONFS == [
        ("spark.submit.pyFiles", "RuntimeError: addPyFile disabled")
    ]
