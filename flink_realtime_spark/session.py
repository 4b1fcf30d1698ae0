"""SparkSession factory and defensive per-query session preparation.

The driver constructs its own SparkSession and hands it to each query, so
nothing here may assume our builder ran. ``prepare(spark)`` pins the
runtime-settable confs every query depends on for oracle determinism and
scale posture; it is cheap and idempotent, and every registered query calls
it through tables.Warehouse.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Runtime-settable confs (safe to set on a live session).
_RUNTIME_CONF = {
    # Oracle determinism: DuckDB compares naive UTC timestamps.
    "spark.sql.session.timeZone": "UTC",
    # Scale posture: AQE re-plans joins, coalesces partitions, splits skew.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any toPandas/createDataFrame crossings.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS). Older Spark 4 builds reject it
    # outright (PARQUET_TYPE_ILLEGAL) unless read nanos-as-long; current
    # builds ignore this conf and read it natively as TIMESTAMP_NTZ truncated
    # to µs. tables.normalize_event_ts handles both shapes; keeping the conf
    # set is harmless on builds that ignore it.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # RocksDB state stores commit each key's changes as a changelog file
    # instead of a checkpoint of the whole instance: commitTimeMs per
    # trigger of the ODS->ADS stream benchmark ~500 -> ~320 ms (local[4]).
    # The default HDFS-backed provider ignores it.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}

# Pinned only on a local[...] master, whose executors are threads of the
# one local JVM.
_LOCAL_CONF = {
    # A file-stream trigger lists its new files through InMemoryFileIndex,
    # which above 32 paths launches a parallel-listing Spark job; locally
    # that job is pure overhead (getBatch 450-820 -> 10-70 ms on the stream
    # benchmark's 60-file triggers, local[4]). Clusters keep Spark's default.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": str(2**31 - 1),
    # Streaming checkpoint files (offsets, commits, state changelogs) are
    # written through FileSystem instead of FileContext. Without native
    # Hadoop, FileContext's rename on file:// forks `readlink` 8 times per
    # atomic file, ~4.7 ms a fork (JFR over 100 files): 59.6 -> 22.0 ms a
    # file. On the stream benchmark (local[4], traced) stateful.commit_ms
    # fell 375 -> 37 ms and trigger.wal_commit_ms 48 -> 10 ms. Checksum
    # (.crc) files are still written. Clusters keep Spark's default: on
    # HDFS the FileContext rename is what makes an overwrite atomic.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}

# (conf, reason) for every pin a host session refused, first refusal only:
# the engine then runs with the host's value, so a pinned speed-up (or a
# pinned plan shape) may be missing, and this says which. A refused
# package shipment (_ship_package) is recorded as spark.submit.pyFiles.
REFUSED_CONFS: list[tuple[str, str]] = []


def _record_refusal(conf: str, e: Exception) -> None:
    if all(conf != refused for refused, _ in REFUSED_CONFS):
        REFUSED_CONFS.append((conf, f"{type(e).__name__}: {e}"))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# Application ids the engine package has already been shipped to.
_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Distribute this package to the Python workers via addPyFile, so
    functions passed to applyInPandas/mapInPandas (pickled by reference to
    their defining module) import cleanly regardless of the driver
    process's working directory. On a real cluster this is the same
    mechanism that ships the engine to 1000 executors; in local mode it
    protects against a host process launched outside the repo root."""
    try:
        sc = spark.sparkContext
        app_id = sc.applicationId
    except Exception:
        return  # e.g. Spark Connect sessions: no SparkContext, workers
        # resolve code through the connect server's environment instead
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zip_path = tempfile.mkstemp(prefix="flink_realtime_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    _SHIPPED.add(app_id)  # one attempt per application
    try:
        sc.addPyFile(zip_path)
    except Exception as e:  # a restricted session: workers then import
        # the package from their own environment, or fail to
        os.remove(zip_path)
        _record_refusal("spark.submit.pyFiles", e)


def _is_local(spark: SparkSession) -> bool:
    try:
        master = spark.sparkContext.master
    except AttributeError:
        return False  # Spark Connect: no SparkContext on the client
    return master == "local" or master.startswith("local[")


def prepare(spark: SparkSession) -> SparkSession:
    """Pin runtime confs on an externally provided session. Idempotent.
    A conf the host refuses keeps the host's value and is recorded in
    REFUSED_CONFS."""
    _ship_package(spark)
    pins = dict(_RUNTIME_CONF)
    if _is_local(spark):
        pins.update(_LOCAL_CONF)
    # Size the shuffle for the host machine unless the host already chose.
    if "spark.sql.shuffle.partitions" not in os.environ.get(
        "SPARK_GRAFT_LOCKED_CONFS", ""
    ):
        pins["spark.sql.shuffle.partitions"] = str(default_parallelism())
    for k, v in pins.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # conf locked by the host session
            _record_refusal(k, e)
    return spark


_KAFKA_JAR_SEARCH = (
    "env SPARK_GRAFT_KAFKA_JARS",
    "<repo>/vendor/jars/*.jar",
    "~/.ivy2/jars/*kafka*.jar",
    "~/.m2/**/spark-sql-kafka*/*.jar",
)


def find_kafka_jars() -> list[str]:
    """Locate a vendored spark-sql-kafka connector (plus its
    kafka-clients/commons-pool2/token-provider deps) without any network:
    an explicit env override first, then the repo vendor dir, then the
    usual local artifact caches. Returns [] when the sandbox has none —
    the searched locations are _KAFKA_JAR_SEARCH, quoted verbatim by the
    test-skip reason so the missing artifact is documented, not silent."""
    import glob

    paths: list[str] = []
    env = os.environ.get("SPARK_GRAFT_KAFKA_JARS", "")
    if env:
        paths.extend(p for p in env.split(",") if os.path.isfile(p))
    repo_vendor = os.path.join(os.path.dirname(os.path.dirname(__file__)), "vendor", "jars")
    for pat in (
        os.path.join(repo_vendor, "*.jar"),
        os.path.expanduser("~/.ivy2/jars/*kafka*.jar"),
        os.path.expanduser("~/.m2/**/spark-sql-kafka*/*.jar"),
    ):
        paths.extend(glob.glob(pat, recursive=True))
    return sorted(set(paths))


def get_spark(app_name: str = "flink-realtime-spark") -> SparkSession:
    """Local session for tests/bench. On a real cluster, submit with the
    same confs via spark-submit; the engine code itself is deploy-agnostic."""
    cpus = default_parallelism()
    kafka_jars = find_kafka_jars()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # keep catalog tables (bucketed layouts) out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    if kafka_jars:
        builder = builder.config("spark.jars", ",".join(kafka_jars))
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return prepare(builder.getOrCreate())
