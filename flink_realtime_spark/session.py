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
}

# (conf, reason) for every pin a host session refused, first refusal only:
# the engine then runs with the host's value, so a pinned speed-up (or a
# pinned plan shape) may be missing, and this says which.
REFUSED_CONFS: list[tuple[str, str]] = []


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
    try:
        sc.addPyFile(zip_path)
        _SHIPPED.add(app_id)
    except Exception:
        pass  # already added under this name, or a restricted session


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
            if all(k != refused for refused, _ in REFUSED_CONFS):
                REFUSED_CONFS.append((k, f"{type(e).__name__}: {e}"))
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


# Directories that may carry a vendored pure-Python google.protobuf
# runtime on machines where pip can't install one (this sandbox: the
# google-cloud-sdk ships protobuf 6.32 pure-Python). Probed by
# enable_vendored_protobuf() only when `import google.protobuf` fails.
_PROTOBUF_VENDOR_DIRS = [
    os.environ.get("SPARK_GRAFT_PROTOBUF_DIR", ""),
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
]


# Prior values of the env vars enable_vendored_protobuf mutates, recorded
# at first mutation so restore_protobuf_env can undo the process-global
# change once its consumers captured it (ADVICE r4: the mutation must not
# silently leak into unrelated child processes or relax protobuf's version
# validation for other libraries in this interpreter).
_PROTOBUF_ENV_PRIOR: dict[str, str | None] | None = None
_PROTOBUF_CHECK_VAR = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"


def restore_protobuf_env() -> None:
    """Undo enable_vendored_protobuf's env mutation after every consumer
    that reads it at spawn/import time has captured it: the JVM snapshots
    the env at launch (Python workers inherit the JVM's copy), and the
    driver-side TWS gencode is imported eagerly here while the version-
    check escape hatch is still set, so later driver imports hit the
    module cache and never re-validate. sys.path keeps the vendor dir —
    that is interpreter-local and exactly scoped to making
    google.protobuf importable."""
    global _PROTOBUF_ENV_PRIOR
    if _PROTOBUF_ENV_PRIOR is None:
        return
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401
    except Exception:
        pass  # gencode validation will then surface at first TWS use
    for k, v in _PROTOBUF_ENV_PRIOR.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    _PROTOBUF_ENV_PRIOR = None


def enable_vendored_protobuf(keep_env: bool = False) -> bool:
    """Make transformWithStateInPandas executable where google.protobuf
    isn't pip-installed, by adopting a vendored pure-Python runtime:

    - appends the vendor dir to sys.path (driver-side import) AND to
      $PYTHONPATH (so Python WORKERS spawned by a JVM created after this
      call inherit it — call before SparkSession.builder);
    - sets protobuf's own official escape hatch
      TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK: pyspark 4.1.2's
      StateMessage gencode is 6.33 and the vendored runtime 6.32 — one
      minor version apart, which the validator rejects conservatively;
      both TWS equivalence tests pass under the override
      (tests/test_streaming.py::test_tws_form_equivalent_*).

    The env mutation is SCOPED (ADVICE r4): by default it is rolled back
    via restore_protobuf_env before returning (the driver-side gencode is
    imported under the escape hatch first, so TWS keeps working).
    ``keep_env=True`` defers the rollback — get_spark uses it so the env
    stays mutated across the JVM launch, then restores right after.

    Test-scale shim ONLY: production clusters pip-install protobuf and
    never reach this path. Returns True when google.protobuf is
    importable (already or after adoption)."""
    global _PROTOBUF_ENV_PRIOR
    import importlib
    import sys

    try:
        import google.protobuf

        if keep_env:
            # A prior scoped call can leave the module importable (vendor
            # dir still on sys.path) while its env rollback removed the
            # dir from $PYTHONPATH — a FRESH JVM launched now would spawn
            # workers without the vendored runtime. Re-apply the mutation
            # when the module resolves from a vendor dir, re-recording
            # priors so the post-launch restore stays symmetric.
            mod_root = os.path.dirname(
                os.path.dirname(os.path.dirname(google.protobuf.__file__))
            )
            if mod_root in _PROTOBUF_VENDOR_DIRS:
                if _PROTOBUF_ENV_PRIOR is None:
                    _PROTOBUF_ENV_PRIOR = {
                        "PYTHONPATH": os.environ.get("PYTHONPATH"),
                        _PROTOBUF_CHECK_VAR: os.environ.get(_PROTOBUF_CHECK_VAR),
                    }
                pp = os.environ.get("PYTHONPATH", "")
                if mod_root not in pp.split(os.pathsep):
                    os.environ["PYTHONPATH"] = (
                        (pp + os.pathsep + mod_root) if pp else mod_root
                    )
                os.environ.setdefault(_PROTOBUF_CHECK_VAR, "true")
        else:
            restore_protobuf_env()
        return True
    except ImportError:
        pass
    for d in _PROTOBUF_VENDOR_DIRS:
        if not d or not os.path.isdir(os.path.join(d, "google", "protobuf")):
            continue
        if d not in sys.path:
            sys.path.append(d)
        if _PROTOBUF_ENV_PRIOR is None:
            _PROTOBUF_ENV_PRIOR = {
                "PYTHONPATH": os.environ.get("PYTHONPATH"),
                _PROTOBUF_CHECK_VAR: os.environ.get(_PROTOBUF_CHECK_VAR),
            }
        pp = os.environ.get("PYTHONPATH", "")
        if d not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (pp + os.pathsep + d) if pp else d
        os.environ.setdefault(_PROTOBUF_CHECK_VAR, "true")
        importlib.invalidate_caches()
        try:
            import google.protobuf  # noqa: F401

            if not keep_env:
                restore_protobuf_env()
            return True
        except ImportError:
            continue
    return False


def get_spark(app_name: str = "flink-realtime-spark") -> SparkSession:
    """Local session for tests/bench. On a real cluster, submit with the
    same confs via spark-submit; the engine code itself is deploy-agnostic."""
    cpus = default_parallelism()
    # Before the JVM launch: workers inherit $PYTHONPATH from the JVM's
    # env snapshot; the mutation is rolled back right after getOrCreate.
    enable_vendored_protobuf(keep_env=True)
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
    spark = builder.getOrCreate()
    restore_protobuf_env()  # JVM captured the env; undo the global mutation
    return prepare(spark)
