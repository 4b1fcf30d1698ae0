"""Process environment and session helpers shared by the workloads."""

import os
import sys


# The one session setting that differs from get_spark's defaults: a 2g
# driver heap instead of 8g, so a run fits a machine shared with others.
# The JVM otherwise grows and collects its heap as the product's would.
DRIVER_MEM = "2g"


def isolate_environment(root: str, work: str, cores: int) -> None:
    """Point every scratch location Spark, DuckDB and tempfile use inside
    the work directory, and size the session for a small shared box:
    ``cores`` task slots, never more than the machine has."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(min(cores, os.cpu_count() or cores))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # pyspark's own Arrow serializer raises a pandas FutureWarning per batch
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    # Every JVM (spark-submit's launcher too): temp files in the work
    # directory, and no counters file in the system temp directory.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = None
    # Import the benchmark as the perfbench package, never its files as
    # top-level modules from the script's own directory.
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") not in (here, root)]


def stop_spark() -> None:
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:  # noqa: BLE001 - no state store was ever started
        pass
    spark.stop()


def shutdown_jvm():
    """Stop the session and the driver JVM this process launched, and wait
    for the JVM (and with it the Python workers it started) to exit."""
    from pyspark import SparkContext

    stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
