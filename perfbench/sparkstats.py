"""Reads of Spark's own status stores and query executions, for the traced
run. Nothing here changes engine state: it reads the SQL status store,
the application status store and a collected DataFrame's QueryExecution.

Spark's listeners update the stores asynchronously, so callers drain the
listener bus (``StatusReader.drain``) before reading an operation's
numbers.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SENT = "data sent to Python workers"
_RECV = "data returned from Python workers"
_ROWS = "number of output rows"


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _metric_total(text: str | None) -> float:
    """First number of a formatted SQL metric ("1,234", "12.5 MiB", or
    "total (min, med, max ...)\\n12.5 MiB (...)"), in base units."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[-1]
    m = re.search(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?\b", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2) or "B", 1)


class StatusReader:
    """Handles on the SQL and application status stores of one session."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = spark.sparkContext.defaultParallelism
        # Scala default arguments of AppStatusStore.stageData.
        self._no_tasks = getattr(self.app, "stageData$default$3")()
        self._no_quantiles = getattr(self.app, "stageData$default$5")()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def executions_count(self) -> int:
        return int(self.sql.executionsCount())

    def jobs_after(self, job_id: int) -> list:
        jobs = []
        lst = self.app.jobsList(None)  # newest first
        for i in range(lst.size()):
            j = lst.apply(i)
            if j.jobId() <= job_id:
                break
            jobs.append(j)
        return jobs

    def stage_totals(self, jobs) -> dict[str, float]:
        out = dict.fromkeys(
            ("stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "input_bytes"),
            0.0,
        )
        seen: set[int] = set()
        for j in jobs:
            for sid in _scala_seq(j.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.app.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                )
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if str(s.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["task_run_ms"] += s.executorRunTime()
                    out["task_cpu_ms"] += s.executorCpuTime() / 1e6
                    out["gc_ms"] += s.jvmGcTime()
                    out["shuffle_read_bytes"] += (
                        s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()
                    )
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["input_bytes"] += s.inputBytes()
        return out

    def python_crossing(self, first_execution: int) -> dict[str, float]:
        """Arrow traffic of every Python exec node (one carrying the "data
        sent to Python workers" metric) in SQL executions with id >=
        ``first_execution``."""
        out = {"to_python_bytes": 0.0, "from_python_bytes": 0.0, "from_python_rows": 0.0}
        n = self.executions_count()
        if n <= first_execution:
            return out
        execs = _scala_seq(self.sql.executionsList(first_execution, n - first_execution))
        for e in execs:
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            for node in _scala_seq(self.sql.planGraph(eid).allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in _scala_seq(node.metrics())}
                if _SENT not in metrics:
                    continue

                def val(name):
                    acc = metrics.get(name)
                    opt = values.get(acc) if acc is not None else None
                    return _metric_total(opt.get() if opt is not None and opt.isDefined() else None)

                out["to_python_bytes"] += val(_SENT)
                out["from_python_bytes"] += val(_RECV)
                out["from_python_rows"] += val(_ROWS)
        return out


def catalyst_phases_ms(df: DataFrame) -> dict[str, float]:
    """Catalyst phase durations recorded by the DataFrame's own
    QueryExecution tracker (analysis, optimization, planning)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        name = kv._1()
        if name in out:
            out[name] = float(kv._2().durationMs())
    return out


def final_plan(df: DataFrame) -> str:
    """The executed plan of ``df``'s own QueryExecution. After ``collect()``
    an adaptive plan prints ``isFinalPlan=true`` with its final stages."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_exchange_counts(plan: str) -> tuple[int, int]:
    """(exchanges, reused exchanges) in the final part of a plan string."""
    final = plan.split("== Initial Plan ==", 1)[0]
    reused = len(re.findall(r"\bReusedExchange\b", final))
    exchanges = len(re.findall(r"\b(?:ShuffleExchange|BroadcastExchange|Exchange)\b", final))
    return exchanges, reused
