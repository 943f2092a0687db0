"""Status-store collector: what Spark recorded about the jobs of one job
group, read back from its own stores after the jobs end.

Two stores are read, both kept by Spark with the UI disabled:

- the core ``AppStatusStore`` (jobs, stages, task metrics and task-time
  quantiles), through ``SparkContext.statusStore``;
- the SQL ``SQLAppStatusStore`` (per-operator SQL metrics such as the
  Python-worker timings and the bytes of the files a scan read), through
  the session's shared state.

Input bytes come from the scans' SQL metric, not from the stages'
``inputBytes``, which under-reports Parquet scans on Spark 4 (a 5 MB
Parquet scan read as 3 KB there). Reads outside the DataFrame API (RDD
reads) are not counted.

Each store object is serialised to JSON inside the JVM with the Jackson
mapper Spark ships, so one record costs one Py4J call instead of one call
per field.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

#: SQL metric name -> benchmark metric (seconds or bytes).
SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "size of files read": "sources.input_bytes",
}

#: Units of Spark's formatted SQL metric values (Utils.bytesToString and
#: Utils.msDurationToString), in bytes or seconds.
_UNIT_SCALE = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}

#: Every metric :meth:`StatusCollector.read` returns. All are sums over the
#: jobs read, except stage_active_s (a union of intervals) and
#: task_max_over_median (a ratio).
METRICS = (
    "spark.jobs",
    "spark.build_jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.task_deser_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.stage_active_s",
    "spark.task_max_over_median",
    "sources.input_rows",
    "sources.output_bytes",
    *SQL_METRICS.values(),
)


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in bytes, seconds or a
    plain count: ``"2,732"``, ``"25.8 KiB"``, ``"5 ms"`` or the
    two-line ``"total (min, med, max ...)\\n9.4 s (609 ms, ...)"`` form."""
    total = text.strip().split("\n")[-1].split(" (")[0].replace(",", "").split()
    value = float(total[0])
    return value * _UNIT_SCALE[total[1]] if len(total) > 1 else value


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    covered, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            covered += end - max(start, reach)
            reach = end
    return covered


class StatusCollector:
    """Reads back the jobs, stages and SQL executions of job groups."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        # A shuffle stage reused by a later job keeps its id; count it once.
        self._seen_stages: set[int] = set()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def mark(self) -> int:
        """Position in the SQL execution list; pass it to :meth:`read`."""
        return self._sql.executionsCount()

    def read(self, build_group: str, action_group: str, sql_mark: int) -> dict[str, float]:
        """Metrics of every job started under the two groups and of every
        SQL execution started since ``sql_mark``."""
        # Stores are filled by listeners on an asynchronous bus.
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        build_ids = list(tracker.getJobIdsForGroup(build_group))
        job_ids = build_ids + list(tracker.getJobIdsForGroup(action_group))
        stage_ids = {
            s for j in job_ids for s in self._json(self._store.job(j))["stageIds"]
        } - self._seen_stages
        stages = [self._json(self._store.lastStageAttempt(s)) for s in sorted(stage_ids)]
        ran = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
        self._seen_stages |= {s["stageId"] for s in ran}

        out = dict.fromkeys(METRICS, 0.0)
        out["spark.jobs"] = len(job_ids)
        out["spark.build_jobs"] = len(build_ids)
        out["spark.stages"] = len(ran)
        for s in ran:
            out["spark.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
            out["spark.failed_tasks"] += s["numFailedTasks"]
            out["spark.task_run_s"] += s["executorRunTime"] / 1e3
            out["spark.task_cpu_s"] += s["executorCpuTime"] / 1e9
            out["spark.task_deser_s"] += s["executorDeserializeTime"] / 1e3
            out["spark.gc_s"] += s["jvmGcTime"] / 1e3
            out["spark.shuffle_read_bytes"] += s["shuffleReadBytes"]
            out["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
            out["spark.spill_bytes"] += s["diskBytesSpilled"]
            out["sources.input_rows"] += s["inputRecords"]
            out["sources.output_bytes"] += s["outputBytes"]
        out["spark.stage_active_s"] = interval_union(
            [
                (s["submissionTime"] / 1e3, s["completionTime"] / 1e3)
                for s in ran
                if s.get("submissionTime") and s.get("completionTime")
            ]
        )
        if ran:
            # The stage with the most task time is the one whose slowest
            # task holds up the job.
            worst = max(ran, key=lambda s: s["executorRunTime"])
            summary = self._json(
                self._store.taskSummary(worst["stageId"], worst["attemptId"], self._quantiles)
            )
            if summary:
                median, top = summary["executorRunTime"]
                out["spark.task_max_over_median"] = top / max(median, 1.0)
        n_exec = self._sql.executionsCount() - sql_mark
        if n_exec > 0:
            for execution in self._json(self._sql.executionsList(sql_mark, n_exec)):
                # A re-optimised adaptive plan lists a node's metrics again
                # under the same accumulator: key by it to count each once.
                names = {
                    str(m["accumulatorId"]): SQL_METRICS[m["name"]]
                    for m in execution["metrics"]
                    if m["name"] in SQL_METRICS
                }
                if not names:
                    continue
                values = self._json(self._sql.executionMetrics(execution["executionId"]))
                for acc_id, metric in names.items():
                    if acc_id in values:
                        out[metric] += parse_sql_metric(values[acc_id])
        return out
