"""Read Spark's own stage and SQL-node metrics from the status store.

Two stores back this module, both filled by Spark's listener bus whether
or not the UI is enabled:

- the core ``AppStatusStore`` (jobs, stages, task summaries), the store
  ``bench._shuffle_bytes`` reads;
- the ``SQLAppStatusStore`` (one entry per SQL execution, with its final
  adaptive plan graph and the formatted value of every node metric).

SQL metric values arrive as display strings, e.g.
``"total (min, med, max (stageId: taskId))\\n3.8 s (855 ms, 942 ms, 1.1 s
(stage 4.0: task 13))"`` or ``"354.3 KiB"`` or ``"12,964"``;
``parse_metric`` turns one into a number in base units (ms or bytes or
a plain count).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4,
            "min": 6e4, "h": 3.6e6}
_SIZE_B = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
           "TiB": 2.0 ** 40, "PiB": 2.0 ** 50}
_VALUE_RE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)\s*$")


def parse_metric(text: str | None) -> float | None:
    """One SQL metric display string -> its total in base units.

    Timings become milliseconds, sizes bytes, sums and averages plain
    numbers.  For the ``total (min, med, max ...)`` form only the total
    (the first value of the second line) is returned.  ``None`` or an
    unparseable string gives ``None``."""
    if text is None:
        return None
    lines = text.strip().split("\n")
    head = lines[-1] if lines[0].startswith("total (") else lines[0]
    head = head.split("(")[0]
    m = _VALUE_RE.match(head)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return value
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    if unit in _SIZE_B:
        return value * _SIZE_B[unit]
    return None


@dataclass
class StageStat:
    stage_id: int
    attempt_id: int
    job_group: str | None
    tasks: int
    failed_tasks: int
    run_ms: float            # summed task executor run time
    cpu_ms: float            # summed task executor CPU time
    gc_ms: float
    shuffle_write_bytes: int
    spill_bytes: int         # memory + disk bytes spilled


@dataclass
class JobStat:
    job_id: int
    job_group: str | None
    submit_ms: int | None    # epoch milliseconds
    end_ms: int | None
    stage_ids: list[int]


@dataclass
class SqlNode:
    name: str
    desc: str
    metrics: dict[str, str] = field(default_factory=dict)


@dataclass
class SqlExec:
    execution_id: int
    job_ids: list[int]
    submit_ms: int
    end_ms: int | None
    plan_text: str
    nodes: list[SqlNode]


class StatusStore:
    """Reader over one SparkContext's status stores.  Each query crosses
    py4j once: the store's objects are serialised to JSON in the JVM with
    Jackson and its Scala module, as Spark's REST API does."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        jsc = self.sc._jsc.sc()
        self._core = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.__getattr__("MODULE$")
        )

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self, timeout_ms: int = 30_000) -> None:
        """Block until the listener bus has delivered every event so far,
        so the stores reflect all finished jobs."""
        self._bus.waitUntilEmpty(timeout_ms)

    def _stages(self) -> list[dict]:
        jvm = self.spark._jvm
        return self._json(self._core.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        ))

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self._stages()), default=-1)

    def shuffle_write_between(self, after: int, upto: int) -> int:
        """Shuffle bytes written by stages with ids in (after, upto]."""
        return sum(
            s["shuffleWriteBytes"] for s in self._stages()
            if after < s["stageId"] <= upto
        )

    def jobs(self, groups: set[str]) -> list[JobStat]:
        return [
            JobStat(j["jobId"], j.get("jobGroup"), j.get("submissionTime"),
                    j.get("completionTime"), list(j["stageIds"]))
            for j in self._json(self._core.jobsList(None))
            if j.get("jobGroup") in groups
        ]

    def stages(self, jobs: list[JobStat]) -> list[StageStat]:
        """Per-stage task aggregates for the stages of ``jobs`` (a stage
        shared by two jobs is counted once; a skipped one with zeros)."""
        group_of: dict[int, str | None] = {}
        for j in jobs:
            for sid in j.stage_ids:
                group_of.setdefault(sid, j.job_group)
        return [
            StageStat(
                s["stageId"], s["attemptId"], group_of[s["stageId"]],
                s["numTasks"], s["numFailedTasks"],
                float(s["executorRunTime"]), s["executorCpuTime"] / 1e6,
                float(s["jvmGcTime"]), s["shuffleWriteBytes"],
                s["memoryBytesSpilled"] + s["diskBytesSpilled"],
            )
            for s in self._stages() if s["stageId"] in group_of
        ]

    def task_median_max_ms(self, stage: "StageStat") -> tuple[float, float]:
        """(median, max) task run time of one stage attempt."""
        jvm = self.spark._jvm
        q = self.sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self._core.taskSummary(stage.stage_id, stage.attempt_id, q)
        if not summ.isDefined():
            return 0.0, 0.0
        med, mx = self._json(summ.get())["executorRunTime"]
        return float(med), float(mx)

    def sql_executions(self, job_ids: set[int]) -> list[SqlExec]:
        """SQL executions that ran any of ``job_ids``, with node metrics."""
        out = []
        for e in self._json(self._sql.executionsList()):
            jids = [int(x) for x in e["jobs"]]
            if not job_ids.intersection(jids):
                continue
            eid = e["executionId"]
            values = self._json(self._sql.executionMetrics(eid))
            nodes = [
                SqlNode(n["name"], n["desc"], {
                    m["name"]: values[str(m["accumulatorId"])]
                    for m in n["metrics"] if str(m["accumulatorId"]) in values
                })
                for n in self._json(self._sql.planGraph(eid).allNodes())
            ]
            out.append(SqlExec(
                eid, jids, e["submissionTime"], e.get("completionTime"),
                e.get("physicalPlanDescription") or "", nodes,
            ))
        return out
