"""Per-layer numbers for one traced rep, from its spans and the status store.

A ``LayerView`` joins the rep's spans to the Spark jobs tagged with their
job groups, those jobs' stages, and the SQL executions that ran them.
The workload picks the numbers for its layers from it; ``spark_wide``
gives the numbers every workload reports.
"""

from __future__ import annotations

import re
import statistics

from .sparkstats import StatusStore, parse_metric
from .tracing import Tracer, _covered, self_times

MB = 1e6


class LayerView:
    def __init__(self, store: StatusStore, tracer: Tracer, n_spans: int = 0):
        self.store = store
        self.spans = tracer.spans
        self.n_spans = n_spans
        self._name_of = {tracer.group_id(s): s.name for s in self.spans}
        self._span_of_group = {tracer.group_id(s): s for s in self.spans}
        self.jobs = store.jobs(set(self._name_of))
        self.stages = store.stages(self.jobs)
        self.execs = store.sql_executions({j.job_id for j in self.jobs})

    # -- selection ---------------------------------------------------------
    def jobs_of(self, name: str):
        return [j for j in self.jobs if self._name_of.get(j.job_group) == name]

    def _stages_of(self, name: str):
        return [s for s in self.stages if self._name_of.get(s.job_group) == name]

    def _execs_of(self, name: str):
        ids = {j.job_id for j in self.jobs_of(name)}
        return [e for e in self.execs if ids.intersection(e.job_ids)]

    def _nodes(self, name: str, node_name: str):
        return [
            n for e in self._execs_of(name) for n in e.nodes
            if n.name.strip() == node_name
        ]

    # -- numbers -----------------------------------------------------------
    def span_seconds(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def node_sum(self, name: str, node_name: str):
        """metric name -> that metric summed over the span's nodes of
        ``node_name`` (ms, bytes or a count)."""
        nodes = self._nodes(name, node_name)

        def total(metric: str) -> float:
            return sum(parse_metric(n.metrics.get(metric)) or 0.0 for n in nodes)

        return total

    def min_node_metric(self, name: str, node_name: str, desc_re: str,
                        metric: str) -> float:
        vals = [
            parse_metric(n.metrics.get(metric))
            for n in self._nodes(name, node_name)
            if re.search(desc_re, n.desc)
        ]
        vals = [v for v in vals if v is not None]
        return min(vals) if vals else 0.0

    def exchange_sum(self, name: str, desc_part: str, metric: str) -> float:
        """``metric`` summed over the span's Exchange nodes whose
        description contains ``desc_part``."""
        return sum(
            parse_metric(n.metrics.get(metric)) or 0.0
            for n in self._nodes(name, "Exchange") if desc_part in n.desc
        )

    def shuffle_mb(self, name: str) -> float:
        return sum(s.shuffle_write_bytes for s in self._stages_of(name)) / MB

    def spill_mb(self, name: str) -> float:
        return sum(s.spill_bytes for s in self._stages_of(name)) / MB

    def task_skew(self, name: str) -> float:
        """Max / median task time of the span's busiest stage."""
        stages = [s for s in self._stages_of(name) if s.tasks > 0]
        if not stages:
            return 0.0
        med, mx = self.store.task_median_max_ms(max(stages, key=lambda s: s.run_ms))
        return mx / med if med else 0.0

    def write_seconds(self, name: str, targets: tuple[str, ...]) -> float:
        """Summed duration of the span's SQL executions that write a
        table whose path ends in one of ``targets``."""
        total = 0.0
        for e in self._execs_of(name):
            if e.end_ms is None or "InsertIntoHadoopFsRelationCommand" not in e.plan_text:
                continue
            if any(re.search(re.escape(t) + r"(?:[,\s\]]|$)", e.plan_text)
                   for t in targets):
                total += (e.end_ms - e.submit_ms) / 1e3
        return total

    def write_node_names(self, name: str) -> set[str]:
        return {
            n.name.strip() for e in self._execs_of(name) for n in e.nodes
            if "InsertIntoHadoopFsRelationCommand" in n.name
        }

    def pipeline_metrics(self, name: str) -> dict[str, float]:
        """Scan + explode and the pre-embed round-robin repartition."""
        rr = "RoundRobinPartitioning"
        return {
            "pipeline.scan_ms": self.node_sum(name, "Scan parquet")("scan time"),
            "pipeline.repartition_write_ms": self.exchange_sum(name, rr, "shuffle write time"),
            "pipeline.repartition_mb": self.exchange_sum(name, rr, "shuffle bytes written") / MB,
        }

    def spark_wide(self, wall_s: float, cores: int, py_cpu_s: float) -> dict[str, float]:
        run_ms = sum(s.run_ms for s in self.stages)
        return {
            "spark.plan_ms": self.driver_ms_outside_jobs(),
            "spark.jobs": float(len(self.jobs)),
            "spark.tasks": float(sum(s.tasks for s in self.stages)),
            "spark.tasks_failed": float(sum(s.failed_tasks for s in self.stages)),
            "spark.task_cpu_s": sum(s.cpu_ms for s in self.stages) / 1e3,
            "spark.py_cpu_s": py_cpu_s,
            "spark.gc_ms": sum(s.gc_ms for s in self.stages),
            "spark.busy_share": run_ms / (wall_s * 1e3 * cores) if wall_s else 0.0,
        }

    def driver_ms_outside_jobs(self) -> float:
        """Summed over spans that ran jobs: the span's self time not
        covered by any of its own jobs (planning and driver-side work
        before and between its actions)."""
        own = self_times(self.spans)
        total = 0.0
        for group, span in self._span_of_group.items():
            jobs = [j for j in self.jobs if j.job_group == group
                    and j.submit_ms is not None and j.end_ms is not None]
            if not jobs:
                continue
            lo = span.start_epoch_ms
            hi = lo + span.duration * 1e3
            busy = _covered([(j.submit_ms, j.end_ms) for j in jobs], lo, hi)
            total += max(0.0, own[span.span_id] * 1e3 - busy)
        return total


def medians(samples: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for s in samples for k in s}
    return {
        k: statistics.median([s[k] for s in samples if k in s]) for k in keys
    }
