"""Per-layer ledger from Spark's own event log.

The benchmark labels every call into the library with
``sc.setJobDescription("<workload>:<layer>:<call>")`` and records the
call's wall-clock span. Spark writes, per job, the description it was
submitted under; per task, its executor run time and shuffle, spill
and I/O byte counts; and per SQL execution, its physical plan tree.
This module sums those numbers by span. It reads uncompressed logs
only (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class SpanTotals:
    """Numbers for one span instance (one call of one label)."""

    wall_s: float
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    sql_executions: int = 0  # those with an exchange
    aqe_executions: int = 0  # ... planned as AdaptiveSparkPlan
    job_intervals: list = field(default_factory=list)

    @property
    def driver_gap_s(self) -> float:
        """Span wall time during which no job of the span was running."""
        busy, end = 0.0, float("-inf")
        for a, b in sorted(self.job_intervals):
            if b <= end:
                continue
            busy += b - max(a, end)
            end = b
        return max(0.0, self.wall_s - busy / 1000.0)

    @property
    def aqe_plan_share(self) -> float:
        return self.aqe_executions / self.sql_executions if self.sql_executions else 0.0


def plan_node_names(info: dict) -> set[str]:
    """Every node name in a ``sparkPlanInfo`` tree."""
    names, stack = set(), [info]
    while stack:
        node = stack.pop()
        names.add(node.get("nodeName", ""))
        stack.extend(node.get("children", ()))
    return names


def read_events(path: str):
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def ledger(events, spans: list[tuple[str, float, float]]) -> list[tuple[str, SpanTotals]]:
    """Attribute jobs, tasks and SQL executions to ``spans``.

    ``spans`` are (label, start_ms, end_ms) in wall-clock epoch
    milliseconds, the clock Spark's events carry. A job belongs to the
    span whose label equals its description and whose interval holds
    its submission time; a SQL execution likewise by its start time.
    Returns one (label, totals) pair per span, in span order."""
    out = [(label, SpanTotals(wall_s=(b - a) / 1000.0)) for label, a, b in spans]
    by_label = defaultdict(list)
    for i, (label, a, b) in enumerate(spans):
        by_label[label].append((a, b, i))

    def find(label, t):
        for a, b, i in by_label.get(label, ()):
            if a <= t <= b:
                return out[i][1]
        return None

    job_span, job_start, stage_job = {}, {}, {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            span = find(desc, ev["Submission Time"])
            if span is None:
                continue
            job = ev["Job ID"]
            job_span[job] = span
            job_start[job] = ev["Submission Time"]
            span.jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            if job in job_span:
                job_span[job].job_intervals.append((job_start[job], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            span = job_span.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if span is None or not m:
                continue
            span.tasks += 1
            span.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            span.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            span.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            span.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            span.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            span.spill_bytes += m.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            span = find(ev.get("description"), ev.get("time", -1))
            names = plan_node_names(ev.get("sparkPlanInfo") or {})
            # AQE only wraps plans that exchange data, so executions
            # without an exchange say nothing about the regime
            if span is None or not any("Exchange" in n for n in names):
                continue
            span.sql_executions += 1
            span.aqe_executions += "AdaptiveSparkPlan" in names
    return out
