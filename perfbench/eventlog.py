"""Spark event-log parser: per-span jobs, stages, bytes, spill, GC and
``ArrowEvalPython`` Python-worker time.

A span is a Spark job group: the benchmark tags every call it times with
``setJobGroup(<span>)``, and ``JobStart`` events carry the group id.  Tasks
map to spans through their stage's job.  SQL metrics (scan time, Python
worker time and bytes) arrive as named task accumulables, so no plan
walking is needed.  The log must be uncompressed and non-rolling
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
and read after ``SparkContext.stop()`` so every event is flushed.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_PREFIX = "org.apache.spark.sql.execution.ui."
# the insert node's Arguments line starts with the output path
_INSERT_PATH = re.compile(r"\nArguments: file:([^,\s]+),")

PYTHON_TIME = "time to run Python workers"  # ms (SQL "timing" metric)
PYTHON_SENT = "data sent to Python workers"  # bytes
PYTHON_RECV = "data returned from Python workers"  # bytes


@dataclass
class Span:
    jobs: int = 0
    stages: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    bytes_read: int = 0
    bytes_written: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    sql: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    task_times: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))
    # SQL executions that insert into a path: (path, wall ms)
    inserts: list[tuple[str, int]] = field(default_factory=list)

    @classmethod
    def merged(cls, spans: list[Span]) -> Span:
        out = cls()
        for s in spans:
            for name in ("jobs", "stages", "task_ms", "gc_ms", "bytes_read", "bytes_written",
                         "shuffle_write_bytes", "spill_bytes"):
                setattr(out, name, getattr(out, name) + getattr(s, name))
            for k, v in s.sql.items():
                out.sql[k] += v
            out.task_times.update(s.task_times)
            out.inserts += s.inserts
        return out

    def task_skew(self, min_tasks: int) -> float:
        """max / median task time in the worst stage with >= min_tasks tasks."""
        worst = 1.0
        for times in self.task_times.values():
            if len(times) >= min_tasks:
                med = statistics.median(times)
                if med > 0:
                    worst = max(worst, max(times) / med)
        return worst


def parse(path: str) -> dict[str, Span]:
    """Group id → aggregated span metrics (jobs without a group are dropped)."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_start: dict[int, tuple[int, str]] = {}
    spans: dict[str, Span] = defaultdict(Span)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                job_group[e["Job ID"]] = group
                sp = spans[group]
                sp.jobs += 1
                for s in e["Stage IDs"]:
                    stage_group[s] = group
                if "spark.sql.execution.id" in props:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(e["Stage Info"]["Stage ID"])
                if group is not None:
                    spans[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                sp = spans[group]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sp.task_times[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
                sp.task_ms += m.get("Executor Run Time", 0)
                sp.gc_ms += m.get("JVM GC Time", 0)
                sp.bytes_read += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sp.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                sp.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                sp.spill_bytes += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables") or []:
                    if acc.get("Metadata") == "sql" and "Update" in acc:
                        try:
                            sp.sql[acc["Name"]] += int(acc["Update"])
                        except (TypeError, ValueError):
                            pass
            elif kind == _SQL_PREFIX + "SparkListenerSQLExecutionStart":
                hit = _INSERT_PATH.search(e.get("physicalPlanDescription", ""))
                if hit:
                    exec_start[e["executionId"]] = (e["time"], hit.group(1))
            elif kind == _SQL_PREFIX + "SparkListenerSQLExecutionEnd":
                start = exec_start.pop(e["executionId"], None)
                group = exec_group.get(e["executionId"])
                if start is not None and group is not None:
                    spans[group].inserts.append((start[1], e["time"] - start[0]))
    return dict(spans)
