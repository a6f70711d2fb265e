"""Fold a Spark event log into per-layer executor metrics.

The benchmark tags every call it makes with
``setJobGroup(workload, "<module>.<call>/<phase>")``; each job carries
that description, so its stages and tasks are attributed to the layer
(``queries``, ``operators``) and phase (``build``, ``exec``) that
launched it. Only jobs submitted inside the timed window count.
The log must be uncompressed JSON lines (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

GROUPS = ("queries.build", "queries.exec", "operators.exec")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_MB = 2**20


@dataclass
class Span:
    """One timed call: ``module.call`` in ``phase``, wall-clock ms."""

    module: str
    call: str
    phase: str
    start_ms: float
    end_ms: float

    @property
    def group(self) -> str:
        return f"{self.module}.{self.phase}"


@dataclass
class _Group:
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    spill: float = 0.0
    failed: int = 0
    jobs: int = 0
    stage_task_ms: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Accumulator ids of the Python/Arrow boundary nodes' row and byte metrics."""
    name = plan.get("nodeName", "")
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        for m in plan.get("metrics", []):
            if m["name"] in ("number of output rows", "data sent to Python workers", "data returned from Python workers"):
                out[m["accumulatorId"]] = "rows" if m["name"] == "number of output rows" else "bytes"
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def fold(
    path: str, spans: list[Span], window: tuple[float, float], cores: int, n_ops: int
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Per-op layer metrics for the jobs submitted within ``window`` (ms),
    and the [bytes, records] written by each call in that window."""
    lo, hi = window
    stage_group: dict[int, tuple[str, str]] = {}
    written: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    groups = {g: _Group() for g in GROUPS}
    py_acc: dict[int, str] = {}
    job_starts: dict[str, list[float]] = defaultdict(list)
    udf_rows = udf_bytes = 0.0
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get("spark.job.description", "")
                module, _, rest = desc.partition(".")
                call, _, phase = rest.rpartition("/")
                g = f"{module}.{phase}"
                if g in groups and lo <= ev["Submission Time"] <= hi:
                    groups[g].jobs += 1
                    job_starts[g].append(ev["Submission Time"])
                    for s in ev["Stage IDs"]:
                        stage_group[s] = (g, call)
            elif kind in (_SQL_START, _SQL_AQE):
                _python_accumulators(ev["sparkPlanInfo"], py_acc)
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                gname, call = stage_group[ev["Stage ID"]]
                g = groups[gname]
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                g.run_ms += run_ms
                g.cpu_ns += m.get("Executor CPU Time", 0)
                g.gc_ms += m.get("JVM GC Time", 0)
                g.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                read = m.get("Shuffle Read Metrics", {})
                g.shuffle_read += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
                g.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                output = m.get("Output Metrics", {})
                written[call][0] += output.get("Bytes Written", 0)
                written[call][1] += output.get("Records Written", 0)
                g.failed += ev["Task End Reason"]["Reason"] != "Success"
                g.stage_task_ms[ev["Stage ID"]].append(run_ms)
                for acc in ev["Task Info"].get("Accumulables", []):
                    kind_acc = py_acc.get(acc["ID"])
                    if kind_acc == "rows":
                        udf_rows += float(acc.get("Update", 0))
                    elif kind_acc == "bytes":
                        udf_bytes += float(acc.get("Update", 0))

    n = max(1, n_ops)
    out: dict[str, float] = {}
    for name, g in groups.items():
        wall_ms = sum(s.end_ms - s.start_ms for s in spans if s.group == name)
        # the worst stage is the one whose slowest task is slowest (it sets the stage's wall)
        multi = [t for t in g.stage_task_ms.values() if len(t) > 1]
        worst = max(multi, key=max, default=None)
        out.update(
            {
                f"{name}.task_run_s": g.run_ms / 1e3 / n,
                f"{name}.task_cpu_s": g.cpu_ns / 1e9 / n,
                f"{name}.gc_s": g.gc_ms / 1e3 / n,
                f"{name}.shuffle_write_mb": g.shuffle_write / _MB / n,
                f"{name}.shuffle_read_mb": g.shuffle_read / _MB / n,
                f"{name}.spill_mb": g.spill / _MB / n,
                f"{name}.failed_tasks": g.failed,
                f"{name}.core_util": g.run_ms / (wall_ms * cores) if wall_ms else 0.0,
                f"{name}.skew": max(worst) / max(1.0, statistics.median(worst)) if worst else 0.0,
            }
        )
    # analysis and planning: from the exec call's start to its first job
    plans = []
    for s in spans:
        if s.group == "queries.exec":
            first = [t for t in job_starts["queries.exec"] if s.start_ms <= t <= s.end_ms]
            if first:
                plans.append(min(first) - s.start_ms)
    out.update(
        {
            "queries.build_jobs": groups["queries.build"].jobs / n,
            "queries.plan_s": sum(plans) / 1e3 / n,
            "functions.udf_rows": udf_rows / n,
            "functions.udf_mb": udf_bytes / _MB / n,
        }
    )
    return out, dict(written)
