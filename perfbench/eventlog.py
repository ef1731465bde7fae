"""Per-stage metrics from a Spark event log, attributed by job group.

The traced run switches on Spark's event log (one uncompressed JSON
file, one event per line) and parses it after the session stops.
Each completed stage becomes a :class:`Stage` carrying its job group
(from the ``SparkListenerJobStart`` that listed it), its submission
and completion times, and the task metrics Spark summed for it. The
Python/Arrow boundary comes from the SQL metrics of the plan nodes
that run Python workers: bytes sent and returned, and the rows those
nodes emit.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# internal task metric -> (Stage.metrics key, scale to base unit)
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_s", 1e-3),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_rows", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
}
_PYTHON_SQL_METRICS = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}
METRIC_KEYS = (
    "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "fetch_wait_s", "spill_bytes", "input_rows", "input_bytes",
    "python_sent_bytes", "python_returned_bytes", "python_rows",
)


@dataclass
class Stage:
    stage_id: int
    job_group: str | None
    submitted: float  # epoch seconds
    completed: float
    metrics: dict[str, float] = field(default_factory=dict)


def _python_row_metric_ids(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row counters of plan nodes that
    run Python workers (UDF evaluation, pandas/Arrow maps, UDTFs and
    Python data source scans)."""
    label = plan.get("nodeName", "") + " " + plan.get("simpleString", "")
    if any(word in label for word in ("Python", "Pandas", "Arrow")):
        for m in plan.get("metrics", ()):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", ()):
        _python_row_metric_ids(child, out)


def parse(path: str) -> list[Stage]:
    groups: dict[int, str | None] = {}
    python_rows: set[int] = set()
    stages: list[Stage] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev["Stage IDs"]:
                    groups.setdefault(sid, group)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _python_row_metric_ids(ev["sparkPlanInfo"], python_rows)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info or "Completion Time" not in info:
                    continue  # skipped stage
                m = dict.fromkeys(METRIC_KEYS, 0.0)
                m["tasks"] = float(info["Number of Tasks"])
                for acc in info.get("Accumulables", ()):
                    name, value = acc.get("Name"), acc.get("Value")
                    try:
                        value = float(value)
                    except (TypeError, ValueError):
                        continue
                    if name in _TASK_METRICS:
                        key, scale = _TASK_METRICS[name]
                        m[key] += value * scale
                    elif name in _PYTHON_SQL_METRICS:
                        m[_PYTHON_SQL_METRICS[name]] += value
                    elif acc.get("ID") in python_rows:
                        m["python_rows"] += value
                sid = info["Stage ID"]
                stages.append(Stage(sid, groups.get(sid), info["Submission Time"] / 1e3,
                                    info["Completion Time"] / 1e3, m))
    return stages


def totals(stages) -> dict[str, float]:
    out = dict.fromkeys(METRIC_KEYS, 0.0)
    out["stages"] = 0.0
    for s in stages:
        out["stages"] += 1
        for k, v in s.metrics.items():
            out[k] += v
    return out
