"""Spark event-log parser: one row of counters per job label.

Reads an uncompressed, non-rolling event log (``spark.eventLog.enabled``
with ``spark.eventLog.compress=false``) and folds it into one
``LabelRow`` per label.  A job's label is its ``spark.jobGroup.id``,
else its first ``spark.job.tags`` entry.  Jobs and SQL executions that
carry neither (for example jobs launched from a plain
``ThreadPoolExecutor``, which does not inherit the caller's job
properties) are handed to an optional ``fallback(epoch_s)`` that
names the label that was active at their submission time; they are
counted in ``LabelRow.unlabeled_jobs``.

Per label:

* task metrics, summed over the label's tasks: executor run time,
  shuffle read/write bytes, memory/disk spill, and the largest per-task
  peak execution memory; plus every task's [launch, finish] interval,
  from which ``uncovered_s`` computes the time no task was running;
* SQL operator metrics, summed over the label's SQL executions: the
  Python-worker run/start/init times and bytes to and from Python
  (MapInPandas, ArrowEvalPython, ...), and ``number of output rows`` per
  operator name.

Usage: ``python3 perfbench/eventlog.py <event-log-file>`` prints the rows
as JSON.
"""

from __future__ import annotations

import json
import sys
from dataclasses import asdict, dataclass, field
from typing import Callable, Dict, Iterable, List, Optional, Tuple

SQL_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_AQE_METRICS = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# SQL metric name -> LabelRow field (values are converted to s / bytes)
PYTHON_METRICS = {
    "time to run Python workers": "python_worker_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
OUTPUT_ROWS = "number of output rows"
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class LabelRow:
    label: str
    jobs: int = 0
    unlabeled_jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    python_worker_s: float = 0.0
    python_start_s: float = 0.0
    python_init_s: float = 0.0
    bytes_to_python: int = 0
    bytes_from_python: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_memory_bytes: int = 0
    spill_disk_bytes: int = 0
    peak_execution_memory: int = 0
    operator_rows: Dict[str, int] = field(default_factory=dict)
    task_intervals: List[Tuple[float, float]] = field(default_factory=list)


def _label(props: dict) -> Optional[str]:
    group = props.get("spark.jobGroup.id")
    if group:
        return group
    # Spark tags every SQL job with its own "spark-session-..." tag
    tags = [t for t in (props.get("spark.job.tags") or "").split(",")
            if t and not t.startswith("spark-session-")]
    return tags[0] if tags else None


def _plan_metrics(node: dict, out: Dict[int, Tuple[str, str, str]]) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = (name, m["name"], m["metricType"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_events(path: str) -> Iterable[dict]:
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def parse(
    events: Iterable[dict],
    fallback: Optional[Callable[[float], Optional[str]]] = None,
) -> Dict[str, LabelRow]:
    """Fold event-log events into ``{label: LabelRow}``."""
    rows: Dict[str, LabelRow] = {}
    stage_label: Dict[int, str] = {}
    exec_label: Dict[int, str] = {}
    metric_def: Dict[int, Tuple[int, str, str, str]] = {}  # acc -> exec, node, name, type
    metric_val: Dict[int, float] = {}

    def row(label: str) -> LabelRow:
        return rows.setdefault(label, LabelRow(label))

    def resolve(label: Optional[str], epoch_ms: float) -> Tuple[str, bool]:
        if label:
            return label, False
        found = fallback(epoch_ms / 1000.0) if fallback else None
        return found or "", True

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label, unlabeled = resolve(_label(ev.get("Properties") or {}),
                                       ev["Submission Time"])
            r = row(label)
            r.jobs += 1
            r.unlabeled_jobs += unlabeled
            for sid in ev["Stage IDs"]:
                stage_label[sid] = label
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if label is None or not tm:
                continue
            r = row(label)
            info = ev["Task Info"]
            r.tasks += 1
            r.task_intervals.append((info["Launch Time"] / 1000.0,
                                     info["Finish Time"] / 1000.0))
            r.executor_run_s += tm["Executor Run Time"] / 1000.0
            rd = tm.get("Shuffle Read Metrics", {})
            r.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            r.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            r.spill_memory_bytes += tm.get("Memory Bytes Spilled", 0)
            r.spill_disk_bytes += tm.get("Disk Bytes Spilled", 0)
            r.peak_execution_memory = max(r.peak_execution_memory,
                                          tm.get("Peak Execution Memory", 0))
        elif kind == SQL_EXEC_START:
            exec_id = ev["executionId"]
            exec_label[exec_id], _ = resolve(ev.get("jobGroupId") or _label(
                {"spark.job.tags": ",".join(ev.get("jobTags") or [])}), ev["time"])
            found: Dict[int, Tuple[str, str, str]] = {}
            _plan_metrics(ev["sparkPlanInfo"], found)
            for acc, spec in found.items():
                metric_def[acc] = (exec_id, *spec)
        elif kind == SQL_AQE_UPDATE:
            found = {}
            _plan_metrics(ev["sparkPlanInfo"], found)
            for acc, spec in found.items():
                metric_def[acc] = (ev["executionId"], *spec)
        elif kind == SQL_AQE_METRICS:
            for m in ev["sqlPlanMetrics"]:
                metric_def.setdefault(int(m["accumulatorId"]), (
                    ev["executionId"], "", m["name"], m["metricType"]))
        elif kind == "SparkListenerStageCompleted":
            # SQL accumulators report their running total per stage
            for acc in ev["Stage Info"].get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Value" in acc:
                    acc_id = int(acc["ID"])
                    metric_val[acc_id] = max(metric_val.get(acc_id, 0.0),
                                             float(acc["Value"]))
        elif kind == SQL_DRIVER_ACCUMS:
            for acc_id, value in ev["accumUpdates"]:
                metric_val[int(acc_id)] = max(metric_val.get(int(acc_id), 0.0),
                                              float(value))

    for acc_id, value in metric_val.items():
        spec = metric_def.get(acc_id)
        if spec is None or spec[0] not in exec_label:
            continue
        exec_id, node, name, mtype = spec
        r = row(exec_label[exec_id])
        attr = PYTHON_METRICS.get(name)
        if attr is not None:
            scaled = value * _TIME_SCALE.get(mtype, 1.0)
            setattr(r, attr, getattr(r, attr) + (scaled if attr.endswith("_s") else int(scaled)))
        elif name == OUTPUT_ROWS and node:
            op = node.split(" (")[0].strip()
            r.operator_rows[op] = r.operator_rows.get(op, 0) + int(value)
    return rows


def covered_s(intervals: Iterable[Tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def uncovered_s(intervals: Iterable[Tuple[float, float]], start: float, end: float) -> float:
    """Time in [start, end] during which no task was running."""
    return max(0.0, (end - start) - covered_s(intervals, start, end))


def main() -> None:
    rows = parse(read_events(sys.argv[1]))
    out = []
    for r in rows.values():
        d = asdict(r)
        d.pop("task_intervals")
        out.append(d)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
