"""Per-call layer metrics from Spark's own event log.

Task accumulables are matched by their Spark metric names. A task belongs
to a job-path call through its stage's job, whose properties carry the
call id (``tracing.CALL_PROPERTY``) and ``spark.sql.execution.id``. Plan
node names come from the SQL execution events, so the rows an
``ArrowEvalPython`` node emitted can be told from every other node's
"number of output rows". The log must be written uncompressed: Spark
compresses it with zstd by default, and Python here has no zstd module.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
from collections import defaultdict

from tracing import CALL_PROPERTY

_SQL = "org.apache.spark.sql.execution.ui."
# task accumulables summed per call: Spark metric name -> our key
_TASK_SUMS = {
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.output.bytesWritten": "written_bytes",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
    "scan time": "scan_ms",
    "shuffle bytes written": "shuffle_bytes",
    "shuffle write time": "shuffle_write_ns",
}


def _events(log_dir: str):
    """Events of every application logged under ``log_dir``, in order.
    Spark 4.1 writes each application's log as a directory of rolled
    ``events_<n>_<app id>`` files."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def per_call(log_dir: str, batch_rows: int) -> dict[str, dict]:
    """call id -> raw totals for that call's jobs, stages and tasks.

    Plan events can follow the tasks they describe (AQE re-plans), and
    driver-side scan metrics precede the jobs that name the call, so the
    log is read whole before anything is attributed."""
    calls: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_call: dict[int, str] = {}
    exec_call: dict[int, str] = {}
    executions: dict[str, set] = defaultdict(set)
    acc_node: dict[int, tuple[str, str]] = {}
    driver_updates: list[tuple[int, int, int]] = []  # (execution, acc id, value)
    tasks: list[dict] = []
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind in (_SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(ev["sparkPlanInfo"], acc_node)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            call = props.get(CALL_PROPERTY)
            if call is None:
                continue
            calls[call]["jobs"] += 1
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                executions[call].add(exec_id)
                exec_call[int(exec_id)] = call
            for sid in ev["Stage IDs"]:
                stage_call[sid] = call
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            driver_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    for exec_id, acc_id, value in driver_updates:
        node, name = acc_node.get(acc_id, ("", ""))
        if exec_id in exec_call and node.startswith("Scan") and name == "size of files read":
            calls[exec_call[exec_id]]["scan_bytes"] += value

    udf_task_ms: dict[str, list[int]] = defaultdict(list)
    for ev in tasks:
        call = stage_call.get(ev["Stage ID"])
        if call is None:
            continue
        totals = calls[call]
        totals["tasks"] += 1
        info = ev["Task Info"]
        udf_rows = 0
        for acc in info.get("Accumulables", []):
            name, update = acc.get("Name"), acc.get("Update")
            try:  # SQL metrics are logged as strings, task metrics as numbers
                update = int(update)
            except (TypeError, ValueError):
                continue
            if name in _TASK_SUMS:
                totals[_TASK_SUMS[name]] += update
            if acc_node.get(acc["ID"]) == ("ArrowEvalPython", "number of output rows"):
                udf_rows += update
        if udf_rows:
            totals["udf_rows"] += udf_rows
            totals["batches"] += math.ceil(udf_rows / batch_rows)
            udf_task_ms[call].append(info["Finish Time"] - info["Launch Time"])
    for call, totals in calls.items():
        totals["sql_executions"] = len(executions[call])
        ms = udf_task_ms[call]
        totals["task_skew"] = max(ms) / max(statistics.median(ms), 1) if ms else 1.0
    return {c: dict(t) for c, t in calls.items()}
