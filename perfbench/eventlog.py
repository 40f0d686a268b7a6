"""Spark event-log reader: per-layer stage metrics.

The benchmark tags every job it submits with
``setJobDescription("layer:<name>")``.  Spark copies the description
into each stage's submit properties, so every completed stage in the
(uncompressed, JSON-lines) event log can be attributed to one layer.

For each layer this sums the wall seconds of its jobs, from
submission to completion, and, over its completed stages: busy time (task
run time), JVM GC time, shuffle bytes and records written and read,
fetch wait, spill, input and output bytes, and the Python-worker time
and bytes of the ``MapInPandas`` nodes; and, over its SQL executions,
the bytes of the files its scans read.  SQL metrics are matched to
their plan node through the accumulator ids in the plans of the SQL
execution and adaptive-update events.

    python3 perfbench/eventlog.py <event-log dir or file>

prints the per-layer table as JSON.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict
from dataclasses import asdict, dataclass

LAYER_PREFIX = "layer:"

#: internal task metric → (LayerStats field, scale to the field's unit)
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("busy_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.shuffle.write.recordsWritten": ("shuffle_write_records", 1),
    "internal.metrics.shuffle.write.writeTime": ("shuffle_write_s", 1e-9),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.recordsRead": ("shuffle_read_records", 1),
    "internal.metrics.shuffle.read.fetchWaitTime": ("fetch_wait_s", 1e-3),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.input.recordsRead": ("input_records", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
}

#: Python-boundary SQL metrics (per MapInPandas node) → (field, scale)
_PYTHON_METRICS = {
    "time to start Python workers": ("python_worker_s", 1e-3),
    "time to initialize Python workers": ("python_worker_s", 1e-3),
    "time to run Python workers": ("python_worker_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
}


@dataclass
class LayerStats:
    jobs: int = 0
    #: wall seconds from each job's submission to its completion
    job_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    busy_s: float = 0.0
    gc_s: float = 0.0
    shuffle_stages: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_write_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    #: busy time of the stages that read shuffle data (post-exchange)
    shuffle_read_busy_s: float = 0.0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    python_worker_s: float = 0.0
    bytes_to_python: int = 0
    bytes_from_python: int = 0
    python_rows_out: int = 0
    #: "size of files read" of the layer's scans (a driver-side metric)
    files_read_bytes: int = 0

    def add(self, name: str, value: float) -> None:
        setattr(self, name, getattr(self, name) + value)


def read_events(path: str) -> list:
    """All events under ``path``: one event-log file, or a directory
    holding rolling logs (``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "events_*"), recursive=True),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def layers(events: list) -> dict:
    """layer name → LayerStats, for every ``layer:``-tagged stage that
    completed.  Untagged stages are ignored."""
    acc_node: dict = {}
    stage_tag: dict = {}
    job_start: dict = {}
    out: dict = defaultdict(LayerStats)
    # a SQL execution's driver-side metrics are posted before its first
    # job starts, so map executions to tags up front
    exec_tag: dict = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            if desc.startswith(LAYER_PREFIX) and "spark.sql.execution.id" in props:
                exec_tag.setdefault(
                    int(props["spark.sql.execution.id"]), desc[len(LAYER_PREFIX):]
                )
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(e["sparkPlanInfo"], acc_node)
        elif kind.endswith("DriverAccumUpdates"):
            tag = exec_tag.get(e["executionId"])
            for acc_id, value in e["accumUpdates"] if tag else ():
                if acc_node.get(acc_id, ("", ""))[1] == "size of files read":
                    out[tag].files_read_bytes += int(value)
        elif kind == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith(LAYER_PREFIX):
                out[desc[len(LAYER_PREFIX):]].jobs += 1
                job_start[e["Job ID"]] = (desc[len(LAYER_PREFIX):], e["Submission Time"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
            tag, t = job_start.pop(e["Job ID"])
            out[tag].job_s += (e["Completion Time"] - t) / 1e3
        elif kind == "SparkListenerStageSubmitted":
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith(LAYER_PREFIX):
                stage_tag[e["Stage Info"]["Stage ID"]] = desc[len(LAYER_PREFIX):]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            tag = stage_tag.get(info["Stage ID"])
            if tag is None or "Failure Reason" in info:
                continue
            st = out[tag]
            st.stages += 1
            st.tasks += info.get("Number of Tasks", 0)
            stage: dict = defaultdict(float)
            for a in info.get("Accumulables", ()):
                name, value = a.get("Name", ""), _num(a.get("Value"))
                if name in _TASK_METRICS:
                    fld, scale = _TASK_METRICS[name]
                    st.add(fld, value * scale)
                    stage[fld] += value * scale
                    continue
                node, metric = acc_node.get(a.get("ID"), ("", name))
                if metric in _PYTHON_METRICS:
                    fld, scale = _PYTHON_METRICS[metric]
                    st.add(fld, value * scale)
                elif node == "MapInPandas" and metric == "number of output rows":
                    st.python_rows_out += int(value)
            st.shuffle_stages += stage["shuffle_write_bytes"] > 0
            if stage["shuffle_read_records"] > 0:
                st.shuffle_read_busy_s += stage["busy_s"]
    return dict(out)


def main(argv: list) -> None:
    table = {k: asdict(v) for k, v in layers(read_events(argv[1])).items()}
    print(json.dumps(table, indent=1, sort_keys=True))


if __name__ == "__main__":
    main(sys.argv)
