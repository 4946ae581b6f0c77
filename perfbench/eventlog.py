"""Reduce a Spark event log to per-label totals.

The benchmark tags every action it times with ``setJobDescription(label)``,
so each job (and each SQL execution the job belongs to) points back to the
benchmark span that caused it. This module reads the uncompressed JSON-lines
event log once and sums, per label:

* task metrics of the label's stages: executor run and CPU time, JVM GC,
  memory and disk spill, peak execution memory, shuffle bytes, task count;
* SQL metrics of the label's executions, by plan node: the Python runner
  metrics (``time to run Python workers`` …) and the ``shuffle bytes
  written`` of every Exchange.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# SQL metric name → key in the reduced totals (Python runner metrics of
# MapInPandas / ArrowEvalPython nodes; Spark 4.1 names)
_PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.data_sent_bytes",
    "data returned from Python workers": "python.data_received_bytes",
}


def _metric_value(value: float, metric_type: str) -> float:
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    return value


def _walk(plan: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"], m["metricType"])
    for child in plan.get("children", ()):
        _walk(child, out)


def event_log_file(directory: str) -> str:
    """The single application log written under ``directory``."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    return os.path.join(directory, names[0])


def reduce_event_log(path: str) -> dict[str, dict[str, float]]:
    """label → {metric: total}; jobs without a description are dropped."""
    label_of_job: dict[int, str] = {}
    label_of_stage: dict[int, str] = {}
    label_of_exec: dict[int, str] = {}
    acc_meta: dict[int, tuple[str, str, str]] = {}
    acc_exec: dict[int, int] = {}
    acc_sum: dict[int, float] = defaultdict(float)
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind in (_SQL_START, _SQL_AQE):
                metas: dict[int, tuple[str, str, str]] = {}
                _walk(e["sparkPlanInfo"], metas)
                acc_meta.update(metas)
                for acc in metas:
                    acc_exec[acc] = e["executionId"]
            elif kind == _SQL_DRIVER:
                for acc, value in e["accumUpdates"]:
                    acc_sum[acc] += value
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                label = props.get("spark.job.description")
                if label is None:
                    continue
                label_of_job[e["Job ID"]] = label
                for sid in e["Stage IDs"]:
                    label_of_stage[sid] = label
                if "spark.sql.execution.id" in props:
                    label_of_exec[int(props["spark.sql.execution.id"])] = label
                totals[label]["spark.jobs"] += 1
                totals[label]["_submit_ms"] = min(
                    totals[label].get("_submit_ms", float("inf")),
                    e["Submission Time"])
            elif kind == "SparkListenerJobEnd":
                label = label_of_job.get(e["Job ID"])
                if label is not None:
                    totals[label]["_complete_ms"] = max(
                        totals[label].get("_complete_ms", 0),
                        e["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                # keep every SQL metric update: a plan node can first appear
                # in an adaptive update logged after its tasks ended (the
                # plan of a table cached during the query)
                for acc in e["Task Info"].get("Accumulables", ()):
                    if ("Update" in acc
                            and not acc.get("Name", "").startswith("internal.")):
                        acc_sum[acc["ID"]] += float(acc["Update"])
                label = label_of_stage.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if label is None or tm is None:
                    continue
                t = totals[label]
                t["spark.tasks"] += 1
                t["spark.executor_run_s"] += tm["Executor Run Time"] / 1e3
                t["spark.executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                t["spark.jvm_gc_s"] += tm["JVM GC Time"] / 1e3
                t["spark.spill_bytes"] += (tm["Memory Bytes Spilled"]
                                           + tm["Disk Bytes Spilled"])
                t["spark.peak_exec_mem_bytes"] = max(
                    t["spark.peak_exec_mem_bytes"], tm["Peak Execution Memory"])
                t["spark.shuffle_write_bytes"] += (
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"])

    for acc, value in acc_sum.items():
        label = label_of_exec.get(acc_exec.get(acc, -1))
        if label is None:
            continue
        node, name, metric_type = acc_meta[acc]
        key = _PYTHON_METRICS.get(name)
        if key is None and node == "Exchange" and name == "shuffle bytes written":
            key = "sql.exchange_shuffle_bytes"
        if key is not None:
            totals[label][key] += _metric_value(value, metric_type)
    for t in totals.values():
        if "_submit_ms" in t and "_complete_ms" in t:
            t["spark.job_span_s"] = (t["_complete_ms"] - t["_submit_ms"]) / 1e3
        t.pop("_submit_ms", None)
        t.pop("_complete_ms", None)
    return {k: dict(v) for k, v in totals.items()}


def ops_from_log(reduced: dict[str, dict], prefix: str = "op-") -> list[dict]:
    """Totals per timed operation, in operation order. Labels are
    ``<prefix><i>`` or ``<prefix><i>:<part>``; the totals of each part are
    also kept under ``parts``."""
    ops: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for label, totals in reduced.items():
        if not label.startswith(prefix):
            continue
        head, _, part = label[len(prefix):].partition(":")
        op = ops[int(head)]
        for k, v in totals.items():
            if k == "spark.peak_exec_mem_bytes":
                op[k] = max(op[k], v)
            else:
                op[k] += v
        if part:
            op.setdefault("parts", {})[part] = totals
    return [ops[i] for i in sorted(ops)]
