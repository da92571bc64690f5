"""Spark event log -> per-stage-class and per-job table of one extract() call.

Only SQL executions that start inside the extract() window count. Each is
given a role from its physical plan: the span write, the manifest append,
the committed-bucket read, or the stats read-back (the only other query
extract() runs). Stages of the write are then attributed to the costliest
operator they contain, found by mapping the stage's accumulators to the
plan nodes that own them (AQE re-plans included); where a stage runs more
than one Python UDF (the union of branches does), the one whose own
"time to run Python workers" is largest.
"""

from __future__ import annotations

import json
import statistics

STAGE_CLASSES = (
    "scan_explode", "strip_udf", "salt_exchange", "ocr_udf", "pdf_udf",
    "join_back", "bucket_write", "stats_readback", "manifest",
)
JOB_ROLES = ("read_committed", "write", "stats", "manifest")

_SQL = "org.apache.spark.sql.execution.ui."


# (class, plan node, text in the node's description) of each Python UDF
_UDFS = (
    ("ocr_udf", "ArrowEvalPython", "ocr_udf("),
    ("strip_udf", "ArrowEvalPython", "strip_udf("),
    ("pdf_udf", "MapInPandas", ""),
)
_UDF_TIME = "time to run Python workers"


def _operator_class(accs: dict[int, float], acc_node: dict) -> str:
    """The costliest operator of one stage: the Python UDF that ran longest
    in it, by its own run-time metric; else the write, the join-back, the
    salt shuffle; what is left only scans and explodes."""
    nodes, udf_time = set(), {}
    for acc, value in accs.items():
        if acc not in acc_node:
            continue
        name, text, metric = acc_node[acc]
        nodes.add((name, text))
        for cls, op, mark in _UDFS:
            if name == op and mark in text and metric == _UDF_TIME:
                udf_time[cls] = udf_time.get(cls, 0.0) + value
    if udf_time:
        return max(udf_time, key=udf_time.get)

    def has(name, text=""):
        return any(n == name and text in s for n, s in nodes)

    if has("Execute InsertIntoHadoopFsRelationCommand"):
        return "bucket_write"
    if has("ShuffledHashJoin") or has("SortMergeJoin"):
        return "join_back"
    if has("Exchange", "_salt"):
        return "salt_exchange"
    return "scan_explode"


def _role(plan: str) -> str:
    if "InsertIntoHadoopFsRelationCommand" in plan:
        return "manifest" if "/_manifest" in plan else "write"
    return "read_committed" if "/_manifest" in plan else "stats"


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def parse(path: str, t0_ms: int, t1_ms: int) -> dict[str, float]:
    """Metrics of the extract() call that ran from ``t0_ms`` to ``t1_ms``
    (epoch milliseconds) in the event log at ``path``."""
    acc_node: dict[int, tuple[str, str, str]] = {}
    exec_role: dict[int, str] = {}
    exec_span: dict[int, list[int]] = {}
    stage_exec: dict[int, int] = {}
    stage_acc: dict[int, dict[int, float]] = {}
    tasks: dict[int, list[tuple[int, int, int]]] = {}
    jobs: dict[int, list[int]] = {}

    def walk(node):
        for m in node.get("metrics", []):
            acc_node[m["accumulatorId"]] = (node["nodeName"], node["simpleString"], m["name"])
        for c in node.get("children", []):
            walk(c)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == _SQL + "SparkListenerSQLExecutionStart":
                walk(e["sparkPlanInfo"])
                if t0_ms <= e["time"] <= t1_ms:
                    exec_role[e["executionId"]] = _role(e["physicalPlanDescription"])
                    exec_span[e["executionId"]] = [e["time"], e["time"]]
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                walk(e["sparkPlanInfo"])
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in exec_span:
                    exec_span[e["executionId"]][1] = e["time"]
            elif kind == "SparkListenerJobStart":
                ex = e.get("Properties", {}).get("spark.sql.execution.id")
                if ex is not None and int(ex) in exec_role:
                    for s in e["Stage IDs"]:
                        stage_exec[s] = int(ex)
                    jobs[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]][1] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics")
                if tm:
                    tasks.setdefault(e["Stage ID"], []).append((
                        tm["Executor Run Time"],
                        tm["Executor CPU Time"],
                        tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    ))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stage_acc[info["Stage ID"]] = {
                    a["ID"]: float(a.get("Value") or 0) for a in info["Accumulables"]
                }

    per_class: dict[str, list[int]] = {c: [] for c in STAGE_CLASSES}
    for stage, ex in stage_exec.items():
        if stage not in tasks:  # skipped: AQE reused an earlier stage's output
            continue
        role = exec_role[ex]
        if role == "stats":
            cls = "stats_readback"
        elif role == "manifest":
            cls = "manifest"
        elif role == "write":
            cls = _operator_class(stage_acc.get(stage, {}), acc_node)
        else:
            continue
        per_class[cls].append(stage)

    out: dict[str, float] = {}
    for cls, stages in per_class.items():
        rows = [t for s in stages for t in tasks[s]]
        out[f"stage.{cls}.run_s"] = sum(r[0] for r in rows) / 1e3
        # JVM task-thread CPU; Python UDF CPU runs in the workers, outside it
        out[f"stage.{cls}.cpu_s"] = sum(r[1] for r in rows) / 1e9
        out[f"stage.{cls}.shuffle_write_mb"] = sum(r[2] for r in rows) / 2**20
        skew = 0.0
        if stages:
            costliest = max(stages, key=lambda s: sum(r[0] for r in tasks[s]))
            runs = [r[0] for r in tasks[costliest]]
            skew = max(runs) / max(statistics.median(runs), 1)
        out[f"stage.{cls}.task_skew"] = skew

    for role in JOB_ROLES:
        spans = [exec_span[ex] for ex, r in exec_role.items() if r == role]
        out[f"job.{role}_s"] = sum(b - a for a, b in spans) / 1e3
    out["job.driver_gap_s"] = (
        (t1_ms - t0_ms) - _covered_ms(list(jobs.values()), t0_ms, t1_ms)
    ) / 1e3
    return out
