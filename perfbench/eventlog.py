"""Fold a Spark event log into one counter table per benchmark span.

The benchmark sets ``setJobDescription("<call id>|<span name>|<phase>")``
around every eager call and every action, so each Spark job, stage and
SQL execution in the log names the span that caused it. This module
reads the uncompressed, unrolled JSON-lines log
(``spark.eventLog.compress=false``: Spark 4.1 would otherwise write zstd,
which the standard library cannot read; ``spark.eventLog.rolling.enabled
=false``: one file per application) and sums, per description:

- ``jobs``: Spark jobs started;
- ``executor_cpu_s`` / ``gc_s``: task executor CPU time and JVM GC time;
- ``shuffle_bytes``: shuffle bytes written;
- ``driver_bytes``: serialized result bytes that result tasks sent to
  the driver (collects and Arrow transfers);
- ``python_s`` / ``python_bytes``: the MapInPandas / Arrow-UDF SQL
  metrics "time to run Python workers" and "data sent to Python
  workers";
- ``task_skew``: max / median task run time in the span's longest stage;
- ``job_intervals``: the [start, end] wall intervals of its jobs, so the
  caller can subtract their union from the span's wall time;
- ``candidates`` / ``verified``: the output rows of the verify step
  (the PIP ray-cast filter, the SimHash popcount filter, the MinHash
  Jaccard join) and of the node that feeds it, read from the executed
  plan's SQL metrics.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

# A verify node is recognised by the expression it evaluates: the PIP
# refine tests `_inside` before the ray cast, SimHash verifies with a
# popcount, MinHash with a shingle-set intersection.
VERIFY_MARKERS = ("_inside", "bit_count", "array_intersect")
VERIFY_NODES = ("Filter", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
ROWS = "number of output rows"
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def read_events(log_dir: str) -> list[dict]:
    """The events of the one application log in `log_dir`."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _walk(node):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


def _rows_metric(node) -> int | None:
    for m in node.get("metrics", ()):
        if m["name"] == ROWS:
            return m["accumulatorId"]
    return None


def _feeding_rows_metric(node) -> int | None:
    """The row counter of the nearest node below `node` (along its
    first, streamed child) that has one: the rows the verify step saw."""
    cur = node
    while cur.get("children"):
        cur = cur["children"][0]
        acc = _rows_metric(cur)
        if acc is not None:
            return acc
    return None


def _verify_pairs(plan) -> list[tuple[int, int]]:
    """(verified rows acc id, candidate rows acc id) for each verify
    node of an executed plan."""
    out = []
    for node in _walk(plan):
        if node["nodeName"] not in VERIFY_NODES:
            continue
        text = node.get("simpleString", "")
        if not any(m in text for m in VERIFY_MARKERS):
            continue
        v, c = _rows_metric(node), _feeding_rows_metric(node)
        if v is not None and c is not None:
            out.append((v, c))
    return out


def _number(v) -> float | None:
    """Accumulator updates are numbers, or decimal strings for SQL metrics."""
    if isinstance(v, (int, float)):
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def fold(events: list[dict]) -> dict[str, dict]:
    """Per job description: the counters listed in the module doc."""
    stage_desc: dict[int, str] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    stage_tasks: dict[int, list[int]] = defaultdict(list)
    job_desc: dict[int, str] = {}
    job_start: dict[int, int] = {}
    exec_desc: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    acc_total: dict[int, float] = defaultdict(float)
    table: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "executor_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_bytes": 0,
            "driver_bytes": 0,
            "python_s": 0.0,
            "python_bytes": 0,
            "job_intervals": [],
        }
    )

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            d = (e.get("Properties") or {}).get("spark.job.description")
            if d:
                job_desc[e["Job ID"]] = d
                job_start[e["Job ID"]] = e["Submission Time"]
                table[d]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            d = job_desc.get(e["Job ID"])
            if d:
                table[d]["job_intervals"].append((job_start[e["Job ID"]], e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            d = (e.get("Properties") or {}).get("spark.job.description")
            if d:
                stage_desc[e["Stage Info"]["Stage ID"]] = d
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            d = stage_desc.get(e["Stage ID"])
            if d is None:
                continue
            row = table[d]
            tm = e.get("Task Metrics") or {}
            row["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            row["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            row["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            if e.get("Task Type") == "ResultTask":
                row["driver_bytes"] += tm.get("Result Size", 0)
            stage_tasks[e["Stage ID"]].append(tm.get("Executor Run Time", 0))
            for a in e["Task Info"].get("Accumulables", ()):
                upd = _number(a.get("Update"))
                if upd is None:
                    continue
                acc_total[a["ID"]] += upd
                name = a.get("Name")
                if name == PY_TIME:
                    row["python_s"] += upd / 1e3
                elif name == PY_SENT:
                    row["python_bytes"] += upd
        elif kind == "SparkListenerSQLExecutionStart":
            exec_desc[e["executionId"]] = e.get("description") or ""
            exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", ()):
                acc_total[acc_id] += _number(value) or 0

    # task skew: the longest stage of each span, max / median task time
    longest: dict[str, tuple[int, int]] = {}
    for sid, d in stage_desc.items():
        if sid not in stage_span or not stage_tasks.get(sid):
            continue
        dur = stage_span[sid][1] - stage_span[sid][0]
        if d not in longest or dur > longest[d][0]:
            longest[d] = (dur, sid)
    for d, (_dur, sid) in longest.items():
        times = stage_tasks[sid]
        table[d]["task_skew"] = max(times) / max(statistics.median(times), 1)

    for xid, plan in exec_plan.items():
        d = exec_desc.get(xid)
        if not d or d not in table:
            continue
        for v_acc, c_acc in _verify_pairs(plan):
            row = table[d]
            row["verified"] = row.get("verified", 0) + acc_total.get(v_acc, 0)
            row["candidates"] = row.get("candidates", 0) + acc_total.get(c_acc, 0)
    return {d: dict(row) for d, row in table.items()}


def union_ms(intervals: list[tuple[int, int]]) -> float:
    """Total length of the union of [start, end] intervals (ms)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)
