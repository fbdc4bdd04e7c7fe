"""Stage ledger from Spark's event log (works with the UI disabled).

Each completed stage is classified as ``scan``, ``python_udf``, ``exchange``,
``join`` or ``aggregate`` from the physical operators whose SQL metrics it
updated: the SQL execution events carry the plan tree with every metric's
accumulator id, and each stage's completion event lists the accumulators it
touched. Whole-stage codegen hides operator names from the RDD scopes, so
the accumulator mapping is what identifies a fused stage's operators.

Precedence when a stage holds several operators: a Python UDF dominates the
stage's cost, then a join, then an aggregate, then a scan; a stage with none
of these only moves shuffle data and is an ``exchange``.
"""

from __future__ import annotations

import json

CLASSES = ("scan", "python_udf", "exchange", "join", "aggregate")

_PY_BYTES_IN = "data sent to Python workers"
_PY_BYTES_OUT = "data returned from Python workers"
_SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"
_CPU_NS = "internal.metrics.executorCpuTime"


def read_events(path):
    """Events of one application from its (uncompressed) event-log file."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def classify(node_names):
    """Stage class from the names of the plan operators it ran."""
    names = list(node_names)
    if any("Python" in n or "InPandas" in n or "ArrowEval" in n for n in names):
        return "python_udf"
    if any("Join" in n or n == "CartesianProduct" for n in names):
        return "join"
    if any("Aggregate" in n for n in names):
        return "aggregate"
    if any("Scan" in n or n == "Range" for n in names):
        return "scan"
    return "exchange"


def _walk_plan(node, out):
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = node["nodeName"]
    for child in node.get("children", ()):
        _walk_plan(child, out)


def stages(events):
    """One dict per completed stage attempt: id, job group, class, submit
    and completion time (epoch s), JVM executor CPU, Python bytes in/out
    and shuffle bytes written."""
    acc_node = {}
    job_group = {}
    for e in events:
        plan = e.get("sparkPlanInfo")
        if plan is not None:
            _walk_plan(plan, acc_node)
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                job_group[sid] = group
    out = []
    for e in events:
        if e["Event"] != "SparkListenerStageCompleted":
            continue
        info = e["Stage Info"]
        if "Submission Time" not in info or "Completion Time" not in info:
            continue
        acc = {}
        names = set()
        for a in info.get("Accumulables", ()):
            node = acc_node.get(a["ID"])
            if node is not None:
                names.add(node)
            try:
                acc[a["Name"]] = acc.get(a["Name"], 0) + int(a["Value"])
            except (TypeError, ValueError):
                pass
        if not names:  # RDD-level job (checkpoint, cached read): use scopes
            for r in info.get("RDD Info", ()):
                if "Scope" in r:
                    names.add(json.loads(r["Scope"])["name"])
        out.append({
            "stage": info["Stage ID"],
            "group": job_group.get(info["Stage ID"]),
            "cls": classify(names),
            "start": info["Submission Time"] / 1000.0,
            "end": info["Completion Time"] / 1000.0,
            "cpu_s": acc.get(_CPU_NS, 0) / 1e9,
            "py_bytes_in": acc.get(_PY_BYTES_IN, 0),
            "py_bytes_out": acc.get(_PY_BYTES_OUT, 0),
            "shuffle_bytes": acc.get(_SHUFFLE_WRITE, 0),
        })
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def ledger(stage_rows, pass_wall_s):
    """Per-class stage walls and CPU for one pass, the Python and shuffle
    bytes, and ``driver_gap_s``: the pass wall not covered by any stage."""
    out = {}
    for cls in CLASSES:
        rows = [r for r in stage_rows if r["cls"] == cls]
        out["stage.{}.wall_s".format(cls)] = sum(r["end"] - r["start"] for r in rows)
        out["stage.{}.cpu_s".format(cls)] = sum(r["cpu_s"] for r in rows)
    out["stage.python_udf.bytes_in"] = sum(r["py_bytes_in"] for r in stage_rows)
    out["stage.python_udf.bytes_out"] = sum(r["py_bytes_out"] for r in stage_rows)
    out["stage.exchange.shuffle_bytes"] = sum(r["shuffle_bytes"] for r in stage_rows)
    covered = union_length([(r["start"], r["end"]) for r in stage_rows])
    out["driver_gap_s"] = max(pass_wall_s - covered, 0.0)
    stage_walls = sum(out["stage.{}.wall_s".format(c)] for c in CLASSES)
    out["stage.coverage"] = ((stage_walls + out["driver_gap_s"]) / pass_wall_s
                             if pass_wall_s > 0 else 0.0)
    return out
