"""Fold a Spark event log into per-stage and per-SQL-execution rows.

Spark 4.1 names nearly every SQL stage ``$anonfun$withThreadLocalCaptured$2
at CompletableFuture.java:1768``, so a stage is classified by the operators
it ran instead: the RDD operator scopes in its ``RDD Info`` plus the plan
nodes whose SQL metrics its tasks updated.  Layers, in priority order:

* ``kernel``  – ran ``MapInArrow`` (the fused extraction kernel, with the
  map side of the partial merge);
* ``write``   – ran ``WriteFiles`` / ``InsertIntoHadoopFsRelationCommand``;
* ``explode`` – ran ``Generate`` (docs scan, salted explode and the
  ``(doc_id, salt)`` exchange write: ``operators.skew``);
* ``merge``   – ran ``ObjectHashAggregate`` without the kernel (the reduce
  side of ``reassemble_partials``);
* ``broadcast`` – ran ``BroadcastExchange`` over a scan (the media store);
* ``scan``    – any other scan (doc-id spine, cached-relation reads);
* ``tail``    – reads a shuffle (``AQEShuffleRead``) and nothing above;
* ``other``.

A stage belongs to the job that submitted it; the job's description names
the benchmark span that launched it (``tracing.job_label``).
"""

from __future__ import annotations

import glob
import json
import os

from tracing import span_id_of

_SQL = "org.apache.spark.sql.execution.ui."


def read_events(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``, in order.
    Rolling logs are ``eventlog_v2_<app>/events_<n>_<app>``."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    out = []
    for p in files:
        with open(p) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def classify(ops: set[str]) -> str:
    def has(prefix: str) -> bool:
        return any(o.startswith(prefix) for o in ops)

    if "MapInArrow" in ops:
        return "kernel"
    if "WriteFiles" in ops or has("Execute InsertInto"):
        return "write"
    if "Generate" in ops:
        return "explode"
    if "ObjectHashAggregate" in ops:
        return "merge"
    if "BroadcastExchange" in ops and has("Scan"):
        return "broadcast"
    if has("Scan") or "InMemoryTableScan" in ops:
        return "scan"
    if "AQEShuffleRead" in ops:
        return "tail"
    return "other"


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


def _ms(value, metric_type: str) -> float:
    return value / 1e6 if metric_type == "nsTiming" else float(value)


def fold(events: list[dict]) -> dict:
    """-> {"stages": [...], "executions": {id: {...}}, "jobs": {id: {...}}}.

    Each stage row carries its layer, span id, wall interval, per-task run
    times, summed task metrics and summed SQL metrics by metric name (times
    in ms)."""
    acc: dict[int, tuple[str, str, str]] = {}   # id -> (node, metric, type)
    executions: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    job_of_stage: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    completed: dict[int, dict] = {}

    def add_plan(ex: dict, plan: dict) -> None:
        for node in _walk(plan):
            ex["nodes"].add(node["nodeName"])
            for m in node.get("metrics", []):
                acc[m["accumulatorId"]] = (node["nodeName"], m["name"],
                                          m["metricType"])
        ex["final_plan"] = plan

    for e in events:
        kind = e["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            ex = executions.setdefault(e["executionId"], {"nodes": set()})
            ex.update(start_ms=e["time"], description=e.get("description"),
                      details=e.get("details", ""))
            add_plan(ex, e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = executions.setdefault(e["executionId"], {"nodes": set()})
            add_plan(ex, e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            executions.setdefault(e["executionId"], {"nodes": set()})[
                "end_ms"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "span": span_id_of(props.get("spark.job.description")),
                "sql_id": int(sql_id) if sql_id is not None else None,
                "start_ms": e["Submission Time"], "stages": e["Stage IDs"]}
            for s in e["Stage IDs"]:
                job_of_stage.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)
        elif kind == "SparkListenerStageCompleted":
            completed[e["Stage Info"]["Stage ID"]] = e["Stage Info"]

    stages = []
    for sid, info in sorted(completed.items()):
        scopes = {json.loads(r["Scope"])["name"].strip()
                  for r in info.get("RDD Info", []) if r.get("Scope")}
        ops, sql, task_ms = set(scopes), {}, []
        tot = {"gc_ms": 0, "spill_bytes": 0, "shuffle_write_bytes": 0,
               "shuffle_write_records": 0, "shuffle_read_bytes": 0,
               "output_bytes": 0}
        for t in tasks.get(sid, []):
            m = t.get("Task Metrics") or {}
            task_ms.append(m.get("Executor Run Time", 0))
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            w = m.get("Shuffle Write Metrics", {})
            tot["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
            tot["shuffle_write_records"] += w.get("Shuffle Records Written", 0)
            r = m.get("Shuffle Read Metrics", {})
            tot["shuffle_read_bytes"] += (r.get("Local Bytes Read", 0)
                                          + r.get("Remote Bytes Read", 0))
            tot["output_bytes"] += m.get("Output Metrics", {}).get(
                "Bytes Written", 0)
            for a in t["Task Info"].get("Accumulables", []):
                if a["ID"] in acc and "Update" in a:
                    node, name, mtype = acc[a["ID"]]
                    ops.add(node.strip())
                    sql[name] = sql.get(name, 0.0) + _ms(float(a["Update"]),
                                                         mtype)
        job = jobs.get(job_of_stage.get(sid), {})
        stages.append({
            "stage_id": sid, "job_id": job_of_stage.get(sid),
            "span": job.get("span"), "sql_id": job.get("sql_id"),
            "layer": classify(ops), "scopes": sorted(scopes),
            "ops": sorted(ops), "tasks": len(task_ms),
            "task_ms": sorted(task_ms),
            "submit_ms": info.get("Submission Time", 0),
            "complete_ms": info.get("Completion Time", 0),
            "sql": sql, **tot})
    for ex in executions.values():
        ex["nodes"] = sorted(ex["nodes"])
    return {"stages": stages, "executions": executions, "jobs": jobs}


def plan_counts(plan: dict) -> dict:
    """Scan and exchange operators in a (final, adaptive) SQL plan tree."""
    names = [n["nodeName"] for n in _walk(plan)]
    return {"scans": sum(n.startswith("Scan") for n in names),
            "exchanges": sum(n in ("Exchange", "BroadcastExchange")
                             for n in names)}
