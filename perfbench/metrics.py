"""Metric names, units and the per-layer figures folded from a traced run.

``UNITS`` names every metric a run record can hold.  ``BENCHMARK.json``
gates a subset: its end-to-end metrics, and the per-layer metrics that are
measured on every workload.  A count or a byte total may read 0 where its
layer does not run (nothing is written on ``extract_mixed``) or be fixed by
the input's shape; a time may not, because a time that reads the same on
every run says nothing.  So the checkpoint and icelite timings, which exist
only where a workload writes, are kept in the record only.
"""

from __future__ import annotations

import statistics

from eventlog import plan_counts

UNITS = {
    # end to end
    "docs_per_s": "1/s", "job_s": "s", "setup_s": "s",
    "worker_rss_peak_mb": "MB", "docs_failed_frac": "ratio", "resume_s": "s",
    # session / sources
    "session.start_ms": "ms", "sources.gen_ms": "ms",
    "sources.input_bytes": "bytes",
    # operators.skew
    "skew.explode_task_ms": "ms", "skew.exchange_bytes": "bytes",
    "skew.exchange_records": "count", "skew.salt_groups": "count",
    # plans.pipeline kernel stage
    "kernel.tasks": "count", "kernel.task_ms_sum": "ms",
    "kernel.task_ms_p50": "ms", "kernel.task_ms_max": "ms",
    "kernel.task_skew": "ratio", "kernel.slot_util": "ratio",
    "kernel.py_init_ms": "ms", "kernel.py_start_ms": "ms",
    "kernel.py_run_ms": "ms", "kernel.py_bytes_in": "bytes",
    "kernel.py_bytes_out": "bytes", "kernel.gc_ms": "ms",
    "kernel.spill_bytes": "bytes",
    # reassembly
    "merge.shuffle_bytes": "bytes", "merge.task_ms_sum": "ms",
    "merge.task_ms_max": "ms", "plan.scans": "count",
    "plan.exchanges": "count",
    # kernel branches
    **{f"branch.{b}.{m}": u
       for b in ("text", "html", "pdf", "ocr_token", "pixel")
       for m, u in (("us_per_span", "us"), ("rows_in", "count"),
                    ("rows_out", "count"))},
    "branch.pixel.decode_us": "us", "branch.pixel.threshold_us": "us",
    "branch.pixel.recognize_us": "us", "branch.ocr_token.resolve_ratio":
    "ratio", "branch.pixel.accept_ratio": "ratio",
    "branch.framing.us_per_row": "us",
    # plans.checkpoint / sources.icelite
    "checkpoint.bucket_ms_p50": "ms", "checkpoint.bucket_ms_max": "ms",
    "checkpoint.jobs_per_bucket": "count", "checkpoint.lineage_ms": "ms",
    "checkpoint.buckets_processed": "count",
    "checkpoint.buckets_skipped": "count",
    "icelite.write_ms": "ms", "icelite.commit_ms": "ms",
    "icelite.bytes_written": "bytes", "icelite.files_written": "count",
    # the trace itself
    "trace.docs_per_s": "1/s", "trace.task_slot_ratio": "ratio",
    "trace.execute_self_ms": "ms",
}

# summed task time of the stages an action launched may exceed slots x the
# action's wall by this share before the reconciliation check fails the run
# (task clocks and the span clock are read by different processes)
RECONCILE_TOLERANCE = 0.05


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _ancestor(spans_by_id: dict, sid, names: set[str]):
    while sid is not None:
        s = spans_by_id[sid]
        if s["name"] in names:
            return s
        sid = s["parent"]
    return None


def iteration_layers(stages: list[dict], executions: dict, jobs: dict,
                     spans: list[dict], self_s: dict, slots: int) -> list[dict]:
    """Per timed iteration: stage, SQL-execution and span figures.  Only
    stages launched under a span named ``iter`` count."""
    by_id = {s["id"]: s for s in spans}
    iters = [s for s in spans if s["name"] == "iter"]
    out = []
    for it in iters:
        mine = [st for st in stages if st["span"] is not None
                and _ancestor(by_id, st["span"], {"iter"}) is it]
        layer = {k: [st for st in mine if st["layer"] == k]
                 for k in ("explode", "kernel", "merge")}
        kt = sorted(t for st in layer["kernel"] for t in st["task_ms"])
        k_wall = sum(st["complete_ms"] - st["submit_ms"]
                     for st in layer["kernel"])
        p50 = median(kt)

        def sql(name: str) -> float:
            return sum(st["sql"].get(name, 0.0) for st in layer["kernel"])

        actions = [s for s in spans if s["parent"] == it["id"]
                   and s["name"] in ("run.execute", "run.killed",
                                     "run.resume")]
        act_wall = sum(s["end"] - s["start"] for s in actions)
        # reconcile the action spans alone: the oracle check under the same
        # iteration reads the output table outside the timed wall
        act_ids = {s["id"] for s in actions}
        act_task_ms = sum(sum(st["task_ms"]) for st in mine
                          if st["span"] in act_ids)
        exec_ids = {st["sql_id"] for st in mine if st["sql_id"] is not None}
        kernel_exec = [executions[e] for e in sorted(exec_ids)
                       if "MapInArrow" in executions[e]["nodes"]]
        plan = (plan_counts(kernel_exec[0]["final_plan"]) if kernel_exec
                else {"scans": 0, "exchanges": 0})
        out.append({
            "skew.explode_task_ms": sum(sum(st["task_ms"])
                                        for st in layer["explode"]),
            "skew.exchange_bytes": sum(st["shuffle_write_bytes"]
                                       for st in layer["explode"]),
            "skew.exchange_records": sum(st["shuffle_write_records"]
                                         for st in layer["explode"]),
            "kernel.tasks": len(kt),
            "kernel.task_ms_sum": sum(kt),
            "kernel.task_ms_p50": p50,
            "kernel.task_ms_max": kt[-1] if kt else 0,
            "kernel.task_skew": kt[-1] / p50 if p50 else 0.0,
            "kernel.slot_util": sum(kt) / (slots * k_wall) if k_wall else 0.0,
            "kernel.py_init_ms": sql("time to initialize Python workers"),
            "kernel.py_start_ms": sql("time to start Python workers"),
            "kernel.py_run_ms": sql("time to run Python workers"),
            "kernel.py_bytes_in": sql("data sent to Python workers"),
            "kernel.py_bytes_out": sql("data returned from Python workers"),
            "kernel.gc_ms": sum(st["gc_ms"] for st in layer["kernel"]),
            "kernel.spill_bytes": sum(st["spill_bytes"]
                                      for st in layer["kernel"]),
            "merge.shuffle_bytes": sum(st["shuffle_read_bytes"]
                                       for st in layer["merge"]),
            "merge.task_ms_sum": sum(sum(st["task_ms"])
                                     for st in layer["merge"]),
            "merge.task_ms_max": max((t for st in layer["merge"]
                                      for t in st["task_ms"]), default=0),
            "plan.scans": plan["scans"], "plan.exchanges": plan["exchanges"],
            "trace.task_slot_ratio": (act_task_ms / (slots * act_wall * 1e3)
                                      if act_wall else 0.0),
            "trace.execute_self_ms": 1e3 * sum(self_s[s["id"]]
                                               for s in actions),
            "_exec_ids": sorted(exec_ids),
            "_jobs": {s["name"]: sum(1 for j in jobs.values()
                                     if j["span"] == s["id"])
                      for s in actions},
        })
    return out


def traced_layers(workload: str, event_dir: str, spans: list[dict],
                  iters: list[dict], slots: int) -> tuple[dict, list, dict]:
    """Fold the event log of a traced run -> (per-layer medians over the
    timed iterations, folded stages, self seconds by span id)."""
    import glob
    import os

    import eventlog as E
    from apple_ocr_backend_spark.sources.icelite import Table
    from tracing import self_times

    folded = E.fold(E.read_events(event_dir))
    stages = folded["stages"]
    selfs = self_times(spans, stages)
    per_it = iteration_layers(stages, folded["executions"], folded["jobs"],
                              spans, selfs, slots)
    layers = {k: median(p[k] for p in per_it)
              for k in per_it[0] if not k.startswith("_")}
    figs = [{"checkpoint.buckets_processed": 0,
             "checkpoint.buckets_skipped": 0,
             "checkpoint.jobs_per_bucket": 0, "icelite.files_written": 0,
             "icelite.bytes_written": 0}]
    if workload == "resume_skewed":
        figs = []
        for it, p in zip(iters, per_it):
            files = glob.glob(os.path.join(it["table"], "data", "*",
                                           "*.parquet"))
            figs.append(checkpoint_layers(
                Table(it["table"]).snapshots(), folded["executions"],
                p["_exec_ids"], p["_jobs"].get("run.resume", 0),
                it["processed"], it["skipped"], len(files),
                sum(os.path.getsize(f) for f in files)))
    layers.update({k: median(f[k] for f in figs) for k in figs[0]})
    return layers, stages, selfs


def checkpoint_layers(snapshots: list[dict], executions: dict,
                      exec_ids: list[int], jobs_in_resume: int,
                      processed: int, skipped: int, files: int,
                      nbytes: int) -> dict:
    """plans.checkpoint and sources.icelite figures of one resume_skewed
    iteration, from the committed snapshots and the SQL executions."""
    ex = [executions[e] for e in exec_ids if "end_ms" in executions[e]]

    def is_write(x):
        return any(n.startswith("Execute InsertInto") for n in x["nodes"])

    writes = sorted((x for x in ex if is_write(x)), key=lambda x: x["end_ms"])
    lineage = [x for x in ex if "MapInArrow" in x["nodes"]
               and not is_write(x)]
    commits = sorted(s["committed_at"] * 1e3 for s in snapshots)
    # each commit follows its bucket's data write; pair them in time order
    commit_ms = [c - max((w["end_ms"] for w in writes if w["end_ms"] <= c),
                         default=c) for c in commits]
    walls = [s["summary"]["wall_ms"] for s in snapshots]
    return {
        "checkpoint.bucket_ms_p50": median(walls),
        "checkpoint.bucket_ms_max": max(walls, default=0.0),
        "checkpoint.jobs_per_bucket": jobs_in_resume / processed
        if processed else 0.0,
        "checkpoint.lineage_ms": median(x["end_ms"] - x["start_ms"]
                                        for x in lineage),
        "checkpoint.buckets_processed": processed,
        "checkpoint.buckets_skipped": skipped,
        "icelite.write_ms": median(x["end_ms"] - x["start_ms"]
                                   for x in writes),
        "icelite.commit_ms": median(commit_ms),
        "icelite.bytes_written": nbytes,
        "icelite.files_written": files,
    }
