#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout.  The session is built only through
``session.get_spark`` at ``local[<cpus>]``; set-up (session start, input
tables, oracle, a checked warm-up pass) is followed by timed iterations for
``--seconds``.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` turns on Spark's event log and reports the
per-layer metrics instead.  The last stdout line is the result object; the
full run record (config, steal ticks, spans, folded stages, every metric)
is appended to ``perfbench/out/records.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import glob
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CACHE = os.path.join(HERE, ".cache")
SETUP_REPS = 3
DRIVER_MEM = "3g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def source_identity() -> dict:
    """git sha when the checkout is a repository, and always a digest of
    the program's sources (a plain checkout has no git metadata)."""
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10,
                             check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "apple_ocr_backend_spark",
                                           "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


def isolate_env(tmp: str) -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the program from it.  Spark's scratch directory follows
    ``java.io.tmpdir`` when no local dir is configured, so no Spark setting
    is touched; the two JVM flags only move files the JVM writes."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # the JVM's perf-data file would go to /tmp whatever the tmpdir says
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    # the session factory reads the driver heap from here; its 24g default
    # exceeds the memory of a small benchmark host
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM and its Python workers, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext
    import procstat
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while procstat.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.descendants(os.getpid()):
        os.kill(pid, 9)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "apple_ocr_backend_spark",
                                       "session.py")):
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)

    import metrics as M
    import procstat
    from tracing import Tracer
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload}; one of "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    nproc = cpus()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate_env(os.path.join(work, "tmp"))
    event_dir = os.path.join(work, "eventlog")
    extra = None
    if args.trace:
        os.makedirs(event_dir)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": event_dir,
                 "spark.eventLog.compress": "false"}

    from apple_ocr_backend_spark.session import get_spark

    steal0 = procstat.steal_ticks()
    tracer = Tracer()
    with tracer.span("setup.session") as s_session:
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{nproc}]",
                          shuffle_partitions=2 * nproc, extra_conf=extra)
    tracer.sc = spark.sparkContext
    rss = procstat.WorkerRssPoller().start()
    # numpy seeds must fit in 32 bits
    run = W.Run(spark, tracer, work, CACHE, args.seed % 2**31, nproc)
    wl = W.WORKLOADS[args.workload](run)
    iters, error, warm_checked, warm_failed = [], None, 0, 0
    try:
        reps = []
        for rep in range(SETUP_REPS):
            with tracer.span("setup.inputs", rep=rep) as s:
                info = wl.prepare()
            reps.append(tracer.duration(s))
        with tracer.span("setup.oracle") as s_oracle:
            wl.expect()
        with tracer.span("setup.warmup") as s_warm:
            warm_checked, warm_failed = wl.warm()
        t_start = time.perf_counter()
        while True:
            with tracer.span("iter", i=len(iters)):
                it = wl.iterate(len(iters))
            iters.append(it)
            elapsed = time.perf_counter() - t_start
            if elapsed + it["wall_s"] > args.seconds:
                break
        branch = {}
        if args.trace:
            import branches as B
            with tracer.span("trace.branches"):
                rows, own = B.sample_rows(W.span_rows(wl.sample_docs()),
                                          args.seed)
                branch = B.measure(rows, B.plates_for(rows, args.seed))
                branch["_own_kinds"] = own
    except Exception as e:  # record the failure; every doc of it counts
        import traceback
        traceback.print_exc()
        error = repr(e)
    finally:
        rss.stop()
        stop_session(spark)
    steal = procstat.steal_ticks() - steal0

    docs = wl.stats.get("docs", 0)
    attempted = warm_checked + docs * len(iters) + (docs if error else 0)
    failed = warm_failed + sum(it["failed"] for it in iters) + (
        docs if error else 0)
    e2e = {}
    if iters:
        e2e = {
            "docs_per_s": M.median(it["docs"] / it["wall_s"] for it in iters),
            "job_s": M.median(it["job_s"] for it in iters),
            "setup_s": (tracer.duration(s_session) + M.median(reps)
                        + tracer.duration(s_oracle)
                        + tracer.duration(s_warm)),
            "worker_rss_peak_mb": rss.peak_mb,
            "docs_failed_frac": failed / attempted if attempted else 1.0,
        }
        if args.workload == "resume_skewed":
            e2e["resume_s"] = e2e["job_s"]

    layers, stages, checks = {}, [], {}
    if iters:
        layers = {"session.start_ms": 1e3 * tracer.duration(s_session),
                  "sources.gen_ms": 1e3 * M.median(reps),
                  "sources.input_bytes": info["input_bytes"],
                  "skew.salt_groups": wl.stats["salt_groups"]}
    if args.trace and iters and not error:
        traced, stages, selfs = M.traced_layers(
            args.workload, event_dir, tracer.spans, iters, nproc)
        layers.update(traced)
        layers["trace.docs_per_s"] = e2e["docs_per_s"]
        layers.update({k: v for k, v in branch.items()
                       if not k.startswith("_")})
        checks["reconciles"] = (0 < layers["trace.task_slot_ratio"]
                                <= 1 + M.RECONCILE_TOLERANCE)
        checks["own_branch_kinds"] = branch.get("_own_kinds")
        for sp in tracer.spans:
            sp["self_ms"] = 1e3 * selfs[sp["id"]]

    # a traced run whose stage task time does not fit in its slots x wall
    # (or whose stages were not folded at all) is not a correct run
    correct = (error is None and failed == 0 and bool(iters)
               and checks.get("reconciles", True))
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "run_id": run_id,
        "time": time.time(), **source_identity(),
        "config": {"master": f"local[{nproc}]", "cpus": nproc,
                   "shuffle_partitions": 2 * nproc,
                   "driver_mem": DRIVER_MEM, "setup_reps": SETUP_REPS,
                   "sizes": {k: v for k, v in vars(type(wl)).items()
                             if k.isupper()},
                   "python": platform.python_version(),
                   "pyspark": __import__("pyspark").__version__},
        "process_s": time.perf_counter() - t_main,
        "steal_ticks": steal, "correct": correct, "attempted": attempted,
        "failed": failed, "error": error,
        "iterations": [{k: v for k, v in it.items() if k != "table"}
                       for it in iters],
        "metrics": {k: {"value": v, "unit": M.UNITS[k]}
                    for k, v in {**e2e, **layers}.items()},
        "checks": checks, "spans": tracer.spans, "stages": stages,
    }
    with open(os.path.join(OUT, "records.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    if not iters:
        print(f"no timed iteration completed: {error}", file=sys.stderr)
        return 1

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    values = {**e2e, **layers}
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
