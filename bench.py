#!/usr/bin/env python
"""Benchmark harness: the driver line, N->4N scaling evidence and the
studies, all timed by one loop (``timed``).

    python bench.py                      # driver contract: ONE JSON line
    python bench.py --scaling fused 2,8  # N->4N evidence: fused|pixels|image
    python bench.py --study skew         # one entry of STUDIES
    python bench.py --render             # latest record per study, markdown

Default mode runs the headline catalog queries and fused extraction at
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test data, ``SF_DIR``) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints ONE JSON line::

    {"metric": "end_to_end_bench_sec", "value": <total>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "n_docs": ...,
     "docs_per_sec_fused": ...}

``--scaling`` is the north-rule evidence (BASELINE.json: N->4N executor
scaling efficiency >= 0.8; there is no real cluster, so parallelism levels
on one host): one point per core count on the identical replicated corpus
(``$SPARK_GRAFT_REPLICATE``, default 32), and the efficiency of every
adjacent pair.  ``--study`` runs one entry of ``STUDIES``.  Every point of
both runs in a fresh JVM (``fresh_jvm``), and each run appends ONE
sorted-key JSON record to ``BENCH.jsonl``: study, the point specs
(``params``), each point's resolved session config and per-iteration
seconds and steal ticks, the result, UTC time, git sha and sf_dir.
``BENCH.md`` is the frozen prose history of earlier rounds; no code writes
it.

The extraction workload is the flagship pipeline (plans.pipeline.extract_docs)
over the interleaved corpus derived JVM-side from the documents table
(sources.derived.docs_from_documents), replicated with distinct doc_ids so
the corpus is large enough that fixed JVM/session overhead does not mask
UDF-stage scaling.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
RECORDS = os.path.join(REPO, "BENCH.jsonl")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# driver default 4; scaling defaults to 32 so fixed per-job costs
# (planning, AQE, job scheduling) don't mask the scalable work
REPLICATE = os.environ.get("SPARK_GRAFT_REPLICATE")
BATCH_ROWS = "spark.sql.execution.arrow.maxRecordsPerBatch"
HOT_EVENTS = 2_000_000  # session_skew: events of the one hot user
IMAGE_DOCS = 6000  # image: synthetic docs through the ROI chain

# representative catalog entries (relational core + training-data ops)
DRIVER_QUERIES = [
    "pricing_summary", "top_customer_per_nation", "event_score_agg",
    "stats_cube", "sliding_windows", "text_stats", "token_stats_bpe",
    "quality_filter", "events_json", "dedup_exact",
    "dedup_minhash_lsh", "dedup_lsh_verified", "dedup_components",
    "dedup_simhash", "ann_bruteforce", "ann_ivf", "ann_ivf_fitted",
    "ann_ivf_nprobe", "serial_validate", "client_validate",
    "history_keyset",
    "multimodal_frames",
    # round-3 training-pipeline entries
    "sample_split", "pack_sequences", "quality_repetition",
    "pii_mask", "dedup_incremental", "events_asof",
    "events_sessionize", "events_sessionize_salted",
    "training_mix", "length_quantiles", "lang_id_multi",
    "decontaminate", "vocab_topk", "rolling_active_users",
    "quality_perplexity", "dedup_spans", "dedup_spans_clean",
    # round-5 sketch-tier siblings
    "rolling_active_users_approx", "length_quantiles_approx",
    "dedup_embedding",
    # round-5 real image payload path (PNG codec + numpy kernels)
    "image_rois", "image_rois_nms", "image_orientation",
    "image_ocr", "image_ocr_fallback",
    "extract_pipeline_pixels",
    # round-5 real audio payload path (WAV codec, chunk-walking)
    "audio_decode_stats",
    # round-5 real video payload path (AVI codec, nested-RIFF walk)
    "video_frame_stats", "video_ocr_tta"]


def make_spark(master: str, extra_conf: dict | None = None):
    """The product session (``session.get_spark``) at ``master``, with 2x
    cores shuffle partitions: enough waves for balance without drowning in
    per-task overhead.  Sharing the factory keeps bench and product config
    from drifting apart (BENCH.md "Heap attribution" and the pixels
    broadcast-threshold follow-up were both such drifts); ``extra_conf``
    carries only a study's independent variable."""
    import re
    from apple_ocr_backend_spark.session import get_spark
    m = re.match(r"local\[(\d+)\]", master)
    cores = int(m.group(1)) if m else CPUS
    return get_spark(master=master, app_name="bench",
                     shuffle_partitions=2 * cores, extra_conf=extra_conf)


def session_conf(spark) -> dict:
    """The live session's resolved ``spark.sql.*`` and driver memory, so
    config drift shows inside the record that it skewed."""
    return {k: v for k, v in spark.conf.getAll.items()
            if k.startswith("spark.sql.") or k == "spark.driver.memory"}


def replicated_docs(spark, sf_dir: str, replicate: int):
    """Interleaved corpus derived from the documents table, replicated
    JVM-side with distinct doc_ids (a map-only datagen, any-scale)."""
    from pyspark.sql import functions as F
    from apple_ocr_backend_spark.sources.derived import docs_from_documents
    # spread the 1-split scan before the span expressions: without this the
    # whole datagen front (expressions + replication + explode + shuffle
    # write) serializes in ONE task and caps measured scaling (PLANS.md
    # round-5 pixels audit)
    n = spark.sparkContext.defaultParallelism * 2
    docs = docs_from_documents(spark, sf_dir, num_partitions=n)
    if replicate <= 1:
        return docs
    reps = spark.range(replicate).select(F.col("id").alias("rep"))
    return (docs.crossJoin(reps)
            .select(F.concat_ws("_", "doc_id", "rep").alias("doc_id"), "spans"))


def giant_docs(spark, n_giants: int, spans_each: int):
    """Skew fixtures derived JVM-side: n_giants docs of spans_each pdf spans
    (FIXTURES.md section 5 analog, map-only datagen at any scale)."""
    from pyspark.sql import functions as F
    span = lambda i: F.struct(  # noqa: E731
        F.lit("pdf").alias("kind"),
        F.concat(F.lit("72,"), ((i % 50) * 12 + 40).cast("string"),
                 F.lit(",10|line "), i.cast("string")).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        i.cast("int").alias("offset"))
    return (spark.range(n_giants)
            .select(F.concat(F.lit("doc_giant_"), F.col("id")).alias("doc_id"),
                    F.transform(F.sequence(F.lit(0), F.lit(spans_each - 1)),
                                span).alias("spans")))


def run_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _steal_ticks() -> int | None:
    """Hypervisor steal ticks (cumulative, all cpus) from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def timed(run, iters: int, warmup: int = 0) -> list[list]:
    """The one timing loop: ``warmup`` untimed then ``iters`` timed calls
    of ``run``, each after clearing the Spark cache.  Returns ``[sec,
    steal ticks]`` per timed call.

    The clear is required: pipelines persist() shared subplans and Spark's
    CacheManager matches structurally identical plans, so without it a
    repeat run (or another query sharing a subplan) measures cache reads.
    Inputs meant to outlive the clear are localCheckpoint()ed.  Steal
    ticks tell a host steal spike from a real regression on this
    oversubscribed guest."""
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    out = []
    for i in range(warmup + iters):
        spark.catalog.clearCache()
        s0, t0 = _steal_ticks(), time.perf_counter()
        run()
        sec, s1 = time.perf_counter() - t0, _steal_ticks()
        if i >= warmup:
            out.append([round(sec, 3),
                        None if s0 is None or s1 is None else s1 - s0])
    return out


def median_sec(iters: list[list]) -> float:
    return statistics.median(sec for sec, _ in iters)


def best_sec(iters: list[list]) -> float:
    return min(sec for sec, _ in iters)


def time_queries(spark, names: list[str]) -> dict[str, list[list]]:
    """Two timed runs per catalog entry; callers report the best: the
    first execution of a query in a JVM pays whole-stage-codegen
    compilation and Python-worker forks (5-8 s one-offs on the heavier
    plans) that say nothing about the 100 TB regime where a stage runs
    for minutes."""
    from apple_ocr_backend_spark.plans.catalog import queries
    q = queries()
    out = {}
    for name in names:
        out[name] = timed(lambda: run_noop(q[name](spark, SF_DIR)), 2)
    return out


def extract_point(spark, mode: str = "fused", replicate: int = 32,
                  iters: int = 3) -> dict:
    """Extraction docs/s (``mode`` "pixels": image spans OCRed from the
    binary media store), median of ``iters`` after one warmup:
    first-execution effects (JIT, Python worker forks, GC adaptation) are
    ~10x steady state on this box and don't scale with cores."""
    from apple_ocr_backend_spark.plans.pipeline import extract_docs
    docs = replicated_docs(spark, SF_DIR, replicate)
    n_docs = docs.count()
    media = None
    if mode == "pixels":
        # replicated docs share the base corpus's payloads (a realistic
        # media-dedup shape).  The store is a stored INPUT table, not
        # per-query work: materialized once, so the per-run clear keeps
        # it; re-rendering PNGs per run was the dominant variance in the
        # pixels pair (BENCH.md "Reading the pixels 0.762")
        from apple_ocr_backend_spark.sources.derived import (
            media_from_documents)
        media = media_from_documents(spark, SF_DIR).localCheckpoint()
    its = timed(lambda: run_noop(extract_docs(docs, media=media)), iters, 1)
    sec = round(median_sec(its), 3)
    return {"iters": {mode: its},
            "result": {"n_docs": n_docs, "sec": sec,
                       "docs_per_sec": round(n_docs / sec, 2)}}


def image_point(spark) -> dict:
    """The full ROI chain (render PNG -> decode -> glare-reduce -> CLAHE ->
    bilateral -> adaptive threshold -> projection -> band extraction) over
    ``IMAGE_DOCS`` synthetic ids: docs/s, best of 2 after a warmup, and the
    ROI count (0 would mean the chain produced nothing)."""
    from apple_ocr_backend_spark.operators.image_extract import (
        extract_rois, render_media)
    cores = spark.sparkContext.defaultParallelism
    ids = (spark.range(IMAGE_DOCS).withColumnRenamed("id", "doc_id")
           .repartition(cores * 4, "doc_id"))
    rois = []
    its = timed(lambda: rois.append(
        extract_rois(render_media(ids, rotate=False)).count()), 2, 1)
    return {"iters": {"image": its},
            "result": {"docs": IMAGE_DOCS, "rois": rois[-1],
                       "docs_per_sec": round(IMAGE_DOCS / best_sec(its), 1)}}


def skew_point(spark) -> dict:
    """The spans-size-aware salting lever on giant multi-page docs: salting
    on (budget 256: a 200k-span doc spreads over ~781 salts) vs off (the
    whole doc in one task), median of 3 after a warmup.  Correctness under
    salting: tests/test_pipeline_parity.py::test_giant_doc_salting."""
    from apple_ocr_backend_spark.config import ExtractConfig
    from apple_ocr_backend_spark.plans.pipeline import extract_docs
    docs = (replicated_docs(spark, SF_DIR, 2)
            .unionByName(giant_docs(spark, 2, 200_000)).localCheckpoint())
    iters = {}
    for label, budget in (("salted", 256), ("unsalted", 1_000_000_000)):
        cfg = ExtractConfig(salt_span_budget=budget)
        iters[label] = timed(lambda: run_noop(extract_docs(docs, cfg)), 3, 1)
    return {"iters": iters,
            "result": {"n_docs": docs.count(), "giants": 2,
                       "spans_each": 200_000,
                       "speedup": round(median_sec(iters["unsalted"])
                                        / median_sec(iters["salted"]), 2)}}


def dedup_point(spark) -> dict:
    """Verified dedup cost tracks CANDIDATE COUNT, not corpus^2:
    ``jaccard_verify`` over LSH candidate subsets of shrinking size on the
    same corpus (an all-pairs plan would cost the same on every subset),
    median of 3 after a warmup."""
    from pyspark.sql import functions as F
    from apple_ocr_backend_spark.operators import dedup as DD
    from apple_ocr_backend_spark.plans.catalog import _dup_corpus
    corpus = (_dup_corpus(spark, SF_DIR)
              .filter((F.col("doc_id") % 100000) < 1000).localCheckpoint())
    cands = DD.lsh_candidate_pairs(corpus, "doc_id", "text",
                                   k=12, bands=4).localCheckpoint()
    iters, res = {}, {"n_docs": corpus.count(),
                      "n_candidates_full": cands.count()}
    for pct in (100, 50, 25):
        sub = cands.filter(F.pmod(F.xxhash64("id_a", "id_b"), F.lit(100))
                           < pct).localCheckpoint()
        iters[f"pct{pct}"] = timed(lambda: run_noop(
            DD.jaccard_verify(corpus, sub, "doc_id", "text")), 3, 1)
        res[f"pct{pct}"] = {"n_candidates": sub.count(),
                            "median_sec": median_sec(iters[f"pct{pct}"])}
    return {"iters": iters, "result": res}


def catalog_point(spark) -> dict:
    """Every catalog entry, best of 2, with each run's steal ticks beside
    it so a slow entry is attributable to the host rather than guessed
    at."""
    from apple_ocr_backend_spark.plans.catalog import queries
    iters = time_queries(spark, list(queries()))
    return {"iters": iters,
            "result": {"n_queries": len(iters),
                       "total_sec": round(sum(map(best_sec, iters.values())),
                                          3)}}


def session_skew_point(spark) -> dict:
    """Hot-entity sessionization: one user with ``HOT_EVENTS`` events (vs
    the sf corpus's normal users).  The single window sorts that user in
    one task; ``sessionize_two_phase`` bounds the slice by a 6 h bucket
    (row-identical output).  Median of 3 after a warmup."""
    from pyspark.sql import functions as F
    from apple_ocr_backend_spark.operators.temporal import (
        sessionize, sessionize_two_phase)
    base = (spark.read.parquet(f"{SF_DIR}/events.parquet")
            .select("event_id", "user_id", "ts", "value"))
    # hot user -1: 10 s cadence with an hour jump every 200 events ->
    # ~10k real sessions spread over ~7 months of coarse buckets
    hot = (spark.range(HOT_EVENTS).select(
        (F.lit(10_000_000) + F.col("id")).alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.col("id") * 10
            + F.floor(F.col("id") / 200) * 3600).alias("ts"),
        (F.col("id") % 97).cast("double").alias("value")))
    ev = base.unionByName(hot).localCheckpoint()
    iters = {
        "single_window": timed(lambda: run_noop(sessionize(ev, 30)), 3, 1),
        "two_phase": timed(lambda: run_noop(sessionize_two_phase(
            ev, 30, bucket_minutes=360)), 3, 1)}
    return {"iters": iters,
            "result": {"n_events": ev.count(), "hot_events": HOT_EVENTS,
                       "speedup": round(median_sec(iters["single_window"])
                                        / median_sec(iters["two_phase"]),
                                        2)}}


def _poll_worker_hwm(stop, result: dict, interval: float = 0.2) -> None:
    """Track the peak VmHWM (resident high-water, MB) across pyspark worker
    processes."""
    import glob
    peak = 0
    while not stop.is_set():
        for sd in glob.glob("/proc/[0-9]*"):
            try:
                with open(sd + "/cmdline", "rb") as f:
                    if b"pyspark.daemon" not in f.read():
                        continue
                with open(sd + "/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]) // 1024)
                            break
            except OSError:
                continue
        stop.wait(interval)
    result["peak_mb"] = peak


def memory_point(spark) -> dict:
    """Fused-kernel per-task memory: two 200k-span giant docs, salting OFF
    so each doc is ONE partition; peak worker VmHWM polled from /proc
    during one run.  The study varies Arrow ``maxRecordsPerBatch``: the
    default streams per batch; a value larger than the partition lifts
    only the row cap, and the 1 MiB byte cap (``session.get_spark``)
    still bounds each batch, so that point no longer reaches the round-2
    whole-partition footprint."""
    import threading
    from apple_ocr_backend_spark.config import ExtractConfig
    from apple_ocr_backend_spark.plans.pipeline import extract_docs
    docs = giant_docs(spark, 2, 200_000).localCheckpoint()
    cfg = ExtractConfig(salt_span_budget=1_000_000_000)
    stop, peak = threading.Event(), {}
    th = threading.Thread(target=_poll_worker_hwm, args=(stop, peak))
    th.start()
    try:
        its = timed(lambda: run_noop(extract_docs(docs, cfg)), 1)
    finally:
        stop.set()
        th.join()
    return {"iters": {"run": its},
            "result": {"n_docs": docs.count(),
                       "worker_peak_rss_mb": peak.get("peak_mb")}}


POINTS = {"extract": extract_point, "image": image_point, "skew": skew_point,
          "dedup": dedup_point, "catalog": catalog_point,
          "session_skew": session_skew_point, "memory": memory_point}


def point(spec: dict) -> dict:
    """One measurement in this process: a session at ``spec["master"]``
    (plus ``spec["extra_conf"]``), ``POINTS[spec["fn"]]`` with
    ``spec["args"]``, and the session's resolved config."""
    spark = make_spark(spec["master"], spec.get("extra_conf"))
    try:
        out = POINTS[spec["fn"]](spark, **spec.get("args", {}))
        out["conf"] = session_conf(spark)
        return out
    finally:
        spark.stop()


def fresh_jvm(spec: dict) -> dict:
    """``point(spec)`` in a new interpreter and JVM: one process cannot
    restart its SparkSession with another master reliably, and worker
    VmHWM is monotone per process.  Returns the child's last stdout
    line; Spark logs stream to stderr."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--child", json.dumps(spec)],
                       stdout=subprocess.PIPE, text=True, cwd=REPO)
    if p.returncode != 0:
        sys.stderr.write(p.stdout)
        raise RuntimeError(f"bench child failed: {spec}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def efficiency(points: list[tuple[int, float]]) -> dict[str, float]:
    """Scaling efficiency of each adjacent ``(cores, docs/s)`` pair:
    ``(d_j / d_i) / (m_j / m_i)``, 1.0 for perfect scaling."""
    return {f"{m_i}to{m_j}": round((d_j / d_i) / (m_j / m_i), 3)
            for (m_i, d_i), (m_j, d_j) in zip(points, points[1:])}


def _single(points: list[dict]) -> dict:
    return points[0]["result"]


def _rss_ratio(points: list[dict]) -> dict:
    small, big = (p["result"]["worker_peak_rss_mb"] for p in points)
    return {"worker_peak_rss_mb": [small, big],
            "rss_ratio": round(big / max(small, 1), 2)}


# name -> (point specs, one fresh JVM each; reducer over their outputs);
# a spec without "master" runs at local[$SPARK_GRAFT_CPUS]
STUDIES = {
    "skew": ([{"fn": "skew"}], _single),
    "dedup": ([{"fn": "dedup"}], _single),
    "catalog": ([{"fn": "catalog"}], _single),
    "session_skew": ([{"fn": "session_skew"}], _single),
    "image": ([{"fn": "image"}], _single),
    # fresh JVM per point: VmHWM is monotone per process
    "memory": ([{"fn": "memory", "master": "local[4]",
                 "extra_conf": {BATCH_ROWS: str(rows)}}
                for rows in (8192, 1_000_000)], _rss_ratio),
}


def scaling(kind: str, cores: list[int]) -> tuple[list[dict], object]:
    """The N->4N evidence as a study: one point per core count on the
    identical corpus, reduced to docs/s and each adjacent pair's
    efficiency."""
    fn, args = (("image", {}) if kind == "image" else
                ("extract", {"mode": kind, "replicate": int(REPLICATE or 32)}))
    specs = [{"fn": fn, "master": f"local[{n}]", "args": args} for n in cores]

    def reduce(points: list[dict]) -> dict:
        dps = [p["result"]["docs_per_sec"] for p in points]
        return {"docs_per_sec": dps,
                "efficiency": efficiency(list(zip(cores, dps)))}
    return specs, reduce


def _git_rev() -> str | None:
    """The checkout's commit, suffixed ``-dirty`` when the working tree
    differs from it, so a record names the code that produced it."""
    try:
        p = subprocess.run(["git", "describe", "--always", "--dirty"],
                           cwd=REPO, capture_output=True, text=True)
    except OSError:
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def append_record(path: str, rec: dict) -> None:
    """Append ``rec`` as one sorted-key JSON line; earlier lines are never
    rewritten."""
    with open(path, "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")


def run_study(study: str, specs: list[dict], reduce) -> dict:
    specs = [{"master": f"local[{CPUS}]", **s} for s in specs]
    points = [fresh_jvm(s) for s in specs]
    rec = {"study": study, "params": specs, "points": points,
           "result": reduce(points), "sf_dir": SF_DIR, "git": _git_rev(),
           "utc": datetime.datetime.now(datetime.timezone.utc)
           .isoformat(timespec="seconds")}
    append_record(RECORDS, rec)
    return rec


def render(lines) -> str:
    """The latest record per study (last line wins) as one markdown
    table."""
    latest = {}
    for line in lines:
        if line.strip():
            rec = json.loads(line)
            latest[rec["study"]] = rec
    rows = ["| study | utc | git | sf_dir | master | result |",
            "|---|---|---|---|---|---|"]
    for name, r in sorted(latest.items()):
        masters = ", ".join(s["master"] for s in r["params"])
        rows.append(f"| {name} | {r['utc']} | {r['git'] or ''} | "
                    f"{r['sf_dir']} | {masters} | "
                    f"`{json.dumps(r['result'], sort_keys=True)}` |")
    return "\n".join(rows)


def driver() -> dict:
    """The driver-contract line (see the module docstring)."""
    spark = make_spark(f"local[{CPUS}]")
    try:
        # warmup + median of 2: cold-run stalls on this guest are ~5x
        # steady state and would dominate a single sample
        ext = extract_point(spark, "fused", int(REPLICATE or 4), iters=2)
        qtimes = {name: best_sec(its) for name, its
                  in time_queries(spark, DRIVER_QUERIES).items()}
    finally:
        spark.stop()
    qtimes["extract_fused"] = ext["result"]["sec"]
    sf = SF_DIR.rstrip("/").split("/")[-1].replace("sf", "")
    return {"metric": "end_to_end_bench_sec",
            "value": round(sum(qtimes.values()), 3), "unit": "sec",
            "queries": qtimes, "sf": float(sf) if sf else None,
            "n_docs": ext["result"]["n_docs"],
            "docs_per_sec_fused": ext["result"]["docs_per_sec"]}


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description="Benchmark harness.")
    g = ap.add_mutually_exclusive_group()
    g.add_argument("--study", choices=sorted(STUDIES))
    g.add_argument("--scaling", nargs=2, metavar=("KIND", "CORES"),
                   help="fused|pixels|image and comma-separated core counts")
    g.add_argument("--render", action="store_true")
    g.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.child:
        out = point(json.loads(args.child))
    elif args.study:
        out = run_study(args.study, *STUDIES[args.study])["result"]
    elif args.scaling:
        kind, cores = args.scaling[0], [int(c) for c in
                                        args.scaling[1].split(",")]
        if kind not in ("fused", "pixels", "image"):
            ap.error(f"--scaling kind must be fused, pixels or image: {kind}")
        out = run_study(f"scaling_{kind}", *scaling(kind, cores))["result"]
    elif args.render:
        if not os.path.exists(RECORDS):
            ap.exit(message=f"no records yet: {RECORDS}\n")
        with open(RECORDS) as f:
            print(render(f))
        return
    else:
        out = driver()
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1:])
