"""Resumable extraction runs: bucketed stage commits + per-file lineage.

north_rule: "every stage writes per-partition lineage + extraction metrics to
an Iceberg checkpoint table so a killed job resumes from the last committed
snapshot without reprocessing."

Topology: the doc space is hash-bucketed (``pmod(xxhash64(doc_id), B)``); each
bucket is one commit unit.  A run processes only buckets absent from the
results table's committed snapshot summaries (the anti-join resume set —
reference analog: progressive early-stop skipping, SURVEY.md §3.3).  Each
bucket filters the input by its hash and runs the one extraction plan; no
input or output is cached.  Each commit writes the unit's output once and
carries

* lineage: one row per data file the write produced, which is one
  partition of the write (``partition_id`` is the file's ``part-NNNNN``),
  with doc/span counts, text bytes, OCR span count and wall ms — the shape
  of FIXTURES.md §6 ``checkpoint_lineage``.  It is read back from the
  written files in one aggregate before the snapshot commits, as an
  Iceberg manifest takes its per-data-file stats from the files it
  commits;
* a summary: the unit's identity keys plus ``docs_in``, ``span_count``
  and ``wall_ms``.

The commit body (``commit_extracted``) is shared with the streaming front
end, so a stream epoch commits the same lineage as a bucket.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..sources.icelite import Table
from .pipeline import check_mode, extract_docs


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def commit_extracted(table: Table, extracted: DataFrame, operation: str,
                     summary: dict) -> dict:
    """Commit one unit of extraction output (a bucket, a stream epoch) to
    ``table`` with its lineage: ``table.write`` runs the extraction plan
    once into a new data dir, ONE aggregate over that dir's files gives a
    lineage row per part file, and ``table.commit`` commits the snapshot.
    Nothing is cached, so AQE may coalesce the write's partitions.

    ``summary`` holds the unit's identity keys; every lineage row carries
    them plus ``partition_id`` (the part file's writing partition),
    ``doc_count, span_count, bytes, ocr_span_count, wall_ms``, and the
    committed (and returned) summary adds ``docs_in, span_count,
    wall_ms``.  ``wall_ms`` covers the write and the lineage read."""
    t0 = time.time()
    data_dir = table.write(extracted)
    # the known schema spares the job that would infer it from a footer
    written = extracted.sparkSession.read.schema(extracted.schema).parquet(
        os.path.join(table.path, data_dir))
    # a part file's part-NNNNN is the partition of the task that wrote it
    rows = (written
            .groupBy(F.regexp_extract("_metadata.file_name", r"^part-(\d+)", 1)
                     .cast("int").alias("partition_id"))
            .agg(F.count("*").alias("doc_count"),
                 F.sum(F.size("spans")).alias("span_count"),
                 F.sum(F.aggregate("spans", F.lit(0),
                                   lambda acc, s: acc + F.length(s["text"])))
                 .alias("bytes"),
                 F.sum(F.size(F.filter("spans",
                                       lambda s: s["kind"] == "ocr_text")))
                 .alias("ocr_span_count"))
            .collect())
    wall_ms = (time.time() - t0) * 1000.0
    lineage = [{**summary, **r.asDict(), "wall_ms": wall_ms} for r in rows]
    summary = {**summary,
               "docs_in": sum(r["doc_count"] for r in lineage),
               "span_count": sum(r["span_count"] for r in lineage),
               "wall_ms": wall_ms}
    table.commit([data_dir], operation, summary, lineage)
    return summary


def run_resumable(spark: SparkSession, docs: DataFrame, table_dir: str,
                  cfg: ExtractConfig = DEFAULT_CONFIG, n_buckets: int = 8,
                  mode: str = "fused", run_id: str = "run",
                  fail_after: int | None = None,
                  concurrency: int = 2) -> dict:
    """Extract ``docs`` into the icelite table at ``table_dir``, one commit
    per doc bucket; skips buckets already committed (resume).

    Each bucket filters ``docs`` by its hash bucket, runs the one
    extraction plan (``plans.pipeline.extract_docs``) on it and commits
    it with ``commit_extracted``.  Nothing is cached: each bucket scans
    the input again, and the pool lets those scans overlap.
    ``mode`` accepts only ``"fused"`` and is kept for callers that still
    pass it.

    Each bucket job's kernel exchange takes the default of
    ``operators.skew.repartition_salted``: one wave of
    ``defaultParallelism`` tasks, so every bucket pays the fixed
    Python-worker cost once per core and no more.

    Buckets run on a pool of ``concurrency`` threads, so one bucket's
    driver-only time (plan build, the lineage read-back) overlaps
    another bucket's stages on the same executors.  Each thread inherits
    the caller's job group, description and tags.  Each bucket's commit
    stays atomic (icelite serializes the commit point).  The first bucket
    error cancels every bucket not yet started, waits for those in flight
    (each commits whole or leaves an uncommitted dir for ``vacuum``) and
    is re-raised.

    ``fail_after`` (tests only): run only the first ``fail_after`` todo
    buckets, then raise once they have committed, simulating a kill
    between stage commits.

    Returns {"processed": [bucket ids worked this run, in bucket order],
    "skipped": [...], "table": Table}.
    """
    check_mode(mode)
    table = Table(table_dir)
    done = table.committed_units("bucket")
    skipped = [b for b in range(n_buckets) if b in done]
    processed = [b for b in range(n_buckets) if b not in done][:fail_after]

    def work(b: int) -> None:
        try:
            sub = docs.filter(bucket_of(F.col("doc_id"), n_buckets) == b)
            commit_extracted(table, extract_docs(sub, cfg),
                             f"extract/bucket={b}",
                             {"bucket": b, "run_id": run_id, "stage": "extract"})
        except BaseException:
            # cancel the queue before this thread can take another bucket
            pool.shutdown(wait=False, cancel_futures=True)
            raise

    # one wrapper per bucket: one shared wrapper shares one local-properties
    # object, and concurrent SQL executions then overwrite each other's
    # execution id
    targets = [inheritable_thread_target(spark)(work) for _ in processed]
    with ThreadPoolExecutor(min(concurrency, len(processed)) or 1) as pool:
        for f in [pool.submit(t, b) for t, b in zip(targets, processed)]:
            f.result()  # re-raises the first bucket error
    if len(processed) == fail_after:  # all of them committed: the kill
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {"processed": processed, "skipped": skipped, "table": table}
