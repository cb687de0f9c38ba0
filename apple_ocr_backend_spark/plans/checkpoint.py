"""Resumable extraction runs: bucketed stage commits + per-partition lineage.

north_rule: "every stage writes per-partition lineage + extraction metrics to
an Iceberg checkpoint table so a killed job resumes from the last committed
snapshot without reprocessing."

Topology: the doc space is hash-bucketed (``pmod(xxhash64(doc_id), B)``); each
bucket is one commit unit.  A run processes only buckets absent from the
results table's committed snapshot summaries (the anti-join resume set —
reference analog: progressive early-stop skipping, SURVEY.md §3.3).  Each
commit carries

* lineage: one row per Spark partition of the extracted output
  (``spark_partition_id``, doc/span counts, bytes, wall ms) — the shape of
  FIXTURES.md §6 ``checkpoint_lineage``;
* metrics: per-kind span counts + mean candidate confidence — the shape of
  ``extraction_metrics`` (reference: ``app/db.py:124-154`` stats +
  ``app/utils/logging.py:91-135`` events).

The commit body (``commit_extracted``) is shared with the streaming front
end, so a stream epoch commits the same lineage as a bucket.
"""

from __future__ import annotations

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
    ``table`` with its lineage: persist, ONE collect of the per-partition
    lineage + per-kind metrics aggregate, ``table.append``, unpersist, so
    the extraction plan executes once for both the collect and the append.

    ``summary`` holds the unit's identity keys; every lineage row carries
    them plus ``partition_id, doc_count, span_count, bytes,
    ocr_span_count, wall_ms``, and the committed (and returned) summary
    adds ``docs_in, span_count, wall_ms``."""
    t0 = time.time()
    extracted = extracted.persist()
    try:
        # per-partition lineage + per-kind metrics in ONE pass over the output
        flat = extracted.select(
            "doc_id", F.spark_partition_id().alias("partition_id"),
            F.size("spans").alias("n_spans"),
            F.aggregate(F.col("spans"), F.lit(0),
                        lambda acc, s: acc + F.length(s["text"])).alias("bytes"),
            F.size(F.filter("spans", lambda s: s["kind"] == "ocr_text"))
             .alias("n_ocr"))
        rows = (flat.groupBy("partition_id")
                .agg(F.count("*").alias("doc_count"),
                     F.sum("n_spans").alias("span_count"),
                     F.sum("bytes").alias("bytes"),
                     F.sum("n_ocr").alias("ocr_span_count"))
                .collect())
        wall_ms = (time.time() - t0) * 1000.0
        lineage = [{**summary, "partition_id": r["partition_id"],
                    "doc_count": r["doc_count"],
                    "span_count": int(r["span_count"] or 0),
                    "bytes": int(r["bytes"] or 0),
                    "ocr_span_count": int(r["ocr_span_count"] or 0),
                    "wall_ms": wall_ms} for r in rows]
        summary = {**summary,
                   "docs_in": sum(r["doc_count"] for r in lineage),
                   "span_count": sum(r["span_count"] for r in lineage),
                   "wall_ms": wall_ms}
        table.append(extracted, operation=operation, summary=summary,
                     lineage=lineage)
    finally:
        extracted.unpersist()
    return summary


def run_resumable(spark: SparkSession, docs: DataFrame, table_dir: str,
                  cfg: ExtractConfig = DEFAULT_CONFIG, n_buckets: int = 8,
                  mode: str = "fused", run_id: str = "run",
                  fail_after: int | None = None,
                  concurrency: int = 2) -> dict:
    """Extract ``docs`` into the icelite table at ``table_dir``, one commit
    per doc bucket; skips buckets already committed (resume).

    Each bucket runs the one extraction plan (``plans.pipeline.
    extract_docs``) and commits per-partition lineage on its output.
    ``mode`` accepts only ``"fused"`` and is kept for callers that still
    pass it.

    Each bucket job's kernel exchange takes the default of
    ``operators.skew.repartition_salted``: one wave of
    ``defaultParallelism`` tasks, so every bucket pays the fixed
    Python-worker cost once per core and no more.

    Buckets run on a pool of ``concurrency`` threads, so one bucket's
    driver-only time (plan build, persist, the lineage collect) overlaps
    another bucket's stages on the same executors.  Each thread inherits
    the caller's job group, description and tags.  Each bucket's commit
    stays atomic (icelite serializes the commit point).  The first bucket
    error cancels every bucket not yet started, waits for those in flight
    (each commits whole or leaves a staging orphan for ``vacuum``) and is
    re-raised.

    ``fail_after`` (tests only): run only the first ``fail_after`` todo
    buckets, then raise once they have committed, simulating a kill
    between stage commits.

    Returns {"processed": [bucket ids worked this run, in bucket order],
    "skipped": [...], "table": Table}.
    """
    check_mode(mode)
    table = Table(table_dir)
    done = table.committed_units("bucket")
    docs_b = docs.withColumn("_bucket", bucket_of(F.col("doc_id"), n_buckets))
    docs_b = docs_b.persist()
    skipped = [b for b in range(n_buckets) if b in done]
    processed = [b for b in range(n_buckets) if b not in done][:fail_after]

    def work(b: int) -> None:
        try:
            sub = docs_b.filter(F.col("_bucket") == b).drop("_bucket")
            commit_extracted(table, extract_docs(sub, cfg),
                             f"extract/bucket={b}",
                             {"bucket": b, "run_id": run_id, "stage": "extract"})
        except BaseException:
            # cancel the queue before this thread can take another bucket
            pool.shutdown(wait=False, cancel_futures=True)
            raise

    try:
        # one wrapper per bucket: one shared wrapper shares one
        # local-properties object, and concurrent SQL executions then
        # overwrite each other's execution id
        targets = [inheritable_thread_target(spark)(work) for _ in processed]
        with ThreadPoolExecutor(min(concurrency, len(processed)) or 1) as pool:
            for f in [pool.submit(t, b) for t, b in zip(targets, processed)]:
                f.result()  # re-raises the first bucket error
    finally:
        docs_b.unpersist()
    if len(processed) == fail_after:  # all of them committed: the kill
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {"processed": processed, "skipped": skipped, "table": table}
