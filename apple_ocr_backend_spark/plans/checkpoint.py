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
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..sources.icelite import Table
from .pipeline import extract_docs


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets)).cast("int")


def run_resumable(spark: SparkSession, docs: DataFrame, table_dir: str,
                  cfg: ExtractConfig = DEFAULT_CONFIG, n_buckets: int = 8,
                  mode: str = "fused", run_id: str = "run",
                  fail_after: int | None = None,
                  concurrency: int = 1) -> dict:
    """Extract ``docs`` into the icelite table at ``table_dir``, one commit
    per doc bucket; skips buckets already committed (resume).

    The default mode is **fused** — the scaling path (staged pays
    serialized per-pass barriers), with per-bucket commit granularity and
    per-partition lineage on the extract output.
    ``mode="staged"`` additionally records per-OCR-pass lineage rows
    (semantic-fidelity path: the reference's progressive stages as
    anti-joins) at the cost of per-pass barrier jobs.

    Each bucket's kernel exchange gets ``max(defaultParallelism,
    ceil(4 x defaultParallelism / n_buckets))`` partitions: the whole run
    spends the kernel-task budget of one unbucketed job (4 waves,
    ``operators.skew.repartition_salted``), with at least one task per
    core per bucket, instead of ``n_buckets`` times that budget — every
    task pays a fixed Python-worker cost whatever its size.

    ``fail_after`` (tests only): raise after committing that many buckets,
    simulating a kill between stage commits (forces serial execution).

    ``concurrency`` > 1 processes buckets in parallel threads — Spark
    schedules the concurrent jobs across the same executors (free throughput
    when single-bucket jobs can't saturate the cluster); each bucket's
    commit stays atomic (icelite serializes the commit point).

    Returns {"processed": [bucket ids worked this run], "skipped": [...],
    "table": Table}.
    """
    table = Table(table_dir)
    done = table.committed_units("bucket")
    docs_b = docs.withColumn("_bucket", bucket_of(F.col("doc_id"), n_buckets))
    docs_b = docs_b.persist()
    skipped = [b for b in range(n_buckets) if b in done]
    todo = [b for b in range(n_buckets) if b not in done]
    cores = spark.sparkContext.defaultParallelism
    num_partitions = max(cores, math.ceil(4 * cores / n_buckets))
    processed: list[int] = []

    def work(b: int) -> None:
        t0 = time.time()
        sub = docs_b.filter(F.col("_bucket") == b).drop("_bucket")

        # staged mode: per-pass, per-partition lineage (north_rule: "every
        # stage writes per-partition lineage + extraction metrics").  The
        # per-pass A1 frames are persist()-ed by the staged plan, so these
        # counts are cheap reads of cached blocks.
        stage_rows: list[dict] = []

        def on_stage(p: int, a1):
            t_collect = time.time()
            rows_ = (a1.groupBy(F.spark_partition_id().alias("partition_id"))
                     .agg(F.count("*").alias("candidates"),
                          F.countDistinct("doc_id").alias("docs_active"),
                          F.countDistinct("doc_id", "span_pos")
                          .alias("spans_active"),
                          F.floor(F.avg("conf") * 1_000_000).cast("long")
                          .alias("avg_conf_q"))
                     .collect())
            stage_rows.extend(
                {"run_id": run_id, "stage": f"ocr_pass_{p}", "bucket": b,
                 "partition_id": r["partition_id"],
                 "doc_count": int(r["docs_active"]),
                 "span_group_count": int(r["spans_active"]),
                 "span_count": int(r["candidates"]),
                 "bytes": 0, "avg_conf_q": int(r["avg_conf_q"] or 0),
                 # times the lineage collect only — the pass itself runs
                 # inside the bucket job, whose wall time the extract row has
                 "collect_ms": (time.time() - t_collect) * 1000.0}
                for r in rows_)
            return a1

        extracted = extract_docs(
            sub, cfg, mode=mode, num_partitions=num_partitions,
            on_stage=on_stage if mode == "staged" else None
        ).persist()  # lineage collect + table append = ONE execution
        # per-partition lineage + per-kind metrics in ONE pass over the output
        flat = extracted.select(
            "doc_id", F.spark_partition_id().alias("partition_id"),
            F.size("spans").alias("n_spans"),
            F.aggregate(F.col("spans"), F.lit(0),
                        lambda acc, s: acc + F.length(s["text"])).alias("bytes"),
            F.size(F.filter("spans", lambda s: s["kind"] == "ocr_text"))
             .alias("n_ocr"))
        lineage_rows = (flat.groupBy("partition_id")
                        .agg(F.count("*").alias("doc_count"),
                             F.sum("n_spans").alias("span_count"),
                             F.sum("bytes").alias("bytes"),
                             F.sum("n_ocr").alias("ocr_span_count"))
                        .collect())
        wall_ms = (time.time() - t0) * 1000.0
        lineage = [{"run_id": run_id, "stage": "extract", "bucket": b,
                    "partition_id": r["partition_id"],
                    "doc_count": r["doc_count"],
                    "span_count": int(r["span_count"] or 0),
                    "bytes": int(r["bytes"] or 0),
                    "ocr_span_count": int(r["ocr_span_count"] or 0),
                    "wall_ms": wall_ms} for r in lineage_rows]
        summary = {
            "bucket": b, "run_id": run_id, "stage": "extract",
            "docs_in": sum(r["doc_count"] for r in lineage_rows),
            "span_count": sum(int(r["span_count"] or 0) for r in lineage_rows),
            "wall_ms": wall_ms,
        }
        if stage_rows:
            summary["n_pass_stages"] = len({r["stage"] for r in stage_rows})
        try:
            table.append(extracted, operation=f"extract/bucket={b}",
                         summary=summary, lineage=lineage + stage_rows)
        finally:
            extracted.unpersist()
        processed.append(b)

    try:
        if concurrency <= 1 or fail_after is not None:
            for b in todo:
                work(b)
                if fail_after is not None and len(processed) >= fail_after:
                    raise RuntimeError(
                        f"injected failure after {fail_after} buckets")
        else:
            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(max_workers=concurrency) as ex:
                list(ex.map(work, todo))  # re-raises worker exceptions
    finally:
        docs_b.unpersist()
    return {"processed": processed, "skipped": skipped, "table": table}
