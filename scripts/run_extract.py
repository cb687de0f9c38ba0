#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north_rule ship path).

Usage (cluster):

    scripts/submit.sh --input /path/docs_parquet --output /path/extracted_table
    # equivalently:
    spark-submit --py-files dist/apple_ocr_backend_spark.zip \
        scripts/run_extract.py --input ... --output ... \
        [--buckets 64] [--run-id r1] [--concurrency 4] \
        [--derive-from-documents]  # input is a documents.parquet dir instead

The job is resumable: each doc bucket commits one icelite snapshot with
the bucket's totals and one lineage row per written data file; re-running
with the same --output skips committed buckets (plans/checkpoint.py).  A
bucket's commit runs one plan, its write: the totals ride the write as an
Observation and each file's doc count is its Parquet footer's row count.
On a real cluster, point --output at shared storage.  A bucket is the
work a kill can lose, so raise --buckets to bound it; nothing is cached,
so bucket size is not bounded by executor memory.  Each bucket scans the
input again, so raising --buckets multiplies input scans.  --concurrency
bucket jobs run at once, so one bucket's driver-only time overlaps
another's stages; it defaults to ``run_resumable``'s default.  The
buckets in flight share one wave of ``defaultParallelism`` kernel tasks
(each gets ``ceil(defaultParallelism / in flight)``,
``operators/skew.py::repartition_salted``), so a run's kernel tasks
come to about --buckets / --concurrency waves, not one wave per bucket.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="docs parquet dir (doc_id, spans) — or a directory "
                         "containing documents.parquet with --derive-from-documents")
    ap.add_argument("--output", required=True, help="icelite table dir")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--derive-from-documents", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--concurrency", type=int, default=None,
                    help="buckets processed in parallel threads (Spark "
                         "schedules the concurrent jobs across executors); "
                         "default: run_resumable's")
    args = ap.parse_args()

    # Imports deferred until after spark-submit has added --py-files to path.
    from apple_ocr_backend_spark.session import get_spark
    from apple_ocr_backend_spark.plans.checkpoint import run_resumable
    from apple_ocr_backend_spark.sources.derived import docs_from_documents

    spark = get_spark(app_name="extract",
                      shuffle_partitions=args.shuffle_partitions)
    if args.derive_from_documents:
        docs = docs_from_documents(spark, args.input)
    else:
        docs = spark.read.parquet(args.input)

    threads = {} if args.concurrency is None else {
        "concurrency": args.concurrency}
    res = run_resumable(spark, docs, args.output, n_buckets=args.buckets,
                        run_id=args.run_id, **threads)
    last = res["table"].last_snapshot()
    print(json.dumps({
        "processed_buckets": res["processed"],
        "skipped_buckets": res["skipped"],
        "last_snapshot": last["snapshot_id"] if last else None,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
