"""End-to-end bench of the streaming ingestion-dedup loop (BENCH.md record).

Drives ``stream_ingest_dedup`` over K parquet micro-batch files with
compaction on, and reports what the batch benches report for the batch
entries: docs/s end-to-end, Spark jobs per epoch, and the accepted-store
read fan-in (data dirs an axis scan unions) before/after each compaction —
the number tail-only compaction exists to bound.

Corpus: deterministic synthetic doc batches (Spark-generated, no driver
loop) with a planted mix of exact dups (same text re-arriving in a later
epoch), near dups (stored text + a short suffix), and in-batch dups, so
every decision axis does real work each epoch.

    python scripts/ingest_bench.py [--epochs 10] [--docs 10000] \
        [--compact-every 4] [--cpus 32] [--max-bucket 200]

Prints one JSON line; paste the fields into BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def synth_batch(spark, epoch: int, n: int):
    """Epoch batch: 70% novel docs, 15% exact re-arrivals of epoch-1 docs,
    15% near-dup variants of epoch-1 docs (all deterministic)."""
    from pyspark.sql import functions as F

    base = spark.range(n).select(
        (F.col("id") + epoch * n).alias("doc_id"),
        F.col("id").alias("i"))
    # 40-word body keyed by (src_epoch, src_i): novel rows key on their own
    # (epoch, i); dup rows key on (epoch-1, i) so the text matches exactly
    frac = F.col("i") % 20  # 0..13 novel, 14..16 exact-dup, 17..19 near-dup
    # dup rows always key off epoch 0 so the planted text matches what was
    # actually STORED (an epoch-1 "dup" row's own text is itself keyed 0)
    src_epoch = F.when((frac >= 14) & (epoch > 0), F.lit(0)) \
        .otherwise(F.lit(epoch))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda j: F.concat(F.lit("w"),
                           F.conv(F.substring(F.md5(F.concat_ws(
                               "_", src_epoch, F.col("i"), j)), 1, 6),
                               16, 10)))
    text = F.concat_ws(" ", words)
    text = F.when((frac >= 17) & (F.lit(epoch) > F.lit(0)),
                  F.concat(text, F.lit(" tail variant "),
                           F.col("doc_id"))).otherwise(text)
    return base.select("doc_id", text.alias("text"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=10)
    ap.add_argument("--docs", type=int, default=10_000)
    ap.add_argument("--compact-every", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--max-bucket", type=int, default=200)
    args = ap.parse_args()

    from apple_ocr_backend_spark.session import get_spark
    from apple_ocr_backend_spark.sources.icelite import Table
    from apple_ocr_backend_spark.streaming.ingest_dedup import (
        stream_ingest_dedup)

    spark = get_spark(master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="ingest_bench_")
    inp, tbl, ckpt = f"{work}/in", f"{work}/tbl", f"{work}/ckpt"
    try:
        for e in range(args.epochs):
            synth_batch(spark, e, args.docs).coalesce(4) \
                .write.parquet(f"{inp}/batch_{e:03d}")
        table = Table(tbl)
        fanin_log: list[dict] = []
        orig_compact = Table.compact

        def logged_compact(self, s, **kw):
            before = len(self.data_dirs())
            out = orig_compact(self, s, **kw)
            fanin_log.append({"epoch": len(self.snapshots()),
                              "dirs_before": before,
                              "dirs_after": len(self.data_dirs())})
            return out

        Table.compact = logged_compact
        try:
            prior = sc.statusTracker().getJobIdsForGroup(None)
            first_stream_job = max(prior, default=-1) + 1
            t0 = time.monotonic()
            q = stream_ingest_dedup(
                spark, f"{inp}/batch_*", tbl, ckpt,
                schema_ddl="doc_id LONG, text STRING",
                max_files_per_trigger=4,  # one written dir (4 files)/epoch
                max_bucket=args.max_bucket,
                compact_every=args.compact_every)
            q.awaitTermination()
            wall = time.monotonic() - t0
        finally:
            Table.compact = orig_compact
        # foreachBatch jobs run on the stream-execution thread, which sets
        # the query runId as the job group
        jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
        if jobs == 0:  # fallback: ungrouped-id delta over the run window
            ungrouped = sc.statusTracker().getJobIdsForGroup(None)
            jobs = len([j for j in ungrouped if j >= first_stream_job])
        summaries = [s.get("summary", {}) for s in table.snapshots()
                     if str(s.get("operation", "")).startswith("ingest/")]
        accepted = sum(int(s.get("accepted", 0)) for s in summaries)
        dropped_buckets = sum(
            int(s.get("dropped_band_buckets_existing", 0))
            + int(s.get("dropped_band_buckets_batch", 0))
            for s in summaries)
        total = args.epochs * args.docs
        print(json.dumps({
            "metric": "ingest_dedup_stream_e2e",
            "epochs": args.epochs,
            "docs_in": total,
            "accepted": accepted,
            "wall_sec": round(wall, 2),
            "docs_per_sec": round(total / wall, 1),
            "jobs_total": jobs,
            "jobs_per_epoch": round(jobs / args.epochs, 1),
            "dropped_band_buckets": dropped_buckets,
            "compact_every": args.compact_every,
            "store_dirs_final": len(table.data_dirs()),
            "compactions": fanin_log,
            "cpus": args.cpus,
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
