"""Resumable extraction runs: bucketed stage commits + per-file lineage.

north_rule: "every stage writes per-partition lineage + extraction metrics to
an Iceberg checkpoint table so a killed job resumes from the last committed
snapshot without reprocessing."

Topology: the doc space is hash-bucketed (``pmod(xxhash64(doc_id), B)``); each
bucket is one commit unit.  A run processes only buckets absent from the
results table's committed snapshot summaries (the anti-join resume set —
reference analog: progressive early-stop skipping, SURVEY.md §3.3).  Each
bucket filters the input by its hash and runs the one extraction plan; no
input or output is cached.  The buckets in flight at once share one wave
of kernel tasks, so a unit's Python-worker fixed cost does not grow with
the overlap.  Each commit runs one plan, the write of the unit's output,
and carries

* lineage: one row per data file the write produced, which is one
  partition of the write (``partition_id`` is the file's ``part-NNNNN``),
  with its doc count and the unit's wall ms — the shape of FIXTURES.md §6
  ``checkpoint_lineage``.  The doc count is the file's Parquet footer row
  count, as an Iceberg manifest takes its per-data-file stats from the
  files it commits; no job reads the files back;
* a summary: the unit's identity keys plus ``docs_in``, ``span_count``,
  ``bytes`` (span text length), ``ocr_span_count`` and ``wall_ms``.  An
  ``Observation`` on the write computes the four totals as the rows go
  out.

The commit body (``commit_extracted``) is shared with the streaming front
end, so a stream epoch commits the same lineage as a bucket.
"""

from __future__ import annotations

import glob
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..sources.icelite import Table
from .pipeline import check_mode, extract_docs


def bucket_of(doc_id: str, n_buckets: int) -> str:
    """The bucket rule as a SQL expression over the column ``doc_id``."""
    return f"CAST(pmod(xxhash64({doc_id}), {int(n_buckets)}) AS INT)"


def commit_extracted(table: Table, extracted: DataFrame, operation: str,
                     summary: dict) -> dict:
    """Commit one unit of extraction output (a bucket, a stream epoch) to
    ``table`` with its lineage, running ONE plan: ``table.write`` runs the
    extraction plan once into a new data dir with an ``Observation`` that
    totals the unit on the way, each written part file's footer gives its
    row count, and ``table.commit`` commits the snapshot.  Nothing is
    cached or read back, so AQE may coalesce the write's partitions.

    ``summary`` holds the unit's identity keys; every lineage row carries
    them plus ``partition_id`` (the part file's writing partition),
    ``doc_count`` (its footer row count) and ``wall_ms``; 0-row files get
    no row.  The committed (and returned) summary adds the unit's
    ``docs_in, span_count, bytes, ocr_span_count`` (0 for an empty unit)
    and ``wall_ms``, which covers the write and the footer reads."""
    t0 = time.time()
    totals = Observation()
    data_dir = table.write(extracted.observe(totals, *map(F.expr, (
        "count(*) AS docs_in",
        "sum(size(spans)) AS span_count",
        "sum(aggregate(spans, 0, (acc, s) -> acc + length(s.text))) AS bytes",
        "sum(size(filter(spans, s -> s.kind = 'ocr_text')))"
        " AS ocr_span_count"))))
    # a part file's part-NNNNN is the partition of the task that wrote it
    files = glob.glob(os.path.join(table.path, data_dir, "part-*.parquet"))
    counts = sorted(
        (int(re.match(r"part-(\d+)", os.path.basename(f)).group(1)),
         pq.read_metadata(f).num_rows) for f in files)
    wall_ms = (time.time() - t0) * 1000.0
    lineage = [{**summary, "partition_id": p, "doc_count": n,
                "wall_ms": wall_ms} for p, n in counts if n]
    # get only once the write has returned: it blocks until the action
    # reports; an empty unit's sums are None
    summary = {**summary, **{k: v or 0 for k, v in totals.get.items()},
               "wall_ms": wall_ms}
    table.commit([data_dir], operation, summary, lineage)
    return summary


def run_resumable(spark: SparkSession, docs: DataFrame, table_dir: str,
                  cfg: ExtractConfig = DEFAULT_CONFIG, n_buckets: int = 8,
                  mode: str = "fused", run_id: str = "run",
                  fail_after: int | None = None,
                  concurrency: int = 4) -> dict:
    """Extract ``docs`` into the icelite table at ``table_dir``, one commit
    per doc bucket; skips buckets already committed (resume).

    Each bucket filters ``docs`` by its hash bucket, runs the one
    extraction plan (``plans.pipeline.extract_docs``) on it and commits
    it with ``commit_extracted``.  Nothing is cached: each bucket scans
    the input again, and the pool lets those scans overlap.
    ``mode`` accepts only ``"fused"`` and is kept for callers that still
    pass it.

    The buckets in flight share one wave of kernel tasks: each bucket
    job's kernel exchange (``operators.skew.repartition_salted``) has
    ``ceil(defaultParallelism / in_flight)`` partitions, ``in_flight``
    being ``min(concurrency, buckets to run)``.  So the Python kernel's
    fixed cost per task and per Arrow batch is paid about once per core
    across the overlapped buckets, not once per core per bucket.  Salting
    still spreads a giant doc over its bucket's partitions, but with
    fewer of them (one at local[4] with four buckets in flight), so a
    giant doc's kernel time lands on fewer tasks (PLANS.md "Overlapped
    units share one kernel wave").  The bucket filter, like the plan,
    is built from SQL strings (``bucket_of``), a few JVM calls per
    bucket.

    Buckets run on a pool of ``concurrency`` threads, so one bucket's
    driver-only time (plan build, footer reads, commit) overlaps
    another bucket's stages on the same executors.  Four by default: a
    bucket's write stage runs one task and its scan stage a few, so two
    buckets at a time leave cores idle (PLANS.md "One plan per commit
    unit").  Each thread inherits the caller's job group, description
    and tags.  Each bucket's commit stays atomic (icelite serializes the
    commit point).  The first bucket error cancels every bucket not yet
    started, waits for those in flight (each commits whole or leaves an
    uncommitted dir for ``vacuum``) and is re-raised.

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
    # each bucket in flight gets its share of one wave of kernel tasks
    in_flight = min(concurrency, len(processed)) or 1
    share = -(-spark.sparkContext.defaultParallelism // in_flight)

    def work(b: int) -> None:
        try:
            sub = docs.where(f"{bucket_of('doc_id', n_buckets)} = {b}")
            commit_extracted(table,
                             extract_docs(sub, cfg, num_partitions=share),
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
    with ThreadPoolExecutor(in_flight) as pool:
        for f in [pool.submit(t, b) for t, b in zip(targets, processed)]:
            f.result()  # re-raises the first bucket error
    if len(processed) == fail_after:  # all of them committed: the kill
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {"processed": processed, "skipped": skipped, "table": table}
