"""Skew handling: salted, spans-size-aware repartitioning (north_rule).

A giant multi-page document (FIXTURES.md §5: 100k spans) must not serialize
one Arrow batch / one reassembly group.  Strategy (SURVEY.md §4):

* at explode time each doc gets ``n_salts = ceil(size(spans) /
  salt_span_budget)`` and each span row the salt ``span_pos % n_salts`` —
  a normal doc has one salt, a 100k-span doc ~391 of them;
* extraction stages repartition on ``(doc_id, salt)`` so giant docs spread
  across tasks;
* the extraction kernel is a per-row map over that partitioning, and
  reassembly is ONE ``groupBy(doc_id)`` with one ``array_sort`` of the
  collected span rows (``plans.pipeline.reassemble_partials``).  Because
  a normal doc's rows share one task, the map-side partial aggregate
  collects about one group per doc; a giant doc's salts meet only in the
  final merge.

Reference analog: time-budgeted stage caps (``ocr_adapter_improved.py:
1069-1071,1128-1130``) replaced by deterministic size-aware work splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import ExtractConfig, DEFAULT_CONFIG


def explode_salted(docs: DataFrame,
                   cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """docs(doc_id, spans) -> span rows with spans-size-aware salt.

    Output: ``doc_id, salt, span_pos, kind, text, media_ref, offset`` — one
    row per span, plus ONE row for each doc whose ``spans`` is empty or
    null: salt 0, every other column null.  That placeholder carries the
    doc through the kernel exchange; no kernel takes it (its ``kind``
    matches no branch), and the kernel's null-span row for its doc brings
    it to the merge (``plans.pipeline.reassemble_partials``), which emits
    it with ``spans = []``.
    """
    # SQL strings, each parsed JVM-side in one call.  n_salts keeps a
    # step of its own: computed in the Generate's select, it would move
    # above the Generate and change the plan
    rows = (docs
            .selectExpr("*", "greatest(1, CAST(ceil(size(spans) / "
                        f"{int(cfg.salt_span_budget)}) AS INT)) AS n_salts")
            .selectExpr("doc_id", "n_salts",
                        "posexplode_outer(spans) AS (span_pos, span)")
            .selectExpr(
                "doc_id",
                "CAST(coalesce(pmod(span_pos, n_salts), 0) AS INT) AS salt",
                "CAST(span_pos AS INT) AS span_pos",
                "span.kind AS kind", "span.text AS text",
                "span.media_ref AS media_ref", "span.offset AS `offset`"))
    return rows


def repartition_salted(rows: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Hash-repartition on (doc_id, salt): giant docs spread over the cluster,
    small docs stay together (one shuffle, reused by every downstream
    per-(doc,salt) aggregation — reuse of the partitioning across stages).

    When ``num_partitions`` is not given, the count is pinned to
    ``defaultParallelism``: ONE task wave, one task per core.  The stage
    downstream is the Python kernel, whose cost is partly fixed per task
    and per Arrow batch rather than per row:

    * per task, pyspark's worker calls ``importlib.invalidate_caches()``,
      which on CPython < 3.13 re-reads an archive's directory once per
      cached zip importer: 12 times ``pyspark.zip``'s, twice the
      spark-core jar's (0.3-0.4 s per task on a 4-vCPU host).  The package
      pays that once per worker, not per task: imported in a task, it
      keys each importer's re-read on the archive's stat
      (``apple_ocr_backend_spark.worker``), so a worker's later tasks read
      nothing (``bench.py --study worker``: an empty kernel's median task
      went 382 -> 92 ms);
    * per batch, the kernel pays pandas frame assembly and the group
      machinery, so fewer, fuller batches amortize it.

    One wave pays the per-task cost once per core.  Memory stays bounded
    because a partition never arrives whole: ``session.get_spark`` caps
    each Arrow batch at 8,192 rows and 1 MiB, and the kernel streams one
    batch at a time.  What one wave gives up is a second task to hide a
    straggler behind, so kernel slot utilization falls somewhat.

    The count is explicit because AQE sizes by shuffle bytes, not kernel
    rows (round 5: it coalesced this exchange to 1.5 waves at local[8]).
    A caller that runs several jobs at once
    (``plans.checkpoint.run_resumable``'s overlapped buckets) gives them
    one wave between them: each job gets its share of the cores."""
    if not num_partitions:
        num_partitions = rows.sparkSession.sparkContext.defaultParallelism
    return rows.repartition(num_partitions, "doc_id", "salt")
