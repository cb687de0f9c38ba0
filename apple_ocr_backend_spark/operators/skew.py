"""Skew handling: salted, spans-size-aware repartitioning (north_rule).

A giant multi-page document (FIXTURES.md §5: 100k spans) must not serialize
one Arrow batch / one reassembly group.  Strategy (SURVEY.md §4):

* at explode time each doc gets ``n_salts = ceil(size(spans) /
  salt_span_budget)`` and each span row the salt ``span_pos % n_salts`` —
  a normal doc has one salt, a 100k-span doc ~391 of them;
* extraction stages repartition on ``(doc_id, salt)`` so giant docs spread
  across tasks;
* reassembly is two-phase: partial sorted arrays per ``(doc_id, salt)``,
  then a flatten + array_sort merge per ``doc_id`` — the only full-doc
  group touches already-aggregated partials (the deliberate two-phase
  extract-then-reassemble around the skewed shuffle).

Reference analog: time-budgeted stage caps (``ocr_adapter_improved.py:
1069-1071,1128-1130``) replaced by deterministic size-aware work splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import ExtractConfig, DEFAULT_CONFIG


def explode_salted(docs: DataFrame,
                   cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """docs(doc_id, spans) -> span rows with spans-size-aware salt.

    Output: ``doc_id, salt, span_pos, kind, text, media_ref, offset`` — one
    row per span, plus ONE row for each doc whose ``spans`` is empty or
    null: salt 0, every other column null.  That placeholder carries the
    doc through the kernel exchange, so the partial merge
    (``plans.pipeline.reassemble_partials``) sees every doc; no kernel
    takes it (its ``kind`` matches no branch).
    """
    n_salts = F.greatest(
        F.lit(1),
        F.ceil(F.size("spans") / F.lit(cfg.salt_span_budget)).cast("int"))
    rows = (docs
            .withColumn("n_salts", n_salts)
            .select("doc_id", "n_salts",
                    F.posexplode_outer("spans").alias("span_pos", "span"))
            .select(
                "doc_id",
                F.coalesce(F.pmod("span_pos", "n_salts"), F.lit(0))
                 .cast("int").alias("salt"),
                F.col("span_pos").cast("int").alias("span_pos"),
                F.col("span.kind").alias("kind"),
                F.col("span.text").alias("text"),
                F.col("span.media_ref").alias("media_ref"),
                F.col("span.offset").alias("offset")))
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
      which on CPython 3.11 re-reads the 3.5 MB ``pyspark.zip`` directory
      once per cached zip importer — about 0.1-0.3 s per task on a 4-vCPU
      host (a no-op ``mapInArrow`` over 100k rows took 0.45 s at 4
      partitions and 4.9-5.5 s at 64);
    * per batch, the kernel pays pandas frame assembly and the group
      machinery, so fewer, fuller batches amortize it.

    One wave pays the per-task cost once per core.  Memory stays bounded
    because a partition never arrives whole: ``session.get_spark`` caps
    each Arrow batch at 8,192 rows and 1 MiB, and the kernel streams one
    batch at a time.  What one wave gives up is a second task to hide a
    straggler behind, so kernel slot utilization falls somewhat.

    The count is explicit because AQE sizes by shuffle bytes, not kernel
    rows (round 5: it coalesced this exchange to 1.5 waves at local[8]).
    A caller that splits one input into several jobs
    (``plans.checkpoint.run_resumable``) gives each job one wave too."""
    if not num_partitions:
        num_partitions = rows.sparkSession.sparkContext.defaultParallelism
    return rows.repartition(num_partitions, "doc_id", "salt")
