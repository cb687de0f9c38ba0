"""Structured-Streaming front end for the extraction pipeline.

The reference has no true stream operators (SURVEY.md §2.10) — its closest
analog is the job-queue + polling serving path (``/scan`` -> ``GET
/result/{job_id}``, reference README.md:140-152), which the batch resumable
runs already cover.  This module adds the idiomatic-Spark streaming layer on
top: new doc files landing in a directory are extracted incrementally with
``Trigger.AvailableNow`` and committed to the same icelite table, with
exactly-once semantics enforced by epoch-keyed snapshot commits (a replayed
micro-batch is a no-op).

Scale notes: ``foreachBatch`` runs the extraction pipeline per micro-batch,
so all batch-side skew handling (salting, the one span merge) applies
unchanged; ``maxFilesPerTrigger`` bounds micro-batch size on a cluster.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..plans.checkpoint import commit_extracted
from ..plans.pipeline import extract_docs
from ..sources.corpus import DOCS_DDL
from ..sources.icelite import Table


def _checkpoint_run_id(checkpoint_dir: str) -> str:
    """Run id minted once per checkpoint LINEAGE: stored in a marker file
    inside the checkpoint dir, so it survives restarts but dies with the
    checkpoint (deleting the dir = asking for full reprocessing = new
    ledger scope)."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "_icelite_run_id")
    if os.path.exists(marker):
        with open(marker) as f:
            return f.read().strip()
    run_id = uuid.uuid4().hex[:12]
    tmp = marker + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(run_id)
    os.rename(tmp, marker)
    # re-read: another process may have won the rename race
    with open(marker) as f:
        return f.read().strip()


def commit_epoch(table: Table, batch: DataFrame, epoch_id: int,
                 cfg: ExtractConfig = DEFAULT_CONFIG,
                 run_id: str = "run") -> bool:
    """Idempotently extract one micro-batch into ``table``.

    Exactly-once: Structured Streaming may replay an epoch after a failure;
    the icelite snapshot log is the idempotence ledger.  The ledger key is
    ``(run_id, epoch_id)`` — epoch ids are scoped to a checkpoint lineage
    and restart at 0 under a fresh checkpoint, so a bare epoch key would
    wrongly skip the first batches of a NEW run against the same table.

    The commit is the batch path's (``plans.checkpoint.commit_extracted``):
    the pipeline (salting, kernels, reassembly shuffle) executes exactly
    once per micro-batch and is the commit's only plan; the snapshot
    carries per-file lineage (doc counts from the Parquet footers), its
    summary the epoch's ``docs_in``, ``span_count``, ``bytes``,
    ``ocr_span_count`` and ``wall_ms``.

    Returns True if the batch was committed, False if it was a replay.
    """
    key = f"{run_id}/{epoch_id}"
    if key in table.committed_units("epoch_key"):
        return False
    commit_extracted(table, extract_docs(batch, cfg), f"stream/epoch={key}",
                     {"epoch_key": key, "epoch": epoch_id, "run_id": run_id})
    return True


def stream_extract(spark: SparkSession, input_dir: str, table_dir: str,
                   checkpoint_dir: str, cfg: ExtractConfig = DEFAULT_CONFIG,
                   max_files_per_trigger: int | None = None,
                   run_id: str | None = None):
    """Incrementally extract docs parquet files from ``input_dir`` into the
    icelite table at ``table_dir``.  Returns the started query (AvailableNow:
    drains what exists, then stops).

    ``run_id`` scopes the exactly-once ledger; it defaults to a random id
    minted ONCE per checkpoint lineage and stored inside the checkpoint
    directory itself, because that is exactly the scope within which
    Structured Streaming epoch ids are meaningful: a restart from the same
    checkpoint reuses the marker (replayed epochs dedupe), while a fresh OR
    deleted-and-recreated checkpoint mints a new id, so the full reprocess
    Spark then performs is committed instead of being swallowed by a stale
    ledger (a bare path fingerprint would silently drop everything after
    `rm -rf checkpoint` at the same path)."""
    table = Table(table_dir)
    if run_id is None:
        run_id = _checkpoint_run_id(checkpoint_dir)
    reader = spark.readStream.schema(DOCS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)

    def commit_batch(batch: DataFrame, epoch_id: int) -> None:
        commit_epoch(table, batch, epoch_id, cfg, run_id=run_id)

    return (docs.writeStream
            .foreachBatch(commit_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def windowed_event_counts(events: DataFrame, watermark: str = "10 minutes",
                          window: str = "5 minutes") -> DataFrame:
    """Event-time tumbling-window counts with late-data handling — the
    streaming analog of the reference client's processing-time scan window
    (``SerialScannerViewModel.swift:34-38,197-206``), upgraded to event time
    + watermark as the north-rule environment expects.

    Works on both a streaming and a batch DataFrame with columns
    ``(ts timestamp, event_type string, value double)``.
    """
    from pyspark.sql import functions as F
    # watermarks require TIMESTAMP (driver testdata uses TIMESTAMP_NTZ);
    # session TZ is pinned to UTC so the cast is deterministic
    return (events
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.floor(F.sum(F.floor(F.col("value") * 1_000_000)))
                 .cast("long").alias("sum_q"))
            .select(F.col("w.start").alias("w_start"),
                    F.col("w.end").alias("w_end"), "event_type", "n", "sum_q"))


CONFIRM_STATE_DDL = "n int, best double"
CONFIRM_OUT_DDL = ("serial string, n_frames int, best_conf double, "
                   "confirmed boolean")


def confirm_serials_stateful(candidates: DataFrame, min_frames: int = 3,
                             confirm_conf: float = 0.9) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-serial frame accumulation with early confirmation.

    Re-expresses the reference client's scan-session logic
    (``SerialScannerViewModel.swift:34-38,197-282``): candidate readings for
    a serial accumulate across frames/micro-batches; the serial is CONFIRMED
    as soon as a reading reaches ``confirm_conf`` (early stop) or it has
    been seen in ``min_frames`` distinct readings, whichever comes first.
    State per serial = (n readings so far, best confidence so far), carried
    across micro-batches; each batch emits the serial's updated standing.

    Input: streaming DataFrame ``(serial string, conf double)`` (extra
    columns pass through the group key only).  Output (update semantics):
    one row per (serial, batch with new readings).
    """
    def update(key, pdfs, state):
        import pandas as pd
        n, best = state.get if state.exists else (0, 0.0)
        for b in pdfs:
            if len(b):
                n += int(len(b))
                best = max(best, float(b["conf"].max()))
        state.update((n, best))
        yield pd.DataFrame({
            "serial": [key[0]], "n_frames": [n], "best_conf": [best],
            "confirmed": [bool(best >= confirm_conf or n >= min_frames)],
        })

    from pyspark.sql.streaming.state import GroupStateTimeout
    return (candidates.groupBy("serial").applyInPandasWithState(
        update, outputStructType=CONFIRM_OUT_DDL,
        stateStructType=CONFIRM_STATE_DDL, outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))
