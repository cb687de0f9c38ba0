"""Structured-Streaming layer: incremental extraction parity + event-time
windows.  AvailableNow drains existing files then stops, so these tests are
deterministic and bounded."""

from __future__ import annotations

import os

from apple_ocr_backend_spark.config import ExtractConfig
from apple_ocr_backend_spark.sources.corpus import make_corpus, extract_docs_oracle
from apple_ocr_backend_spark.streaming.stream_extract import (
    stream_extract, windowed_event_counts)
from tests.test_pipeline_parity import _to_spark_docs, _spans_map

CFG = ExtractConfig()
SF = "/root/testdata/sf0.001"


def test_stream_extract_matches_batch(spark, tmp_path):
    docs = make_corpus(40, seed=11)
    golden = _spans_map(extract_docs_oracle(docs, CFG))
    sdf = _to_spark_docs(spark, docs)
    in_dir = str(tmp_path / "in")
    # two files -> at least one micro-batch boundary exercised; the split is
    # a deterministic doc_id predicate (limit() without ordering may pick
    # different rows per execution)
    first = sdf.filter("doc_id < 'doc_00000020'")
    rest = sdf.filter("doc_id >= 'doc_00000020'")
    first.write.parquet(os.path.join(in_dir, "a"))
    rest.write.parquet(os.path.join(in_dir, "b"))

    q = stream_extract(spark, in_dir + "/*", str(tmp_path / "tbl"),
                       str(tmp_path / "ckpt"), CFG,
                       max_files_per_trigger=1)
    q.awaitTermination(120)

    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "tbl"))
    out = t.read(spark).toPandas()
    assert len(out) == len(docs)
    assert _spans_map(out) == golden

    # every epoch commits like a batch bucket: per-partition lineage whose
    # doc counts sum to the epoch's docs_in, which is the rows it wrote
    # (empty part files make empty epochs: no lineage rows, docs_in 0)
    snaps = t.snapshots()
    assert sum(s["summary"]["docs_in"] > 0 for s in snaps) >= 2
    for s in snaps:
        assert all(set(r) == {"epoch_key", "epoch", "run_id", "partition_id",
                              "doc_count", "wall_ms"} for r in s["lineage"])
        written = spark.read.schema(t.read(spark).schema).parquet(
            os.path.join(t.path, s["data_dirs"][-1])).count()
        assert (sum(r["doc_count"] for r in s["lineage"])
                == s["summary"]["docs_in"] == written)
    assert sum(s["summary"]["docs_in"] for s in snaps) == len(docs)


def test_stream_epoch_replay_is_idempotent(spark, tmp_path):
    """A replayed (run_id, epoch) must not double-append (exactly-once
    ledger) — exercised directly via commit_epoch, which is what
    foreachBatch invokes on a post-failure replay."""
    from apple_ocr_backend_spark.sources.icelite import Table
    from apple_ocr_backend_spark.streaming.stream_extract import commit_epoch
    docs = make_corpus(10, seed=3)
    sdf = _to_spark_docs(spark, docs)
    t = Table(str(tmp_path / "tbl"))

    assert commit_epoch(t, sdf, 0, CFG, run_id="r1") is True
    n1 = t.read(spark).count()
    snaps1 = len(t.snapshots())
    lineage = t.snapshots()[-1]["lineage"]
    assert (sum(r["doc_count"] for r in lineage)
            == t.snapshots()[-1]["summary"]["docs_in"] == n1 == len(docs))
    # replayed micro-batch: same run, same epoch -> no-op
    assert commit_epoch(t, sdf, 0, CFG, run_id="r1") is False
    assert t.read(spark).count() == n1
    assert len(t.snapshots()) == snaps1
    # a NEW run (fresh checkpoint lineage) restarts epoch numbering at 0;
    # its commits must NOT be swallowed by the previous run's ledger entries
    assert commit_epoch(t, sdf, 0, CFG, run_id="r2") is True
    assert len(t.snapshots()) == snaps1 + 1


def test_stream_fresh_checkpoint_sees_new_files(spark, tmp_path):
    """ADVICE round 1: with the ledger keyed on the bare epoch id, a second
    streaming run with a fresh checkpoint over a directory that gained files
    silently dropped them.  The run-scoped ledger must process them."""
    from apple_ocr_backend_spark.sources.icelite import Table
    docs = make_corpus(12, seed=7)
    sdf = _to_spark_docs(spark, docs)
    in_dir = str(tmp_path / "in")
    sdf.filter("doc_id < 'doc_00000006'").write.parquet(
        os.path.join(in_dir, "a"))

    tbl_dir = str(tmp_path / "tbl")
    q = stream_extract(spark, in_dir + "/*", tbl_dir,
                       str(tmp_path / "ckpt1"), CFG)
    q.awaitTermination(120)
    t = Table(tbl_dir)
    assert t.read(spark).count() == 6

    # new data lands; the operator restarts with a FRESH checkpoint
    sdf.filter("doc_id >= 'doc_00000006'").write.parquet(
        os.path.join(in_dir, "b"))
    q2 = stream_extract(spark, in_dir + "/*", tbl_dir,
                        str(tmp_path / "ckpt2"), CFG)
    q2.awaitTermination(120)
    got = t.read(spark)
    # every new doc is present (file 'a' is re-read under the fresh
    # checkpoint — Spark's own semantics; the ledger must not lose 'b')
    new_ids = {r["doc_id"] for r in got.select("doc_id").distinct().collect()}
    assert {f"doc_{i:08d}" for i in range(12)} <= new_ids


def test_stream_single_execution_per_epoch(spark, tmp_path, monkeypatch):
    """The extraction pipeline must run ONCE per micro-batch (round-1 verdict:
    count() + append() re-executed the whole plan).  An accumulator inside a
    pass-through kernel counts materialized rows: exactly one per doc."""
    import apple_ocr_backend_spark.streaming.stream_extract as SE
    docs = make_corpus(15, seed=5)
    sdf = _to_spark_docs(spark, docs)
    in_dir = str(tmp_path / "in")
    sdf.write.parquet(in_dir)

    acc = spark.sparkContext.accumulator(0)
    orig = SE.extract_docs

    def counting(batch, cfg, **kw):
        out = orig(batch, cfg, **kw)

        def tick(batches):
            for b in batches:
                acc.add(len(b))
                yield b
        return out.mapInPandas(tick, schema=out.schema)

    monkeypatch.setattr(SE, "extract_docs", counting)
    q = stream_extract(spark, in_dir, str(tmp_path / "tbl"),
                       str(tmp_path / "ckpt"), CFG)
    q.awaitTermination(120)
    from apple_ocr_backend_spark.sources.icelite import Table
    n = Table(str(tmp_path / "tbl")).read(spark).count()
    assert n == len(docs)
    assert acc.value == n, f"pipeline executed {acc.value / n:.1f}x per epoch"


def test_windowed_event_counts_stream_equals_batch(spark, tmp_path):
    import datetime
    events = spark.read.parquet(f"{SF}/events.parquet").select(
        "ts", "event_type", "value")
    max_ts = events.agg({"ts": "max"}).collect()[0][0]
    # append mode emits a window only once the watermark (max event time -
    # 10 min) passes its end — the trailing windows stay open forever on a
    # finite source, so the batch expectation excludes them
    horizon = max_ts - datetime.timedelta(minutes=10)
    batch = {(str(r["w_start"]), r["event_type"]): (r["n"], r["sum_q"])
             for r in windowed_event_counts(events).collect()
             if r["w_end"] <= horizon}
    assert batch, "horizon filter left no windows — corpus too small"

    in_dir = str(tmp_path / "ev")
    events.write.parquet(in_dir)
    stream = (spark.readStream.schema(events.schema).parquet(in_dir))
    q = (windowed_event_counts(stream)
         .writeStream.format("memory").queryName("winagg")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(str(r["w_start"]), r["event_type"]): (r["n"], r["sum_q"])
           for r in spark.sql("select * from winagg").collect()}
    assert got == batch


def test_confirm_serials_stateful(spark, tmp_path):
    """applyInPandasWithState: per-serial state carries ACROSS micro-batches
    (frame counts accumulate) with early confirmation at high confidence —
    the reference client's scan-session semantics as a custom stateful
    streaming operator."""
    from apple_ocr_backend_spark.streaming.stream_extract import (
        confirm_serials_stateful)
    rows_a = [("C02Y95A8JG5H", 0.5), ("C02Y95A8JG5H", 0.6),
              ("F5KVN0DKHJC5", 0.95), ("DGKFL96JDRVG", 0.4)]
    rows_b = [("C02Y95A8JG5H", 0.55), ("DGKFL96JDRVG", 0.45)]
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(rows_a, "serial string, conf double") \
        .coalesce(1).write.parquet(os.path.join(in_dir, "a"))
    spark.createDataFrame(rows_b, "serial string, conf double") \
        .coalesce(1).write.parquet(os.path.join(in_dir, "b"))

    stream = (spark.readStream.schema("serial string, conf double")
              .option("maxFilesPerTrigger", 1).parquet(in_dir + "/*"))
    q = (confirm_serials_stateful(stream, min_frames=3, confirm_conf=0.9)
         .writeStream.format("memory").queryName("confirm")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    out = spark.sql("select * from confirm").toPandas()
    # last emitted row per serial = final standing after both batches
    final = {r.serial: r for _, r in
             out.groupby("serial", sort=False).tail(1).iterrows()}
    # state carried across micro-batches: 2 + 1 readings accumulate
    assert final["C02Y95A8JG5H"].n_frames == 3
    assert final["C02Y95A8JG5H"].confirmed  # min_frames reached
    # early confirmation by confidence, single reading
    assert final["F5KVN0DKHJC5"].confirmed
    assert final["F5KVN0DKHJC5"].best_conf == 0.95
    # neither condition met: 2 frames, best 0.45
    assert final["DGKFL96JDRVG"].n_frames == 2
    assert not final["DGKFL96JDRVG"].confirmed
    # update mode emitted one row per (serial, contributing batch)
    assert len(out[out.serial == "C02Y95A8JG5H"]) == 2


def test_stream_recreated_checkpoint_same_path_not_swallowed(spark, tmp_path):
    """Code-review finding: with run_id = a path fingerprint, deleting and
    recreating the checkpoint at the SAME path (the standard way to force
    reprocessing) replayed epoch ids already in the ledger and silently
    committed nothing.  The per-lineage marker id must mint fresh."""
    import shutil
    from apple_ocr_backend_spark.sources.icelite import Table
    docs = make_corpus(8, seed=21)
    sdf = _to_spark_docs(spark, docs)
    in_dir = str(tmp_path / "in")
    sdf.write.parquet(in_dir)
    ckpt = str(tmp_path / "ckpt")
    tbl_dir = str(tmp_path / "tbl")

    q = stream_extract(spark, in_dir, tbl_dir, ckpt, CFG)
    q.awaitTermination(120)
    t = Table(tbl_dir)
    n1 = t.read(spark).count()
    assert n1 == len(docs)

    shutil.rmtree(ckpt)  # user forces full reprocessing
    q2 = stream_extract(spark, in_dir, tbl_dir, ckpt, CFG)
    q2.awaitTermination(120)
    # the reprocess COMMITS (duplication is Spark's documented fresh-
    # checkpoint semantics; silence was the bug)
    assert t.read(spark).count() == 2 * n1


def test_stream_session_windows_finalize_on_watermark(spark, tmp_path):
    """Built-in session_window streaming surface: append mode emits each
    session exactly once when the watermark passes its close.  Batch 'a'
    carries the real events plus a far-future clock event; processing
    batch 'b' (a later clock) advances the watermark and flushes every
    'a' session.  The emitted rows must equal the BATCH session_agg of
    the flushed events — the batch plan is the oracle."""
    import datetime as dt
    import os
    from pyspark.sql import Row
    from apple_ocr_backend_spark.streaming.session_windows import (
        session_agg, stream_sessionize)

    t0 = dt.datetime(2024, 1, 1)

    def ev(eid, uid, minutes, value):
        return Row(event_id=eid, user_id=uid,
                   ts=t0 + dt.timedelta(minutes=minutes), value=value)

    real = [ev(1, 1, 0.0, 1.0), ev(2, 1, 10.0, 2.5),   # session 1 of user 1
            ev(3, 1, 60.0, 4.0),                        # session 2 of user 1
            ev(4, 2, 5.0, 3.0)]                         # user 2
    clock1 = [ev(100, 999, 600.0, 0.0)]
    clock2 = [ev(101, 999, 1200.0, 0.0)]
    ddl = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE"
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(real + clock1).coalesce(1) \
        .write.parquet(os.path.join(in_dir, "a"))
    spark.createDataFrame(clock2).coalesce(1) \
        .write.parquet(os.path.join(in_dir, "b"))
    q = stream_sessionize(spark, in_dir + "/*", ddl,
                          str(tmp_path / "ckpt"), gap_minutes=30,
                          query_name="sess_t", max_files_per_trigger=1)
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("sess_t").collect()}
    # oracle: batch session_agg over everything flushed by the final
    # watermark (the 'a' events incl. clock1; clock2's session is still
    # open when the stream drains)
    want = {tuple(r) for r in
            session_agg(spark.createDataFrame(real + clock1), 30).collect()}
    assert got == want
    assert len(got) == 4  # u1 x2, u2 x1, clock1 x1
