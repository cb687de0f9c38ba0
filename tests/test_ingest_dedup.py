"""Streaming ingestion dedup: every micro-batch deduped against the
accumulated accepted corpus (stored digests + stored MinHash signatures) —
the continuous form of dedup_incremental, with the same exactly-once epoch
ledger as stream_extract."""

from __future__ import annotations

import os

from apple_ocr_backend_spark.sources.icelite import Table
from apple_ocr_backend_spark.streaming.ingest_dedup import (
    ingest_dedup_epoch, stream_ingest_dedup)

DDL = "doc_id LONG, text STRING"
BASE = "the quick brown fox jumps over the lazy dog again and again"


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ingest_epoch_decisions_across_batches(spark, tmp_path):
    t = Table(str(tmp_path / "tbl"))
    b1 = _docs(spark, [(1, BASE),
                       (2, "completely different existing content here ok")])
    assert ingest_dedup_epoch(t, b1, 0, run_id="r1") is True
    acc1 = t.read(spark).toPandas().sort_values("id")
    assert list(acc1.id) == [1, 2]
    assert set(acc1.columns) >= {"id", "text", "digest", "sigs"}

    b2 = _docs(spark, [
        (10, BASE),                            # exact dup of accepted 1
        (11, "fresh unseen content zzz qqq"),  # kept (first of in-batch pair)
        (12, "fresh unseen content zzz qqq"),  # in-batch exact dup of 11
        (13, BASE + " extra"),                 # near-dup of accepted 1
        (14, "totally novel words nothing shared"),
    ])
    assert ingest_dedup_epoch(t, b2, 1, run_id="r1") is True
    acc2 = t.read(spark).toPandas().sort_values("id")
    assert list(acc2.id) == [1, 2, 11, 14]
    summary = t.snapshots()[-1]["summary"]
    assert summary["docs_in"] == 5
    assert summary["accepted"] == 2
    assert summary["dup_exact_batch"] == 1
    assert summary["dup_exact_existing"] == 1
    assert summary["near_dup_existing"] == 1


def test_ingest_epoch_replay_is_idempotent(spark, tmp_path):
    t = Table(str(tmp_path / "tbl"))
    b = _docs(spark, [(1, BASE)])
    assert ingest_dedup_epoch(t, b, 0, run_id="r1") is True
    n = t.read(spark).count()
    assert ingest_dedup_epoch(t, b, 0, run_id="r1") is False
    assert t.read(spark).count() == n


def test_stream_ingest_dedup_end_to_end(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    b1 = _docs(spark, [(1, BASE), (2, "some other accepted doc text here")])
    b2 = _docs(spark, [(10, BASE), (11, "a brand new document arrives")])
    b1.coalesce(1).write.parquet(os.path.join(in_dir, "a"))
    b2.coalesce(1).write.parquet(os.path.join(in_dir, "b"))
    q = stream_ingest_dedup(spark, in_dir + "/*", str(tmp_path / "tbl"),
                            str(tmp_path / "ckpt"), DDL,
                            max_files_per_trigger=1)
    q.awaitTermination(120)
    got = sorted(r.id for r in Table(str(tmp_path / "tbl"))
                 .read(spark).select("id").collect())
    # doc 10 is an exact dup of doc 1 (whichever file lands first, ids 1/2
    # and 11 survive; 10 is the copy) — file order is lexicographic a, b
    assert got == [1, 2, 11]


def test_ingest_epoch_near_dup_within_batch_and_null_text(spark, tmp_path):
    """Finding-driven coverage: (a) two near-identical docs in the SAME
    batch — only the cluster min is accepted; (b) NULL-text docs are
    accepted as new, not silently dropped — INCLUDING two NULL-text docs
    in one batch (a NULL digest matches nothing, so neither is an
    'exact_batch' dup of the other; round-3 advice finding)."""
    t = Table(str(tmp_path / "tbl"))
    b = spark.createDataFrame(
        [(1, BASE), (2, BASE + " tail"), (3, None),
         (4, "something else entirely different here"), (5, None)],
        "doc_id LONG, text STRING")
    assert ingest_dedup_epoch(t, b, 0, run_id="r1") is True
    acc = t.read(spark).toPandas().sort_values("id")
    assert list(acc.id) == [1, 3, 4, 5]       # 2 dropped as near-dup of 1
    summary = t.snapshots()[-1]["summary"]
    assert summary["docs_in"] == 5
    assert summary["near_dup_batch"] == 1
    assert summary["accepted"] == 4


def test_ingest_epoch_band_bucket_cap_reports_drops(spark, tmp_path):
    """Degenerate band keys: a batch of docs that all share one long core
    (so most agree on every MinHash band) would emit O(B²) candidate rows.
    With ``max_bucket`` the over-size buckets are dropped from candidate
    generation — docs are accepted instead (explicit recall cost) and the
    commit summary reports the dropped-bucket counts, both for the in-batch
    self-join and for the next epoch's join against the accepted store."""
    core = " ".join(f"w{i}" for i in range(60))
    t = Table(str(tmp_path / "tbl"))
    b1 = _docs(spark, [(i, f"{core} unique{i}") for i in range(40)])
    assert ingest_dedup_epoch(t, b1, 0, run_id="r1", max_bucket=5) is True
    s1 = t.snapshots()[-1]["summary"]
    assert s1["dropped_band_buckets_batch"] > 0
    # with every shared bucket dropped, the near-identical docs are all
    # accepted — the recall cost is visible in the summary, not silent
    assert s1["accepted"] + s1["near_dup_batch"] == 40
    assert s1["accepted"] >= 35
    b2 = _docs(spark, [(100 + i, f"{core} other{i}") for i in range(3)])
    assert ingest_dedup_epoch(t, b2, 1, run_id="r1", max_bucket=5) is True
    s2 = t.snapshots()[-1]["summary"]
    assert s2["dropped_band_buckets_existing"] > 0
    assert s2["docs_in"] == 3


def test_ingest_epoch_store_scans_are_column_pruned(spark, tmp_path):
    """Parquet column pruning bounds what an epoch reads from the accepted
    store: across the physical plans of one epoch's SQL executions, the
    store is scanned for ``digest`` (exact axis), ``id, sigs`` (near-dup
    band axis) and ``id, text`` (verify axis) and for nothing wider."""
    import re
    status = spark._jsparkSession.sharedState().statusStore()

    def executions():
        it = status.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            yield e.executionId(), e.physicalPlanDescription()

    t = Table(str(tmp_path / "tbl"))
    b1 = _docs(spark, [(i, f"distinct seed doc {i} with words {i * 7}")
                       for i in range(50)])
    assert ingest_dedup_epoch(t, b1, 0, run_id="r1") is True
    last = max(i for i, _ in executions())
    b2 = _docs(spark, [(100, "distinct seed doc 3 with words 21"),
                       (101, "distinct seed doc 5 with words 35 tail"),
                       (102, "totally novel content qqq zzz"),
                       (103, "totally novel content qqq zzz"),
                       (104, None)])
    assert ingest_dedup_epoch(t, b2, 1, run_id="r1") is True
    read = {tuple(re.findall(r"(?:<|,)(\w+):", schema))
            for i, plan in executions() if i > last
            for schema in re.findall(
                r"^\(\d+\) Scan parquet.*?^ReadSchema: (struct<[^\n]*)",
                plan, re.M | re.S)}
    assert read == {("digest",), ("id", "sigs"), ("id", "text")}


def test_ingest_epoch_empty_batch_commits_ledger(spark, tmp_path):
    """A stream can deliver an EMPTY micro-batch; the epoch must still
    commit its ledger row (exactly-once bookkeeping) without corrupting
    the store, and a replay stays a no-op."""
    t = Table(str(tmp_path / "tbl"))
    assert ingest_dedup_epoch(t, _docs(spark, [(1, BASE)]), 0,
                              run_id="r1") is True
    empty = spark.createDataFrame([], "doc_id LONG, text STRING")
    assert ingest_dedup_epoch(t, empty, 1, run_id="r1") is True
    s = t.snapshots()[-1]["summary"]
    assert s["docs_in"] == 0 and s["accepted"] == 0
    assert ingest_dedup_epoch(t, empty, 1, run_id="r1") is False
    assert [r.id for r in t.read(spark).select("id").collect()] == [1]


def test_ingest_epoch_decisions_match_dedup_incremental(spark, tmp_path):
    """The streaming epoch and the batch operator implement the SAME
    decision semantics (the epoch adds only the within-batch near-dup
    pass): for a batch with every shared decision kind, the epoch's
    accepted set must equal dedup_incremental's 'new' docs, and the
    per-kind counts must line up with the batch method labels."""
    from apple_ocr_backend_spark.operators.dedup import dedup_incremental
    existing_rows = [(i, f"accepted corpus doc {i} alpha beta gamma {i * 3}")
                     for i in range(8)]
    batch_rows = [
        (100, "accepted corpus doc 2 alpha beta gamma 6"),     # exact existing
        (101, "accepted corpus doc 5 alpha beta gamma 15 x"),  # near existing
        (102, "wholly new content qq ww ee rr tt yy"),
        (103, "wholly new content qq ww ee rr tt yy"),         # in-batch exact
        (104, "another novel document with unshared words"),
    ]
    existing = _docs(spark, existing_rows)
    batch = _docs(spark, batch_rows)
    inc = {r.doc_id: r.method
           for r in dedup_incremental(batch, existing).collect()}

    t = Table(str(tmp_path / "tbl"))
    assert ingest_dedup_epoch(t, existing, 0, run_id="r1") is True
    assert ingest_dedup_epoch(t, batch, 1, run_id="r1") is True
    accepted = {r.id for r in t.read(spark).select("id").collect()
                if r.id >= 100}
    s = t.snapshots()[-1]["summary"]
    assert accepted == {i for i, m in inc.items() if m == "new"}
    assert s["dup_exact_existing"] == sum(
        m == "exact_existing" for m in inc.values())
    assert s["dup_exact_batch"] == sum(
        m == "exact_in_batch" for m in inc.values())
    assert s["near_dup_existing"] == sum(
        m == "near_dup_existing" for m in inc.values())


def test_stream_ingest_compaction_bounds_dirs(spark, tmp_path):
    """compact_every keeps the accepted store's read fan-in bounded while
    epochs accumulate — results identical to the uncompacted run."""
    in_dir = str(tmp_path / "in")
    batches = [
        [(1, BASE), (2, "second doc entirely different words")],
        [(10, BASE), (11, "third novel document content")],
        [(20, "fourth novel piece of writing"), (21, BASE)],
        [(30, "fifth and final new arrival")],
    ]
    for i, rows in enumerate(batches):
        _docs(spark, rows).coalesce(1).write.parquet(
            os.path.join(in_dir, f"b{i}"))
    q = stream_ingest_dedup(spark, in_dir + "/*", str(tmp_path / "tbl"),
                            str(tmp_path / "ckpt"), DDL,
                            max_files_per_trigger=1, compact_every=2)
    q.awaitTermination(180)
    t = Table(str(tmp_path / "tbl"))
    got = sorted(r.id for r in t.read(spark).select("id").collect())
    assert got == [1, 2, 11, 20, 30]   # 10 and 21 are exact dups of 1
    # 4 epoch commits + 2 compactions = 6 snapshots; readers see the
    # post-compaction suffix only (1 compacted dir + <=2 epoch dirs)
    assert len(t.snapshots()) == 6
    assert len(t.data_dirs()) <= 3
    # the exactly-once ledger survives compaction: replay drains to no-op
    q2 = stream_ingest_dedup(spark, in_dir + "/*", str(tmp_path / "tbl"),
                             str(tmp_path / "ckpt2"), DDL,
                             run_id=t.snapshots()[0]["summary"]["run_id"],
                             max_files_per_trigger=1, compact_every=2)
    q2.awaitTermination(180)
    assert sorted(r.id for r in t.read(spark).select("id").collect()) == got
