"""Kill/resume semantics (FIXTURES.md §6): a job killed between bucket commits
resumes from the last committed snapshot, reprocesses nothing, and the final
result equals the single-run golden exactly."""

from __future__ import annotations

import glob
import os
import re

import pandas as pd
import pyarrow.parquet as pq
import pytest

from apple_ocr_backend_spark.config import ExtractConfig
from apple_ocr_backend_spark.sources.corpus import make_corpus, extract_docs_oracle
from apple_ocr_backend_spark.plans.checkpoint import run_resumable
from tests.test_pipeline_parity import (_to_spark_docs, _spans_map,
                                        assert_edge_docs_empty, edge_docs)

CFG = ExtractConfig()


def test_kill_and_resume(spark, tmp_path):
    docs = pd.concat([make_corpus(60, seed=5), edge_docs()],
                     ignore_index=True)
    golden = _spans_map(extract_docs_oracle(docs, CFG))
    sdf = _to_spark_docs(spark, docs)
    tdir = str(tmp_path / "extracted")

    # run 1: killed after 2 of 4 bucket commits
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, sdf, tdir, CFG, n_buckets=4, run_id="r1",
                      fail_after=2)

    # run 2: resumes — exactly the 2 uncommitted buckets are processed
    res = run_resumable(spark, sdf, tdir, CFG, n_buckets=4, run_id="r2")
    assert sorted(res["skipped"]) == sorted(res["table"].committed_units("bucket") -
                                            set(res["processed"]))
    assert len(res["skipped"]) == 2 and len(res["processed"]) == 2

    # committed result equals the golden, no dupes / no loss
    out = res["table"].read(spark).toPandas()
    assert len(out) == len(docs)
    assert_edge_docs_empty(out)
    assert _spans_map(out) == golden

    # run 3: everything committed -> full skip, zero reprocessing
    res3 = run_resumable(spark, sdf, tdir, CFG, n_buckets=4, run_id="r3")
    assert res3["processed"] == [] and len(res3["skipped"]) == 4

    # lineage rows present per committed snapshot, with partition granularity
    snaps = res["table"].snapshots()
    assert len(snaps) == 4
    for s in snaps:
        assert s["summary"]["docs_in"] > 0
        assert len(s["lineage"]) >= 1
        for row in s["lineage"]:
            assert set(row) == {"run_id", "stage", "bucket", "partition_id",
                                "doc_count", "wall_ms"}

    # lineage equals the committed files: each row names exactly one part
    # file of its data dir and holds that file's footer row count, their
    # sum is docs_in, and the summary's span totals are the oracle's for
    # the docs the dir holds
    for s in snaps:
        (data_dir,) = s["data_dirs"]
        files = glob.glob(os.path.join(res["table"].path, data_dir,
                                       "part-*.parquet"))
        parts = [int(re.match(r"part-(\d+)", os.path.basename(f)).group(1))
                 for f in files]
        for row in s["lineage"]:
            (f,) = [f for f, p in zip(files, parts)
                    if p == row["partition_id"]]
            assert row["doc_count"] == pq.ParquetFile(f).metadata.num_rows
        ids = [d for f in files
               for d in pq.read_table(f, columns=["doc_id"])["doc_id"]
               .to_pylist()]
        assert (sum(r["doc_count"] for r in s["lineage"])
                == s["summary"]["docs_in"] == len(ids))
        spans = [sp for d in ids for sp in golden[d]]
        totals = {k: s["summary"][k]
                  for k in ("span_count", "bytes", "ocr_span_count")}
        assert totals == {
            "span_count": len(spans),
            "bytes": sum(len(text) for _, text, _, _ in spans),
            "ocr_span_count": sum(kind == "ocr_text" for kind, *_ in spans)}


def test_commit_unit_runs_one_plan(spark, tmp_path):
    """A bucket's commit runs the write and nothing else: its totals ride
    the write as an Observation and each file's row count comes from its
    footer, so no job reads the written dir back.  An empty unit commits
    no lineage row and integer-0 totals."""
    from apple_ocr_backend_spark.plans.checkpoint import (bucket_of,
                                                          commit_extracted)
    from apple_ocr_backend_spark.plans.pipeline import extract_docs
    from apple_ocr_backend_spark.sources.icelite import Table
    from pyspark.sql import functions as F
    sc = spark.sparkContext
    docs = _to_spark_docs(spark, make_corpus(40, seed=13))
    t = Table(str(tmp_path / "t"))
    sc.setJobGroup("one_bucket_commit", "one bucket's commit")
    try:
        commit_extracted(t, extract_docs(
            docs.where(f"{bucket_of('doc_id', 4)} = 0"), CFG),
            "extract/bucket=0", {"bucket": 0, "run_id": "r"})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    jobs = sc.statusTracker().getJobIdsForGroup("one_bucket_commit")
    assert 1 <= len(jobs) <= 3, sorted(jobs)
    assert t.snapshots()[-1]["summary"]["docs_in"] > 0

    empty = commit_extracted(t, extract_docs(docs.filter(F.lit(False)), CFG),
                             "extract/bucket=1", {"bucket": 1})
    snap = t.snapshots()[-1]
    assert snap["summary"] == empty and snap["lineage"] == []
    for k in ("docs_in", "span_count", "bytes", "ocr_span_count"):
        assert type(empty[k]) is int and empty[k] == 0, (k, empty[k])


def test_resumable_run_caches_nothing_and_coalesces_writes(
        spark, tmp_path, monkeypatch):
    """No RDD is persisted while a bucket commits: the input is filtered
    per bucket and the lineage comes from the written files' footers.  So
    AQE may coalesce each bucket's write, and a small bucket writes fewer
    part files than the merge's ``spark.sql.shuffle.partitions``."""
    from apple_ocr_backend_spark.plans import checkpoint
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    real = checkpoint.commit_extracted
    held = []

    def watched(table, extracted, operation, summary):
        held.append(set(jsc.getPersistentRDDs()) - before)
        out = real(table, extracted, operation, summary)
        held.append(set(jsc.getPersistentRDDs()) - before)
        return out

    monkeypatch.setattr(checkpoint, "commit_extracted", watched)
    res = run_resumable(spark, _to_spark_docs(spark, make_corpus(200, seed=13)),
                        str(tmp_path / "t"), CFG, n_buckets=4)
    assert len(held) == 8 and not any(held), held
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for d in res["table"].data_dirs():
        assert 1 <= len(glob.glob(os.path.join(d, "part-*.parquet"))) \
            < n_shuffle


def test_bucket_kernel_partitions(spark, tmp_path, monkeypatch):
    """The buckets in flight share one wave of kernel tasks: each bucket
    job's kernel exchange has ceil(defaultParallelism / in flight)
    partitions, where in flight is min(concurrency, buckets to run).
    Buckets run on a thread pool, so one run may capture a plan from each
    bucket already in flight when the first raises."""
    from apple_ocr_backend_spark.plans import checkpoint

    class Captured(Exception):
        pass

    seen = []

    def capture(table, extracted, operation, summary):
        plan = extracted._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("simple"))
        seen.append(re.findall(
            r"hashpartitioning\(doc_id#\d+, salt#\d+, (\d+)\)", plan))
        raise Captured

    monkeypatch.setattr(checkpoint, "commit_extracted", capture)
    sdf = _to_spark_docs(spark, make_corpus(8, seed=3))
    assert spark.sparkContext.defaultParallelism == 8  # local[8]
    # (concurrency, n_buckets, fail_after) -> kernel partitions per bucket
    want = {(1, 1, None): 8, (1, 3, None): 8, (1, 4, None): 8,
            (1, 8, None): 8,
            (2, 1, None): 8, (2, 3, None): 4, (2, 4, None): 4,
            (2, 8, None): 4,
            (4, 1, None): 8, (4, 3, None): 3, (4, 4, None): 2,
            (4, 8, None): 2,
            (4, 8, 2): 4}  # a killed run: only 2 buckets ever in flight
    for i, ((c, n, fail_after), parts) in enumerate(want.items()):
        seen.clear()
        with pytest.raises(Captured):
            run_resumable(spark, sdf, str(tmp_path / f"t{i}"), CFG,
                          n_buckets=n, concurrency=c, fail_after=fail_after)
        assert seen and all(p == [str(parts)] for p in seen), \
            ((c, n, fail_after), seen)


def test_plan_build_round_trips(spark, tmp_path, monkeypatch):
    """The extraction plan and one bucket's commit plan build in a few
    JVM round trips: the explode, the merge, the bucket filter and the
    commit totals are SQL strings, each parsed JVM-side in one call.
    Round trips are counted at py4j's ``send_command``, as the warm median
    of 5 builds.  py4j's finalizer thread sends the deletes of collected
    Java references whenever garbage is collected, which can double a
    reading in a long session, so its calls are not counted."""
    import statistics
    import threading
    import py4j.clientserver
    import py4j.java_gateway
    from apple_ocr_backend_spark.plans.pipeline import extract_docs
    from apple_ocr_backend_spark.sources.icelite import Table

    class Built(Exception):
        pass

    trips = [0]
    real = py4j.java_gateway.GatewayClient.send_command

    def counting(self, *args, **kwargs):
        if not isinstance(threading.current_thread(),
                          py4j.clientserver.FinalizerWorker):
            trips[0] += 1
        return real(self, *args, **kwargs)

    def write(table, df):  # the commit plan is built: stop before any job
        raise Built(trips[0])

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command",
                        counting)
    monkeypatch.setattr(Table, "write", write)
    docs = _to_spark_docs(spark, make_corpus(8, seed=3))

    def build_extract() -> int:
        trips[0] = 0
        extract_docs(docs, CFG)
        return trips[0]

    def build_bucket() -> int:
        trips[0] = 0
        with pytest.raises(Built) as e:
            run_resumable(spark, docs, str(tmp_path / "t"), CFG,
                          n_buckets=4, fail_after=1)
        return e.value.args[0]

    for build, bound in ((build_extract, 200), (build_bucket, 250)):
        build()  # warm
        counts = [build() for _ in range(5)]
        assert statistics.median(counts) <= bound, (build.__name__, counts)


def test_concurrent_buckets_match_serial_golden(spark, tmp_path):
    """concurrency=4: buckets processed by parallel threads, commits stay
    atomic (icelite serializes the commit point), result identical."""
    docs = make_corpus(40, seed=13)
    golden = _spans_map(extract_docs_oracle(docs, CFG))
    res = run_resumable(spark, _to_spark_docs(spark, docs),
                        str(tmp_path / "t"), CFG, n_buckets=4, run_id="rc",
                        concurrency=4)
    assert sorted(res["processed"]) == [0, 1, 2, 3]
    t = res["table"]
    snaps = t.snapshots()
    assert len(snaps) == 4  # consecutive chain: no commit was lost
    assert {s["summary"]["bucket"] for s in snaps} == {0, 1, 2, 3}
    assert _spans_map(t.read(spark).toPandas()) == golden


def test_bucket_jobs_inherit_caller_job_group(spark, tmp_path):
    """The job group and description set on the calling thread reach
    every job of every bucket, though buckets run on pool threads."""
    sc = spark.sparkContext
    st, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup("resume_inherit", "bucketed resume run")
    try:
        run_resumable(spark, _to_spark_docs(spark, make_corpus(40, seed=13)),
                      str(tmp_path / "t"), CFG, n_buckets=4, concurrency=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert set(st.getJobIdsForGroup(None)) <= ungrouped
    jobs = st.getJobIdsForGroup("resume_inherit")
    assert len(jobs) >= 4  # at least one per bucket
    for j in jobs:
        assert store.job(j).description().get() == "bucketed resume run"


def test_first_bucket_error_stops_the_run(spark, tmp_path, monkeypatch):
    """Fail-fast: bucket 0 fails while bucket 1 is in flight.  The error
    propagates, buckets 2 and 3 are never attempted, bucket 1 commits
    whole, and a later resume completes the table equal to the oracle."""
    import threading
    from pyspark.sql import functions as F
    from apple_ocr_backend_spark.plans import checkpoint

    class Boom(Exception):
        pass

    real = checkpoint.commit_extracted
    sibling_in, failed = threading.Event(), threading.Event()
    attempted, failer = [], []

    def flaky(table, extracted, operation, summary):
        attempted.append(summary["bucket"])
        if summary["bucket"] == 0:
            assert sibling_in.wait(60)
            failer.append(threading.current_thread())
            failed.set()
            raise Boom
        sibling_in.set()
        assert failed.wait(60)
        # a pool thread exits once its pool is shut down, so joining the
        # failing thread waits until the run has cancelled the queue
        failer[0].join(60)
        assert not failer[0].is_alive()
        return real(table, extracted, operation, summary)

    monkeypatch.setattr(checkpoint, "commit_extracted", flaky)
    docs = make_corpus(40, seed=13)
    sdf = _to_spark_docs(spark, docs)
    tdir = str(tmp_path / "t")
    with pytest.raises(Boom):
        run_resumable(spark, sdf, tdir, CFG, n_buckets=4, concurrency=2)
    assert sorted(attempted) == [0, 1]

    table = checkpoint.Table(tdir)
    assert [s["summary"]["bucket"] for s in table.snapshots()] == [1]
    bucket = F.expr(checkpoint.bucket_of("doc_id", 4)).alias("b")
    got = {r["doc_id"] for r in table.read(spark).select("doc_id").collect()}
    assert got == {r["doc_id"] for r in
                   sdf.select("doc_id", bucket).where("b = 1").collect()}

    monkeypatch.setattr(checkpoint, "commit_extracted", real)
    res = run_resumable(spark, sdf, tdir, CFG, n_buckets=4, concurrency=2)
    assert res["processed"] == [0, 2, 3] and res["skipped"] == [1]
    assert _spans_map(res["table"].read(spark).toPandas()) == \
        _spans_map(extract_docs_oracle(docs, CFG))


def test_snapshot_chain_ignores_orphans(spark, tmp_path):
    """Data dirs written without a committed snapshot are invisible."""
    import os
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "t"))
    df = spark.range(5).toDF("x")
    t.append(df, summary={"unit": 0})
    # simulate a kill after data write, before snapshot commit: orphan dir
    df.write.mode("overwrite").parquet(os.path.join(t.path, "data", "orphan"))
    got = t.read(spark)
    assert got.count() == 5
    assert t.committed_units() == {0}


def test_vacuum_collects_orphans_keeps_committed(spark, tmp_path):
    """Round-2 verdict #10: a kill mid-append leaves a staging dir, an
    unreferenced data dir, and (after a chain break) unreachable snapshot
    files — vacuum removes all three; committed reads are unchanged; the
    min-age grace period protects in-flight appends."""
    import json
    import os
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "t"))
    df = spark.range(5).toDF("x")
    t.append(df, summary={"unit": 0})
    t.append(spark.range(3).toDF("x"), summary={"unit": 1})
    # kill scenarios: (a) write died in staging; (b) data dir renamed but
    # snapshot never committed; (c) snapshot beyond a chain break (v4 while
    # v3 is missing — unreachable forever)
    df.write.mode("overwrite").parquet(
        os.path.join(t.path, "_staging", "halfwrite"))
    df.write.mode("overwrite").parquet(
        os.path.join(t.path, "data", "orphan"))
    with open(os.path.join(t.path, "snapshots", "v4.json"), "w") as f:
        json.dump({"snapshot_id": 4, "parent_id": 3, "data_dirs": []}, f)

    # grace period: nothing young enough is touched
    assert t.vacuum(min_age_sec=3600) \
        == {"staging": [], "data": [], "snapshots": []}
    removed = t.vacuum(min_age_sec=0)
    assert removed["staging"] == ["halfwrite"]
    assert removed["data"] == ["orphan"]
    assert removed["snapshots"] == ["v4.json"]
    assert not os.path.exists(os.path.join(t.path, "data", "orphan"))
    # committed chain reads exactly as before
    assert t.read(spark).count() == 8
    assert t.committed_units() == {0, 1}
    # append still works after vacuum and ids continue from the chain tip
    assert t.append(spark.range(2).toDF("x"), summary={"unit": 2}) == 3
    assert t.read(spark).count() == 10


def test_schema_evolution_legacy_rows_tolerated(spark, tmp_path):
    """J5 legacy-row tolerance at the table layer: snapshots committed
    before a column existed read back with NULL defaults (reference analog:
    rows with <9 fields get defaults, app/routers/serials.py:249-263)."""
    from pyspark.sql import functions as F
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "A")], "id long, serial string"),
             summary={"unit": 0})
    t.append(spark.createDataFrame([(2, "B", "ios")],
                                   "id long, serial string, source string"),
             summary={"unit": 1})
    got = t.read(spark, merge_schema=True)
    assert set(got.columns) == {"id", "serial", "source"}
    rows = {r["id"]: r["source"] for r in got.collect()}
    assert rows == {1: None, 2: "ios"}
    # the coalesce/default-fill dispatch (SURVEY J5)
    filled = got.withColumn("source", F.coalesce("source", F.lit("server")))
    assert {r["source"] for r in filled.collect()} == {"server", "ios"}


def test_append_refuses_to_resurrect_orphan_snapshot(spark, tmp_path):
    """An orphan snapshot beyond the chain break must never be silently
    recommitted: filling the gap with a fresh append would make the
    orphan's data dirs committed state again.  append() refuses until
    vacuum removes the orphan."""
    import json
    import os
    import pytest
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "t"))
    t.append(spark.range(4).toDF("x"), summary={"unit": 0})
    # aborted-run leftover: v3 exists while v2 never committed
    with open(os.path.join(t.path, "snapshots", "v3.json"), "w") as f:
        json.dump({"snapshot_id": 3, "parent_id": 2, "data_dirs": []}, f)
    with pytest.raises(RuntimeError, match="resurrect"):
        t.append(spark.range(1).toDF("x"), summary={"unit": 1})
    # committed state untouched, vacuum clears the orphan, append resumes
    assert t.read(spark).count() == 4
    t.vacuum(min_age_sec=0)
    assert t.append(spark.range(1).toDF("x"), summary={"unit": 1}) == 2
    assert t.read(spark).count() == 5


def test_manifest_stats_prune_files_on_range_read(spark, tmp_path):
    """Iceberg file-skipping analog: appends recording min/max of a column
    let a range read skip whole committed dirs (strictly fewer dirs
    opened), while chain semantics — the unpredicated read — are
    unchanged."""
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "tbl"))
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 50).selectExpr(
            "id AS x", "CAST(id AS STRING) AS payload")
        t.append(df, stats_col="x")
    # stats landed in the manifest
    assert t.snapshots()[0]["stats"] == {"column": "x", "min": 0, "max": 49}
    # predicate read opens strictly fewer dirs ...
    all_dirs = t.data_dirs()
    hit_dirs = t.data_dirs(between=("x", 110, 130))
    assert len(all_dirs) == 3 and len(hit_dirs) == 1
    # ... and still returns every matching row (caller applies the filter)
    got = sorted(r.x for r in t.read(spark, between=("x", 110, 130))
                 .filter("x BETWEEN 110 AND 130").collect())
    assert got == list(range(110, 131))
    # chain semantics unchanged: full read sees all three appends
    assert t.read(spark).count() == 150
    # a dir committed WITHOUT stats is never pruned (conservative)
    t.append(spark.range(1).selectExpr("id AS x",
                                       "CAST(id AS STRING) AS payload"))
    assert len(t.data_dirs(between=("x", 110, 130))) == 2


def test_compact_bounds_read_fanin_and_keeps_ledger(spark, tmp_path):
    """An append-per-epoch store accumulates one data dir per commit;
    compact() rewrites the state into ONE dir and readers start there —
    bounded read fan-in, identical contents, ledger (committed_units)
    preserved across the compaction, appends continue normally after."""
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "tbl"))
    for i, lo in enumerate((0, 50, 100, 150, 200)):
        t.append(spark.range(lo, lo + 50).selectExpr("id AS x"),
                 summary={"epoch_key": f"r/{i}"})
    assert len(t.data_dirs()) == 5
    before = sorted(r.x for r in t.read(spark).collect())
    sid = t.compact(spark, stats_col="x")
    assert sid == 6
    assert len(t.data_dirs()) == 1
    assert sorted(r.x for r in t.read(spark).collect()) == before
    # manifest stats recorded on the compacted dir -> pruning still works
    assert t.snapshots()[-1]["stats"] == {"column": "x", "min": 0,
                                          "max": 249}
    assert t.data_dirs(between=("x", 1000, 2000)) == []
    # exactly-once ledger survives (all pre-compaction epochs visible)
    assert t.committed_units("epoch_key") == {f"r/{i}" for i in range(5)}
    t.append(spark.range(250, 260).selectExpr("id AS x"))
    assert len(t.data_dirs()) == 2
    assert t.read(spark).count() == 260


def test_append_expect_parent_cas(spark, tmp_path):
    """Optimistic-concurrency commits: an append conditioned on a stale
    parent is REFUSED (no snapshot, no visible rows), and its orphaned
    data dir is vacuumable."""
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "tbl"))
    t.append(spark.range(5).selectExpr("id AS x"))
    base = t.last_snapshot()["snapshot_id"]
    t.append(spark.range(5, 10).selectExpr("id AS x"))
    with pytest.raises(RuntimeError, match="commit conflict"):
        t.append(spark.range(10, 15).selectExpr("id AS x"),
                 expect_parent=base)
    assert t.read(spark).count() == 10          # refused rows invisible
    assert len(t.snapshots()) == 2
    removed = t.vacuum(min_age_sec=0.0)
    assert len(removed["data"]) == 1            # the orphaned rewrite dir
    assert t.read(spark).count() == 10


def test_compact_tail_only_rewrites_tail(spark, tmp_path):
    """Compaction is BIN-PACKING, not a full rewrite (round-4 verdict #2):
    the second compaction re-references the first one's dir untouched and
    rewrites only the dirs committed since it; manifest stats merge so
    range pruning still covers the whole store."""
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "tbl"))
    for i, lo in enumerate((0, 50, 100)):
        t.append(spark.range(lo, lo + 50).selectExpr("id AS x"),
                 stats_col="x", summary={"epoch_key": f"r/{i}"})
    assert t.compact(spark, stats_col="x") == 4
    dirs1 = set(t.data_dirs())
    assert len(dirs1) == 1
    # two more epochs, then compact again
    for i, lo in enumerate((150, 200), start=3):
        t.append(spark.range(lo, lo + 50).selectExpr("id AS x"),
                 stats_col="x", summary={"epoch_key": f"r/{i}"})
    assert t.compact(spark, stats_col="x") == 7
    dirs2 = t.data_dirs()
    # first compaction's dir is carried, NOT rewritten
    assert dirs1 <= set(dirs2) and len(dirs2) == 2
    new_dir = (set(dirs2) - dirs1).pop()
    # the rewrite holds ONLY the 2-epoch tail (100 rows), not the store
    assert spark.read.parquet(new_dir).count() == 100
    snap = t.snapshots()[-1]
    assert snap["summary"] == {"compacted_dirs": 2, "carried_dirs": 1}
    # merged stats span carried + tail -> pruning stays correct
    assert snap["stats"] == {"column": "x", "min": 0, "max": 249}
    assert t.data_dirs(between=("x", 300, 400)) == []
    assert t.data_dirs(between=("x", 0, 10)) == dirs2
    assert sorted(r.x for r in t.read(spark).collect()) == list(range(250))
    # nothing new since the last compaction -> no-op, no empty rewrite
    assert t.compact(spark, stats_col="x") is None
    # ledger survives both compactions
    assert t.committed_units("epoch_key") == {f"r/{i}" for i in range(5)}


def test_compact_drops_stats_when_carry_unstatted(spark, tmp_path):
    """A tail compaction over a carried dir WITHOUT compatible stats must
    not record the tail's bounds as the snapshot's — pruning would skip
    rows the carried dir holds; the snapshot goes statless (always read)."""
    from apple_ocr_backend_spark.sources.icelite import Table
    t = Table(str(tmp_path / "tbl"))
    t.append(spark.range(0, 50).selectExpr("id AS x"))
    assert t.compact(spark) == 2              # no stats recorded
    t.append(spark.range(1000, 1050).selectExpr("id AS x"))
    t.compact(spark, stats_col="x")
    assert "stats" not in t.snapshots()[-1]
    # conservative: a range that misses the TAIL still reads everything
    assert len(t.data_dirs(between=("x", 0, 10))) == 2
    assert t.read(spark).count() == 100
