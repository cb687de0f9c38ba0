"""The extraction workloads: seeded inputs, the timed action, the oracle.

Every workload sees only generated tables.  Seeded base inputs are cached as
parquet under ``perfbench/.cache`` (one file per seed and size), then
replicated JVM-side with distinct doc_ids into the run's input table.

* ``extract_mixed``  – fused ``extract_docs`` over a replicated
  ``make_corpus`` slice into the noop sink;
* ``resume_skewed``  – ``run_resumable`` (fused, 8 buckets, the shape
  ``scripts/run_extract.py`` ships) killed after half the buckets, then
  resumed, over mixed docs plus giant multi-page PDF docs.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from apple_ocr_backend_spark.config import DEFAULT_CONFIG as CFG
from apple_ocr_backend_spark.operators.assemble import explode_docs_pandas
from apple_ocr_backend_spark.plans.checkpoint import run_resumable
from apple_ocr_backend_spark.plans.pipeline import extract_docs
from apple_ocr_backend_spark.sources.corpus import (SPAN_FIELDS_IN,
                                                    extract_docs_oracle,
                                                    make_corpus)
from apple_ocr_backend_spark.sources.icelite import Table

SPAN_KEYS = ("kind", "text", "media_ref", "order")


class Run:
    """What one benchmark process shares with its workload."""

    def __init__(self, spark, tracer, work: str, cache: str, seed: int,
                 nproc: int):
        self.spark, self.tracer = spark, tracer
        self.work, self.cache, self.seed, self.nproc = work, cache, seed, nproc

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# --------------------------------------------------------------------------- #
# helpers
# --------------------------------------------------------------------------- #

def _cached_file(path: str, build) -> str:
    """Write ``build()`` (a pyarrow Table) to ``path`` once; atomic rename,
    so a killed run never leaves a half-written cache entry."""
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(build(), tmp)
        os.replace(tmp, path)
    return path


def _read_docs(spark, path: str):
    """Docs parquet written by pyarrow -> ``DOCS_DDL``.  pyarrow orders the
    struct fields (kind, media_ref, offset:int64, text), so the spans are
    rebuilt by field name rather than cast by position."""
    return spark.read.parquet(path).select("doc_id", F.transform(
        "spans", lambda s: F.struct(*[s[n].cast(t).alias(n)
                                      for n, t in SPAN_FIELDS_IN]))
        .alias("spans"))


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def _canon(spans) -> tuple:
    return tuple(tuple(s[k] for k in SPAN_KEYS) for s in (spans or []))


def _oracle_map(docs: pd.DataFrame) -> dict[str, tuple]:
    out = extract_docs_oracle(docs, CFG)
    return {d: _canon(s) for d, s in zip(out["doc_id"], out["spans"])}


def count_failed(table: pa.Table, expected: dict[str, tuple]) -> int:
    """Docs missing, duplicated or different from ``expected`` under
    (kind, text, media_ref, order), plus docs nobody asked for."""
    seen: Counter = Counter()
    bad: set = set()
    for row in table.to_pylist():
        d = row["doc_id"]
        seen[d] += 1
        if expected.get(d) != _canon(row["spans"]):
            bad.add(d)
    bad |= {d for d, n in seen.items() if n > 1}
    bad |= set(expected) - set(seen)
    return len(bad)


def _input_stats(docs) -> dict:
    """Docs, spans and (doc_id, salt) groups of the input table: a doc of n
    spans explodes into max(1, ceil(n / salt_span_budget)) groups."""
    n = F.size("spans")
    r = docs.agg(
        F.count(F.lit(1)).alias("docs"), F.sum(n).alias("spans"),
        F.sum(F.when(n > 0, F.greatest(F.lit(1), F.ceil(
            n / F.lit(CFG.salt_span_budget))))).alias("salt_groups")).first()
    return {"docs": int(r["docs"]), "spans": int(r["spans"] or 0),
            "salt_groups": int(r["salt_groups"] or 0)}


def _noop(df, expect: dict) -> None:
    """Run ``df`` into the noop sink, observing row and span counts so every
    timed execution is checked for lost or duplicated docs."""
    obs = Observation("out")
    (df.observe(obs, F.count(F.lit(1)).alias("docs"),
                F.sum(F.size("spans")).alias("spans"))
     .write.format("noop").mode("overwrite").save())
    got = obs.get
    if (int(got["docs"]), int(got["spans"] or 0)) != (expect["docs"],
                                                      expect["out_spans"]):
        raise AssertionError(f"noop sink saw {got}, expected {expect}")


# --------------------------------------------------------------------------- #
# workloads
# --------------------------------------------------------------------------- #

class Workload:
    name = ""

    def __init__(self, run: Run):
        self.run = run
        self.expected: dict[str, tuple] = {}
        self.stats: dict = {}

    # one set-up repetition: build the run's input tables from the cache
    def prepare(self) -> dict:
        raise NotImplementedError

    # the oracle: doc_id -> canonical span tuple
    def expect(self) -> None:
        raise NotImplementedError

    # span rows (pandas, exploded) of this workload for branch timing
    def sample_docs(self) -> pd.DataFrame:
        raise NotImplementedError

    def plan(self):
        raise NotImplementedError

    WARM_RUNS = 2

    def warm(self) -> tuple[int, int]:
        """First execution, collected and checked against the oracle, then
        untimed runs of the timed action itself: the JVM keeps getting
        faster over the first few executions, and without them the median
        would depend on how many iterations fit in the run.  Returns (docs
        checked, docs failed)."""
        tr = self.run.tracer
        with tr.span("run.execute"):
            got = self.plan().toArrow()
        with tr.span("check.oracle"):
            failed = count_failed(got, self.expected)
        for _ in range(self.WARM_RUNS):
            with tr.span("run.execute"):
                _noop(self.plan(), self.stats)
        return len(self.expected), failed

    def iterate(self, i: int) -> dict:
        tr = self.run.tracer
        t0 = time.perf_counter()
        with tr.span("run.plan"):
            df = self.plan()
        with tr.span("run.execute"):
            _noop(df, self.stats)
        wall = time.perf_counter() - t0
        return {"docs": self.stats["docs"], "wall_s": wall, "job_s": wall,
                "failed": 0}

    def _out_spans(self) -> None:
        self.stats["out_spans"] = sum(len(s) for s in self.expected.values())


class ExtractMixed(Workload):
    """Fused extraction of a replicated ``make_corpus`` slice."""
    name = "extract_mixed"
    BASE_DOCS, REPLICAS = 500, 16

    def _base(self) -> str:
        r = self.run
        return _cached_file(
            os.path.join(r.cache, f"mixed_s{r.seed}_n{self.BASE_DOCS}.parquet"),
            lambda: pa.Table.from_pandas(make_corpus(self.BASE_DOCS, r.seed),
                                         preserve_index=False))

    def prepare(self) -> dict:
        r = self.run
        base = _read_docs(r.spark, self._base())
        reps = r.spark.range(self.REPLICAS).select(F.col("id").alias("rep"))
        docs = base.crossJoin(reps).select(
            F.concat("doc_id", F.lit(".r"), F.col("rep").cast("string"))
            .alias("doc_id"), "spans")
        docs.repartition(2 * r.nproc).write.mode("overwrite").parquet(
            r.path("inputs", "docs"))
        self.docs = r.spark.read.parquet(r.path("inputs", "docs"))
        self.stats.update(_input_stats(self.docs))
        return {"input_bytes": _dir_bytes(r.path("inputs", "docs"))}

    def _base_pandas(self) -> pd.DataFrame:
        return pd.DataFrame(pq.read_table(self._base()).to_pylist())

    def expect(self) -> None:
        base = _oracle_map(self._base_pandas())
        self.expected = {f"{d}.r{k}": s for d, s in base.items()
                         for k in range(self.REPLICAS)}
        self._out_spans()

    def sample_docs(self) -> pd.DataFrame:
        return self._base_pandas()

    def plan(self):
        return extract_docs(self.docs, CFG, mode="fused")


class ResumeSkewed(Workload):
    """Killed-then-resumed bucketed run into a fresh icelite table."""
    name = "resume_skewed"
    BASE_DOCS, REPLICAS, GIANTS, GIANT_SPANS = 500, 6, 2, 3500
    BUCKETS, KILL_AFTER = 8, 4

    def _base(self) -> str:
        r = self.run
        return _cached_file(
            os.path.join(r.cache, f"skewed_s{r.seed}_n{self.BASE_DOCS}"
                         f"_g{self.GIANTS}x{self.GIANT_SPANS}.parquet"),
            lambda: pa.Table.from_pandas(
                make_corpus(self.BASE_DOCS, r.seed, giant_docs=self.GIANTS,
                            giant_spans=self.GIANT_SPANS),
                preserve_index=False))

    def _giant(self, doc_id: str) -> bool:
        return doc_id.startswith("doc_giant_")

    def prepare(self) -> dict:
        r = self.run
        base = _read_docs(r.spark, self._base())
        giant = F.col("doc_id").startswith("doc_giant_")
        reps = r.spark.range(self.REPLICAS).select(F.col("id").alias("rep"))
        small = base.where(~giant).crossJoin(reps).select(
            F.concat("doc_id", F.lit(".r"), F.col("rep").cast("string"))
            .alias("doc_id"), "spans")
        small.unionByName(base.where(giant)).repartition(2 * r.nproc) \
            .write.mode("overwrite").parquet(r.path("inputs", "docs"))
        self.docs = r.spark.read.parquet(r.path("inputs", "docs"))
        self.stats.update(_input_stats(self.docs))
        return {"input_bytes": _dir_bytes(r.path("inputs", "docs"))}

    def _base_pandas(self) -> pd.DataFrame:
        return pd.DataFrame(pq.read_table(self._base()).to_pylist())

    def expect(self) -> None:
        self.expected = {}
        for d, s in _oracle_map(self._base_pandas()).items():
            if self._giant(d):
                self.expected[d] = s
            else:
                self.expected.update({f"{d}.r{k}": s
                                      for k in range(self.REPLICAS)})
        self._out_spans()

    def sample_docs(self) -> pd.DataFrame:
        return self._base_pandas()

    def plan(self):
        return extract_docs(self.docs, CFG, mode="fused")

    def warm(self) -> tuple[int, int]:
        # the checked output of this workload is the committed table of
        # every iteration; the warm-up only starts the Python workers, on
        # one bucket's worth of docs
        with self.run.tracer.span("run.execute"):
            extract_docs(self.docs.limit(self.stats["docs"] // self.BUCKETS),
                         CFG, mode="fused").write.format("noop") \
                .mode("overwrite").save()
        return 0, 0

    def iterate(self, i: int) -> dict:
        r, tr = self.run, self.run.tracer
        table_dir = r.path("tables", f"it{i}")
        shutil.rmtree(table_dir, ignore_errors=True)
        t0 = time.perf_counter()
        with tr.span("run.killed"):
            try:
                run_resumable(r.spark, self.docs, table_dir, CFG,
                              n_buckets=self.BUCKETS, mode="fused",
                              run_id="killed", fail_after=self.KILL_AFTER)
                raise AssertionError("the killed run was not killed")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        t1 = time.perf_counter()
        with tr.span("run.resume"):
            res = run_resumable(r.spark, self.docs, table_dir, CFG,
                                n_buckets=self.BUCKETS, mode="fused",
                                run_id="resume")
        t2 = time.perf_counter()
        with tr.span("check.oracle"):
            failed = self.check(res)
        return {"docs": self.stats["docs"], "wall_s": t2 - t0,
                "job_s": t2 - t1, "failed": failed, "table": table_dir,
                "processed": len(res["processed"]),
                "skipped": len(res["skipped"])}

    def check(self, res: dict) -> int:
        """Committed table equals the oracle, and every bucket is committed
        exactly once (a doubly committed bucket fails all the docs)."""
        table: Table = res["table"]
        buckets = Counter(s["summary"]["bucket"] for s in table.snapshots())
        if (buckets != Counter(range(self.BUCKETS))
                or len(res["skipped"]) != self.KILL_AFTER):
            return self.stats["docs"]
        return count_failed(table.read(self.run.spark).toArrow(),
                            self.expected)


WORKLOADS = {w.name: w for w in (ExtractMixed, ResumeSkewed)}


def span_rows(docs: pd.DataFrame) -> pd.DataFrame:
    """Exploded span rows with the salt each row would get."""
    rows = explode_docs_pandas(docs)
    n = rows.groupby("doc_id")["span_pos"].transform("size").to_numpy()
    n_salts = np.maximum(1, -(-n // CFG.salt_span_budget))
    rows["salt"] = (rows["span_pos"].to_numpy() % n_salts).astype(np.int32)
    return rows
