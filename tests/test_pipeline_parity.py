"""Spark pipeline == pandas oracle, bit-for-bit, under span-sequence equality
(kind, text, media_ref, order) — the BASELINE.json correctness invariant.

The one extraction plan (a single Arrow kernel pass, OCR early stop per span
inside the kernel) must match the oracle independent of partitioning and
Arrow batch size.
"""

from __future__ import annotations

import pandas as pd
import pytest

from apple_ocr_backend_spark.config import ExtractConfig
from apple_ocr_backend_spark.sources.corpus import (
    make_corpus, extract_docs_oracle, docs_spark_schema)
from apple_ocr_backend_spark.plans.pipeline import extract_docs

CFG = ExtractConfig()


def _spans_map(df: pd.DataFrame) -> dict[str, list[tuple]]:
    out = {}
    for doc_id, spans in zip(df["doc_id"], df["spans"]):
        norm = []
        for s in spans:
            d = s.asDict() if hasattr(s, "asDict") else dict(s)
            norm.append((d["kind"], d["text"], d["media_ref"], d["order"]))
        out[doc_id] = norm
    return out


def _to_spark_docs(spark, docs: pd.DataFrame):
    rows = [(d, None if spans is None else
             [(s["kind"], s["text"], s["media_ref"], s["offset"])
              for s in spans])
            for d, spans in zip(docs["doc_id"], docs["spans"])]
    return spark.createDataFrame(rows, schema=docs_spark_schema())


def _span(kind, text, offset, media_ref=None):
    return {"kind": kind, "text": text, "media_ref": media_ref,
            "offset": offset}


def edge_docs() -> pd.DataFrame:
    """Docs with nothing to extract: empty and null ``spans``, and docs
    whose every span filters out (boilerplate-only html, whitespace-only
    text, an OCR token stream with no valid serial).  Each must come out
    exactly once with ``spans = []``."""
    return pd.DataFrame({
        "doc_id": ["edge_empty", "edge_null", "edge_html", "edge_ws",
                   "edge_ocr", "edge_all"],
        "spans": [
            [], None,
            [_span("html", "<nav><a>home</a></nav><footer>(c)</footer>", 0)],
            [_span("text", "  \n\t ", 0)],
            [_span("image", "XX GARBAGE@0.01|??@0.2", 0, "media://none/1")],
            [_span("text", " ", 0),
             _span("html", "<header>h</header><aside>a</aside>", 3),
             _span("image", "", 7, "media://none/2"),
             _span("pdf", "", 9)]]})


EDGE_IDS = set(edge_docs()["doc_id"])


def assert_edge_docs_empty(got: pd.DataFrame) -> None:
    """Every edge doc appears exactly once, with an empty spans array."""
    edge = got[got["doc_id"].isin(EDGE_IDS)]
    assert sorted(edge["doc_id"]) == sorted(EDGE_IDS)
    assert all(len(s) == 0 for s in edge["spans"])


@pytest.fixture(scope="module")
def corpus():
    docs = pd.concat([make_corpus(150, seed=42), edge_docs()],
                     ignore_index=True)
    golden = extract_docs_oracle(docs, CFG)
    return docs, golden


@pytest.mark.parametrize("mode", ["fused"])
def test_spark_matches_oracle(spark, corpus, mode):
    docs, golden = corpus
    sdf = _to_spark_docs(spark, docs)
    got = extract_docs(sdf, CFG, mode=mode).toPandas()
    assert_edge_docs_empty(got)
    want = _spans_map(golden)
    have = _spans_map(got)
    assert set(have) == set(want)
    mismatches = {k for k in want if want[k] != have[k]}
    assert not mismatches, (
        f"{len(mismatches)} docs mismatch, e.g. "
        f"{sorted(mismatches)[0]}:\nwant {want[sorted(mismatches)[0]]}\n"
        f"have {have[sorted(mismatches)[0]]}")


def test_partitioning_invariance(spark, corpus):
    """Same result under a different partition count (shuffle-order
    independence), down to a single kernel partition."""
    docs, golden = corpus
    sdf = _to_spark_docs(spark, docs).repartition(13)
    for num_partitions in (1, 7):
        got = extract_docs(sdf, CFG,
                           num_partitions=num_partitions).toPandas()
        assert _spans_map(got) == _spans_map(golden), num_partitions


def test_only_the_fused_mode_exists(spark, corpus, tmp_path):
    """``mode`` is a compatibility keyword: any value but "fused" raises
    before a plan is built, in ``extract_docs`` and ``run_resumable``."""
    from apple_ocr_backend_spark.plans.checkpoint import run_resumable
    sdf = _to_spark_docs(spark, corpus[0])
    with pytest.raises(ValueError, match="one plan"):
        extract_docs(sdf, CFG, mode="staged")
    with pytest.raises(ValueError, match="one plan"):
        run_resumable(spark, sdf, str(tmp_path / "t"), CFG, mode="staged")
    assert not (tmp_path / "t").exists()


def test_fused_plan_scans_documents_once(spark, corpus, tmp_path):
    """The plan over a parquet docs table reads it once and has no doc-id
    spine: no broadcast exchange, no broadcast join."""
    import re
    path = str(tmp_path / "docs.parquet")
    _to_spark_docs(spark, corpus[0]).write.parquet(path)
    out = extract_docs(spark.read.parquet(path), CFG)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "BroadcastExchange" not in plan
    assert "BroadcastHashJoin" not in plan


def test_fused_kernel_streams_per_batch(spark, corpus):
    """Round-2 verdict #1: the fused mapInArrow kernel must stream one output
    RecordBatch per input Arrow batch (no whole-partition pandas buffering),
    and a (doc, salt) group straddling a batch boundary must still reassemble
    into the identical final sequence (reassemble_partials merges multiple
    partials per key by the unique (offset, span_pos, out_rank) sort)."""
    import pyarrow as pa
    from apple_ocr_backend_spark.plans.pipeline import _mono_partial_kernel

    # direct kernel probe: ONE (doc, salt) group split across two input
    # batches -> two emitted RecordBatches (streaming), two partial arrays
    b = pd.DataFrame({
        "doc_id": ["d"] * 4, "salt": [0] * 4, "span_pos": [0, 1, 2, 3],
        "offset": [0, 1, 2, 3], "kind": ["text"] * 4,
        "media_ref": pd.array([None] * 4, dtype="string"),
        "text": ["alpha one", "beta two", "gamma three", "delta four"]})
    batches = [
        pa.RecordBatch.from_pandas(b.iloc[:2].reset_index(drop=True),
                                   preserve_index=False),
        pa.RecordBatch.from_pandas(b.iloc[2:].reset_index(drop=True),
                                   preserve_index=False)]
    out = list(_mono_partial_kernel(CFG.as_dict())(iter(batches)))
    assert len(out) == 2, "kernel buffered batches instead of streaming"
    # each batch emitted one partial array for the same (doc, salt)
    assert [o.num_rows for o in out] == [1, 1]

    # end-to-end: tiny Arrow batches force straddling everywhere; the fused
    # result must still equal the oracle bit-for-bit
    docs, golden = corpus
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        got = extract_docs(_to_spark_docs(spark, docs), CFG).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert _spans_map(got) == _spans_map(golden)


def test_fused_kernel_streams_under_byte_cap(spark, corpus):
    """The 1 MiB Arrow byte cap is what bounds a one-wave kernel
    partition's batch memory, so pin that Spark honours
    ``maxBytesPerBatch`` on mapInArrow input: with a tiny byte cap and
    the 8,192-row cap, ONE kernel partition arrives as several batches,
    and the output still equals the oracle bit-for-bit."""
    from apple_ocr_backend_spark.operators.skew import (explode_salted,
                                                        repartition_salted)
    docs, golden = corpus
    sdf = _to_spark_docs(spark, docs)

    def batch_rows(batches):
        import pyarrow as pa
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})

    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        assert spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch") == "8192"
        rows = repartition_salted(explode_salted(sdf, CFG), 1)
        sizes = [r.n for r in rows.mapInArrow(batch_rows, "n long").collect()]
        got = extract_docs(sdf, CFG, num_partitions=1).toPandas()
    finally:
        spark.conf.set(key, old)
    assert len(sizes) > 1 and sum(sizes) == rows.count() < 8192, sizes
    assert _spans_map(got) == _spans_map(golden)


def test_kernel_emits_every_group():
    """The fused kernel emits one partial per input (doc_id, salt) group —
    empty for a span-less placeholder row (null span_pos) and for a group
    whose every span filters out — so the merge needs no doc-id spine."""
    import pyarrow as pa
    from apple_ocr_backend_spark.plans.pipeline import _mono_partial_kernel

    schema = pa.schema([("doc_id", pa.string()), ("salt", pa.int32()),
                        ("span_pos", pa.int32()), ("offset", pa.int32()),
                        ("kind", pa.string()), ("media_ref", pa.string()),
                        ("text", pa.string())])
    batch = pa.RecordBatch.from_pylist([
        {"doc_id": "c", "salt": 1, "span_pos": 1, "offset": 4,
         "kind": "text", "media_ref": None, "text": " kept  text "},
        {"doc_id": "a", "salt": 0, "span_pos": None, "offset": None,
         "kind": None, "media_ref": None, "text": None},
        {"doc_id": "b", "salt": 0, "span_pos": 0, "offset": 0,
         "kind": "text", "media_ref": None, "text": " \t "}], schema=schema)
    kernel = _mono_partial_kernel(CFG.as_dict())
    out = [b.to_pydict() for b in kernel(iter([batch, batch.slice(1, 2)]))]
    assert out[0]["doc_id"] == ["a", "b", "c"]
    assert out[0]["partial"][:2] == [[], []]
    assert [s["text"] for s in out[0]["partial"][2]] == ["kept text"]
    assert out[1] == {"doc_id": ["a", "b"], "partial": [[], []]}


def test_giant_doc_salting(spark):
    """A giant doc splits across salts and still reassembles in exact order."""
    cfg = ExtractConfig(salt_span_budget=16)
    docs = make_corpus(5, seed=7, giant_docs=1, giant_spans=200)
    golden = extract_docs_oracle(docs, cfg)
    sdf = _to_spark_docs(spark, docs)
    got = extract_docs(sdf, cfg).toPandas()
    assert _spans_map(got) == _spans_map(golden)
    g = [s for s in got[got["doc_id"] == "doc_giant_0"]["spans"].iloc[0]]
    orders = [x["order"] for x in g]
    assert orders == list(range(len(orders))) and len(orders) >= 200
