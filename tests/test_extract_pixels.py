"""Extraction with a media store: payload join + real-pixel OCR.

The catalog oracle suite already hash-checks `extract_pipeline_pixels`
against DuckDB; these tests pin the properties that check depends on:
the Python/Spark serial derivations agree, the pixel path reads the same
serial the token-stream pipeline resolves to (cross-modality agreement),
and the image span's token text is provably unused by the pixel kernel.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from apple_ocr_backend_spark.plans.pipeline import extract_docs
from apple_ocr_backend_spark.sources.derived import (
    docs_from_documents, media_from_documents, serial_expr, serial_py)

SF = "/root/testdata/sf0.001"


def test_serial_py_matches_serial_expr(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), serial_expr(F.col("id")).alias("ser"))
    for r in df.collect():
        assert serial_py(r.doc_id) == r.ser


@pytest.fixture(scope="module")
def small_docs(spark):
    return docs_from_documents(spark, SF).orderBy("doc_id").limit(40).cache()


@pytest.fixture(scope="module")
def media(spark):
    return media_from_documents(spark, SF)


@pytest.fixture(scope="module")
def pixel_base(small_docs, media):
    """The media plan's output at the default kernel partitioning."""
    from tests.test_pipeline_parity import _spans_map
    return _spans_map(extract_docs(small_docs, media=media).toPandas())


_CORRUPT = str.maketrans("0125", "OIZS")


def test_pixel_ocr_resolves_token_pipeline_ambiguity(spark, small_docs, media):
    """Cross-modality pin.  (1) The pixel path reads the TRUE md5-derived
    serial off the plate for every doc.  (2) Every token-stream candidate
    agrees with the pixel read up to the confusable-character family
    (0/O, 1/I, 2/Z, 5/S): at least one token candidate re-corrupts to the
    same noisy stream the pixel read does.  Strict top-1 (or even full-set)
    equality does not hold by design — the token expansion emits
    single-substitution variants it cannot rank apart and position-rule
    swaps outside the corrupt family (J->I etc., the collision-resolved
    table in ``functions/serials.py``); the pixels are the ground truth
    that resolves exactly that lost information."""
    token = extract_docs(small_docs)
    pixel = extract_docs(small_docs, media=media)
    tok_cands = {r.doc_id: set(r.cands) for r in
                 (token.select("doc_id", F.explode("spans").alias("s"))
                  .where(F.col("s.kind") == "ocr_text")
                  .groupBy("doc_id")
                  .agg(F.collect_set("s.text").alias("cands"))
                  .collect())}
    pix = {r.doc_id: r.text for r in
           (pixel.select("doc_id", F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "ocr_text")
            .select("doc_id", F.col("s.text").alias("text"))
            .collect())}
    assert len(pix) == 40
    for doc_id, text in pix.items():
        assert text == serial_py(int(doc_id.split("_")[1]))
        noisy = text.translate(_CORRUPT)
        assert noisy in {c.translate(_CORRUPT) for c in tok_cands[doc_id]}


def test_image_token_text_is_ignored_by_pixel_path(spark, small_docs, media):
    """Corrupt every image span's token stream; the pixel pipeline's output
    must not change (it reads the PNG payload, not the text)."""
    corrupted = small_docs.withColumn(
        "spans", F.transform("spans", lambda s: F.struct(
            s["kind"].alias("kind"),
            F.when(s["kind"] == "image", F.lit("XX GARBAGE@0.99"))
             .otherwise(s["text"]).alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"))))
    a = extract_docs(small_docs, media=media).orderBy("doc_id").collect()
    b = extract_docs(corrupted, media=media).orderBy("doc_id").collect()
    assert a == b


def test_missing_media_drops_span_not_doc(spark, small_docs, media):
    """An image span whose media_ref has no payload (dead link) yields no
    ocr_text row, but the doc's html/pdf spans still extract."""
    no_media = media.limit(0)
    out = extract_docs(small_docs, media=no_media)
    rows = (out.select("doc_id", F.explode("spans").alias("s"))
            .groupBy(F.col("s.kind").alias("kind")).count().collect())
    kinds = {r.kind: r["count"] for r in rows}
    assert "ocr_text" not in kinds
    assert kinds.get("main_text", 0) > 0
    assert out.count() == 40  # every doc comes out, spans or not


def test_span_less_docs_come_out_empty(spark, small_docs, media, pixel_base):
    """Docs with nothing to extract (empty or null spans, every span
    filtered out, image refs with no payload) come out once each with
    ``spans = []``, matching the oracle, and leave the other docs'
    output unchanged."""
    from apple_ocr_backend_spark.sources.corpus import extract_docs_oracle
    from tests.test_pipeline_parity import (_spans_map, _to_spark_docs,
                                            assert_edge_docs_empty,
                                            edge_docs)
    edge = edge_docs()
    mixed = small_docs.unionByName(_to_spark_docs(spark, edge))
    got = extract_docs(mixed, media=media).toPandas()
    assert len(got) == 40 + len(edge)
    assert_edge_docs_empty(got)
    have = _spans_map(got)
    assert {k: have[k] for k in edge["doc_id"]} \
        == _spans_map(extract_docs_oracle(edge))
    assert {k: v for k, v in have.items() if k in pixel_base} == pixel_base


def test_shuffle_join_regime_matches_broadcast_plan(spark, small_docs, media):
    """The null-spreading sentinel join key exists for the regime where the
    media store cannot broadcast (at bench scale the store auto-broadcasts
    and the sentinel is never hashed).  Force that regime — broadcast off,
    so the payload join runs as a shuffle join partitioned on the spread
    key — and pin that the output is bit-identical to the broadcast plan:
    sentinel keys never match a real media:// ref, and no span is lost or
    duplicated by the key rewrite."""
    base = extract_docs(small_docs, media=media).orderBy("doc_id").collect()
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = (extract_docs(small_docs, media=media)
                  .orderBy("doc_id").collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert forced == base


def test_payload_join_bucketed_store_never_shuffles(spark, small_docs, media):
    """The 100 TB regime the pipeline docstring promises: when the media
    store outgrows broadcast, bucketing it on media_ref (one write-time
    shuffle) makes the payload join exchange-free on the STORE side —
    only the just-exploded spans shuffle.  Evidence: 1 shuffle exchange
    with the bucketed store vs 2 without, identical join output."""
    from apple_ocr_backend_spark.operators.skew import explode_salted
    from apple_ocr_backend_spark.plans.pipeline import media_join_key
    from apple_ocr_backend_spark.sources.bucketed import (count_exchanges,
                                                          write_bucketed)
    from apple_ocr_backend_spark.config import DEFAULT_CONFIG

    rows = explode_salted(small_docs, DEFAULT_CONFIG)
    spans = rows.withColumn("__mkey", media_join_key())
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(media, "t_media_b", "media_ref", 8)
        store = (spark.table("t_media_b")
                 .withColumnRenamed("media_ref", "__mkey"))
        j_bucketed = spans.join(store, "__mkey", "left")
        j_plain = spans.join(media.withColumnRenamed("media_ref", "__mkey"),
                             "__mkey", "left")
        n_b, n_p = count_exchanges(j_bucketed), count_exchanges(j_plain)
        # bucketed: exactly ONE shuffle — the just-exploded spans moving to
        # the store's bucketing; the store side contributes zero (vs 3 for
        # the unbucketed frame: both join sides + the render repartition
        # inside media_from_documents, all paid at write time instead)
        assert n_b == 1 and n_p > n_b, (n_b, n_p)
        a = sorted((r.doc_id, r.span_pos, r.payload is not None)
                   for r in j_bucketed.collect())
        b = sorted((r.doc_id, r.span_pos, r.payload is not None)
                   for r in j_plain.collect())
        assert a == b and any(p for _, _, p in a)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_media_b")


def test_media_partitioning_invariance(spark, small_docs, media, pixel_base):
    """The media plan gives the same output at 1 and 7 kernel partitions
    as at the default partitioning."""
    from tests.test_pipeline_parity import _spans_map
    docs = small_docs.repartition(13)
    for num_partitions in (1, 7):
        got = extract_docs(docs, media=media,
                           num_partitions=num_partitions).toPandas()
        assert _spans_map(got) == pixel_base, num_partitions


def test_media_kernel_streams_per_batch(spark, small_docs, media,
                                        pixel_base):
    """Tiny Arrow batches split (doc, salt) groups and payload rows across
    batches everywhere; the media plan's output must not change."""
    from tests.test_pipeline_parity import _spans_map
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        got = extract_docs(small_docs, media=media).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert _spans_map(got) == pixel_base


def test_media_plan_scans_documents_once(spark, small_docs, media, tmp_path):
    """The media plan over a parquet docs table reads that table once: a
    span-less doc rides its placeholder row through the payload join, so
    no doc-id spine re-reads it."""
    import re
    path = str(tmp_path / "docs.parquet")
    small_docs.write.parquet(path)
    out = extract_docs(spark.read.parquet(path), media=media)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    locations = re.findall(r"^Location: .*$", plan, re.M)
    assert len(scans) == len(locations) == 2  # docs + the media store
    assert sum("docs.parquet" in loc for loc in locations) == 1
