"""Derived corpora built from the driver's testdata tables — pure JVM
expressions, so the same derivation runs at any scale (100 TB datagen is a
map-only job) and can be replayed verbatim in DuckDB oracle SQL.

`serial_expr`/`corrupt_expr` derive a deterministic, extended-valid Apple
serial from any integer id via md5 — the labels.csv analog
(``/root/reference/generate_image.py:247-316`` seeds serials the same way in
spirit: deterministic generator + golden mapping).

`docs_from_documents` wraps each row of the ``documents`` testdata table into
an interleaved (html, pdf, image) spans document matching BASELINE.json's
input_hint, with the md5-derived serial hidden in the image span's token
stream — an any-scale corpus for the extraction pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# hex -> no-confusable letters (digits pass through)
_MID_FROM = "ABCDEF"
_MID_TO = "HJKMNP"


def serial_expr(id_col: Column) -> Column:
    """12-char serial: 'C' + digit + 9 safe chars + digit, from md5(id)."""
    h = F.upper(F.md5(id_col.cast("string")))
    return F.concat(
        F.lit("C"),
        F.translate(F.substring(h, 1, 1), _MID_FROM, "012345"),
        F.translate(F.substring(h, 2, 9), _MID_FROM, _MID_TO),
        F.translate(F.substring(h, 11, 1), _MID_FROM, "012345"))


SERIAL_SQL = ("concat('C', translate(substring(upper(md5(CAST({id} AS VARCHAR))),1,1),"
              " 'ABCDEF','012345'),"
              " translate(substring(upper(md5(CAST({id} AS VARCHAR))),2,9),"
              " 'ABCDEF','HJKMNP'),"
              " translate(substring(upper(md5(CAST({id} AS VARCHAR))),11,1),"
              " 'ABCDEF','012345'))")


def corrupt_expr(serial: Column) -> Column:
    """OCR-noise stand-in: digits -> confusable letters (recovered by the
    expansion/normalization chain)."""
    return F.translate(serial, "0125", "OIZS")


CORRUPT_SQL = "translate({s}, '0125', 'OIZS')"


def docs_from_documents(spark: SparkSession, sf_dir: str,
                        num_partitions: int | None = None) -> DataFrame:
    """documents(doc_id,text,...) -> docs(doc_id, spans) interleaved corpus.

    ``num_partitions`` repartitions the RAW (doc_id, text) scan before the
    span expressions are built: a small single-file parquet scan is one
    input split, so without it the whole expression + explode front of a
    derived pipeline runs in ONE task (measured 4.4 s serial at 32k docs,
    local[8]) — the exchange of slim raw rows is far cheaper than the
    serialized front.  Default None keeps the single-partition plan (the
    correctness-gate corpora are small).

    Per document: span0 html (text wrapped in boilerplate), span1 pdf (three
    positioned lines over two blocks), span2 image (2-pass token stream with
    a corrupted serial: low-confidence pass 1, high-confidence pass 2 —
    exercising the early-stop anti-join on exactly the docs whose pass-1
    candidates clear the bar... none here, pass1 conf 0.55).
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if num_partitions:
        d = d.repartition(num_partitions)
    serial = serial_expr(F.col("doc_id"))
    noisy = corrupt_expr(serial)
    html = F.concat(
        F.lit('<html><body><nav><a href="/h">home</a> <a href="/a">about</a>'
              '</nav><article><p>'),
        F.col("text"),
        F.lit('</p></article><footer>contact <a href="/c">us</a>'
              '</footer></body></html>'))
    pdf = F.concat(
        F.lit("72,100,10|"), F.substring("text", 1, 60), F.lit("\n"),
        F.lit("72,112,10|"), F.substring("text", 61, 60), F.lit("\n"),
        F.lit("72,160,10|"), F.substring("text", 121, 60))
    image = F.concat(noisy, F.lit("@0.55 JU NK@0.20 | "), noisy, F.lit("@0.95"))
    doc_id = F.format_string("doc_%08d", F.col("doc_id"))
    span = lambda kind, text, media, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"), text.alias("text"),
        media.alias("media_ref"), F.lit(off).cast("int").alias("offset"))
    return d.select(
        doc_id.alias("doc_id"),
        F.array(
            span("html", html, F.lit(None).cast("string"), 0),
            span("pdf", pdf, F.lit(None).cast("string"), 1),
            span("image", image, F.concat(F.lit("media://"), doc_id, F.lit("/0")), 2),
        ).alias("spans"))


_MID_TABLE = str.maketrans(_MID_FROM, _MID_TO)
_DIGIT_TABLE = str.maketrans(_MID_FROM, "012345")


def serial_py(doc_id: int) -> str:
    """Python twin of ``serial_expr`` — byte-identical by construction
    (same md5 string, same translate tables); pinned against the Spark
    expression in tests/test_extract_pixels.py."""
    import hashlib
    h = hashlib.md5(str(doc_id).encode()).hexdigest().upper()
    return ("C" + h[0].translate(_DIGIT_TABLE)
            + h[1:10].translate(_MID_TABLE) + h[10].translate(_DIGIT_TABLE))


MEDIA_DDL = "media_ref string, payload binary"


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> media store (media_ref, payload): the binary side of the
    interleaved corpus — each doc's image media_ref resolves to a real PNG
    plate with the SAME md5-derived serial drawn in the 5x7 glyph font
    (per-glyph jitter + ink dropout, ``sources/image_corpus.py``).

    Datagen analog of the reference's image corpus generator
    (``generate_image.py:247-316``): a map-only job at any scale.  In
    production this table IS the object store manifest; co-bucket it with
    the docs table on media_ref so the payload join in
    ``plans.pipeline.extract_docs(..., media=...)`` is exchange-free on
    the store side."""
    from ..functions.png_codec import encode_png_gray
    from ..operators.multimodal import map_rows  # sources stay below operators
    from .image_corpus import render_serial_image

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    # rendering is the whole cost; spread the 1-split scan across cores
    # (an exchange of bare int64 ids is free by comparison)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return map_rows(d, ("doc_id",), MEDIA_DDL, lambda i: [(
        f"media://doc_{i:08d}/0",
        encode_png_gray(render_serial_image(i, text=serial_py(i))))])
