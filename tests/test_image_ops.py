"""Spark image-path operators: planted-geometry recovery end to end,
partitioning invariance, decode-scan contract."""

from __future__ import annotations

import pytest
from hostile_media import nested_list_avi, rate0_wav
from pyspark.sql import functions as F

from apple_ocr_backend_spark.functions.png_codec import encode_png_gray
from apple_ocr_backend_spark.operators.image_extract import (
    decode_stats, detect_orientations, extract_rois, extract_rois_nms,
    ocr_serials, ocr_serials_fallback, render_media, resize_images)
from apple_ocr_backend_spark.operators.multimodal import (
    audio_decode_stats, video_frame_ocr, video_frame_stats)
from apple_ocr_backend_spark.sources.audio_corpus import render_doc_audio
from apple_ocr_backend_spark.sources.image_corpus import (
    planted_geometry, render_doc_image, render_serial_image)
from apple_ocr_backend_spark.sources.video_corpus import (
    render_doc_serial_video, render_doc_video)

N_DOCS = 60


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(N_DOCS).withColumnRenamed("id", "doc_id")


def test_extract_rois_matches_planted(spark, ids):
    media = render_media(ids, rotate=False)
    rows = extract_rois(media, top_k=4).orderBy("doc_id", "roi_idx").collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append((r.y0, r.y1))
    for doc in range(N_DOCS):
        assert got[doc] == planted_geometry(doc)["bands"], doc


def test_extract_rois_partitioning_invariant(spark, ids):
    media = render_media(ids, rotate=False)
    a = extract_rois(media).orderBy("doc_id", "roi_idx").collect()
    b = (extract_rois(media.repartition(7))
         .orderBy("doc_id", "roi_idx").collect())
    assert a == b
    # extra input columns, in any position, do not reach the row function
    wide = media.select(F.lit("x").alias("note"), "media",
                        F.col("media").alias("media2"), "doc_id")
    c = extract_rois(wide).orderBy("doc_id", "roi_idx").collect()
    assert a == c


def test_orientation_matches_planted(spark, ids):
    media = render_media(ids, rotate=True)
    for r in detect_orientations(media).collect():
        assert r.angle == 90 * planted_geometry(r.doc_id)["rot_quads"]


def test_decode_stats_contract(spark, ids):
    media = render_media(ids, rotate=True)
    for r in decode_stats(media).collect():
        g = planted_geometry(r.doc_id)
        odd = g["rot_quads"] % 2 == 1
        assert (r.height, r.width) == ((256, 144) if odd else (144, 256))
        want_ink = 168 if odd else sum(b - a for a, b in g["bands"])
        assert r.ink_rows == want_ink
        assert r.glare == g["glare"]


def test_resize_halves_dims_and_reencodes(spark, ids):
    media = render_media(ids, rotate=True)
    for r in resize_images(media, scale=2).collect():
        assert (r.h_out, r.w_out) == (r.h_in // 2, r.w_in // 2)
        assert 0 < r.n_bytes_out


def test_decode_image_png_and_foreign_format(spark):
    from apple_ocr_backend_spark.operators.multimodal import decode_image
    from apple_ocr_backend_spark.sources.image_corpus import (
        encode_png_gray, render_doc_image)
    img = render_doc_image(3)
    assert (decode_image(encode_png_gray(img)) == img).all()
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg soi header")


def test_null_and_empty_partition_batches(spark):
    # empty input frame must not crash the Arrow stages
    empty = spark.range(0).withColumnRenamed("id", "doc_id")
    assert extract_rois(render_media(empty)).count() == 0
    assert decode_stats(render_media(empty)).count() == 0
    # a non-empty batch in which no doc yields a row: an empty frame that
    # still converts to the operator's schema
    import numpy as np
    from apple_ocr_backend_spark.functions.png_codec import encode_png_gray
    blank = bytearray(encode_png_gray(np.full((144, 256), 216, np.uint8)))
    blanks = spark.createDataFrame([(d, blank) for d in range(3)],
                                   "doc_id long, media binary").coalesce(1)
    none = extract_rois(blanks, fallback=False)
    assert none.collect() == []
    assert none.schema.simpleString() == (
        "struct<doc_id:bigint,roi_idx:int,y0:int,y1:int>")


def test_null_media_reads_as_empty(spark):
    """The byte-level stand-ins treat a null buffer as b"" (the
    signature extractor is the documented fallback, so it must not fail
    its task on one)."""
    import hashlib
    from apple_ocr_backend_spark.operators.multimodal import (
        media_signatures, resize_media, sample_frames)
    df = spark.createDataFrame([(0, bytearray(b"abc")), (1, None)],
                               "doc_id long, media binary").coalesce(1)
    empty_sig = hashlib.md5(b"").hexdigest()
    sigs = {r.doc_id: tuple(r) for r in media_signatures(df).collect()}
    assert sigs == {0: (0, 3, hashlib.md5(b"abc").hexdigest()),
                    1: (1, 0, empty_sig)}
    resized = {r.doc_id: tuple(r) for r in resize_media(df).collect()}
    assert resized[1] == (1, 0, 0, empty_sig)
    frames = [tuple(r) for r in sample_frames(df).collect() if r.doc_id == 1]
    assert frames == [(1, 0, 0, empty_sig)]


def test_blank_page_falls_back_to_fixed_bands(spark):
    """P5: a page with no detectable text yields the reference's 3 fixed
    bands in center/bottom/top priority order (yolo_detector.py:397-497)."""
    import numpy as np
    from apple_ocr_backend_spark.functions.png_codec import encode_png_gray
    blank = encode_png_gray(np.full((144, 256), 216, dtype=np.uint8))
    df = spark.createDataFrame([(0, bytearray(blank))], "doc_id long, media binary")
    rows = extract_rois(df).orderBy("roi_idx").collect()
    assert [(r.y0, r.y1) for r in rows] == [(48, 96), (96, 144), (0, 48)]
    assert extract_rois(df, fallback=False).count() == 0
    # without the fallback the blank doc yields no rows, and its
    # neighbours in the same batch keep exactly theirs
    from apple_ocr_backend_spark.sources.image_corpus import render_doc_image

    def page(d):
        return bytearray(encode_png_gray(render_doc_image(d)))
    mixed = spark.createDataFrame([(1, page(1)), (0, bytearray(blank)),
                                   (2, page(2))],
                                  "doc_id long, media binary").coalesce(1)
    got = {}
    for r in extract_rois(mixed, fallback=False).collect():
        got.setdefault(r.doc_id, []).append((r.roi_idx, r.y0, r.y1))
    assert got == {d: [(i, y0, y1) for i, (y0, y1) in
                       enumerate(planted_geometry(d)["bands"])]
                   for d in (1, 2)}


def test_ocr_serials_reads_planted_strings(spark, ids):
    from apple_ocr_backend_spark.operators.image_extract import (
        ocr_serials, render_serial_media)
    from apple_ocr_backend_spark.sources.image_corpus import planted_serial
    media = render_serial_media(ids)
    for r in ocr_serials(media, expect_chars=12).collect():
        assert r.text == planted_serial(r.doc_id)
        assert r.conf > 0.5


def test_fallback_sweep_recovers_degraded_plates(spark, ids):
    """P10: both single-pass reads fail on every degraded plate; the
    (preprocess x segmentation) sweep recovers the planted string on all
    of them (tesseract_adapter.py:86-237 semantics)."""
    from apple_ocr_backend_spark.operators.image_extract import (
        ocr_serials_fallback, render_degraded_serial_media)
    from apple_ocr_backend_spark.sources.image_corpus import planted_serial
    media = render_degraded_serial_media(ids)
    rows = ocr_serials_fallback(media, expect_chars=12).collect()
    assert len(rows) == N_DOCS
    for r in rows:
        assert r.text == planted_serial(r.doc_id), r.doc_id
        assert 0.0 < r.conf <= 1.0
        assert r.variant.startswith("despeckle")
        assert 1 <= r.n_tried <= 5


def test_fallback_needed_single_pass_fails_on_degraded():
    """The degradation is real: without the sweep, neither gap
    segmentation nor the fixed-pitch prior reads a single plate."""
    from apple_ocr_backend_spark.functions import image_kernels as K
    from apple_ocr_backend_spark.functions.glyph_ocr import recognize_text
    from apple_ocr_backend_spark.sources.image_corpus import (
        planted_serial, render_degraded_serial_image)
    for d in range(N_DOCS):
        b = K.adaptive_threshold(render_degraded_serial_image(d))
        assert recognize_text(b, expect_chars=None)[0] != planted_serial(d)
        assert recognize_text(b, expect_chars=12)[0] != planted_serial(d)


def test_fallback_early_stops_on_clean_plates(spark, ids):
    """O1 early stop: a fully-confident first pass ends the sweep, so the
    overwhelming majority of clean plates cost exactly one pass (the rest
    run the full ladder because their dropout nicked a glyph below
    conf 1.0 — and still read correctly)."""
    from apple_ocr_backend_spark.operators.image_extract import (
        ocr_serials_fallback, render_serial_media)
    from apple_ocr_backend_spark.sources.image_corpus import planted_serial
    media = render_serial_media(ids)
    rows = ocr_serials_fallback(media, expect_chars=12).collect()
    for r in rows:
        assert r.text == planted_serial(r.doc_id)
        assert (r.n_tried == 1) == (r.conf == 1.0)
    assert sum(r.n_tried == 1 for r in rows) >= int(0.9 * N_DOCS)


def test_degraded_salt_is_isolated_and_despeckle_exact():
    """The corpus contract that makes the sweep's answer exactly
    checkable: every salt speck is isolated (removed by despeckle >= 2)
    and off-glyph (despeckled ink is a subset of the 1px-dilated clean
    glyph ink)."""
    import numpy as np
    from apple_ocr_backend_spark.functions import image_kernels as K
    from apple_ocr_backend_spark.sources.image_corpus import (
        render_degraded_serial_image, render_serial_image)
    for d in range(0, N_DOCS, 7):
        deg = render_degraded_serial_image(d)
        clean_ink = (render_serial_image(d, scale=3, dropout=0.0)
                     < 128).astype(np.uint8)
        near = K.dilate(clean_ink, 3) > 0
        ds = K.despeckle(K.adaptive_threshold(deg), 2)
        assert not (ds.astype(bool) & ~near).any(), d
        # and the degradation did add specks the raw mask still carries
        raw = K.adaptive_threshold(deg)
        assert (raw.astype(bool) & ~near).any(), d


def test_extract_rois_nms_matches_planted_and_plain(spark, ids):
    """P4 merge: dual-detector proposals + greedy IoU NMS land on exactly
    the planted bands — and agree with the single-detector path."""
    media = render_media(ids, rotate=False)
    from apple_ocr_backend_spark.operators.image_extract import (
        extract_rois_nms)
    rows = extract_rois_nms(media, top_k=4).orderBy("doc_id", "roi_idx").collect()
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append((r.y0, r.y1))
    for doc in range(N_DOCS):
        assert got[doc] == planted_geometry(doc)["bands"], doc
    plain = extract_rois(media, top_k=4).orderBy("doc_id", "roi_idx").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in plain]


def test_nms_soft_edge_prefers_refined_band(spark):
    """Review regression: on a band with faint sub-refine-threshold tail
    rows, the unrefined run carries strictly MORE raw energy (it includes
    the tails), so raw-energy NMS scoring would keep the coarser box.
    Density scoring keeps the refined one — output must equal
    extract_rois."""
    import numpy as np
    from apple_ocr_backend_spark.functions.png_codec import encode_png_gray
    from apple_ocr_backend_spark.operators.image_extract import (
        extract_rois_nms)
    img = np.full((144, 256), 216, dtype=np.uint8)
    img[40:70, 16:240] = 60
    img[37:40, 16:240:32] = 60   # faint tails: < 5% of the peak row ink
    img[70:73, 16:240:32] = 60
    df = spark.createDataFrame([(0, bytearray(encode_png_gray(img)))],
                               "doc_id long, media binary")
    got_nms = [(r.y0, r.y1) for r in
               extract_rois_nms(df).orderBy("roi_idx").collect()]
    got_plain = [(r.y0, r.y1) for r in
                 extract_rois(df).orderBy("roi_idx").collect()]
    assert got_nms == got_plain == [(40, 70)]


def test_fallback_confident_nonlength_read_does_not_abort_sweep(spark):
    """Review regression: a fully-confident read that fails the 12-char
    length filter is NOT a hit — the sweep must continue (and, with the
    fixed-pitch prior forcing 12 segments, still emit a 12-char
    candidate)."""
    import numpy as np
    from apple_ocr_backend_spark.functions.glyph_ocr import (
        render_text_bitmap)
    from apple_ocr_backend_spark.functions.png_codec import encode_png_gray
    from apple_ocr_backend_spark.operators.image_extract import (
        ocr_serials_fallback)
    # clean 13-char plate: pass 1 (plain_gap) reads it at conf 1.0
    mask = render_text_bitmap("C02Y95A8JG5HX", scale=3, gap=6).astype(bool)
    h, w = mask.shape
    img = np.full((h + 10, w + 20), 216, dtype=np.uint8)
    img[5:5 + h, 10:10 + w][mask] = 60
    df = spark.createDataFrame([(0, bytearray(encode_png_gray(img)))],
                               "doc_id long, media binary")
    r = ocr_serials_fallback(df, expect_chars=12).collect()[0]
    assert r.n_tried == 5          # no early abort on the non-candidate
    assert len(r.text) == 12       # fixed-pitch candidates still recorded
    assert r.conf < 1.0


def _page(d):
    return encode_png_gray(render_doc_image(d))


def _plate(d):
    return encode_png_gray(render_serial_image(d))


# every operator that decodes its payload, with a renderer of good ones
DECODE_OPS = [(decode_stats, _page), (extract_rois, _page),
              (extract_rois_nms, _page), (detect_orientations, _page),
              (resize_images, _page), (ocr_serials, _plate),
              (ocr_serials_fallback, _plate),
              (video_frame_stats, render_doc_video),
              (video_frame_ocr, render_doc_serial_video),
              (audio_decode_stats, render_doc_audio)]


@pytest.mark.parametrize("op,render", DECODE_OPS,
                         ids=[op.__name__ for op, _ in DECODE_OPS])
def test_bad_payloads_cost_their_row_not_the_job(spark, op, render):
    """Null, empty, truncated, garbage, JPEG, nested-LIST AVI and rate-0
    WAV payloads planted among good ones in one batch: the job succeeds,
    the bad docs yield no rows and the good docs yield exactly what they
    yield alone."""
    import numpy as np
    good = {d: render(d) for d in range(3)}
    bad = {100: None, 101: b"", 102: good[0][:len(good[0]) // 2],
           103: np.random.default_rng(0).bytes(512),
           104: b"\xff\xd8\xff\xe0\x00\x10JFIF\x00" + bytes(64),
           105: nested_list_avi(), 106: rate0_wav()}

    def run(items):
        df = spark.createDataFrame(
            [(d, None if p is None else bytearray(p)) for d, p in items],
            "doc_id long, media binary").coalesce(1)
        return sorted(tuple(r) for r in op(df).collect())
    alone = run(good.items())
    assert {r[0] for r in alone} == set(good)
    planted = [*bad.items()]
    assert run(planted[:4] + [*good.items()] + planted[4:]) == alone


def test_bmp_page_decodes_like_its_png_twin(spark):
    """``decode_image`` is the operators' one image decoder: a BMP page and
    its PNG twin give the same decode row."""
    from apple_ocr_backend_spark.functions.bmp_codec import encode_bmp_gray
    img = render_doc_image(5, rotate=True)
    df = spark.createDataFrame(
        [(0, bytearray(encode_png_gray(img))),
         (1, bytearray(encode_bmp_gray(img)))],
        "doc_id long, media binary").coalesce(1)
    rows = {r.doc_id: tuple(r)[1:] for r in decode_stats(df).collect()}
    assert rows[0] == rows[1]
