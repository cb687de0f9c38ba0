"""Image-payload extraction stages: decode -> preprocess -> ROI -> orient.

These are the real (non-stubbed) versions of the reference's image path,
built on the from-scratch PNG and BMP codecs (``functions/png_codec.py``,
``functions/bmp_codec.py``) and the numpy kernel suite
(``functions/image_kernels.py``) — no cv2/pillow.  Each stage is a row
function over the one Arrow-batch shell of the media operators
(``operators/multimodal.py::map_media``): the shell iterates documents
within a batch exactly like the reference's per-image cv2 calls
(``app/pipeline/ocr_adapter_improved.py:1346-1471``) and decodes each
payload through ``decode_image`` (PNG or BMP), the row function turns one
document's pixels into its output rows, and every pixel loop is
vectorized numpy.  A null, malformed or unsupported payload is rejected
by the shell and costs its document's rows, never the task.  At scale
the binary column arrives from the table scan (these stages never
shuffle — they are map-only over whatever partitioning the scan
produced); ``render_media`` exists because this sandbox has to
synthesize its own payloads (md5-derived geometry, see
``sources/image_corpus.py``), standing in for the scan.

Pipeline roles vs SURVEY.md §2: S1 (decode scan), P1 (preprocess chain),
P2 (glare reduction), P3 (projection-band ROIs), P6 (orientation), F9
(ROI geometry filters), A8 (projection-profile stats), W2 (energy top-k),
X10 (CLAHE/bilateral/adaptive-threshold/resize kernels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import image_kernels as K
from ..functions.png_codec import encode_png_gray
from ..sources.image_corpus import render_doc_image
from .multimodal import decode_image, map_media, render_media_column


def render_media(df: DataFrame, rotate: bool = False,
                 glare: bool = True) -> DataFrame:
    """df(doc_id, ...) -> (doc_id, media: binary): deterministic synthetic
    PNG pages (the sandbox's stand-in for reading an image column off the
    table scan)."""
    return render_media_column(df, lambda d: encode_png_gray(
        render_doc_image(d, rotate=rotate, glare=glare)))


DECODE_STATS_DDL = ("doc_id bigint, height int, width int, ink_rows int, "
                    "glare boolean")


def decode_stats(df: DataFrame, bg_ref: int = 215) -> DataFrame:
    """df(doc_id, media) -> per-image decode + projection-profile stats
    (S1 + A8): decoded dimensions, count of rows carrying any ink, and a
    saturation(glare) flag — the stats the reference derives before
    choosing preprocessing parameters (``ocr_adapter_improved.py:843-869``)."""
    def row(doc, img):
        ink_rows = int((K.ink_image(img, bg_ref).sum(axis=1) > 0).sum())
        return [(doc, img.shape[0], img.shape[1], ink_rows,
                 bool((img >= 250).any()))]
    return map_media(df, decode_image, DECODE_STATS_DDL, row)


ROI_DDL = "doc_id bigint, roi_idx int, y0 int, y1 int"


def _default_bands(h: int) -> list[tuple[int, int, int]]:
    """P5 fallback when no projection band survives the filters: the
    reference's 3 fixed bands in its center/bottom/top priority order
    (``yolo_detector.py:397-497``)."""
    third = h // 3
    return [(third, 2 * third, 0), (2 * third, h, 0), (0, third, 0)]


def _roi_mask(img):
    """The preprocess chain both ROI detectors share: glare-reduce ->
    CLAHE -> bilateral -> adaptive threshold -> row projection.  Returns
    ((h, w), binary mask, row profile)."""
    img, _method = K.reduce_glare(img)
    binm = K.adaptive_threshold(K.bilateral5(K.clahe(img)))
    return img.shape, binm, K.row_projection(binm)


def extract_rois(df: DataFrame, top_k: int = 4,
                 fallback: bool = True) -> DataFrame:
    """df(doc_id, media) -> one row per detected text band
    (P1+P2+P3+P5+F9+W2): glare-reduce -> CLAHE -> bilateral -> adaptive
    threshold -> row projection -> band extraction -> geometry/energy
    filters -> energy top-k, emitted in position order; documents where
    nothing survives fall back to the reference's 3 fixed bands.
    1 -> N Arrow batch contract."""
    def row(doc, img):
        (h, w), binm, profile = _roi_mask(img)
        bands = K.find_bands(profile, h)
        widths = [max(x1 - x0, 1) for x0, x1 in
                  (K.band_x_extent(binm, b0, b1) for b0, b1, _ in bands)]
        rois = K.top_k_bands(K.filter_rois(bands, w, widths), top_k)
        if not rois and fallback:
            rois = _default_bands(h)
        return [(doc, i, y0, y1) for i, (y0, y1, _energy) in enumerate(rois)]
    return map_media(df, decode_image, ROI_DDL, row)


def extract_rois_nms(df: DataFrame, top_k: int = 4,
                     iou_threshold: float = 0.45,
                     fallback: bool = True) -> DataFrame:
    """df(doc_id, media) -> one row per merged ROI box: P4's post-model
    pipeline (``yolo_detector.py:140-378``) with real multi-source
    proposals in place of the conv net.  TWO detectors propose scored
    boxes over the same preprocessed mask — the refined projection bands
    (P3) and the unrefined smoothed runs (band edges spread by the
    smoothing radius: a coarser second hypothesis, the contour-fallback
    analog) — each filtered by the F9 geometry gates, then greedy IoU NMS
    (``functions/image_kernels.py::nms``, the cv2.dnn.NMSBoxes analog)
    merges the proposal sets: coincident and radius-spread duplicates are
    suppressed in favor of the refined box.  NMS ranks by energy DENSITY
    (energy / band height, the per-row ink concentration): refinement
    strips the sub-threshold tail rows smoothing spreads a band edge
    into, so the refined hypothesis always scores at least as dense as
    its unrefined twin — raw energy would instead favor the WIDER box
    whenever faint tail rows carry any ink at all (the reference's NMS
    likewise ranks by detector confidence, not box area).  Refined
    proposals are listed first and win exact ties.  Energy top-k of the
    survivors, emitted in position order; the empty-proposal fallback is
    the reference's 3 fixed bands (P5)."""
    def row(doc, img):
        (h, w), binm, profile = _roi_mask(img)
        proposals = []
        for refine in (True, False):  # refined first: wins ties
            cand = K.find_bands(profile, h, refine=refine)
            extents = [K.band_x_extent(binm, b0, b1) for b0, b1, _ in cand]
            widths = [max(x1 - x0, 1) for x0, x1 in extents]
            kept = set(K.filter_rois(cand, w, widths))
            for band, (x0, x1) in zip(cand, extents):
                if band in kept:
                    y0, y1, energy = band
                    proposals.append((y0, x0, y1, x1, energy))
        if proposals:
            boxes = [(p[0], p[1], p[2], p[3]) for p in proposals]
            scores = [p[4] / max(p[2] - p[0], 1) for p in proposals]
            keep = K.nms(boxes, scores, iou_threshold)
            survivors = [(proposals[i][0], proposals[i][2], proposals[i][4])
                         for i in keep]
            rois = K.top_k_bands(survivors, top_k)
        elif fallback:
            rois = _default_bands(h)
        else:
            rois = []
        return [(doc, i, y0, y1) for i, (y0, y1, _energy) in enumerate(rois)]
    return map_media(df, decode_image, ROI_DDL, row)


ORIENT_DDL = "doc_id bigint, angle int"


def detect_orientations(df: DataFrame) -> DataFrame:
    """df(doc_id, media) -> (doc_id, angle in {0,90,180,270}) via projection
    variance + thickest-band position (P6)."""
    return map_media(df, decode_image, ORIENT_DDL, lambda doc, img: [
        (doc, K.detect_orientation(img))])


RESIZE_DDL = ("doc_id bigint, h_in int, w_in int, h_out int, w_out int, "
              "n_bytes_out bigint")


def resize_images(df: DataFrame, scale: int = 2) -> DataFrame:
    """df(doc_id, media) -> bilinear downscale by ``scale`` + re-encode
    (X10 resize on real pixels, re-encoded as PNG; replaces the
    byte-decimation stand-in for image payloads)."""
    def row(doc, img):
        h, w = img.shape
        out = K.resize_bilinear(img, h // scale, w // scale)
        return [(doc, h, w, out.shape[0], out.shape[1],
                 len(encode_png_gray(out)))]
    return map_media(df, decode_image, RESIZE_DDL, row)


def render_serial_media(df: DataFrame) -> DataFrame:
    """df(doc_id, ...) -> (doc_id, media): PNG serial plates — the planted
    12-char string in the 5x7 glyph font with jitter + ink dropout
    (``sources/image_corpus.py::render_serial_image``)."""
    from ..sources.image_corpus import render_serial_image
    return render_media_column(
        df, lambda d: encode_png_gray(render_serial_image(d)))


OCR_DDL = "doc_id bigint, text string, conf double"


def ocr_serials(df: DataFrame, expect_chars: int = 12) -> DataFrame:
    """df(doc_id, media) -> (doc_id, text, conf): real OCR on real pixels —
    adaptive-threshold binarize the decoded page, glyph segmentation,
    nearest-template Hamming match (``functions/glyph_ocr.py``; the
    EasyOCR-readtext analog, ``ocr_adapter_improved.py:639-811``).
    ``conf`` is the worst per-glyph template similarity."""
    from ..functions.glyph_ocr import recognize_text

    def row(doc, img):
        text, conf = recognize_text(K.adaptive_threshold(img),
                                    expect_chars=expect_chars)
        return [(doc, text, conf)]
    return map_media(df, decode_image, OCR_DDL, row)


def render_degraded_serial_media(df: DataFrame) -> DataFrame:
    """df(doc_id, ...) -> (doc_id, media): PNG serial plates degraded past
    what the single-pass reader segments through (heavier dropout +
    isolated background salt, ``sources/image_corpus.py::
    render_degraded_serial_image``) — the fallback sweep's input."""
    from ..sources.image_corpus import render_degraded_serial_image
    return render_media_column(
        df, lambda d: encode_png_gray(render_degraded_serial_image(d)))


FALLBACK_DDL = ("doc_id bigint, text string, conf double, variant string, "
                "n_tried int")

# (variant name, despeckle min_neighbors or 0 = raw binarization,
#  use the 12-char fixed-pitch prior) — ordered cheapest/least-destructive
# first, exactly like the reference's preprocess-path x PSM-mode grid
# (``tesseract_adapter.py:86-158``: 5 preprocess paths x 4 PSM modes,
# early exit on a confident hit).
_FALLBACK_SWEEP = (
    ("plain_gap", 0, False),
    ("plain_fixed", 0, True),
    ("despeckle2_gap", 2, False),
    ("despeckle2_fixed", 2, True),
    ("despeckle3_fixed", 3, True),
)


def ocr_serials_fallback(df: DataFrame, expect_chars: int = 12) -> DataFrame:
    """df(doc_id, media) -> (doc_id, text, conf, variant, n_tried): the
    P10 fallback sweep on real pixels — decode once, then try (preprocess
    path x segmentation mode) variants in fixed order with early stop at
    a fully-confident read (O1, ``tesseract_adapter.py:86-237``):

    * preprocess paths: raw adaptive-threshold mask, then neighbor-count
      despeckle at 2 and 3 (the 5-preprocess-path analog; despeckle is
      the binary-median denoise the reference gets from its blur/morph
      passes);
    * segmentation modes: pure gap segmentation vs the 12-char
      fixed-pitch prior (the PSM-mode analog);
    * candidates shorter/longer than ``expect_chars`` are discarded (F1's
      length filter over the sliding-window candidates,
      ``tesseract_adapter.py:154-163``);
    * surviving candidates keep their max confidence across variants (A6
      per-serial max, ``tesseract_adapter.py:230-237``); the winner is the
      max-confidence candidate, earliest variant on ties.

    ``variant`` names the pass that produced the winning read; ``n_tried``
    counts passes actually run (early stop makes it < 5 on clean input).
    """
    from ..functions.glyph_ocr import recognize_text

    def row(doc, img):
        base = K.adaptive_threshold(img)
        masks = {0: base}
        cands: dict[str, tuple[float, str, int]] = {}
        tried = 0
        for name, dk, fixed in _FALLBACK_SWEEP:
            if dk not in masks:
                masks[dk] = K.despeckle(base, dk)
            t, c = recognize_text(
                masks[dk], expect_chars=expect_chars if fixed else None)
            tried += 1
            if len(t) == expect_chars:
                if t not in cands or c > cands[t][0]:
                    cands[t] = (c, name, tried)
                if c == 1.0:
                    # early stop only on a confident HIT — in the reference
                    # only validity-filtered reads become candidates at all
                    # (tesseract_adapter.py:224-226) and early stop keys on
                    # the best CANDIDATE's confidence (O1,
                    # ocr_adapter_improved.py:1432-1456); a confident read
                    # that failed the length filter is not a candidate and
                    # must not end the sweep
                    break
        if cands:
            text, (conf, variant, _) = max(
                cands.items(), key=lambda kv: (kv[1][0], -kv[1][2]))
        else:
            text, conf, variant = "", 0.0, "none"
        return [(doc, text, conf, variant, tried)]
    return map_media(df, decode_image, FALLBACK_DDL, row)
