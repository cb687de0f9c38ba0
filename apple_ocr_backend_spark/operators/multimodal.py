"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Every media operator here and in ``operators/image_extract.py`` is a row
function over one Arrow-batch shell, ``map_rows``: the shell selects the
columns the row function reads, runs one ``mapInPandas`` over them and
builds one output frame per input batch; the row function turns one
input row into 0..N output tuples.  ``map_media`` adds the one decode
step: each operator names its decoder and its row function receives the
decoded value (pixels, frames, samples, or the raw bytes for the
byte-level stand-ins), never the payload.  The decoders are the
from-scratch codecs: PNG and BMP images through ``decode_image``
(``functions/png_codec.py``, ``functions/bmp_codec.py``), PCM16 WAV
audio (``functions/wav_codec.py``) and uncompressed AVI video
(``functions/avi_codec.py``).  ``decode_media`` decodes or rejects one
payload: a null, malformed (``ValueError``) or unsupported
(``NotImplementedError``, e.g. JPEG/WebP or compressed audio/video)
payload costs its row, never the task.  The pixel branch of the
extraction kernel (``operators/ocr_extract.py::recover_pixels``) decodes
through the same helper.

Reference analog: raw request bytes decoded per image
(``cv2.imdecode(np.frombuffer(...))``, ``app/pipeline/ocr_adapter.py:105-108``).
The reference's per-process model singleton (``ocr_adapter_improved.py:
19-70``) lives where per-worker init is actually expensive — the glyph
template cache in ``functions/glyph_ocr.py`` — module imports themselves
are already cached per worker by Python.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..functions.avi_codec import decode_avi_gray
from ..functions.bmp_codec import decode_bmp_gray
from ..functions.png_codec import decode_png_gray
from ..functions.wav_codec import decode_wav_pcm16


def map_rows(df: DataFrame, cols: tuple[str, ...], ddl: str,
             row_fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """The one Arrow-batch shell of the media operators: ``df`` ->
    rows of ``ddl``.  ``row_fn(*values of cols in one input row)`` returns
    that row's output tuples in ``ddl`` column order, 0 to N of them.
    Only ``cols`` cross into Python; each non-empty input batch yields one
    output frame, so a batch whose rows yield nothing yields an empty
    frame of the ``ddl`` columns."""
    names = [c.split()[0] for c in ddl.split(",")]

    def fn(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for b in batches:
            if b.empty:
                continue
            rows = [out for row in zip(*(b[c] for c in cols))
                    for out in row_fn(*row)]
            yield pd.DataFrame(rows, columns=names)
    return df.select(*cols).mapInPandas(fn, schema=ddl)


def decode_media(decode: Callable[[bytes], object], media):
    """One payload -> ``decode(payload)``, or None when it is rejected: the
    one decode-or-reject step of the media path (``map_media`` and the
    extraction kernel's pixel branch).  A null payload never reaches a
    codec: raw bytes (``decode=bytes``, the byte-level stand-ins) read it
    as b"", any other decoder rejects it.  A codec's ValueError
    (malformed) or NotImplementedError (unsupported format) rejects the
    payload."""
    if media is None:
        return b"" if decode is bytes else None
    try:
        return decode(bytes(media))
    except (ValueError, NotImplementedError):
        return None


def map_media(df: DataFrame, decode: Callable[[bytes], object], ddl: str,
              row_fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """``map_rows`` over ``(doc_id, media)`` with the decode step in the
    shell: ``row_fn(doc_id, decoded value)``.  A payload ``decode_media``
    rejects yields no rows; its batch neighbours keep theirs."""
    def row(doc, media):
        value = decode_media(decode, media)
        return () if value is None else row_fn(doc, value)
    return map_rows(df, ("doc_id", "media"), ddl, row)


RENDER_DDL = "doc_id bigint, media binary"


def render_media_column(df: DataFrame,
                        render_doc: Callable[[int], bytes]) -> DataFrame:
    """df(doc_id, ...) -> (doc_id, media: binary) via ``render_doc(doc_id)
    -> payload bytes``: the shared stand-in for reading a stored media
    column off the table scan (every synthetic renderer goes through it)."""
    return map_rows(df, ("doc_id",), RENDER_DDL,
                    lambda doc: [(doc, render_doc(doc))])


def decode_image(data: bytes):
    """bytes -> uint8 grayscale ndarray (cv2.imdecode analog): the one
    image decoder of the media operators and the pixel branch.  Real for
    PNG and BMP payloads (from-scratch codecs, ``functions/png_codec.py``
    and ``functions/bmp_codec.py``); a malformed payload raises ValueError
    and a format the environment has no codec for raises
    NotImplementedError, so ``decode_media`` rejects either."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_gray(data)
    if data[:2] == b"BM":
        return decode_bmp_gray(data)
    raise NotImplementedError(
        "only PNG/BMP payloads decode in this environment; install "
        "pillow/cv2 for JPEG/WebP and extend decode_image")


MEDIA_META_DDL = "doc_id bigint, n_bytes bigint, sig string"


def media_signatures(df: DataFrame) -> DataFrame:
    """df(doc_id, media: binary) -> (doc_id, n_bytes, sig): the
    deterministic signature feature extractor, byte length + md5 hex (the
    only per-item work is hashlib over the raw buffer, no decode).  Its
    decoder is raw bytes, so a null buffer reads as empty, as in
    ``resize_media`` and ``sample_frames``.  A decode + feature-extract
    kernel is another row function over the same ``map_media`` shell."""
    return map_media(df, bytes, MEDIA_META_DDL, lambda doc, media: [
        (doc, len(media), hashlib.md5(media).hexdigest())])


RESIZE_DDL = ("doc_id bigint, n_bytes_in bigint, n_bytes_out bigint, "
              "sig_out string")


def resize_media(df: DataFrame, target_bytes: int = 64) -> DataFrame:
    """df(doc_id, media: binary) -> (doc_id, n_bytes_in, n_bytes_out,
    sig_out): the resize/downsample contract (O4 input-size cap analog),
    deterministic so the catalog oracle replays it in SQL.  The stand-in
    stride-decimates the buffer down to ~``target_bytes`` (every
    ceil(n/target)-th byte) and emits the output size + digest; a real
    kernel swaps the decimation for a codec resize (INTER_AREA analog —
    the reference caps inputs the same way,
    ``ocr_adapter_improved.py:647-655``)."""
    def row(doc, media):
        n = len(media)
        stride = max(1, -(-n // target_bytes))
        out = media[::stride]
        return [(doc, n, len(out), hashlib.md5(out).hexdigest())]
    return map_media(df, bytes, RESIZE_DDL, row)


FRAME_DDL = "doc_id bigint, frame_idx int, n_frame_bytes bigint, frame_sig string"


def sample_frames(df: DataFrame, max_frames: int = 4) -> DataFrame:
    """df(doc_id, media: binary) -> (doc_id, frame_idx, n_frame_bytes,
    frame_sig): the video frame-sampling contract (1 row -> N frame rows
    through one Arrow batch stage).  Deterministic, so the catalog oracle
    replays it in SQL: a media buffer of n bytes yields
    ``min(max_frames, 1 + n // 64)`` frames — contiguous byte slices of
    stride ``ceil(n / n_frames)`` — each reduced to (length, md5).  This is
    the decode/frame-sample STAND-IN (per-item C hashing plays the role of
    per-frame decode work); ``video_frame_stats`` is the same contract
    with a real codec behind it."""
    def row(doc, media):
        n = len(media)
        nf = min(max_frames, 1 + n // 64)
        stride = -(-n // nf)
        for k in range(nf):
            chunk = media[k * stride:(k + 1) * stride]
            yield doc, k, len(chunk), hashlib.md5(chunk).hexdigest()
    return map_media(df, bytes, FRAME_DDL, row)


# ---------------------------------------------------- audio / video paths

def render_audio_media(df: DataFrame) -> DataFrame:
    """df(doc_id, ...) -> (doc_id, media: binary WAV): deterministic
    synthetic PCM16 payloads (``sources/audio_corpus.py``) — the audio
    twin of ``image_extract.render_media``."""
    from ..sources.audio_corpus import render_doc_audio
    return render_media_column(df, render_doc_audio)


def render_video_media(df: DataFrame) -> DataFrame:
    """df(doc_id, ...) -> (doc_id, media: binary AVI): deterministic
    synthetic uncompressed-DIB clips (``sources/video_corpus.py``)."""
    from ..sources.video_corpus import render_doc_video
    return render_media_column(df, render_doc_video)


VIDEO_STATS_DDL = ("doc_id bigint, frame_idx int, height int, width int, "
                   "ink_rows int, ink_min int")


def video_frame_stats(df: DataFrame, background: int = 200) -> DataFrame:
    """df(doc_id, media: binary AVI) -> one row per decoded frame with its
    dimensions, count of rows carrying ink (row min below ``background``),
    and the frame minimum.  REAL decode via the nested-RIFF walker
    (``functions/avi_codec.py``); the 1->N frame fan-out is the same
    Arrow-batch contract ``sample_frames`` stubs with byte slices — this
    is that contract with an actual codec behind it."""
    def row(doc, clip):
        frames, _fps = clip
        for k, fr in enumerate(frames):
            ink_rows = int((fr.min(axis=1) < background).sum())
            yield doc, k, fr.shape[0], fr.shape[1], ink_rows, int(fr.min())
    return map_media(df, decode_avi_gray, VIDEO_STATS_DDL, row)


def render_serial_video_media(df: DataFrame) -> DataFrame:
    """df(doc_id, ...) -> (doc_id, media: binary AVI): serial-plate clips —
    one clean frame among heavy-dropout ones, all rendering the planted
    12-char string (``sources/video_corpus.py::render_doc_serial_video``,
    the client scan-window fixture)."""
    from ..sources.video_corpus import render_doc_serial_video
    return render_media_column(df, render_doc_serial_video)


VIDEO_OCR_DDL = "doc_id bigint, frame_idx int, text string, conf double"


def video_frame_ocr(df: DataFrame, expect_chars: int = 12) -> DataFrame:
    """df(doc_id, media: binary AVI) -> one OCR read per decoded frame
    (frame_idx, text, conf): AVI walk (``functions/avi_codec.py``) ->
    adaptive-threshold binarize -> glyph template match per frame — the
    per-frame half of the reference client's TTA loop
    (``SerialScannerViewModel.swift:197-258``).  The best-frame arg-max
    (``:267``, A7) deliberately stays OUTSIDE this kernel as a relational
    ``max_by`` aggregation: frames are data, not control flow, so Spark
    gets a combinable per-doc reduction instead of a Python fold."""
    from ..functions import image_kernels as K
    from ..functions.glyph_ocr import recognize_text

    def row(doc, clip):
        frames, _fps = clip
        for k, fr in enumerate(frames):
            text, conf = recognize_text(K.adaptive_threshold(fr),
                                        expect_chars=expect_chars)
            yield doc, k, text, conf
    return map_media(df, decode_avi_gray, VIDEO_OCR_DDL, row)


AUDIO_STATS_DDL = ("doc_id bigint, n_samples int, sample_rate int, "
                   "duration_ms double, peak int, rms double, "
                   "zero_crossings int")


def audio_decode_stats(df: DataFrame) -> DataFrame:
    """df(doc_id, media: binary WAV) -> per-clip decode + signal stats:
    sample count, rate, duration, peak amplitude, RMS, zero-crossing
    count.  REAL decode via the from-scratch RIFF walker
    (``functions/wav_codec.py``); reductions are numpy over the decoded
    int16 buffer — no per-sample Python.  The stats the audio analog of
    the reference's pre-OCR image profiling (``ocr_adapter_improved.py:
    843-869``) would key preprocessing on."""
    def row(doc, pcm):
        samples, rate = pcm
        s = samples.astype(np.int64)
        n = len(s)
        peak = int(np.abs(s).max()) if n else 0
        rms = float(np.sqrt(np.mean(s * s))) if n else 0.0
        zero_crossings = int(np.count_nonzero(s[1:] * s[:-1] < 0))
        return [(doc, n, rate, n * 1000.0 / rate, peak, rms, zero_crossings)]
    return map_media(df, decode_wav_pcm16, AUDIO_STATS_DDL, row)
