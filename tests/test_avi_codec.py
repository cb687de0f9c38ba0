"""From-scratch AVI codec + video corpus: roundtrip, nested-LIST walking,
pad bytes, unsupported-encoding gates, planted-stat recovery."""

from __future__ import annotations

import struct
import time

import numpy as np
import pytest
from hostile_media import nested_list_avi

from apple_ocr_backend_spark.functions.avi_codec import (decode_avi_gray,
                                                         encode_avi_gray)
from apple_ocr_backend_spark.sources.video_corpus import (BACKGROUND, FPS,
                                                          planted_clip,
                                                          render_doc_video)


@pytest.mark.parametrize("shape,n", [((1, 1), 1), ((24, 32), 3),
                                     ((7, 5), 4), ((3, 9), 2)])
def test_roundtrip(shape, n):
    # odd widths exercise the 4-byte DIB row padding
    rng = np.random.default_rng(shape[0] * 100 + n)
    frames = [rng.integers(0, 256, size=shape, dtype=np.uint8)
              for _ in range(n)]
    out, fps = decode_avi_gray(encode_avi_gray(frames, fps=10))
    assert fps == 10 and len(out) == n
    for a, b in zip(frames, out):
        assert (a == b).all()


def test_rejects_non_avi_and_truncated():
    with pytest.raises(ValueError):
        decode_avi_gray(b"RIFF\x04\x00\x00\x00WAVE")
    good = encode_avi_gray([np.zeros((2, 2), dtype=np.uint8)])
    with pytest.raises(ValueError):
        decode_avi_gray(good[:40])


def test_rejects_compressed_stream():
    good = bytearray(encode_avi_gray([np.zeros((2, 2), dtype=np.uint8)]))
    at = bytes(good).find(b"strf") + 8
    struct.pack_into("<I", good, at + 16, 0x47504A4D)  # biCompression=MJPG
    with pytest.raises(NotImplementedError):
        decode_avi_gray(bytes(good))


def test_encoder_rejects_bad_frames():
    with pytest.raises(ValueError):
        encode_avi_gray([])
    with pytest.raises(ValueError):
        encode_avi_gray([np.zeros((2, 2), dtype=np.uint8),
                         np.zeros((3, 2), dtype=np.uint8)])
    with pytest.raises(ValueError):
        encode_avi_gray([np.zeros((2, 2), dtype=np.uint8)], fps=0)
    with pytest.raises(ValueError):
        encode_avi_gray([np.zeros((2, 2), dtype=np.uint8)], fps=2_000_000)


def test_rejects_short_header_chunks():
    # an avih/strf whose declared size is below the struct it must carry
    # is a malformed container (ValueError), not garbage dims or a leaked
    # struct.error
    good = encode_avi_gray([np.zeros((2, 2), dtype=np.uint8)])
    for marker in (b"avih", b"strf"):
        at = good.find(marker)
        bad = bytearray(good)
        struct.pack_into("<I", bad, at + 4, 4)  # declared size 4
        with pytest.raises(ValueError):
            decode_avi_gray(bytes(bad))


def test_top_down_dib_decodes_in_natural_order():
    # negative biHeight = top-down DIB: rows arrive in natural order and
    # must NOT be flipped
    frame = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
    data = bytearray(encode_avi_gray([frame]))
    at = bytes(data).find(b"strf") + 8
    # biHeight sits 8 bytes into BITMAPINFOHEADER
    h = struct.unpack_from("<i", data, at + 8)[0]
    struct.pack_into("<i", data, at + 8, -h)
    # the payload rows were written bottom-up; with a top-down header the
    # decoder must return them as stored (i.e. the original flipped)
    out, _ = decode_avi_gray(bytes(data))
    assert (out[0] == frame[::-1]).all()


@pytest.mark.parametrize("doc_id", [0, 1, 7, 42, 299])
def test_planted_stats_recovered_from_bytes(doc_id):
    g = planted_clip(doc_id)
    frames, fps = decode_avi_gray(render_doc_video(doc_id))
    assert fps == FPS and len(frames) == g["n_frames"]
    for fr, want in zip(frames, g["frames"]):
        assert fr.shape == (24, 32)
        assert int((fr.min(axis=1) < BACKGROUND).sum()) == want["bh"]
        assert int(fr.min()) == want["ink"]
        # the band sits exactly where it was planted
        rows = np.where(fr.min(axis=1) < BACKGROUND)[0]
        assert rows[0] == want["y0"] and rows[-1] == want["y0"] + want["bh"] - 1


def test_nested_list_bomb_raises_valueerror_fast():
    """A 36 KB payload of 3,000 nested LISTs is refused at the depth cap
    with ValueError, not RecursionError, and at once."""
    data = nested_list_avi(3000)
    assert len(data) < 40_000
    t = time.perf_counter()
    with pytest.raises(ValueError, match="nested"):
        decode_avi_gray(data)
    assert time.perf_counter() - t < 1.0


@pytest.mark.parametrize("shape", [(0, 0), (3, 0), (0, 5)])
def test_zero_area_frames_raise_valueerror(shape):
    """Frames with no pixels are malformed: the frame operators reduce
    over each frame, which an empty one fails."""
    with pytest.raises(ValueError, match="empty"):
        decode_avi_gray(encode_avi_gray([np.zeros(shape, dtype=np.uint8)]))
