"""From-scratch PNG codec: roundtrip, filter coverage, RGB luma, errors."""

from __future__ import annotations

import struct
import time
import tracemalloc
import zlib

import numpy as np
import pytest
from hostile_media import forged_png
from hypothesis import given, settings
from hypothesis import strategies as st

from apple_ocr_backend_spark.functions.png_codec import (
    _SIG, _chunk, decode_png_gray, encode_png_gray)


@settings(max_examples=25, deadline=None)
@given(h=st.integers(1, 40), w=st.integers(1, 40), seed=st.integers(0, 10**6))
def test_roundtrip_random(h, w, seed):
    img = np.random.default_rng(seed).integers(0, 256, (h, w), dtype=np.uint8)
    assert (decode_png_gray(encode_png_gray(img)) == img).all()


def _make_png(h, w, bpp, scanlines: bytes) -> bytes:
    """Hand-build a PNG with arbitrary per-scanline filter bytes."""
    ctype = 0 if bpp == 1 else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(scanlines))
            + _chunk(b"IEND", b""))


def test_decode_all_filter_types():
    """Encode one target image under every PNG filter type by hand and
    check the decoder reverses each (our encoder only writes type 0, but
    foreign PNGs use all five)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (6, 9), dtype=np.uint8).astype(np.int32)
    for ftype in range(5):
        raw = bytearray()
        prev = np.zeros(9, dtype=np.int32)
        for y in range(6):
            cur = img[y]
            if ftype == 0:
                enc = cur
            elif ftype == 1:
                enc = (cur - np.concatenate(([0], cur[:-1]))) % 256
            elif ftype == 2:
                enc = (cur - prev) % 256
            elif ftype == 3:
                left = np.concatenate(([0], cur[:-1]))
                enc = (cur - (left + prev) // 2) % 256
            else:  # paeth
                enc = np.empty(9, dtype=np.int32)
                for x in range(9):
                    a = int(cur[x - 1]) if x else 0
                    b = int(prev[x])
                    c = int(prev[x - 1]) if x else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc[x] = (int(cur[x]) - pred) % 256
            raw.append(ftype)
            raw.extend(int(v) for v in enc)
            prev = cur
        got = decode_png_gray(_make_png(6, 9, 1, bytes(raw)))
        assert (got == img).all(), f"filter {ftype}"


def test_decode_rgb_to_luma():
    rgb = np.zeros((2, 3, 3), dtype=np.uint8)
    rgb[0, :, 0] = 255  # pure red row
    rgb[1, :, 1] = 255  # pure green row
    raw = bytearray()
    for y in range(2):
        raw.append(0)
        raw.extend(rgb[y].reshape(-1).tolist())
    got = decode_png_gray(_make_png(2, 3, 3, bytes(raw)))
    assert got.shape == (2, 3)
    assert (got[0] == 255 * 299 // 1000).all()
    assert (got[1] == 255 * 587 // 1000).all()


def test_errors():
    with pytest.raises(ValueError, match="signature"):
        decode_png_gray(b"JFIF....not a png")
    with pytest.raises(ValueError):
        encode_png_gray(np.zeros((2, 2), dtype=np.float64))
    img = np.zeros((4, 4), dtype=np.uint8)
    data = bytearray(encode_png_gray(img))
    # flip depth byte in IHDR to 16 -> unsupported
    data[8 + 8 + 8] = 16
    with pytest.raises(ValueError, match="unsupported"):
        decode_png_gray(bytes(data))


def test_every_malformed_input_raises_valueerror():
    """Truncated at any byte, a short IHDR, pixel data that disagrees with
    the header, a zero-area image: each raises ValueError (never
    zlib.error, struct.error or IndexError), so the pixel kernel can drop
    the one payload.  A cut after the last IDAT still decodes."""
    img = np.random.default_rng(3).integers(0, 256, (9, 7), dtype=np.uint8)
    data = encode_png_gray(img)
    for cut in range(len(data)):
        try:
            got = decode_png_gray(data[:cut])
        except ValueError:
            continue
        assert (got == img).all(), cut
    ihdr = struct.pack(">IIBBBBB", 7, 9, 8, 0, 0, 0, 0)
    idat = _chunk(b"IDAT", zlib.compress(b"\0" * 8 * 9))
    bad = [_SIG + _chunk(b"IHDR", ihdr[:5]) + idat,
           _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", b"not zlib"),
           _SIG + _chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 9, 8, 0, 0, 0, 0))
           + idat,
           _make_png(0, 7, 1, b""),
           b""]
    for b in bad:
        with pytest.raises(ValueError):
            decode_png_gray(b)


def test_forged_header_never_inflates_past_it():
    """A 51 KB PNG whose IHDR says 1x1 over a 50 MiB zlib stream: the
    inflate stops one byte past the 2 bytes the header implies, so the
    decoder refuses it with ValueError at once and never allocates the
    stream's size."""
    data = forged_png(1, 1, mib=50)
    assert len(data) < 60_000
    tracemalloc.start()
    try:
        t = time.perf_counter()
        with pytest.raises(ValueError, match="header implies"):
            decode_png_gray(data)
        wall = time.perf_counter() - t
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak <= 2 << 20, peak
    assert wall < 1.0
    # a header whose implied size does not fit a C size is refused alike
    with pytest.raises(ValueError):
        decode_png_gray(forged_png(2**32 - 1, 2**32 - 1, mib=1))

