"""From-scratch BMP codec (stdlib + numpy, no image library).

Companion to ``png_codec.py`` for the S1 decode scan (the reference's
``cv2.imdecode`` accepts whatever container the request carries,
``app/pipeline/ocr_adapter.py:105-108``): encode writes 8-bit paletted
grayscale (BITMAPINFOHEADER, bottom-up, 4-byte row padding); decode
reads 8-bit paletted (palette reduced to integer BT.601 luma — the same
formula ``png_codec.py`` uses for truecolor) and 24-bit BGR, bottom-up
or top-down, so foreign grayscale/color BMPs land on the same uint8
luma plane the PNG path produces.
"""

from __future__ import annotations

import struct

import numpy as np

_FILE_HDR = struct.Struct("<2sIHHI")     # magic, file size, res, res, offset
_INFO_HDR = struct.Struct("<IiiHHIIiiII")  # BITMAPINFOHEADER


def encode_bmp_gray(img: np.ndarray) -> bytes:
    """uint8 (h, w) grayscale -> 8-bit paletted BMP bytes (bottom-up)."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_bmp_gray expects a uint8 (h, w) array")
    h, w = img.shape
    stride = (w + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = img[::-1]  # bottom-up
    palette = np.zeros((256, 4), dtype=np.uint8)
    palette[:, 0] = palette[:, 1] = palette[:, 2] = np.arange(256)
    offset = _FILE_HDR.size + _INFO_HDR.size + palette.nbytes
    pixels = rows.tobytes()
    info = _INFO_HDR.pack(_INFO_HDR.size, w, h, 1, 8, 0, len(pixels),
                          2835, 2835, 256, 0)
    file_hdr = _FILE_HDR.pack(b"BM", offset + len(pixels), 0, 0, offset)
    return file_hdr + info + palette.tobytes() + pixels


def decode_bmp_gray(data: bytes) -> np.ndarray:
    """BMP bytes -> uint8 (h, w) luma plane.  Supports uncompressed 8-bit
    paletted and 24-bit BGR, positive (bottom-up) or negative (top-down)
    height.  A zero-area or negative-width header raises ValueError, as
    in ``png_codec``: no image kernel is defined on an empty page."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP stream")
    try:
        _, _, _, _, offset = _FILE_HDR.unpack_from(data, 0)
        (hdr_size, w, h, planes, bpp, compression, _, _, _, n_colors,
         _) = _INFO_HDR.unpack_from(data, _FILE_HDR.size)
    except struct.error as e:
        # decode_image's contract: malformed input raises ValueError, so
        # the media shell rejects the payload (multimodal.decode_media)
        raise ValueError(f"truncated BMP header: {e}") from e
    if compression != 0:
        raise NotImplementedError(f"compressed BMP (method {compression})")
    if bpp not in (8, 24):
        raise NotImplementedError(f"{bpp}-bit BMP")
    if w <= 0 or h == 0:
        raise ValueError(f"empty BMP ({w}x{h})")
    top_down = h < 0
    h = abs(h)
    stride = ((w * bpp // 8) + 3) & ~3
    if len(data) < offset + h * stride:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(data, dtype=np.uint8,
                        count=h * stride, offset=offset).reshape(h, stride)
    if not top_down:
        raw = raw[::-1]
    if bpp == 8:
        pal_off = _FILE_HDR.size + hdr_size
        n = n_colors or 256
        if len(data) < pal_off + n * 4:
            raise ValueError("truncated BMP palette")
        pal = np.frombuffer(data, dtype=np.uint8, count=n * 4,
                            offset=pal_off).reshape(n, 4).astype(np.int32)
        # palette entries are BGRX; integer BT.601 luma as in png_codec
        luma = (pal[:, 2] * 299 + pal[:, 1] * 587 + pal[:, 0] * 114) // 1000
        table = np.zeros(256, dtype=np.uint8)
        # indices past a short palette decode to 0 (black), like tolerant
        # real-world decoders, instead of crashing the scan stage
        table[:n] = luma.astype(np.uint8)
        return table[raw[:, :w]]
    bgr = raw[:, :w * 3].reshape(h, w, 3).astype(np.int32)
    luma = (bgr[:, :, 2] * 299 + bgr[:, :, 1] * 587 + bgr[:, :, 0] * 114) // 1000
    return np.ascontiguousarray(luma.astype(np.uint8))
