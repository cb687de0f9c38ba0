"""Pure-stdlib PNG codec (zlib + numpy) for the image payload path.

The reference decodes request bytes with ``cv2.imdecode``
(``app/pipeline/ocr_adapter.py:105-108``); this container has no cv2 or
pillow, so the codec is re-derived from the public PNG specification
(RFC 2083 / W3C PNG): chunk framing with CRC-32, DEFLATE via stdlib
``zlib``, and per-scanline filtering.  Grayscale 8-bit (color type 0) is
the primary format — it is what the synthetic document renderer emits —
and truecolor 8-bit (color type 2) decodes to a luma plane so foreign
images are not rejected.

Decode unfilters vectorized where the filter allows it (None and Up are
whole-row numpy ops, Sub is a per-row cumsum) and falls back to a
per-pixel loop only for Average/Paeth, which our encoder never emits.
Encode writes filter type 0 on every scanline: DEFLATE already removes
the redundancy that fancier filters target at the image sizes this
pipeline renders, and filter-0 rows keep decode fully vectorized.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png_gray(img: np.ndarray) -> bytes:
    """uint8 (h, w) grayscale array -> PNG bytes (color type 0, bit depth 8,
    filter 0 per scanline)."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_png_gray wants a 2-D uint8 array")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    # one filter byte (0 = None) in front of each scanline
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img
    idat = zlib.compress(raw.tobytes(), 6)
    return (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def _unfilter(raw: np.ndarray, h: int, w: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering.  raw is (h, 1 + w*bpp) uint8 with the
    filter byte in column 0.  Filters 0 (None) and 2 (Up) vectorize across
    whole rows, 1 (Sub) is a per-row cumsum; 3/4 (Average/Paeth) use the
    spec's per-pixel recurrence (rare: our encoder never writes them)."""
    ftypes = raw[:, 0]
    data = raw[:, 1:].astype(np.int32)
    out = np.zeros((h, w * bpp), dtype=np.int32)
    prev = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        f, row = int(ftypes[y]), data[y]
        if f == 0:
            cur = row
        elif f == 2:
            cur = (row + prev) & 0xFF
        elif f == 1:
            cur = row.copy().reshape(-1, bpp)
            cur = np.cumsum(cur, axis=0).reshape(-1) & 0xFF
        elif f == 3:
            cur = np.empty_like(row)
            for x in range(len(row)):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:
            cur = np.empty_like(row)
            for x in range(len(row)):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = cur
    return out.astype(np.uint8)


def decode_png_gray(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 (h, w) grayscale array.  Color type 0 decodes
    directly; color type 2 (RGB) is reduced to integer BT.601 luma.  No
    interlace, palette, or 16-bit support (our renderer never emits them).

    Every malformed input (bad signature, truncated chunk or stream,
    header sizes that disagree with the pixel data) raises ``ValueError``,
    so a caller can drop one bad payload without failing its task.  The
    inflate stops one byte past the size the header implies, so a forged
    header never makes it allocate more than that (a size past
    ``Py_ssize_t`` is an ``OverflowError``, turned into ``ValueError``
    like the others)."""
    try:
        return _decode_png_gray(data)
    except (struct.error, zlib.error, OverflowError) as e:
        raise ValueError(f"corrupt PNG: {e}") from e


def _decode_png_gray(data: bytes) -> np.ndarray:
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if not w or not h:
        raise ValueError("empty PNG (zero width or height)")
    if depth != 8 or interlace != 0 or ctype not in (0, 2):
        raise ValueError(f"unsupported PNG (depth={depth}, color={ctype}, "
                         f"interlace={interlace})")
    bpp = 1 if ctype == 0 else 3
    size = h * (1 + w * bpp)
    inflate = zlib.decompressobj()
    raw = inflate.decompress(b"".join(idat), size + 1)
    if len(raw) != size or not inflate.eof:
        raise ValueError(f"PNG pixel data is not the {size} bytes its "
                         "header implies")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + w * bpp)
    px = _unfilter(raw, h, w, bpp)
    if ctype == 0:
        return px.reshape(h, w)
    rgb = px.reshape(h, w, 3).astype(np.uint32)
    # integer BT.601 luma — deterministic across platforms
    luma = (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
    return luma.astype(np.uint8)
