"""From-scratch BMP codec: roundtrip, padding, orientation, 24-bit luma,
decode_image dispatch."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from apple_ocr_backend_spark.functions.bmp_codec import (decode_bmp_gray,
                                                         encode_bmp_gray)


@pytest.mark.parametrize("shape", [(1, 1), (3, 5), (7, 4), (40, 266),
                                   (13, 31)])
def test_roundtrip_all_row_paddings(shape):
    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    assert (decode_bmp_gray(encode_bmp_gray(img)) == img).all()


def test_roundtrip_rendered_plate():
    from apple_ocr_backend_spark.sources.image_corpus import (
        render_serial_image)
    img = render_serial_image(7)
    assert (decode_bmp_gray(encode_bmp_gray(img)) == img).all()


def test_top_down_height_negative():
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    data = bytearray(encode_bmp_gray(img))
    # flip height to negative (top-down) and reverse the stored rows
    h = struct.unpack_from("<i", data, 14 + 8)[0]
    struct.pack_into("<i", data, 14 + 8, -h)
    offset = struct.unpack_from("<I", data, 10)[0]
    stride = 4
    rows = [bytes(data[offset + r * stride:offset + (r + 1) * stride])
            for r in range(3)]
    data[offset:offset + 3 * stride] = b"".join(reversed(rows))
    assert (decode_bmp_gray(bytes(data)) == img).all()


def test_24bit_bgr_reduces_to_bt601_luma():
    # hand-build a 1x2 24-bit BMP: pure red and pure green pixels (BGR order)
    w, h, bpp = 2, 1, 24
    stride = ((w * 3) + 3) & ~3
    row = bytes([0, 0, 255] + [0, 255, 0]) + b"\x00" * (stride - w * 3)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(row),
                       2835, 2835, 0, 0)
    offset = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", offset + len(row), 0, 0, offset)
    got = decode_bmp_gray(hdr + info + row)
    assert got.shape == (1, 2)
    assert got[0, 0] == 255 * 299 // 1000   # red
    assert got[0, 1] == 255 * 587 // 1000   # green


def test_decode_image_dispatches_png_bmp_and_gates_jpeg():
    from apple_ocr_backend_spark.functions.png_codec import encode_png_gray
    from apple_ocr_backend_spark.operators.multimodal import decode_image
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert (decode_image(encode_png_gray(img)) == img).all()
    assert (decode_image(encode_bmp_gray(img)) == img).all()
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg soi header")


def test_errors():
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp_gray(b"PK\x03\x04 not a bmp")
    with pytest.raises(ValueError):
        encode_bmp_gray(np.zeros((2, 2), dtype=np.float32))
    data = bytearray(encode_bmp_gray(np.zeros((2, 2), dtype=np.uint8)))
    struct.pack_into("<I", data, 14 + 16, 1)  # compression = RLE8
    with pytest.raises(NotImplementedError, match="compressed"):
        decode_bmp_gray(bytes(data))


def test_truncated_bmp_raises_valueerror_not_struct_error():
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp_gray(b"BM" + b"\x00" * 10)
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    data = encode_bmp_gray(img)
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp_gray(data[:len(data) - 16])


def test_out_of_palette_indices_decode_to_black():
    # 1x2 8-bit BMP with a 2-entry palette but a pixel index of 7
    img = np.array([[1, 7]], dtype=np.uint8)
    data = bytearray(encode_bmp_gray(img))
    struct.pack_into("<I", data, 14 + 32, 2)  # biClrUsed = 2
    got = decode_bmp_gray(bytes(data))
    assert got[0, 0] == 1 and got[0, 1] == 0


def test_pixel_branch_reads_bmp_like_png():
    """The extraction kernel's pixel branch decodes through the same
    ``decode_image`` as the media operators: a BMP plate reads the serial
    its PNG twin reads, and a null or unsupported payload costs only its
    span."""
    import pandas as pd

    from apple_ocr_backend_spark.functions.png_codec import encode_png_gray
    from apple_ocr_backend_spark.operators.ocr_extract import recover_pixels
    from apple_ocr_backend_spark.sources.image_corpus import (
        planted_serial, render_serial_image)
    plate = render_serial_image(1)  # its serial passes validation
    payloads = [encode_png_gray(plate), encode_bmp_gray(plate), None,
                b"\xff\xd8\xff\xe0 jpeg soi header"]
    n = len(payloads)
    spans = pd.DataFrame({"doc_id": range(n), "span_pos": [0] * n,
                          "offset": [0] * n, "kind": ["image"] * n,
                          "media_ref": [f"m{i}" for i in range(n)],
                          "text": [""] * n, "payload": payloads})
    out = recover_pixels(spans)
    assert out["doc_id"].tolist() == [0, 1]
    assert out["text"].tolist() == [planted_serial(1)] * 2


@pytest.mark.parametrize("w,h", [(0, 4), (4, 0), (-5, 4)])
def test_zero_area_header_raises_valueerror(w, h):
    """A header with no pixels is malformed: it would reach the image
    kernels as an empty page, where glare reduction and orientation fail."""
    data = bytearray(encode_bmp_gray(np.zeros((4, 4), dtype=np.uint8)))
    struct.pack_into("<ii", data, 18, w, h)
    with pytest.raises(ValueError, match="empty"):
        decode_bmp_gray(bytes(data))
