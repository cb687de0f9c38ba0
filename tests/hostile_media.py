"""Hostile media payloads shared by the codec and media-operator tests:
each is small on the wire and, to an unbounded decoder, costs a stack,
a division or an allocation its header or nesting sets."""

from __future__ import annotations

import struct
import zlib

import numpy as np

from apple_ocr_backend_spark.functions.png_codec import _SIG, _chunk
from apple_ocr_backend_spark.functions.wav_codec import (encode_wav_pcm16,
                                                         riff_chunk)


def nested_list_avi(depth: int = 3000) -> bytes:
    """A RIFF/AVI form of ``depth`` nested empty LISTs (12 bytes a level,
    ~36 KB at the default): one recursion per level to a naive walker."""
    inner = b""
    for _ in range(depth):
        inner = riff_chunk(b"LIST", b"movi" + inner)
    return riff_chunk(b"RIFF", b"AVI " + inner)


def rate0_wav() -> bytes:
    """A well-formed PCM16 mono WAV whose 'fmt ' says 0 samples/s."""
    return encode_wav_pcm16(np.arange(8, dtype=np.int16), 0)


def forged_png(h: int = 1, w: int = 1, mib: int = 50) -> bytes:
    """A grayscale PNG whose IHDR says ``h`` x ``w`` over an IDAT stream
    that inflates to ``mib`` MiB of zeros (~51 KB on the wire at 50)."""
    co = zlib.compressobj(9)
    block = bytes(1 << 20)
    stream = b"".join(co.compress(block) for _ in range(mib)) + co.flush()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", stream)
            + _chunk(b"IEND", b""))
