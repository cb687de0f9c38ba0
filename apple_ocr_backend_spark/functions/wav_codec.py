"""From-scratch RIFF/WAVE PCM codec (no ``wave`` module, no external libs).

Same role on the audio axis as ``png_codec.py``/``bmp_codec.py`` play on
the image axis: it makes the multimodal decode gate REAL for one concrete
container instead of a stub — ``operators/multimodal.py`` treats audio as
an opaque binary column and this codec is the decode step behind it.
Reference analog: the backend decodes raw request bytes before any
processing (``cv2.imdecode`` at ``app/pipeline/ocr_adapter.py:105-108``);
this is the audio twin of that boundary.

Scope (deliberately minimal, like the BMP codec): uncompressed PCM
(format tag 1), 16-bit, mono.  Anything else raises — compressed or
float WAV genuinely needs an external codec — and the media shell
(``operators/multimodal.py::decode_media``) rejects the payload exactly
as it does a JPEG image.

Format notes the decoder actually honors (the parts naive offset-44
readers get wrong):
- chunks are WALKED, not assumed: 'fmt ' and 'data' may be separated by
  any number of foreign chunks ('LIST', 'fact', ...), in any order that
  puts 'fmt ' first;
- RIFF word alignment: an odd-sized chunk is followed by one pad byte
  that is NOT counted in its size field.

``riff_chunk`` and ``iter_riff_chunks`` are the one RIFF chunk writer and
walker; the AVI codec (``avi_codec.py``) builds its nested LIST tree with
them.
"""

from __future__ import annotations

import struct

import numpy as np

SAMPLE_WIDTH = 2  # bytes, PCM16


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int,
                     extra_chunks: list[tuple[bytes, bytes]] | None = None,
                     ) -> bytes:
    """int16 mono samples -> WAV bytes.  ``extra_chunks`` ([(id4, payload)])
    are written between 'fmt ' and 'data' so tests and the synthetic corpus
    can force decoders to walk chunks (odd payloads get the RIFF pad byte)."""
    if samples.dtype != np.int16:
        raise ValueError(f"expected int16 samples, got {samples.dtype}")
    if samples.ndim != 1:
        raise ValueError("mono only: expected a 1-D sample array")
    byte_rate = sample_rate * SAMPLE_WIDTH
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, byte_rate,
                      SAMPLE_WIDTH, 8 * SAMPLE_WIDTH)
    body = b"WAVE" + riff_chunk(b"fmt ", fmt)
    for cid, payload in (extra_chunks or []):
        body += riff_chunk(cid, payload)
    body += riff_chunk(b"data", samples.astype("<i2").tobytes())
    return riff_chunk(b"RIFF", body)


def riff_chunk(cid: bytes, payload: bytes) -> bytes:
    """One RIFF chunk: 4-byte id, little-endian size, payload, and the pad
    byte an odd-sized payload needs."""
    if len(cid) != 4:
        raise ValueError(f"chunk id must be 4 bytes, got {cid!r}")
    pad = b"\x00" if len(payload) % 2 else b""
    return cid + struct.pack("<I", len(payload)) + payload + pad


def iter_riff_chunks(data: bytes, pos: int, end: int):
    """Yield (chunk_id, payload_start, payload_size) walking [pos, end);
    a chunk whose payload runs past ``end`` raises ValueError, and an
    odd-sized payload's pad byte is skipped."""
    while pos + 8 <= end:
        cid = data[pos:pos + 4]
        size = struct.unpack_from("<I", data, pos + 4)[0]
        if pos + 8 + size > end:
            raise ValueError(f"truncated {cid!r} chunk")
        yield cid, pos + 8, size
        pos += 8 + size + (size % 2)


def decode_wav_pcm16(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes -> (int16 mono samples, sample_rate).

    Walks the chunk list (odd sizes padded per RIFF), validates PCM16
    mono, and reads 'data' with ``np.frombuffer`` — no per-sample Python.
    Raises ValueError on malformed containers (a sample rate of 0
    included) and NotImplementedError on valid-but-unsupported encodings
    (compressed, float, multi-channel, other bit depths)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    end = min(len(data), 8 + riff_size)
    fmt_seen, sample_rate = False, 0
    for cid, payload_at, size in iter_riff_chunks(data, 12, end):
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            tag, channels, sample_rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", data, payload_at)
            if tag != 1:
                raise NotImplementedError(f"WAV format tag {tag} "
                                          "(only uncompressed PCM)")
            if channels != 1 or bits != 16:
                raise NotImplementedError(
                    f"{channels}-channel {bits}-bit WAV (only 16-bit mono)")
            if not sample_rate:
                raise ValueError("WAV sample rate 0")
            fmt_seen = True
        elif cid == b"data":
            if not fmt_seen:
                raise ValueError("data chunk before fmt chunk")
            if size % SAMPLE_WIDTH:
                raise ValueError("data size not sample-aligned")
            samples = np.frombuffer(data, dtype="<i2", count=size // 2,
                                    offset=payload_at)
            return samples.astype(np.int16, copy=False), sample_rate
    raise ValueError("no data chunk found")
