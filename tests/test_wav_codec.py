"""From-scratch WAV codec + audio corpus: roundtrip, chunk walking,
RIFF pad bytes, unsupported-encoding gates, planted-stat recovery."""

from __future__ import annotations

import struct
import time

import numpy as np
import pytest
from hostile_media import rate0_wav

from apple_ocr_backend_spark.functions.wav_codec import (decode_wav_pcm16,
                                                         encode_wav_pcm16)
from apple_ocr_backend_spark.sources.audio_corpus import (SAMPLE_RATE,
                                                          planted_signal,
                                                          render_doc_audio)


@pytest.mark.parametrize("n", [0, 1, 2, 17, 4096])
def test_roundtrip(n):
    rng = np.random.default_rng(n)
    s = rng.integers(-(2 ** 15), 2 ** 15, size=n, dtype=np.int16)
    out, rate = decode_wav_pcm16(encode_wav_pcm16(s, 8000))
    assert rate == 8000
    assert (out == s).all()


@pytest.mark.parametrize("payload_len", [3, 4, 5, 0])
def test_foreign_chunks_walked_with_pad(payload_len):
    # odd payloads force the RIFF pad byte; a reader assuming data at
    # offset 44 reads garbage here
    s = np.array([5, -5, 7], dtype=np.int16)
    data = encode_wav_pcm16(s, 8000, extra_chunks=[
        (b"LIST", b"\x07" * payload_len), (b"fact", b"\x01\x02\x03\x04")])
    out, rate = decode_wav_pcm16(data)
    assert (out == s).all() and rate == 8000


def test_rejects_non_riff_and_truncated():
    with pytest.raises(ValueError):
        decode_wav_pcm16(b"NOPE" + b"\x00" * 40)
    good = encode_wav_pcm16(np.array([1, 2, 3], dtype=np.int16), 8000)
    with pytest.raises(ValueError):
        decode_wav_pcm16(good[:30])  # truncated mid-chunk


def test_rejects_unsupported_encodings():
    good = bytearray(encode_wav_pcm16(np.array([1], dtype=np.int16), 8000))
    # fmt payload starts at byte 20: tag(H) channels(H) rate(I) ...
    stereo = bytearray(good)
    struct.pack_into("<H", stereo, 22, 2)
    with pytest.raises(NotImplementedError):
        decode_wav_pcm16(bytes(stereo))
    compressed = bytearray(good)
    struct.pack_into("<H", compressed, 20, 85)  # MP3 tag
    with pytest.raises(NotImplementedError):
        decode_wav_pcm16(bytes(compressed))


def test_encode_rejects_wrong_dtype_and_shape():
    with pytest.raises(ValueError):
        encode_wav_pcm16(np.zeros(4, dtype=np.float32), 8000)
    with pytest.raises(ValueError):
        encode_wav_pcm16(np.zeros((2, 2), dtype=np.int16), 8000)


@pytest.mark.parametrize("doc_id", [0, 1, 7, 42, 299])
def test_planted_stats_recovered_from_bytes(doc_id):
    g = planted_signal(doc_id)
    s, rate = decode_wav_pcm16(render_doc_audio(doc_id))
    assert rate == SAMPLE_RATE
    assert len(s) == g["n_samples"]
    a = s.astype(np.int64)
    assert int(np.abs(a).max()) == g["amplitude"]
    # square wave: RMS is exactly the amplitude (every sample is +-A and
    # the sums stay inside float64's exact-integer range)
    assert float(np.sqrt(np.mean(a * a))) == float(g["amplitude"])
    assert int(np.count_nonzero(a[1:] * a[:-1] < 0)) == g["zero_crossings"]


def test_rejects_sample_rate_zero():
    """A rate of 0 is malformed, not a clip of infinite duration: the
    decoder refuses it, so no caller divides by it."""
    t = time.perf_counter()
    with pytest.raises(ValueError, match="rate"):
        decode_wav_pcm16(rate0_wav())
    assert time.perf_counter() - t < 1.0
