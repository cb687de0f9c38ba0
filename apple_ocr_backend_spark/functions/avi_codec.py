"""From-scratch AVI (RIFF) codec for uncompressed DIB video frames.

Completes the multimodal decode trio: PNG/BMP made the image axis real,
``wav_codec.py`` the audio axis, and this module the video axis — an AVI
file is a RIFF form ('AVI ') holding a nested LIST tree: LIST('hdrl')
with the 'avih' main header and one LIST('strl') stream ('strh' +
'strf' BITMAPINFOHEADER), then LIST('movi') carrying one '00db' chunk of
raw bottom-up 24-bit DIB rows per frame (the same row layout the BMP
codec handles, minus the BITMAPFILEHEADER).

Scope, like its siblings: uncompressed only (biCompression 0, 24-bit).
Compressed streams ('00dc' with a real fourcc, MJPG/H264/...) genuinely
need an external codec and raise NotImplementedError; the media shell
(``operators/multimodal.py::decode_media``) rejects such a payload.

The decoder walks the chunk tree properly (nested LISTs, RIFF odd-size
pad bytes, foreign chunks like 'JUNK'/'idx1' skipped), so a reader that
hardcodes offsets fails on the synthetic corpus while this one does not.
LIST nesting is capped at ``MAX_LIST_DEPTH``: a real AVI nests two LISTs
deep (hdrl > strl), and an uncapped walk would recurse once per level of
a hostile payload.
"""

from __future__ import annotations

import struct

import numpy as np

from .wav_codec import iter_riff_chunks, riff_chunk

MAX_LIST_DEPTH = 8


def _list(list_type: bytes, payload: bytes) -> bytes:
    return riff_chunk(b"LIST", list_type + payload)


def _dib_rows(frame: np.ndarray) -> bytes:
    """uint8 gray (h, w) -> raw DIB: bottom-up BGR24 rows padded to 4."""
    h, w = frame.shape
    stride = (w * 3 + 3) & ~3
    row = np.zeros((h, stride), dtype=np.uint8)
    bgr = np.repeat(frame[:, :, None], 3, axis=2).reshape(h, w * 3)
    row[:, :w * 3] = bgr
    return row[::-1].tobytes()


def encode_avi_gray(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Grayscale frames (equal shape, uint8) -> AVI bytes (DIB stream)."""
    if not frames:
        raise ValueError("need at least one frame")
    if not 1 <= fps <= 1_000_000:
        raise ValueError("fps must be in [1, 1_000_000]")
    h, w = frames[0].shape
    for f in frames:
        if f.dtype != np.uint8 or f.shape != (h, w):
            raise ValueError("all frames must be uint8 with one shape")
    stride = (w * 3 + 3) & ~3
    frame_bytes = stride * h
    avih = struct.pack("<14I", 1_000_000 // fps, frame_bytes * fps, 0, 0,
                       len(frames), 0, 1, frame_bytes, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<10I", 0, 0, 0, 1, fps, 0,
                                            len(frames), frame_bytes,
                                            0xFFFFFFFF, 0)
            + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes,
                       0, 0, 0, 0)
    hdrl = _list(b"hdrl", riff_chunk(b"avih", avih)
                 + _list(b"strl", riff_chunk(b"strh", strh)
                         + riff_chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(riff_chunk(b"00db", _dib_rows(f))
                                   for f in frames))
    junk = riff_chunk(b"JUNK", b"\x00" * 7)  # odd size: exercises pad handling
    return riff_chunk(b"RIFF", b"AVI " + hdrl + junk + movi)


def decode_avi_gray(data: bytes) -> tuple[list[np.ndarray], int]:
    """AVI bytes -> (uint8 gray frames, fps).

    Walks the nested LIST tree, validates the uncompressed 24-bit DIB
    stream via 'strf', and reads each '00db' frame with numpy row ops —
    no per-pixel Python.  ValueError on malformed containers (LISTs nested
    deeper than ``MAX_LIST_DEPTH`` included), NotImplementedError on
    compressed streams or other bit depths."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    end = min(len(data), 8 + riff_size)
    dims = bits = compression = None
    bottom_up = True
    usec_per_frame = 100_000
    frames: list[np.ndarray] = []

    def walk(pos: int, stop: int, depth: int) -> None:
        nonlocal dims, bits, compression, bottom_up, usec_per_frame
        for cid, at, size in iter_riff_chunks(data, pos, stop):
            if cid == b"LIST":
                if depth == MAX_LIST_DEPTH:
                    raise ValueError(
                        f"LIST nested deeper than {MAX_LIST_DEPTH}")
                walk(at + 4, at + size, depth + 1)  # skip the list type
            elif cid == b"avih":
                if size < 40:
                    raise ValueError("avih chunk too short")
                vals = struct.unpack_from("<10I", data, at)
                usec_per_frame = vals[0] or usec_per_frame
                dims = (vals[9], vals[8])  # (height, width)
            elif cid == b"strf":
                if size < 20:
                    raise ValueError("strf chunk too short")
                _, w, h, _, bits_, comp = struct.unpack_from(
                    "<IiiHHI", data, at)
                bits, compression = bits_, comp
                # negative biHeight = top-down DIB (rows already in
                # natural order); positive = the usual bottom-up layout
                bottom_up = h > 0
                dims = (abs(h), w)
            elif cid in (b"00db", b"00dc"):
                if compression not in (0, None):
                    raise NotImplementedError(
                        f"compressed AVI stream (biCompression {compression})")
                if bits not in (24, None):
                    raise NotImplementedError(f"{bits}-bit AVI frames")
                if dims is None:
                    raise ValueError("frame chunk before headers")
                h, w = dims
                if h <= 0 or w <= 0:
                    raise ValueError(f"empty AVI frame ({w}x{h})")
                stride = (w * 3 + 3) & ~3
                if size != stride * h:
                    raise ValueError("frame size does not match headers")
                rows = np.frombuffer(data, dtype=np.uint8, count=size,
                                     offset=at).reshape(h, stride)
                if bottom_up:
                    rows = rows[::-1]
                # gray was replicated to B=G=R on encode
                frames.append(np.ascontiguousarray(rows[:, :w * 3:3]))

    walk(12, end, 0)
    if not frames:
        raise ValueError("no frame chunks found")
    return frames, round(1_000_000 / usec_per_frame)
