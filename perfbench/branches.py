"""Driver-side timing of the extraction kernel's branches.

Each branch is a public kernel function, timed on a fixed sample of the
workload's own span rows: the first ``SAMPLE`` rows of its kind in
(doc_id, span_pos) order.  A kind the workload does not have is timed on a
seeded supplementary ``make_corpus`` slice, so every branch reads on every
workload.  The pixel chain runs on plates rendered for seeded doc ids, one
per sampled image row.  ``framing`` is the fused batch kernel driven on one
Arrow batch of all sampled rows (image rows go to token OCR), minus the
time its token branches take on those rows.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa

from apple_ocr_backend_spark.config import DEFAULT_CONFIG as CFG
from apple_ocr_backend_spark.functions import image_kernels as K
from apple_ocr_backend_spark.functions import serials as S
from apple_ocr_backend_spark.functions.glyph_ocr import recognize_text
from apple_ocr_backend_spark.functions.png_codec import (decode_png_gray,
                                                         encode_png_gray)
from apple_ocr_backend_spark.operators.assemble import extract_text_spans
from apple_ocr_backend_spark.operators.html_extract import extract_html
from apple_ocr_backend_spark.operators.ocr_extract import recover_ocr
from apple_ocr_backend_spark.operators.pdf_extract import extract_pdf
from apple_ocr_backend_spark.plans import pipeline
from apple_ocr_backend_spark.sources.corpus import make_corpus
from apple_ocr_backend_spark.sources.derived import serial_py
from apple_ocr_backend_spark.sources.image_corpus import render_serial_image
from workloads import span_rows

SAMPLE = 200
REPEATS = 3
COLS = ["doc_id", "span_pos", "offset", "media_ref", "text"]
TOKEN_BRANCHES = {
    "text": ("text", extract_text_spans),
    "html": ("html", lambda s: extract_html(s, CFG)),
    "pdf": ("pdf", lambda s: extract_pdf(s, CFG)),
    "ocr_token": ("image", lambda s: recover_ocr(s, CFG)),
}


def _timed(fn) -> tuple[float, object]:
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def _pixel_chain(payloads: list[bytes]) -> dict:
    """decode -> threshold -> recognize per plate, then the kernel's
    validation + confidence gate; per-step seconds summed over plates."""
    steps = {"decode": 0.0, "threshold": 0.0, "recognize": 0.0}
    texts, confs = [], []
    for p in payloads:
        t0 = time.perf_counter()
        img = decode_png_gray(p)
        t1 = time.perf_counter()
        mask = K.adaptive_threshold(img)
        t2 = time.perf_counter()
        text, conf = recognize_text(mask, expect_chars=12)
        t3 = time.perf_counter()
        steps["decode"] += t1 - t0
        steps["threshold"] += t2 - t1
        steps["recognize"] += t3 - t2
        texts.append(text)
        confs.append(conf)
    t = time.perf_counter()
    ok = (S.validate_extended(pd.Series(texts))["is_valid"].to_numpy()
          & (np.asarray(confs) >= CFG.min_confidence))
    steps["validate"] = time.perf_counter() - t
    return {"steps": steps, "accepted": int(ok.sum())}


def _first(rows: pd.DataFrame, kind: str) -> pd.DataFrame:
    sub = rows[rows["kind"] == kind].sort_values(["doc_id", "span_pos"])
    return sub.head(SAMPLE).reset_index(drop=True)


def sample_rows(own: pd.DataFrame, seed: int) -> tuple[pd.DataFrame, dict]:
    """Per-kind sample of ``own`` span rows, topped up from a seeded
    ``make_corpus`` slice for token kinds the workload lacks.  Returns the
    rows and, per kind, whether they are the workload's own."""
    extra = None
    parts, own_kind = [], {}
    for kind in ("text", "html", "pdf", "image"):
        sub = _first(own, kind)
        own_kind[kind] = len(sub) > 0
        if sub.empty:
            if extra is None:
                extra = span_rows(make_corpus(400, seed=seed))
            sub = _first(extra, kind)
        parts.append(sub)
    return pd.concat(parts, ignore_index=True), own_kind


def plates_for(rows: pd.DataFrame, seed: int) -> list[bytes]:
    """One PNG plate per sampled image row, rendered for seeded doc ids: no
    gated workload has a media store, so the pixel chain reads these."""
    n = int((rows["kind"] == "image").sum())
    ids = range(10_000 + seed * SAMPLE, 10_000 + seed * SAMPLE + n)
    return [encode_png_gray(render_serial_image(i, text=serial_py(i)))
            for i in ids]


def measure(rows: pd.DataFrame, plates: list[bytes]) -> dict:
    """Branch figures, and the framing left over when the fused kernel runs
    the same rows.  Each repeat times every branch and then the kernel, so
    the subtraction pairs readings taken moments apart."""
    subs = {name: rows.loc[rows["kind"] == kind, COLS].reset_index(drop=True)
            for name, (kind, _) in TOKEN_BRANCHES.items()}
    batch = pa.RecordBatch.from_pandas(
        rows.assign(span_pos=rows["span_pos"].astype(np.int32),
                    offset=rows["offset"].astype(np.int32)),
        preserve_index=False)
    kernel = pipeline._mono_partial_kernel(CFG.as_dict())

    secs: dict[str, list[float]] = {k: [] for k in [*subs, "pixel", "batch"]}
    results: dict[str, object] = {}
    pixel_runs = []
    for _ in range(REPEATS):
        for name, (_, fn) in TOKEN_BRANCHES.items():
            s, results[name] = _timed(lambda: fn(subs[name]))
            secs[name].append(s)
        pixel_runs.append(_pixel_chain(plates))
        secs["pixel"].append(sum(pixel_runs[-1]["steps"].values()))
        s, _ = _timed(lambda: sum(b.num_rows for b in kernel(iter([batch]))))
        secs["batch"].append(s)

    out: dict[str, float] = {}
    for name, sub in subs.items():
        out[f"branch.{name}.rows_in"] = len(sub)
        out[f"branch.{name}.rows_out"] = len(results[name])
        out[f"branch.{name}.us_per_span"] = (
            statistics.median(secs[name]) / max(len(sub), 1) * 1e6)
    resolved = results["ocr_token"][["doc_id", "span_pos"]].drop_duplicates()
    out["branch.ocr_token.resolve_ratio"] = (
        len(resolved) / max(len(subs["ocr_token"]), 1))

    n = max(len(plates), 1)
    for step in ("decode", "threshold", "recognize"):
        out[f"branch.pixel.{step}_us"] = statistics.median(
            r["steps"][step] for r in pixel_runs) / n * 1e6
    out["branch.pixel.us_per_span"] = statistics.median(secs["pixel"]) / n * 1e6
    out["branch.pixel.rows_in"] = len(plates)
    out["branch.pixel.rows_out"] = pixel_runs[0]["accepted"]
    out["branch.pixel.accept_ratio"] = pixel_runs[0]["accepted"] / n

    framing = [secs["batch"][r] - sum(secs[k][r] for k in TOKEN_BRANCHES)
               for r in range(REPEATS)]
    out["branch.framing.us_per_row"] = (statistics.median(framing)
                                        / len(rows) * 1e6)
    return out
