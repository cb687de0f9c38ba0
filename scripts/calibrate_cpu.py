#!/usr/bin/env python
"""Raw-CPU scaling calibration — no Spark.

Runs the SAME pandas extraction dispatch the pipeline's kernel uses
(``operators.assemble.extract_span_rows``: html strip, pdf layout parse, OCR
recovery) over identical pre-built chunks with a ``multiprocessing`` pool at
2 / 8 / 32 workers and reports docs/sec plus pairwise scaling efficiency.

Purpose (BENCH.md): when Spark's 8→32 efficiency sags on this virtualized
guest, this isolates the cause — if embarrassingly parallel pure-Python work
ALSO fails to scale 8→32, the limiter is hypervisor CPU steal /
oversubscription, not the Spark plan.  Usage::

    python scripts/calibrate_cpu.py [n_docs_per_chunk n_chunks]
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_MID = str.maketrans("ABCDEF", "HJKMNP")
_TOP = str.maketrans("ABCDEF", "012345")
_CORRUPT = str.maketrans("0125", "OIZS")

_WORDS = ("the fast key order sort table scan merge part window small hash "
          "join stream customer data group filter batch value row line agg "
          "query column vector slow").split()


def _doc(i: int) -> tuple[str, str, str]:
    """Deterministic (text, html, pdf, image) content for doc i — the same
    interleaved shape as sources.derived, derived with hashlib only."""
    h = hashlib.md5(str(i).encode()).hexdigest().upper()
    serial = ("C" + h[0].translate(_TOP) + h[1:10].translate(_MID)
              + h[10].translate(_TOP))
    noisy = serial.translate(_CORRUPT)
    text = " ".join(_WORDS[(i + k) % len(_WORDS)] for k in range(40))
    html = ('<html><body><nav><a href="/h">home</a></nav><article><p>'
            + text + "</p></article><footer>c</footer></body></html>")
    pdf = (f"72,100,10|{text[:60]}\n72,112,10|{text[60:120]}\n"
           f"72,160,10|{text[120:180]}")
    image = f"{noisy}@0.55 JU NK@0.20 | {noisy}@0.95"
    return html, pdf, image


def _make_chunks(docs_per_chunk: int, n_chunks: int):
    import pandas as pd
    chunks = []
    for c in range(n_chunks):
        rows = []
        for d in range(docs_per_chunk):
            i = c * docs_per_chunk + d
            html, pdf, image = _doc(i)
            doc_id = f"doc_{i:08d}"
            rows.append((doc_id, 0, 0, None, html, "html"))
            rows.append((doc_id, 1, 1, None, pdf, "pdf"))
            rows.append((doc_id, 2, 2, f"media://{doc_id}/0", image, "image"))
        chunks.append(pd.DataFrame(
            rows, columns=["doc_id", "span_pos", "offset", "media_ref",
                           "text", "kind"]))
    return chunks


def _work(chunk) -> int:
    from apple_ocr_backend_spark.config import DEFAULT_CONFIG
    from apple_ocr_backend_spark.operators.assemble import extract_span_rows
    return len(extract_span_rows(chunk, DEFAULT_CONFIG))


def main() -> None:
    docs_per_chunk = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    n_chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    chunks = _make_chunks(docs_per_chunk, n_chunks)
    n_docs = docs_per_chunk * n_chunks
    points = {}
    with mp.Pool(2) as p:  # warm imports in a throwaway pool
        p.map(_work, chunks[:4])
    for workers in (2, 8, 32):
        with mp.Pool(workers) as pool:
            pool.map(_work, chunks[:workers])  # warm this pool's processes
            t0 = time.time()
            total = sum(pool.map(_work, chunks))
            dt = time.time() - t0
        points[workers] = {"sec": round(dt, 2),
                           "docs_per_sec": round(n_docs / dt, 1),
                           "rows_out": total}
    eff = {
        "2to8": round(points[8]["docs_per_sec"]
                      / points[2]["docs_per_sec"] / 4, 3),
        "8to32": round(points[32]["docs_per_sec"]
                       / points[8]["docs_per_sec"] / 4, 3),
    }
    print(json.dumps({"n_docs": n_docs, "points": points,
                      "efficiency": eff}))


if __name__ == "__main__":
    main()
