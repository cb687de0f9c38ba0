"""Span assembly: explode input docs, the kind kernels' one output frame
(``spans_out``) and one kind dispatch (``extract_span_rows``, shared by the
Spark kernel and the pandas oracle), passthrough text spans, reassemble
ordered output spans.

Hard part (SURVEY.md §7): exact span ordering across shuffles.  Every
extracted row carries the total-order key ``(offset, span_pos, out_rank)``
(document position, tie-break by array position for duplicate offsets —
FIXTURES.md §3E — then within-span rank); reassembly sorts by that key and
assigns the dense per-doc ``order`` demanded by the golden schema.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def explode_docs_pandas(docs: pd.DataFrame) -> pd.DataFrame:
    """docs(doc_id, spans:list[dict]) -> rows (doc_id, span_pos, kind, text,
    media_ref, offset).  Pandas-side (oracle / fixtures); the Spark pipeline
    uses posexplode instead."""
    n = docs["spans"].str.len().fillna(0).astype(int).to_numpy()
    if len(docs) == 0 or int(n.sum()) == 0:
        return pd.DataFrame(columns=["doc_id", "span_pos", "kind", "text",
                                     "media_ref", "offset"])
    doc_ids = np.repeat(docs["doc_id"].to_numpy(), n)
    flat = [s for spans in docs["spans"] for s in (spans or [])]
    out = pd.DataFrame({
        "doc_id": doc_ids,
        "kind": [s.get("kind") for s in flat],
        "text": [s.get("text") for s in flat],
        "media_ref": [s.get("media_ref") for s in flat],
        "offset": [s.get("offset") for s in flat],
    })
    out["span_pos"] = out.groupby("doc_id", sort=False).cumcount()
    return out[["doc_id", "span_pos", "kind", "text", "media_ref", "offset"]]


def spans_out(src: pd.DataFrame, rows, out_rank, text, kind: str = "main_text",
              media_ref=None) -> pd.DataFrame:
    """The one kernel output frame: output row ``i`` comes from input row
    ``rows[i]`` (a position in ``src``) and is indexed by that row's label.

    Every kind kernel returns its rows in input-row order with ``out_rank``
    dense from 0 per input row, so ``(offset, span_pos, out_rank)`` is
    unique per doc and a caller can gather per-input-row keys through the
    index."""
    rows = np.asarray(rows, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": src["doc_id"].to_numpy()[rows],
        "span_pos": src["span_pos"].to_numpy()[rows],
        "offset": src["offset"].to_numpy()[rows],
        "out_rank": np.asarray(out_rank, dtype=np.int64),
        "kind": kind,
        "text": np.asarray(text, dtype=object),
        "media_ref": media_ref,
    }, index=src.index[rows])


def extract_text_spans(df: pd.DataFrame) -> pd.DataFrame:
    """kind='text' passthrough: whitespace-normalized, empties dropped."""
    text = df["text"].fillna("").str.replace(r"\s+", " ", regex=True).str.strip()
    rows = np.flatnonzero((text.str.len() > 0).to_numpy())
    return spans_out(df, rows, np.zeros(len(rows)), text.to_numpy()[rows])


def extract_span_rows(rows: pd.DataFrame, cfg) -> pd.DataFrame:
    """Span rows -> extracted rows: each kind's rows go to its kernel and
    the outputs are concatenated (text, html, pdf, image).  The image
    kernel reads the image ``payload`` when the frame carries one, else the
    token stream.  Shared by the Spark kernel (per Arrow batch) and the
    pandas oracle."""
    # imported here: the kind kernels import ``spans_out`` from this module
    from .html_extract import extract_html
    from .ocr_extract import recover_ocr, recover_pixels
    from .pdf_extract import extract_pdf
    pixels = "payload" in rows.columns
    kind = rows["kind"].to_numpy()
    parts = [kernel(rows[kind == k]) for k, kernel in (
        ("text", extract_text_spans),
        ("html", lambda s: extract_html(s, cfg)),
        ("pdf", lambda s: extract_pdf(s, cfg)),
        ("image", lambda s: (recover_pixels(s, cfg) if pixels
                             else recover_ocr(s, cfg)))) if (kind == k).any()]
    return pd.concat(parts) if parts else spans_out(rows, [], [], [])


def reassemble_pandas(extracted: pd.DataFrame) -> pd.DataFrame:
    """Extracted rows -> docs(doc_id, spans:list[dict(kind,text,media_ref,order)]).

    Total order inside a doc: (offset, span_pos, out_rank); ``order`` is the
    dense 0-based rank (FIXTURES.md §2).
    """
    if extracted.empty:
        return pd.DataFrame({"doc_id": pd.Series(dtype=object),
                             "spans": pd.Series(dtype=object)})
    d = extracted.sort_values(["doc_id", "offset", "span_pos", "out_rank"],
                              kind="stable", ignore_index=True)
    d["order"] = d.groupby("doc_id", sort=False).cumcount()
    span_struct = [
        {"kind": k, "text": t, "media_ref": m, "order": int(o)}
        for k, t, m, o in zip(d["kind"], d["text"], d["media_ref"], d["order"])
    ]
    d = d.assign(span=span_struct)
    out = (d.groupby("doc_id", sort=True)["span"].agg(list)
             .reset_index().rename(columns={"span": "spans"}))
    return out
