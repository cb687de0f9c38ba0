"""OCR-text span recovery — vectorized pandas kernel.

Recovers validated serial-number spans from the noisy OCR token stream carried
by ``kind='image'`` spans (the deterministic stand-in for an OCR engine's
output — no OCR engine/network exists in this sandbox, FIXTURES.md §3C).

Token-stream format (corpus contract)::

    pass1_tok1@0.87 pass1_tok2@0.45 | pass2_tok1@0.91 | ...

``|`` separates progressive passes (the analog of the reference's 4
progressive stages, ``app/pipeline/ocr_adapter_improved.py:939-1307``); each
token carries the confidence the engine reported.  Malformed tokens are
dropped (per-row fault tolerance, ``app/services/eval.py:108-110``).

Per-token candidate chain (all file:line references into /root/reference):

1. charset projection + upper          tesseract_adapter.py:143-151
2. confidence gate  conf >= min_conf   ocr_adapter.py:253-254
3. min-length gate  len >= 8           ocr_adapter.py:257-259
4. confidence shaping                  ocr_adapter_improved.py:758-777
5. sliding 12-char windows             tesseract_adapter.py:154-163
6. ambiguity expansion, position-aware ocr_adapter_improved.py:413-462
7. extended validation                 app/utils/validation.py:119-214
8. quality filter q >= min_conf*0.8    ocr_adapter_improved.py:784-811

Then per (span, pass): A1 normalize-group ranking
(ocr_adapter_improved.py:1458-1469); across passes: early stop when a pass's
best candidate reaches ``early_stop_confidence`` (ocr_adapter_improved.py:
1432-1456,1037-1039) and A2 sequential merge of all executed passes
(ocr_adapter_improved.py:1310-1343).

The per-pass kernel (`pass_candidates`) emits the normalized key alongside
each candidate; `recover_ocr` runs A1/A2 and the per-span early stop over
it inside the Spark pipeline's one extraction kernel (and in the pandas
oracle), so both paths share the exact same code.  When a media store
joins PNG payloads, `recover_pixels` reads the serial off the pixels
instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..functions import serials as K
from .assemble import spans_out

_TOKEN_RE = r"^(.+)@(0(?:\.\d+)?|1(?:\.0+)?)$"


def split_passes(texts: pd.Series) -> pd.Series:
    """Split a token-stream into its list of pass strings."""
    return texts.fillna("").str.split("|")


def parse_tokens(pass_text: pd.Series) -> pd.DataFrame:
    """Parse one pass string per row into tokens.

    Returns ``(row, token_idx, token, conf)`` — ``row`` is the positional
    index into ``pass_text``; malformed tokens dropped.
    """
    toks = pass_text.fillna("").str.split()
    n = toks.str.len().to_numpy()
    if len(pass_text) == 0 or int(n.sum()) == 0:
        return pd.DataFrame({"row": pd.Series(dtype=np.int64),
                             "token_idx": pd.Series(dtype=np.int64),
                             "token": pd.Series(dtype=object),
                             "conf": pd.Series(dtype=float)})
    t = pd.DataFrame({
        "row": np.repeat(np.arange(len(pass_text)), n),
        "token": np.concatenate([np.asarray(v, dtype=object) for v in toks]),
    })
    t["token_idx"] = t.groupby("row", sort=False).cumcount()
    parsed = t["token"].str.extract(_TOKEN_RE)
    ok = parsed[0].notna() & parsed[1].notna()
    t = t.loc[ok.to_numpy()].copy()
    t["token"] = parsed.loc[ok.to_numpy(), 0].to_numpy()
    t["conf"] = parsed.loc[ok.to_numpy(), 1].astype(float).to_numpy()
    return t[["row", "token_idx", "token", "conf"]].reset_index(drop=True)


def pass_candidates(tokens: pd.DataFrame,
                    cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Run the candidate chain on parsed tokens.

    Input columns:  ``row, token_idx, token, conf``.
    Output columns: ``row, seq, serial, norm, conf`` — ``seq`` is the
    occurrence order within (row): (token_idx, window_idx, variant_rank).
    """
    empty = pd.DataFrame({"row": pd.Series(dtype=np.int64),
                          "seq": pd.Series(dtype=np.int64),
                          "serial": pd.Series(dtype=object),
                          "norm": pd.Series(dtype=object),
                          "conf": pd.Series(dtype=float)})
    if tokens.empty:
        return empty
    t = tokens.reset_index(drop=True).copy()
    # 1-2-3: projection + gates
    t["clean"] = K.clean_tokens(t["token"])
    t = t[(t["conf"] >= cfg.min_confidence) & (t["clean"].str.len() >= 8)]
    if t.empty:
        return empty
    t = t.reset_index(drop=True)
    # 4: shaping
    t["enhanced"] = K.shape_confidence(t["clean"], t["conf"])
    # 5: windows (len==12 -> itself; >12 -> slides; 8..11 -> nothing)
    w = K.sliding_windows(t["clean"])
    if w.empty:
        return empty
    w = w.merge(t[["row", "token_idx", "enhanced"]],
                left_on="idx", right_index=True, how="left")
    # 6: expansion (variants in pinned lexicographic order)
    e = K.expand_ambiguous(w["window"], position_aware=True)
    e = e.merge(w.reset_index(drop=True)
                  .rename_axis("widx").reset_index()
                  [["widx", "row", "token_idx", "window_idx", "enhanced"]],
                left_on="idx", right_on="widx", how="left")
    # 7: validation (extended; enhanced-confidence gate as in improved:781)
    ext = K.validate_extended(e["variant"])
    e = e[(ext["is_valid"].to_numpy()) & (e["enhanced"] >= cfg.min_confidence)]
    if e.empty:
        return empty
    e = e.reset_index(drop=True)
    # 8: quality filter
    q = K.quality_score(e["variant"], e["enhanced"])
    e["q"] = q
    e = e[e["q"] >= cfg.min_confidence * 0.8]
    if e.empty:
        return empty
    e = e.sort_values(["row", "token_idx", "window_idx", "variant_rank"],
                      kind="stable", ignore_index=True)
    e["seq"] = e.groupby("row", sort=False).cumcount()
    e["norm"] = K.normalize_ambiguous(e["variant"], position_aware=True)
    out = e.rename(columns={"variant": "serial", "q": "conf"})
    return out[["row", "seq", "serial", "norm", "conf"]]


def recover_ocr(df: pd.DataFrame,
                cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Full per-span OCR recovery — the single-process oracle path.

    Input columns:  ``doc_id, span_pos, offset, media_ref, text``.
    Output columns: ``doc_id, span_pos, offset, out_rank, kind, text, media_ref``
    (kind='ocr_text', text=serial, out_rank = final A2 rank; input-row
    order, ``assemble.spans_out``).

    Processes passes progressively with per-span early stop (reference P9):
    pass k+1 runs only on spans no earlier pass resolved.  The Spark
    pipeline calls this per Arrow batch inside its one extraction kernel.
    """
    passes = split_passes(df["text"])
    n_passes = passes.str.len().clip(upper=cfg.max_passes)

    active = np.ones(len(df), dtype=bool)
    collected: list[pd.DataFrame] = []  # candidate rows with pass_idx, a1_rank
    for p in range(int(n_passes.max()) if len(df) else 0):
        has_pass = (n_passes > p).to_numpy()
        sel = active & has_pass
        if not sel.any():
            break
        rows = np.flatnonzero(sel)
        pass_text = pd.Series([passes.iloc[i][p] for i in rows])
        toks = parse_tokens(pass_text)
        cands = pass_candidates(toks, cfg)
        if not cands.empty:
            # A1 per span for this pass
            a1 = K.aggregate_candidates(
                cands.rename(columns={"row": "g"}), ["g"])
            a1["src_row"] = rows[a1["g"].to_numpy()]
            a1["pass_idx"] = p
            collected.append(a1[["src_row", "pass_idx", "rank", "serial", "conf"]])
            # early stop: span resolved when best pass-candidate conf clears
            # the bar (reference: max over extract_serials output,
            # ocr_adapter_improved.py:1037-1039)
            best = a1.groupby("g", sort=False)["conf"].max()
            resolved_rows = rows[best.index.to_numpy()[
                (best >= cfg.early_stop_confidence).to_numpy()]]
            active[resolved_rows] = False
    if not collected:
        return spans_out(df, [], [], [], "ocr_text")
    allc = pd.concat(collected, ignore_index=True)
    allc = allc.sort_values(["src_row", "pass_idx", "rank"],
                            kind="stable", ignore_index=True)
    allc["seq"] = allc.groupby("src_row", sort=False).cumcount()
    # merge_passes returns (row, rank) order: the input-row order contract
    merged = K.merge_passes(
        allc.rename(columns={"src_row": "g"})[["g", "serial", "conf", "seq"]],
        ["g"])
    g = merged["g"].to_numpy()
    return spans_out(df, g, merged["rank"], merged["serial"], "ocr_text",
                     df["media_ref"].to_numpy()[g])


def recover_pixels(df: pd.DataFrame,
                   cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """image rows carrying a PNG ``payload`` -> validated ocr_text rows.

    Real OCR on real pixels (the image branch when a media store is
    joined): decode PNG -> adaptive-threshold binarize -> glyph
    segmentation -> nearest-template Hamming match
    (``functions/glyph_ocr.py``), then the SAME extended validation +
    confidence gate the token path applies
    (``app/utils/validation.py:119-214``; min_confidence,
    ``ocr_adapter.py:253-254``).  One candidate per span (the recognizer is
    exact on this corpus), so A1/A2 collapse to out_rank 0."""
    from ..functions import image_kernels as IK
    from ..functions.glyph_ocr import recognize_text
    from ..functions.png_codec import decode_png_gray

    texts, confs = [], []
    for p in df["payload"]:
        # a missing or corrupt payload costs its span, never the task
        try:
            img = None if p is None else decode_png_gray(bytes(p))
        except ValueError:
            img = None
        t, c = (("", 0.0) if img is None else
                recognize_text(IK.adaptive_threshold(img), expect_chars=12))
        texts.append(t)
        confs.append(c)
    t = pd.Series(texts, dtype=object)
    rows = np.flatnonzero(K.validate_extended(t)["is_valid"].to_numpy()
                          & (np.asarray(confs) >= cfg.min_confidence))
    return spans_out(df, rows, np.zeros(len(rows)), t.to_numpy()[rows],
                     "ocr_text", df["media_ref"].to_numpy()[rows])
