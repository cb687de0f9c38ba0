"""OCR-text span recovery — vectorized numpy kernel.

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

From step 5 on, candidates are int64 base-36 serial codes
(``functions/serials.py``): each step gathers its rows from the step
before, and A1/A2 group and rank codes.  The per-pass chain
(`pass_candidates`) emits the normalized key alongside each candidate;
`recover_ocr` runs A1/A2 and the per-span early stop over it inside the
Spark pipeline's one extraction kernel (and in the pandas oracle), so both
paths share the exact same code, and decodes strings once, for the spans
it emits.  When a media store joins image payloads, `recover_pixels` reads
the serial off the pixels instead.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..functions import serials as K
from .assemble import spans_out

# a token is ``<head>@<conf>``: a non-empty head and a confidence in [0, 1]
_CONF_RE = re.compile(r"0(?:\.\d+)?|1(?:\.0+)?")


def split_passes(texts: pd.Series) -> pd.Series:
    """Split a token-stream into its list of pass strings."""
    return texts.fillna("").str.split("|")


def parse_tokens(pass_text: pd.Series) -> pd.DataFrame:
    """Parse one pass string per row into tokens.

    Returns ``(row, token_idx, token, conf)`` — ``row`` is the positional
    index into ``pass_text``; malformed tokens dropped.  The head ends at
    a token's last ``@`` (a confidence has none).
    """
    toks = [t.split() for t in pass_text.fillna("").tolist()]
    n = np.fromiter(map(len, toks), dtype=np.int64, count=len(toks))
    parts = [tok.rpartition("@") for ts in toks for tok in ts]
    ok = np.fromiter((bool(h) and _CONF_RE.fullmatch(c) is not None
                      for h, _, c in parts), dtype=bool, count=len(parts))
    keep = np.flatnonzero(ok)
    return pd.DataFrame({
        "row": np.repeat(np.arange(len(toks)), n)[keep],
        "token_idx": (np.arange(len(parts)) - np.repeat(np.cumsum(n) - n, n))[keep],
        "token": pd.Series([parts[i][0] for i in keep], dtype=object),
        "conf": np.array([float(parts[i][2]) for i in keep], dtype=float)})


def _candidate_codes(tokens: pd.DataFrame,
                     cfg: ExtractConfig) -> dict[str, np.ndarray]:
    """``pass_candidates`` with ``serial`` and ``norm`` as base-36 codes
    (``functions.serials``)."""
    o = np.lexsort((tokens["token_idx"].to_numpy(), tokens["row"].to_numpy()))
    conf = tokens["conf"].to_numpy(dtype=float)[o]
    # 1-2-3: projection + gates
    clean = K.clean_tokens(tokens["token"].iloc[o]).to_numpy()
    keep = np.flatnonzero((conf >= cfg.min_confidence)
                          & (np.fromiter(map(len, clean), dtype=np.int64,
                                         count=len(clean)) >= 8))
    # 4: shaping
    enhanced = K.shape_confidence(pd.Series(clean[keep]),
                                  pd.Series(conf[keep])).to_numpy()
    # 5: windows (len==12 -> itself; >12 -> slides; 8..11 -> nothing)
    tok, codes = K.window_codes(clean[keep].tolist())
    # 6: expansion (variants in pinned lexicographic order)
    win, variant, _ = K.expand_codes(codes)
    tok = tok[win]
    # 7: validation (extended; enhanced-confidence gate as in improved:781)
    ok = K.validate_codes(variant) & (enhanced[tok] >= cfg.min_confidence)
    tok, variant = tok[ok], variant[ok]
    # 8: quality filter
    q = K.quality_codes(variant, enhanced[tok])
    ok = q >= cfg.min_confidence * 0.8
    tok, variant, q = tok[ok], variant[ok], q[ok]
    # rows stay in (row, token_idx, window_idx, variant_rank) order, so seq
    # numbers each row's candidates
    row = tokens["row"].to_numpy()[o][keep][tok]
    return {"row": row, "seq": K.run_rank(row), "serial": variant,
            "norm": K.normalize_codes(variant), "conf": q}


def pass_candidates(tokens: pd.DataFrame,
                    cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Run the candidate chain on parsed tokens.

    Input columns:  ``row, token_idx, token, conf``.
    Output columns: ``row, seq, serial, norm, conf`` — ``seq`` is the
    occurrence order within (row): (token_idx, window_idx, variant_rank).

    After the gates every step is a gather from the step before (window
    -> token, variant -> window) over int64 serial codes; ``serial`` and
    ``norm`` are decoded once, for the survivors.
    """
    c = _candidate_codes(tokens, cfg)
    return pd.DataFrame({**c, "serial": K.decode(c["serial"]),
                         "norm": K.decode(c["norm"])})


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
    A1 and A2 rank serial codes; strings are decoded once, for the output.
    """
    passes = split_passes(df["text"]).to_numpy()
    n_passes = np.minimum(np.fromiter(map(len, passes), dtype=np.int64,
                                      count=len(passes)), cfg.max_passes)

    active = np.ones(len(df), dtype=bool)
    collected: list[pd.DataFrame] = []  # A1 rows: src_row, pass_idx, rank, ...
    for p in range(int(n_passes.max()) if len(df) else 0):
        rows = np.flatnonzero(active & (n_passes > p))
        if not len(rows):
            break
        cands = pd.DataFrame(_candidate_codes(
            parse_tokens(pd.Series([passes[i][p] for i in rows], dtype=object)),
            cfg))
        if cands.empty:
            continue
        # A1 per span for this pass, in (g, rank) order
        a1 = K.aggregate_candidates(cands.rename(columns={"row": "g"}), ["g"])
        g = a1["g"].to_numpy()
        collected.append(pd.DataFrame({
            "src_row": rows[g], "pass_idx": p, "rank": a1["rank"].to_numpy(),
            "serial": a1["serial"].to_numpy(), "conf": a1["conf"].to_numpy()}))
        # early stop: span resolved when best pass-candidate conf clears
        # the bar (reference: max over extract_serials output,
        # ocr_adapter_improved.py:1037-1039)
        best = np.full(len(rows), -np.inf)
        np.maximum.at(best, g, a1["conf"].to_numpy())
        active[rows[best >= cfg.early_stop_confidence]] = False
    if not collected:
        return spans_out(df, [], [], [], "ocr_text")
    allc = pd.concat(collected, ignore_index=True)
    allc = allc.iloc[np.lexsort((allc["rank"].to_numpy(),
                                 allc["pass_idx"].to_numpy(),
                                 allc["src_row"].to_numpy()))]
    src = allc["src_row"].to_numpy()
    # merge_passes returns (row, rank) order: the input-row order contract
    merged = K.merge_passes(pd.DataFrame({
        "g": src, "serial": allc["serial"].to_numpy(),
        "conf": allc["conf"].to_numpy(), "seq": K.run_rank(src)}), ["g"])
    g = merged["g"].to_numpy()
    return spans_out(df, g, merged["rank"], K.decode(merged["serial"].to_numpy()),
                     "ocr_text", df["media_ref"].to_numpy()[g])


def recover_pixels(df: pd.DataFrame,
                   cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """image rows carrying an image ``payload`` -> validated ocr_text rows.

    Real OCR on real pixels (the image branch when a media store is
    joined): decode (``multimodal.decode_media`` with ``decode_image``: PNG
    or BMP; a missing, malformed or unsupported payload costs its span,
    never the task) -> adaptive-threshold binarize -> glyph
    segmentation -> nearest-template Hamming match
    (``functions/glyph_ocr.py``), then the SAME extended validation +
    confidence gate the token path applies
    (``app/utils/validation.py:119-214``; min_confidence,
    ``ocr_adapter.py:253-254``).  One candidate per span (the recognizer is
    exact on this corpus), so A1/A2 collapse to out_rank 0."""
    from ..functions import image_kernels as IK
    from ..functions.glyph_ocr import recognize_text
    from .multimodal import decode_image, decode_media

    texts, confs = [], []
    for p in df["payload"]:
        img = decode_media(decode_image, p)
        t, c = (("", 0.0) if img is None else
                recognize_text(IK.adaptive_threshold(img), expect_chars=12))
        texts.append(t)
        confs.append(c)
    t = pd.Series(texts, dtype=object)
    rows = np.flatnonzero(K.validate_extended(t)["is_valid"].to_numpy()
                          & (np.asarray(confs) >= cfg.min_confidence))
    return spans_out(df, rows, np.zeros(len(rows)), t.to_numpy()[rows],
                     "ocr_text", df["media_ref"].to_numpy()[rows])
