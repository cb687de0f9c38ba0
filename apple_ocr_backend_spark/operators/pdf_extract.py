"""PDF layout parsing — vectorized numpy kernel.

pdfminer-style text-line clustering into reading-order blocks (BASELINE.json
north_star).  A ``kind='pdf'`` span's ``text`` encodes positioned text-line
records, one per line of the string::

    x,y,fontsize|line text

Records arrive in arbitrary order (the corpus shuffles them).  Semantics:

1. parse records; malformed records are dropped;
2. order lines by ``(y asc, x asc, text asc)`` — the reading order;
3. records sharing the same ``y`` form one visual line, joined left-to-right
   with a single space;
4. a new block starts when the vertical gap to the previous line exceeds
   ``pdf_gap_factor * prev_font_size`` (pdfminer's line-margin clustering);
5. each block's lines are joined with ``"\\n"`` and emitted as one
   ``main_text`` span, block order = reading order.

Vectorized: split + regex match + one sort.  In ``(row, y, x, text)``
order every visual line and every block is a contiguous run, so the run
starts are ``np.flatnonzero`` over key changes, the joins are
``str.join`` over run slices and the gap test compares each line with
the line before it in the same run of rows.
"""

from __future__ import annotations

import itertools
import re

import numpy as np
import pandas as pd

from ..config import ExtractConfig, DEFAULT_CONFIG
from .assemble import spans_out

_REC_RE = re.compile(
    r"^(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?),(\d+(?:\.\d+)?)\|(.*)$")


def extract_pdf(df: pd.DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Input columns:  ``doc_id, span_pos, offset, text`` (one row per pdf span).
    Output columns: ``doc_id, span_pos, offset, out_rank, kind, text, media_ref``.
    """
    row, parsed = _records(df["text"].fillna("").tolist())
    r = pd.DataFrame({"row": row,
                      "x": parsed[:, 0].astype(float),
                      "y": parsed[:, 1].astype(float),
                      "size": parsed[:, 2].astype(float),
                      "line": parsed[:, 3]})

    # reading order within each span
    r = r.sort_values(["row", "y", "x", "line"], kind="stable", ignore_index=True)
    row, y, size = (r[c].to_numpy() for c in ("row", "y", "size"))
    words = r["line"].tolist()

    # merge same-y records into one visual line (join by single space, x order)
    ls = _runs(row, y)
    lines = [" ".join(words[a:b]) for a, b in zip(ls, np.append(ls[1:], len(words)))]
    row, y, size = row[ls], y[ls], size[ls]

    # block clustering: gap to previous line > gap_factor * prev_size; a
    # span's first line (no previous line) starts its first block, so
    # blocks number densely from 0 per span
    first = np.zeros(len(row), dtype=bool)
    first[_runs(row)] = True
    gap = np.zeros(len(row), dtype=bool)
    gap[1:] = (y[1:] - y[:-1]) > (cfg.pdf_gap_factor * size[:-1])
    gap &= ~first
    block = np.cumsum(gap)
    block -= block[np.flatnonzero(first)][np.cumsum(first) - 1]
    bs = np.flatnonzero(first | gap)
    texts = ["\n".join(lines[a:b]) for a, b in zip(bs, np.append(bs[1:], len(lines)))]
    return spans_out(df, row[bs], block[bs], texts)


def _records(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Each well-formed record's span number and its (x, y, size, text)
    strings.  Plain lists, not the ``.str`` accessor: that ties each Series
    it touches into a reference cycle, which would hold a batch's records
    until the cyclic GC ran; the split lists and match groups die on
    return."""
    recs = [t.split("\n") for t in texts]
    n = np.fromiter(map(len, recs), dtype=np.int64, count=len(recs))
    found = [m and m.groups() for m in map(_REC_RE.search, itertools.chain(*recs))]
    ok = np.fromiter((g is not None for g in found), dtype=bool, count=len(found))
    return (np.repeat(np.arange(len(recs)), n)[ok],
            np.array([g for g in found if g is not None], dtype=object).reshape(-1, 4))


def _runs(*keys: np.ndarray) -> np.ndarray:
    """Start positions of the runs of equal key tuples."""
    start = np.zeros(len(keys[0]), dtype=bool)
    start[:1] = True
    for k in keys:
        start[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(start)
