"""PDF layout parsing — vectorized pandas kernel.

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

Fully vectorized: explode + regex extract + sort + groupby/diff/cumsum.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import ExtractConfig, DEFAULT_CONFIG
from .assemble import spans_out

_REC_RE = r"^(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?),(\d+(?:\.\d+)?)\|(.*)$"


def extract_pdf(df: pd.DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Input columns:  ``doc_id, span_pos, offset, text`` (one row per pdf span).
    Output columns: ``doc_id, span_pos, offset, out_rank, kind, text, media_ref``.
    """
    recs = df["text"].fillna("").str.split("\n")
    r = pd.DataFrame({
        "row": np.repeat(np.arange(len(df)), recs.str.len().to_numpy()),
        "rec": pd.Series([rec for lst in recs for rec in lst], dtype=object),
    })
    parsed = r["rec"].str.extract(_REC_RE)
    parsed.columns = ["x", "y", "size", "line"]
    ok = parsed["x"].notna()
    r = pd.concat([r[["row"]], parsed], axis=1).loc[ok.to_numpy()].copy()
    r["x"] = r["x"].astype(float)
    r["y"] = r["y"].astype(float)
    r["size"] = r["size"].astype(float)
    r["line"] = r["line"].fillna("")

    # reading order within each span
    r = r.sort_values(["row", "y", "x", "line"], kind="stable", ignore_index=True)

    # merge same-y records into one visual line (join by single space, x order)
    lines = (r.groupby(["row", "y"], sort=False)
              .agg(text=("line", " ".join), size=("size", "first"))
              .reset_index())

    # block clustering: gap to previous line > gap_factor * prev_size; a
    # span's first line (no previous line) compares False, so blocks number
    # densely from 0 per span
    prev_y = lines.groupby("row", sort=False)["y"].shift(1)
    prev_size = lines.groupby("row", sort=False)["size"].shift(1)
    new_block = (lines["y"] - prev_y) > (cfg.pdf_gap_factor * prev_size)
    lines["block"] = new_block.astype(int).groupby(lines["row"]).cumsum()

    # groups come out in (row, block) order: lines are sorted by (row, y)
    blocks = (lines.groupby(["row", "block"], sort=False)
               .agg(text=("text", "\n".join))
               .reset_index())
    return spans_out(df, blocks["row"], blocks["block"], blocks["text"])
