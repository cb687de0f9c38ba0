"""The regex HTML kernel, kept as the reference model of
``operators.html_extract.extract_html``, and the hostile html shapes on
which it is quadratic.

``extract_html`` below is the package's earlier implementation: five
``(?is)`` regex passes under pandas ``.str`` (scripts/style/comments, then
boilerplate zones, then ``findall`` of leaf blocks, then per-block tag
stripping and link text).  Its output frame defines the kernel's semantics,
including every Python ``re`` edge (Unicode case folding, the Unicode
``\\b``, case-insensitive backreferences, the lazy ``.*?`` closing at the
first matching end tag).  The lazy patterns rescan to the end of the span
from every unclosed opening, so the model is quadratic: keep its inputs
small.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from apple_ocr_backend_spark.config import ExtractConfig, DEFAULT_CONFIG
from apple_ocr_backend_spark.operators.assemble import spans_out

_ZONE_RE = r"(?is)<(nav|footer|header|aside)\b[^>]*>.*?</\1>"
_SCRIPT_RE = r"(?is)<(script|style)\b[^>]*>.*?</\1>|<!--.*?-->"
_BLOCK_RE = r"(?is)<(p|h[1-6]|li|td|blockquote)\b[^>]*>(.*?)</\1>"
_LINK_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
_TAG_RE = r"(?s)<[^>]+>"


def _strip_tags(s: pd.Series) -> pd.Series:
    return (s.str.replace(_TAG_RE, " ", regex=True)
             .str.replace(r"\s+", " ", regex=True)
             .str.strip())


def extract_html(df: pd.DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    body = (df["text"].fillna("")
            .str.replace(_SCRIPT_RE, " ", regex=True)
            .str.replace(_ZONE_RE, " ", regex=True))
    blocks = body.str.findall(_BLOCK_RE)  # list of (tag, inner) tuples
    rep = np.repeat(np.arange(len(df)), blocks.str.len().to_numpy())
    inner = pd.Series([t[1] for lst in blocks for t in lst], dtype=object)
    text = _strip_tags(inner)
    link_text = _strip_tags(
        inner.str.findall(_LINK_RE).str.join(" "))
    words = text.str.count(r"\S+")
    n_tags = inner.str.count(_TAG_RE)
    text_len = text.str.len().clip(lower=1)
    link_ratio = link_text.str.len() / text_len
    tag_density = n_tags / words.clip(lower=1)

    keep = ((words >= cfg.html_min_words)
            & (link_ratio <= cfg.html_max_link_ratio)
            & (tag_density <= cfg.html_max_tag_density)).to_numpy()
    rows = rep[keep]
    out_rank = pd.Series(rows).groupby(rows, sort=False).cumcount()
    return spans_out(df, rows, out_rank, text.to_numpy()[keep])


# name -> (repeated unit, prefix, suffix).  Each makes the model rescan to
# the end of the span from every unit: the first four are unclosed
# script/zone/block/comment openings, the rest hit the per-block passes (a
# run of ``<`` with no ``>`` for tag stripping, unclosed links, ``<p``
# openings whose ``[^>]*`` never finds its ``>``).
HOSTILE = {
    "p_unclosed": ("<p>x ", "", ""),
    "nav_unclosed": ("<nav>", "", ""),
    "script_unclosed": ("<script>", "", ""),
    "comment_unclosed": ("<!--", "", ""),
    "lt_run_in_block": ("<", "<p>", "</p>"),
    "a_unclosed_in_block": ("<a>x ", "<p>", "</p>"),
    "a_unclosed_wordy_block": ("<a>one two three ", "<p>", "</p>"),
    "p_open_no_gt": ("<p ", "", ""),
}


def hostile_html(shape: str, size: int) -> str:
    """About ``size`` characters of the hostile shape ``shape``."""
    unit, pre, post = HOSTILE[shape]
    return pre + unit * (size // len(unit)) + post
