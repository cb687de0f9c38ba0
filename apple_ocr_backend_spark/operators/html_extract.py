"""HTML boilerplate stripping — vectorized pandas kernel.

Main-content extraction via tag-density + link-text-ratio block scoring
(Readability/Boilerpipe-style heuristics, per BASELINE.json north_star).
The reference has no HTML path — its analog is ROI pruning (process only the
informative sub-regions of an input, ``app/pipeline/ocr_adapter_improved.py:
814-936``); here the "regions" are DOM blocks and the "energy" is text mass.

Algorithm (deterministic, regex-based; documented limitation: assumes leaf
block tags are not self-nested, which our corpus and most machine-generated
pages satisfy — a full HTML5 parser would slot in behind the same interface):

1. drop ``<script>``/``<style>``/comments with their content;
2. delete boilerplate zones: ``<nav> <footer> <header> <aside>`` subtrees;
3. scan leaf blocks ``<p> <h1..6> <li> <td> <blockquote>`` in document order;
4. per block compute ``words``, ``link_ratio`` (chars inside <a> / total
   chars) and ``tag_density`` (inline tags per word);
5. keep blocks with ``words >= html_min_words``, ``link_ratio <=
   html_max_link_ratio`` and ``tag_density <= html_max_tag_density``;
6. emit each kept block's whitespace-normalized text as one ``main_text``
   span, document order preserved.

Everything is pandas ``str`` vectorized over the batch; the only expansion is
``findall`` + ``explode`` (block-level, not per-char).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import ExtractConfig, DEFAULT_CONFIG
from .assemble import spans_out

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
    """Extract main-content spans from HTML spans.

    Input columns:  ``doc_id, span_pos, offset, text``  (one row per html span)
    Output columns: ``doc_id, span_pos, offset, out_rank, kind, text, media_ref``
    """
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
