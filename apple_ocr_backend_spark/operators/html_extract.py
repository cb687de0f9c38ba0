"""HTML boilerplate stripping: one linear tag scan per Arrow batch.

Main-content extraction via tag-density + link-text-ratio block scoring
(Readability/Boilerpipe-style heuristics, per BASELINE.json north_star).
The reference has no HTML path — its analog is ROI pruning (process only the
informative sub-regions of an input, ``app/pipeline/ocr_adapter_improved.py:
814-936``); here the "regions" are DOM blocks and the "energy" is text mass.

Algorithm, per span:

1. drop ``<script>``/``<style>`` elements and comments with their content;
2. delete boilerplate zones: ``<nav> <footer> <header> <aside>`` elements;
3. take leaf blocks ``<p> <h1..6> <li> <td> <blockquote>`` in document order;
4. per block compute ``words``, ``link_ratio`` (chars inside <a> / total
   chars) and ``tag_density`` (inline tags per word);
5. keep blocks with ``words >= html_min_words``, ``link_ratio <=
   html_max_link_ratio`` and ``tag_density <= html_max_tag_density``;
6. emit each kept block's whitespace-normalized text as one ``main_text``
   span, document order preserved.

An element runs from its opening tag to the first end tag of the same name
(case-insensitive), so a nested same-name element ends at the inner end
tag, and an opening without an end tag stays as text.  A removal leaves one
space, so a tag may form across it (``<p<!--c-->>`` opens a block).
``tests/html_model.py`` holds the regex formulation these semantics come
from; a property test checks this kernel against it, output frame for
output frame.

How: a batch's spans are joined into one array of code points (one byte
each when the batch is ASCII) and indexed once: the sorted positions of
``<`` and ``>``, and per ``<`` the opening or end tag it begins.  Tag names
are matched under ``(?i)`` through case-fold and case-class tables that
``re`` itself fills at import.  Each opening is paired with the first
matching end tag after it by ``np.searchsorted``, the leftmost-first
non-overlapping matches are kept, and script/zone removals drop out of the
index (later steps see what they leave) before being spliced out of the
text at once.  Per-block counts are sums of per-character masks.  No step
rescans text, so a batch costs time linear in its characters whatever its
markup: an unclosed tag costs no more than a closed one.
"""

from __future__ import annotations

import functools
import re

import numpy as np
import pandas as pd

from ..config import ExtractConfig, DEFAULT_CONFIG
from .assemble import spans_out

_LINKS = ("a",)
_SCRIPTS = ("script", "style")
_ZONES = ("nav", "footer", "header", "aside")
_BLOCKS = ("p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "blockquote")
_NAMES = _LINKS + _SCRIPTS + _ZONES + _BLOCKS
_WIDTH = np.array([len(x) for x in _NAMES])
_LT, _GT, _SLASH, _BANG, _DASH, _SPACE = map(ord, "<>/!- ")
_UTF32 = "utf-32-le"  # one code point per array element, as str indexes
_PAD = 16  # NULs after the last span: lookups past a tag name stay inside


def _re_tables(letters: str):
    """What ``re`` says about every code point, read one plane at a time:
    which character of ``letters`` it matches under ``(?i)`` (1 + its
    index; 0: none); its case class among that character's matches (a
    backreference under ``(?i)`` matches only its own class, and 0 is the
    class of the character itself: ``ſ`` matches ``s``, but not a group
    holding ``s``); and whether it is ``\\s``.  Each table's last entry
    stands for every higher code point."""
    found, space = [], []
    for lo in range(0, 0x110000, 0x10000):
        plane = (np.arange(lo, lo + 0x10000, dtype=np.uint32).tobytes()
                 .decode("utf-32-le", "surrogatepass"))
        found += re.findall(f"(?i)[{letters}]", plane)
        space += re.findall(r"\s", plane)
    top = max(map(ord, found + space)) + 2
    fold, case = np.zeros(top, np.uint8), np.zeros(top, np.uint8)
    classes = {x: [x] for x in letters}
    for c in found:
        x, = (x for x in letters if re.fullmatch(f"(?i){x}", c))
        same = [re.fullmatch(r"(?i)(.)\1", r + c) is not None
                for r in classes[x]]
        if not any(same):
            classes[x].append(c)
        fold[ord(c)] = 1 + letters.index(x)
        case[ord(c)] = same.index(True) if any(same) else len(classes[x]) - 1
    is_space = np.zeros(top, bool)
    is_space[[ord(c) for c in space]] = True
    return fold, case, is_space


_LETTERS = "".join(sorted(set("".join(_NAMES))))
_FOLD, _CASE, _IS_SPACE = _re_tables(_LETTERS)
_NCASE = int(_CASE.max()) + 1
_GROUP = _NCASE ** int(_WIDTH.max())  # a tag key: name * _GROUP + case
assert len(_NAMES) * _GROUP <= 1 << 16  # tag keys sort as uint16


def _trie(names):
    """``names`` as a state table over ``_FOLD`` values: state 0 is dead,
    1 the start; a name's last state goes, on 0 (no letter), to
    ``-1 - its index``."""
    states = {"": 1}
    for x in names:
        for k in range(1, len(x) + 1):
            states.setdefault(x[:k], len(states) + 1)
    table = np.zeros((len(states) + 1, len(_LETTERS) + 1), np.int64)
    for x, state in states.items():
        if x:
            table[states[x[:-1]], 1 + _LETTERS.index(x[-1])] = state
    for j, x in enumerate(names):
        table[states[x], 0] = -1 - j
    return table


_TRIE = _trie(_NAMES)


def _at(table, c, chunk: int = 1 << 16):
    """``table`` at code points ``c``, the last entry standing for every
    higher one.  In chunks: numpy copies an index array to int64 first."""
    out = np.empty(len(c), table.dtype)
    for i in range(0, len(c), chunk):
        np.take(table, c[i:i + chunk], mode="clip", out=out[i:i + chunk])
    return out


@functools.cache
def _word(c: int) -> bool:
    return re.match(r"\w", chr(c)) is not None


def _is_word(c):
    """Whether each code point is ``\\w``: asked of ``re`` once per value."""
    u, inv = np.unique(c, return_inverse=True)
    return np.array([_word(int(x)) for x in u], bool)[inv]


def _next(sorted_pos, x):
    """The first of ``sorted_pos`` at or after each of ``x`` (-1: none)."""
    return np.append(sorted_pos, -1)[np.searchsorted(sorted_pos, x)]


def _seg_end(seg_a, seg_b, pos):
    """The end of the segment [seg_a, seg_b) holding each of ``pos`` (-1:
    none; the segments are sorted and disjoint)."""
    return np.append(seg_b, -1)[np.searchsorted(seg_a, pos, "right") - 1]


def _names(C, pos):
    """Per position of ``pos``: which of ``_NAMES`` (-1: none) the run of
    name characters starting there spells under ``(?i)``, and their case
    classes as one number.  Only a whole run can be a tag name: a name
    that is a prefix of a longer run (``a`` of ``aside``) would be
    followed by a word character, so neither its ``\\b`` nor an end tag's
    ``>`` would match."""
    name = np.full(len(pos), -1)
    case = np.zeros(len(pos), np.int64)
    idx, state, cls = np.arange(len(pos)), 1, np.zeros_like(case)
    for k in range(int(_WIDTH.max()) + 1):
        c = C[pos[idx] + k]
        state = _TRIE[state, _at(_FOLD, c)]
        done = np.flatnonzero(state < 0)
        name[idx[done]], case[idx[done]] = -1 - state[done], cls[done]
        go = np.flatnonzero(state > 0)  # a prefix of a name, so far
        idx, state = idx[go], state[go]
        cls = cls[go] * _NCASE + _at(_CASE, c[go])
    return name, case


def _tags(C, lt):
    """Per ``<`` (``lt``: their sorted positions): its position, the key of
    the opening tag ``<name\\b`` and of the end tag ``</name>``
    it begins (-1: none), and whether it begins ``<!--``.  A removal leaves
    a space, which no part of these patterns matches, so they stay true of
    every ``<`` a removal keeps."""
    after = C[lt + 1]
    s = np.flatnonzero(after == _SLASH)
    name, case = _names(C, np.r_[lt + 1, lt[s] + 2])
    key = np.where(name >= 0, name * _GROUP + case, -1)
    width = _WIDTH[name]
    o = np.flatnonzero(key[:len(lt)] >= 0)
    opens = np.full(len(lt), -1)
    o = o[~_is_word(C[lt[o] + 1 + width[o]])]  # the \\b
    opens[o] = key[o]
    shuts = np.full(len(lt), -1)
    ok = C[lt[s] + 2 + width[len(lt):]] == _GT
    shuts[s[ok]] = key[len(lt):][ok]
    b = np.flatnonzero(after == _BANG)
    bang = np.zeros(len(lt), bool)
    bang[b[(C[lt[b] + 2] == _DASH) & (C[lt[b] + 3] == _DASH)]] = True
    return lt, opens, shuts, bang


def _first_end(key, after, end_key, end_pos, size):
    """Per opening, the first end tag at or after ``after`` whose key is
    the opening's ``key`` (-1: none); positions are below ``size``."""
    order = np.argsort(end_key.astype(np.uint16), kind="stable")  # radix
    q = _next(end_key[order] * size + end_pos[order], key * size + after)
    return np.where((q >= 0) & (q < (key + 1) * size), q - key * size, -1)


def _pairs(C, tags, gt, seg_a, seg_b, names, comments=False, backref=True):
    """The leftmost-first non-overlapping matches inside the segments
    [seg_a, seg_b) of ``C`` of ``(?is)<(names)\\b[^>]*>(.*?)</\\1>``
    (``</names>`` for ``</\\1>`` without ``backref``) or, with
    ``comments``, of ``<!--(.*?)-->``.  ``tags`` is the ``_tags`` index,
    ``gt`` the sorted positions of ``>``.  Returns each match's start,
    group start, group end and end."""
    pos, opens, shuts, bang = tags
    lo = _NAMES.index(names[0]) * _GROUP
    hi = lo + len(names) * _GROUP
    unit = 1 if backref else _GROUP  # </names> ignores the case classes
    o = (opens >= lo) & (opens < hi)
    o, want = pos[o], opens[o] // unit
    n = _WIDTH[want * unit // _GROUP]
    g = _next(gt, o + 1 + n)  # [^>]*>
    s = (shuts >= lo) & (shuts < hi)
    q = _first_end(want, g + 1, shuts[s] // unit, pos[s], len(C))
    lim = _seg_end(seg_a, seg_b, o)
    ok = (g >= 0) & (g < lim) & (q >= 0) & (q + 3 + n <= lim)
    found = [o[ok], g[ok] + 1, q[ok], q[ok] + 3 + n[ok]]
    if comments:
        o = pos[bang]
        k = _next(gt[(C[gt - 1] == _DASH) & (C[gt - 2] == _DASH)] - 2, o + 4)
        ok = (k >= 0) & (k + 3 <= _seg_end(seg_a, seg_b, o))
        found = [np.r_[x, y] for x, y in zip(found, (
            o[ok], o[ok] + 4, k[ok], k[ok] + 3))]
        order = np.argsort(found[0])
        found = [x[order] for x in found]
    pick = _leftmost(found[0], found[3])
    return [x[pick] for x in found]


def _leftmost(start, end):
    """Indices of the matches a left-to-right scan takes from candidates
    sorted by ``start``: the first, then the first starting at or after
    its end, and so on."""
    if (start[1:] >= end[:-1]).all():
        return np.arange(len(start))
    pick, i, nxt = [], 0, np.searchsorted(start, end).tolist()
    while i < len(nxt):
        pick.append(i)
        i = nxt[i]
    return np.array(pick, np.int64)


def _cover(n, start, end):
    """Per position of [0, n): inside one of the sorted disjoint ranges
    [start, end)."""
    edges = np.c_[start, end].ravel()
    return np.repeat(np.arange(len(edges) + 1) % 2 == 1,
                     np.diff(edges, prepend=0, append=n))


def _outside(start, end, pos):
    """Whether each of the sorted ``pos`` is outside every one of the
    sorted disjoint [start, end)."""
    return _seg_end(start, end, pos) <= pos


def _cut(C, start, end, *positions):
    """``C`` with each of the sorted disjoint [start, end) replaced by one
    space, and arrays of sorted ``positions`` outside them moved along."""
    shift = np.r_[0, np.cumsum(end - start - 1)]
    out = C[~_cover(len(C), start + 1, end)]
    out[start - shift[:-1]] = _SPACE
    return out, *(x - shift[np.searchsorted(end, x, "right")]
                  for x in positions)


def _count(mask, seg_a, seg_b):
    """Set positions of ``mask`` inside each sorted segment [seg_a, seg_b)."""
    n = np.add.reduceat(np.append(mask, False).view(np.uint8),
                        np.c_[seg_a, seg_b].ravel(), dtype=np.int32)[::2]
    return np.where(seg_b > seg_a, n, 0)


def _strip(C, lt, gt, seg_a, seg_b):
    """What ``<[^>]+>`` -> space, ``\\s+`` -> space and strip leave of each
    segment: its tag count, word count and text length; and per position
    whether the tag replacement deletes it (``gone``: a tag but its first
    position) and whether it is then blank (whitespace or a tag's first
    position)."""
    s, e = _tag_spans(lt, gt, seg_a, seg_b)
    gone = _cover(len(C), s + 1, e)
    blank = _at(_IS_SPACE, C)
    blank[s] = True
    solid = _cover(len(C), seg_a, seg_b) & ~gone & ~blank
    chars = _count(solid, seg_a, seg_b)
    solid[1:] &= ~solid[:-1]  # first position of each word
    words = _count(solid, seg_a, seg_b)
    tags = np.searchsorted(s, seg_b) - np.searchsorted(s, seg_a)
    return tags, words, chars + np.maximum(words - 1, 0), gone, blank


def _squeeze(C, gone, blank, seg_a, seg_b):
    """Each segment's text as ``" ".join(text.split())`` sees it, where
    ``gone`` positions are deleted and ``blank`` ones are whitespace."""
    shown = _cover(len(C), seg_a, seg_b) & ~gone
    T, sp = C[shown], blank[shown]
    n = _count(shown, seg_a, seg_b)
    lo = np.cumsum(n) - n
    head = np.zeros(len(T) + 1, bool)
    head[lo] = True
    # a run of blanks keeps its first, unless the run opens its segment
    keep = ~sp | ~(np.r_[True, sp[:-1]] | head[:-1])
    T, sp = T[keep], sp[keep]
    np.putmask(T, sp, _SPACE)
    n = _count(keep, lo, lo + n)
    hi = np.cumsum(n)
    hi -= (n > 0) & np.append(sp, False)[hi - 1]  # and one closing it
    s = T.tobytes().decode("ascii" if T.itemsize == 1 else _UTF32,
                           "surrogatepass")
    return [s[i:j] for i, j in zip((np.cumsum(n) - n).tolist(), hi.tolist())]


def _tag_spans(lt, gt, seg_a, seg_b):
    """The ``<[^>]+>`` matches inside segments [seg_a, seg_b): a ``>`` ends
    the tag begun by the first ``<`` after the previous ``>`` of its
    segment, unless that ``<`` is just before it."""
    seg = np.searchsorted(seg_a, gt, "right") - 1
    ok = gt < np.append(seg_b, -1)[seg]
    g, seg = gt[ok], seg[ok]
    prev = np.where(np.r_[False, seg[1:] == seg[:-1]], np.r_[-1, g[:-1]],
                    seg_a[seg] - 1)
    s = _next(lt, prev + 1)
    ok = (s >= 0) & (s < g - 1)
    return s[ok], g[ok] + 1


def _link_len(C, tags, gt, seg_a, seg_b):
    """Per segment, the length of its links' inner texts joined by spaces
    and stripped as a block's text is."""
    out = np.zeros(len(seg_a), np.int64)
    s, a, b, _ = _pairs(C, tags, gt, seg_a, seg_b, _LINKS, backref=False)
    if not len(s):
        return out
    n = (b - a + 1).astype(np.int32)  # each inner and one space
    end = np.cumsum(n)
    L = C[np.repeat((a - end + n).astype(np.int32), n)
          + np.arange(end[-1], dtype=np.int32)]
    L[end - 1] = _SPACE
    seg = np.searchsorted(seg_a, s, "right") - 1
    first = np.r_[True, seg[1:] != seg[:-1]]
    la = (end - n)[first]
    out[seg[first]] = _strip(L, np.flatnonzero(L == _LT),
                             np.flatnonzero(L == _GT), la,
                             np.r_[la[1:], len(L)])[2]
    return out


def extract_html(df: pd.DataFrame, cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Extract main-content spans from HTML spans.

    Input columns:  ``doc_id, span_pos, offset, text``  (one row per html span)
    Output columns: ``doc_id, span_pos, offset, out_rank, kind, text, media_ref``
    """
    texts = df["text"].fillna("").tolist()
    n = np.array([len(t) for t in texts], np.int64)
    seg_a = np.cumsum(n + 1) - n - 1  # spans joined by one NUL
    seg = (seg_a, seg_a + n)
    joined = "\0".join(texts) + "\0" * _PAD
    C = np.frombuffer(*(joined.encode("ascii"), np.uint8) if joined.isascii()
                      else (joined.encode(_UTF32, "surrogatepass"), np.uint32))
    gt = np.flatnonzero(C == _GT)
    tags = _tags(C, np.flatnonzero(C == _LT))
    # scripts, then zones: each pass indexes what the one before left, and
    # both removals are spliced out of the text at once
    cut = []
    for names, comments in ((_SCRIPTS, True), (_ZONES, False)):
        start, _, _, end = _pairs(C, tags, gt, *seg, names, comments)
        kept = _outside(start, end, tags[0])
        tags = [x[kept] for x in tags]
        gt = gt[_outside(start, end, gt)]
        cut.append((start, end))
    (s1, e1), (s2, e2) = cut
    inner = ~_outside(s2, e2, s1)  # scripts inside a zone go with it
    order = np.argsort(start := np.r_[s1[~inner], s2])
    C, *seg, lt, gt = _cut(C, start[order], np.r_[e1[~inner], e2][order],
                           *seg, tags[0], gt)
    tags = (lt, *tags[1:])
    start, a, b, _ = _pairs(C, tags, gt, *seg, _BLOCKS)
    n_tags, words, length, gone, blank = _strip(C, lt, gt, a, b)
    cand = np.flatnonzero((words >= cfg.html_min_words) & (
        n_tags / np.maximum(words, 1) <= cfg.html_max_tag_density))
    link = _link_len(C, tags, gt, a[cand], b[cand])
    keep = cand[link / np.maximum(length[cand], 1) <= cfg.html_max_link_ratio]

    rows = np.searchsorted(seg[0], start[keep], "right") - 1
    text = _squeeze(C, gone, blank, a[keep], b[keep])
    return spans_out(df, rows, np.arange(len(rows)) - np.searchsorted(
        rows, rows), text)
