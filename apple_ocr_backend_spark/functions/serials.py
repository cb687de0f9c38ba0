"""Serial-candidate semantics — vectorized numpy kernels.

Reproduces, bit-for-bit, the candidate normalization / expansion / validation /
confidence-shaping / aggregation semantics of the reference OCR backend
(file:line citations into ``/root/reference``):

* charset projection + upper + de-space    app/pipeline/tesseract_adapter.py:143-151
* min-length gate (len >= 8)               app/pipeline/ocr_adapter.py:257-259
* sliding 12-char windows                  app/pipeline/tesseract_adapter.py:154-163
* ambiguity maps                           app/pipeline/ocr_adapter_improved.py:351-366
* position-aware rules (with the Python
  dict-literal key-collision semantics!)   app/pipeline/ocr_adapter_improved.py:372-410
* expansion                                app/pipeline/ocr_adapter_improved.py:413-462
* normalization                            app/pipeline/ocr_adapter_improved.py:465-491
* basic + extended validation              app/utils/validation.py:119-214
* confidence shaping + quality filter      app/pipeline/ocr_adapter_improved.py:755-811
* A1 normalize-group-sum-argmax ranking    app/pipeline/ocr_adapter_improved.py:1458-1469
* A2 cross-stage sequential merge fold     app/pipeline/ocr_adapter_improved.py:1310-1343

Two integer encodings carry the work:

* **flat code points** — a batch of strings as one ``uint32`` array of
  their code points end to end plus each string's length (``_flat``).
  Windows, distinct-char counts, the quality features and validation are
  gathers, table lookups and ``bincount``s over it; NULs and non-ASCII
  survive (UTF-32, not numpy ``U`` strings, which drop trailing NULs).
* **base-36 serial codes** — a 12-char ``[A-Z0-9]`` string is a row of 12
  digits (``'0'-'9'`` -> 0-9, ``'A'-'Z'`` -> 10-35) and one int64 code
  ``sum(d_i * 36**(11-i))`` (36**12 < 2**63).  ASCII puts digits before
  letters, so code order is string order: sorting codes is the pinned
  lexicographic variant order.  The token-OCR chain (``window_codes`` ->
  ``expand_codes`` -> ``validate_codes`` -> ``quality_codes`` ->
  ``normalize_codes``) runs on codes; ``decode`` makes strings only of
  what survives it.

A1 and A2 factorize their keys and aggregate runs of one ``np.lexsort``
with ``reduceat``.  Per-string Python is left only where Python defines
the semantics (``strip`` / ``upper``, token cleaning); from the windows on,
the only Python loop is over *unique* 12-char codes (the bounded expansion
memo, ``expand_codes``).

Determinism note: the reference iterates ``set`` objects when emitting expanded
variants (``_expand_ambiguous`` returns ``Set[str]``), so with equal
confidences its best-variant choice depends on Python hash randomization.  We
pin a total order instead: expanded variants are emitted in **lexicographic
order**.  This is the one place we are deliberately *more* deterministic than
the reference; every other tie-break (stable sort + first-occurrence order)
matches CPython semantics exactly.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pandas as pd

# --------------------------------------------------------------------------- #
# Character maps
# --------------------------------------------------------------------------- #

# app/pipeline/ocr_adapter_improved.py:351-366 (letters -> digits)
AMBIGUOUS_MAP: dict[str, str] = {
    "O": "0", "I": "1", "L": "1", "Z": "2", "S": "5",
    "B": "8", "Q": "0", "G": "6", "D": "0", "T": "7",
}

# app/pipeline/ocr_adapter.py:138-148 — the basic adapter's smaller map
AMBIGUOUS_MAP_BASIC: dict[str, str] = {
    "O": "0", "I": "1", "L": "1", "Z": "2", "S": "5", "B": "8", "Q": "0", "G": "6",
}

# app/pipeline/ocr_adapter_improved.py:372-410.
# CRITICAL: the reference writes _POSITION_RULES as a dict literal with
# DUPLICATE keys ("O","I","L","Z","S","B" appear three times).  CPython keeps
# the LAST definition per key, so the effective rules are the ones below —
# e.g. "O" maps only at positions {3,4}, NOT at {8..11}.  We encode the
# *effective* (collision-resolved) dict and pin it with unit tests.
POSITION_RULES: dict[str, dict[int, str]] = {
    # digits -> letters at positions 0-2 (first block of the literal)
    "0": {0: "O", 1: "O", 2: "O"},
    "1": {0: "I", 1: "I", 2: "I"},
    "2": {0: "Z", 1: "Z", 2: "Z"},
    "5": {0: "S", 1: "S", 2: "S"},
    "8": {0: "B", 1: "B", 2: "B"},
    # letters whose 8-11 rules were OVERWRITTEN by the later 3-4 block
    "O": {3: "0", 4: "0"},
    "I": {3: "1", 4: "1"},
    "L": {3: "1", 4: "1"},
    "Z": {3: "2", 4: "2"},
    "S": {3: "5", 4: "5"},
    "B": {3: "8", 4: "8"},
    # letters defined only once (8-11 block survives)
    "Q": {8: "0", 9: "0", 10: "0", 11: "0"},
    "G": {8: "6", 9: "6", 10: "6", 11: "6"},
    "D": {8: "0", 9: "0", 10: "0", 11: "0"},
    "T": {8: "7", 9: "7", 10: "7", 11: "7"},
    # positions 5-7 confusions
    "E": {5: "F", 6: "F", 7: "F"},
    "J": {5: "I", 6: "I", 7: "I"},
    # identity-ish rules (present in the reference literal)
    "C": {0: "C"},
    "Y": {3: "Y"},
}

# app/utils/validation.py:40-70 — known prefixes (keys only matter)
KNOWN_PREFIXES: frozenset[str] = frozenset({
    "C", "F", "G", "M", "P", "V", "W", "X", "Y",
    "DM", "DN", "FK", "G8", "QP", "RN", "RM", "SG", "VM", "YM",
    "C07", "C17", "C1M", "C2V", "F4N", "F5K", "FC7", "G8V", "QT4",
})
_KNOWN_1 = frozenset(p for p in KNOWN_PREFIXES if len(p) == 1)
_KNOWN_2 = frozenset(p for p in KNOWN_PREFIXES if len(p) == 2)
_KNOWN_3 = frozenset(p for p in KNOWN_PREFIXES if len(p) == 3)

# app/utils/validation.py:33-37
COMMON_FIRST_CHARS: frozenset[str] = frozenset("CFGDMPVWXY")

# app/utils/validation.py:73-75
DISALLOWED_CHARS: str = "OIZSBQGDT"

# per-position char->char lookup tables (for vectorized normalize)
_POS_MAPS: list[dict[str, str]] = [
    {ch: rules[i] for ch, rules in POSITION_RULES.items() if i in rules}
    for i in range(12)
]
# the same rules as a (12, 128) code-point table for 12-char strings: the
# position rule, else the general map, else the char itself
_POS_LUT = np.array(
    [[ord(_POS_MAPS[i].get(chr(c), AMBIGUOUS_MAP.get(chr(c), chr(c))))
      for c in range(128)] for i in range(12)], dtype=np.uint32)

_TRANS_FULL = str.maketrans(AMBIGUOUS_MAP)
_TRANS_BASIC = str.maketrans(AMBIGUOUS_MAP_BASIC)

# --- base-36 serial codes (module docstring) ---
_ALNUM = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"  # digit order == ASCII order
_ALNUM_CP = np.array([ord(c) for c in _ALNUM], dtype=np.uint32)
_ALNUM_B = _ALNUM_CP.astype(np.uint8)
_I12 = np.arange(12)
_W36 = 36 ** np.arange(11, -1, -1, dtype=np.int64)
# code point (< 128) -> base-36 digit, -1 off the [A-Z0-9] charset
_DIGIT = np.full(128, -1, dtype=np.int64)
_DIGIT[_ALNUM_CP] = np.arange(36)


def _table(chars) -> np.ndarray:
    """Membership of each base-36 digit's char in ``chars``."""
    return np.array([c in chars for c in _ALNUM])


def _prefix_table(prefixes, k: int) -> np.ndarray:
    """Membership of each k-digit prefix, indexed by its base-36 value."""
    t = np.zeros(36 ** k, dtype=bool)
    for p in prefixes:
        t[sum(_ALNUM.index(c) * 36 ** (k - 1 - i) for i, c in enumerate(p))] = True
    return t


_KNOWN_T = [_prefix_table(_KNOWN_1, 1), _prefix_table(_KNOWN_2, 2),
            _prefix_table(_KNOWN_3, 3)]
_FIRST_T = _table(COMMON_FIRST_CHARS)
_CONFUSED_T = _table(DISALLOWED_CHARS)
# code point (< 128) -> is one of I, O, S, Z (quality_score's penalty)
_IOSZ_T = np.zeros(128, dtype=bool)
_IOSZ_T[[ord(c) for c in "IOSZ"]] = True
# expansion: the general map's replacement digit (-1: none); whether a
# position rule covers (position, digit); the position rule's digit
_GEN36 = np.array([_ALNUM.find(AMBIGUOUS_MAP.get(c, "-")) for c in _ALNUM])
_RULED36 = np.array([[i in POSITION_RULES.get(c, {}) for c in _ALNUM]
                     for i in range(12)])
_POS36 = np.array([[_ALNUM.index(POSITION_RULES.get(c, {}).get(i, c))
                    for c in _ALNUM] for i in range(12)])
_NORM36 = _DIGIT[_POS_LUT[:, _ALNUM_CP]]  # normalize_codes


def _flat(vals) -> tuple[np.ndarray, np.ndarray]:
    """Strings -> (their code points end to end, each one's length)."""
    vals = list(vals)
    lens = np.fromiter(map(len, vals), dtype=np.int64, count=len(vals))
    cp = np.frombuffer("".join(vals).encode("utf-32-le", "surrogatepass"),
                       dtype="<u4")
    return cp, lens


def _rows(lens: np.ndarray) -> np.ndarray:
    """The string number of each flat code point."""
    return np.repeat(np.arange(len(lens)), lens)


def _starts(lens: np.ndarray) -> np.ndarray:
    """Each string's first flat position."""
    return np.cumsum(lens) - lens


def _digits(codes: np.ndarray) -> np.ndarray:
    """int64 codes -> (n, 12) base-36 digit matrix."""
    return np.asarray(codes, dtype=np.int64)[:, None] // _W36 % 36


def decode(codes: np.ndarray) -> np.ndarray:
    """int64 codes -> object array of their 12-char strings."""
    chars = _ALNUM_B[_digits(codes)].astype(np.uint8)
    return chars.view("S12").ravel().astype("U12").astype(object)


# --------------------------------------------------------------------------- #
# Cleaning / projection
# --------------------------------------------------------------------------- #

def clean_tokens(s: pd.Series) -> pd.Series:
    """Charset projection: upper-case and keep only [A-Z0-9].

    Reference: ``_filter_tesseract_result`` (tesseract_adapter.py:143-151) and
    the inline clean in ocr_adapter.py:257.
    """
    return s.fillna("").str.upper().str.replace(r"[^A-Z0-9]", "", regex=True)


# --------------------------------------------------------------------------- #
# Normalization (X2 / X3)
# --------------------------------------------------------------------------- #

def normalize_ambiguous(s: pd.Series, position_aware: bool = True,
                        basic: bool = False) -> pd.Series:
    """Vectorized ``_normalize_ambiguous`` (ocr_adapter_improved.py:465-491).

    Inputs are stripped+uppercased first (reference line 479).  With
    ``position_aware``, 12-char strings use the per-position rules and fall
    back to the general map; all other lengths use the general map alone.
    ``basic=True`` selects the smaller ocr_adapter.py:138-148 map (used by its
    own `_normalize_ambiguous`, ocr_adapter.py:160-162).
    """
    up = s.fillna("").str.strip().str.upper()
    is12 = ((up.str.len() == 12) & position_aware).to_numpy()
    result = up.copy()
    result[~is12] = up[~is12].str.translate(
        _TRANS_BASIC if basic else _TRANS_FULL).to_numpy()
    # 12-char rows: one gather over their (n, 12) code-point matrix; code
    # points >= 128 pass through unchanged
    cp = np.array(up[is12].tolist(), dtype="U12").view(np.uint32).reshape(-1, 12)
    out = np.where(cp < 128, _POS_LUT[np.arange(12), np.minimum(cp, 127)], cp)
    # back through UTF-32, not ``.view("U12")``, which drops trailing NULs
    flat = out.astype("<u4").tobytes().decode("utf-32-le")
    result[is12] = [flat[i:i + 12] for i in range(0, len(flat), 12)]
    return result


def normalize_codes(codes: np.ndarray) -> np.ndarray:
    """``normalize_ambiguous`` (position-aware) of the codes' strings, as
    codes: the 12-char table restricted to the charset."""
    return _NORM36[_I12, _digits(codes)] @ _W36


# --------------------------------------------------------------------------- #
# Expansion (SO1)
# --------------------------------------------------------------------------- #

def _expand_one(text: str, position_aware: bool = True) -> tuple[str, ...]:
    """``_expand_ambiguous`` (ocr_adapter_improved.py:413-462) of one string,
    variants in lexicographic order (see module docstring determinism
    note).  The path for strings the base-36 codes cannot hold and for
    ``position_aware=False``."""
    variants: set[str] = {text}
    is12 = len(text) == 12
    for idx, ch in enumerate(text):
        if position_aware and is12 and ch in POSITION_RULES and idx in POSITION_RULES[ch]:
            continue  # handled by the position pass below (reference line 432)
        rep = AMBIGUOUS_MAP.get(ch)
        if rep:
            for v in list(variants):
                variants.add(v[:idx] + rep + v[idx + 1:])
    if position_aware and is12:
        position_variants: set[str] = set()
        for v in variants:
            pv = "".join(
                POSITION_RULES[c][i] if c in POSITION_RULES and i in POSITION_RULES[c] else c
                for i, c in enumerate(v)
            )
            if pv != v:
                position_variants.add(pv)
        variants |= position_variants
    return tuple(sorted(variants))


def _expand_batch(codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Position-aware ``_expand_one`` of distinct codes, all at once.

    The general-map pass offers, at each position without a position
    rule for its char, the char or its replacement — a cartesian product,
    so variant ``j`` of a row with ``k`` such positions takes bit ``b`` of
    ``j`` at its ``b``-th one.  The position pass maps each variant through
    ``_POS36``.  Returns per-row variant counts and the variants, sorted
    per row."""
    d = _digits(codes)
    rep = _GEN36[d]
    amb = (rep >= 0) & ~_RULED36[_I12, d]
    cnt = np.left_shift(1, amb.sum(1))
    row = np.repeat(np.arange(len(d)), cnt)
    j = np.arange(len(row)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    bit = np.maximum(np.cumsum(amb, 1) - 1, 0)[row]
    take = amb[row] & (((j[:, None] >> bit) & 1) == 1)
    v = np.where(take, rep[row], d[row])
    var = np.concatenate([v @ _W36, _POS36[_I12, v] @ _W36])
    row = np.concatenate([row, row])
    o = np.lexsort((var, row))
    var, row = var[o], row[o]
    new = np.ones(len(var), dtype=bool)
    new[1:] = (var[1:] != var[:-1]) | (row[1:] != row[:-1])
    return np.bincount(row[new], minlength=len(d)), var[new]


# Expansion memo: code -> its sorted variant codes, least recently used
# first.  Bounded by the variants it holds, not by entries: one crafted
# token expands to thousands of variants (LOSTDQOIZSBL: 4,608).
EXPAND_MEMO_VARIANTS = 1 << 20  # 8 MiB of int64
_MEMO: OrderedDict[int, np.ndarray] = OrderedDict()
_memo_held = 0


def clear_expand_memo() -> None:
    """Empty the expansion memo (a cold-worker measurement starts here)."""
    global _memo_held
    _MEMO.clear()
    _memo_held = 0


def expand_codes(codes: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Position-aware expansion of int64 codes: ``(idx, variant,
    variant_rank)`` as in ``expand_ambiguous``.  Distinct codes come from
    the memo or, together, from ``_expand_batch``."""
    global _memo_held
    uniq, inverse = np.unique(codes, return_inverse=True)
    got = []
    for c in uniq.tolist():
        v = _MEMO.get(c)
        if v is not None:
            _MEMO.move_to_end(c)
        got.append(v)
    miss = [i for i, v in enumerate(got) if v is None]
    if miss:
        cnt, var = _expand_batch(uniq[miss])
        for i, v in zip(miss, np.split(var, np.cumsum(cnt)[:-1])):
            got[i] = _MEMO[int(uniq[i])] = v.copy()
            _memo_held += len(v)
        while _memo_held > EXPAND_MEMO_VARIANTS:
            _memo_held -= len(_MEMO.popitem(last=False)[1])
    counts = np.fromiter(map(len, got), dtype=np.int64, count=len(got))
    flat = np.concatenate(got) if got else np.empty(0, dtype=np.int64)
    n = counts[inverse]
    rank = np.arange(int(n.sum())) - np.repeat(np.cumsum(n) - n, n)
    start = np.repeat((np.cumsum(counts) - counts)[inverse], n)
    return np.repeat(np.arange(len(codes)), n), flat[start + rank], rank


def expand_ambiguous(s: pd.Series, position_aware: bool = True) -> pd.DataFrame:
    """Expand a Series of candidate strings into variants.

    Returns a DataFrame with columns ``(idx, variant, variant_rank)`` where
    ``idx`` is the input Series' positional index (0..n-1), and
    ``variant_rank`` is the lexicographic rank within the expansion.
    12-char ``[A-Z0-9]`` strings expand as codes (``expand_codes``); other
    strings, or ``position_aware=False``, through ``_expand_one``.
    """
    vals = s.fillna("").tolist()
    codes, ok = _codes12(*_flat(vals))
    ok &= position_aware
    idx, variant, rank = expand_codes(codes[ok])
    parts = [pd.DataFrame({"idx": np.flatnonzero(ok)[idx],
                           "variant": decode(variant), "variant_rank": rank})]
    for i in np.flatnonzero(~ok):
        v = _expand_one(vals[i], position_aware)
        parts.append(pd.DataFrame({"idx": i, "variant": np.array(v, dtype=object),
                                   "variant_rank": np.arange(len(v))}))
    out = pd.concat(parts, ignore_index=True)
    o = np.lexsort((out["variant_rank"].to_numpy(), out["idx"].to_numpy()))
    return out.iloc[o].reset_index(drop=True).astype({"idx": np.int64,
                                                     "variant_rank": np.int64})


# --------------------------------------------------------------------------- #
# Sliding windows (SO3)
# --------------------------------------------------------------------------- #

def _windows(lens: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Every 12-char window of strings with these lengths: ``(idx,
    window_idx, flat position of its first char)``, in (idx, window_idx)
    order."""
    n = np.maximum(lens - 11, 0)
    idx = np.repeat(np.arange(len(lens)), n)
    off = np.arange(int(n.sum())) - np.repeat(np.cumsum(n) - n, n)
    return idx, off, _starts(lens)[idx] + off


def sliding_windows(s: pd.Series) -> pd.DataFrame:
    """12-char candidate windows (tesseract_adapter.py:154-163).

    A string of length 12 yields itself (window_idx 0); length L > 12 yields
    L-11 windows; length < 12 yields nothing.  Returns columns
    ``(idx, window_idx, window)``, one gather over the flat code points.
    """
    cp, lens = _flat(s.fillna("").tolist())
    idx, off, pos = _windows(lens)
    flat = cp[pos[:, None] + _I12].astype("<u4").tobytes().decode(
        "utf-32-le", "surrogatepass")
    return pd.DataFrame({
        "idx": idx, "window_idx": off,
        "window": pd.Series([flat[i:i + 12] for i in range(0, len(flat), 12)],
                            dtype=object)})


def window_codes(clean: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """``sliding_windows`` of ``[A-Z0-9]`` strings as ``(idx, code)``."""
    cp, lens = _flat(clean)
    idx, _, pos = _windows(lens)
    return idx, _DIGIT[cp[pos[:, None] + _I12]] @ _W36


def _codes12(cp: np.ndarray, lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per string: its int64 code and whether it is exactly 12 ``[A-Z0-9]``
    chars (the code is 0 where not)."""
    dig = _DIGIT[np.minimum(cp, 127)]
    ok = (lens == 12) & (np.bincount(_rows(lens)[dig >= 0],
                                     minlength=len(lens)) == 12)
    d = np.zeros((len(lens), 12), dtype=np.int64)
    d[ok] = dig[_starts(lens)[ok][:, None] + _I12]
    return d @ _W36, ok


# --------------------------------------------------------------------------- #
# Validation (F1 / F2)
# --------------------------------------------------------------------------- #

def is_valid_basic(s: pd.Series) -> pd.Series:
    """``is_valid_apple_serial`` non-strict (validation.py:119-144):
    strip+upper then ``^[A-Z0-9]{12}$``."""
    up = s.fillna("").str.strip().str.upper()
    return up.str.fullmatch(r"[A-Z0-9]{12}").fillna(False)


_REASONS = np.array([
    None, "Empty serial number", "Must be exactly 12 alphanumeric characters",
    "Failed position-specific checks",
    "Too many potentially confused characters",
    "Last 4 characters should contain at least one digit"], dtype=object)


def _digit_checks(d: np.ndarray) -> np.ndarray:
    """The extended checks past the basic pattern (validation.py:166-203)
    on (n, 12) digit rows: 0 when all pass, else the ``_REASONS`` number
    of the first that fails."""
    c0, c1, c2 = d[:, 0], d[:, 1], d[:, 2]
    known = (_KNOWN_T[0][c0] | _KNOWN_T[1][c0 * 36 + c1]
             | _KNOWN_T[2][(c0 * 36 + c1) * 36 + c2])
    # position errors count only for unknown prefixes, and fail at all
    # three: first char not common, not a letter, second char not a digit
    bad_position = ~known & ~_FIRST_T[c0] & (c0 < 10) & (c1 >= 10)
    confused = _CONFUSED_T[d].sum(1) > 3
    no_digit_last4 = (d[:, 8:] >= 10).all(1)
    return np.select([bad_position, confused, no_digit_last4], [3, 4, 5], 0)


def validate_extended(s: pd.Series) -> pd.DataFrame:
    """Vectorized ``validate_apple_serial_extended`` (validation.py:147-214).

    Returns columns ``(is_valid: bool, reason: object)`` aligned to the input.
    Assumes inputs may be raw (strips/uppers internally, reference line 160).
    """
    raw = s.fillna("").tolist()
    codes, basic = _codes12(*_flat([v.strip().upper() for v in raw]))
    # emptiness is checked on the RAW value (`if not text`, validation.py:157)
    # — a whitespace-only string is non-empty and fails the basic pattern
    why = np.where(np.fromiter(map(len, raw), dtype=np.int64,
                               count=len(raw)) == 0, 1, 2)
    why[basic] = _digit_checks(_digits(codes[basic]))
    return pd.DataFrame({"is_valid": why == 0, "reason": _REASONS[why]},
                        index=s.index)


def validate_codes(codes: np.ndarray) -> np.ndarray:
    """``validate_extended(...)["is_valid"]`` of the codes' strings."""
    return _digit_checks(_digits(codes)) == 0


# --------------------------------------------------------------------------- #
# Confidence shaping (X6) + quality filter (F8)
# --------------------------------------------------------------------------- #

def _distinct(cp: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """len(set(s)) per string: distinct (string, code point) pairs."""
    key = (_rows(lens) << 21) | cp  # code points < 2**21
    return np.bincount(np.unique(key) >> 21, minlength=len(lens))


def shape_confidence(clean: pd.Series, conf: pd.Series) -> pd.Series:
    """Enhanced confidence (ocr_adapter_improved.py:758-777).

    Order of multiplicative boosts matches the reference exactly:
    length >= 10 → ×1.1 elif >= 8 → ×1.05; distinct chars >= 8 → ×1.05;
    length < 6 → ×0.8; cap at 1.0.
    """
    cp, ln = _flat(clean.fillna("").tolist())
    c = conf.to_numpy(dtype=float)
    c = np.where(ln >= 10, c * 1.1, np.where(ln >= 8, c * 1.05, c))
    c = np.where(_distinct(cp, ln) >= 8, c * 1.05, c)
    c = np.where(ln < 6, c * 0.8, c)
    return pd.Series(np.minimum(c, 1.0), index=clean.index)


def _quality(cp: np.ndarray, lens: np.ndarray, conf: np.ndarray) -> np.ndarray:
    """``quality_score`` over flat code points."""
    row, m = _rows(lens), np.minimum(cp, 127)
    is12alnum = (lens == 12) & (np.bincount(row[_DIGIT[m] >= 0],
                                            minlength=len(lens)) == 12)
    confusable = np.bincount(row[_IOSZ_T[m]], minlength=len(lens)) > 0
    q = np.where(is12alnum, conf * 1.1, conf)
    q = np.where(confusable, q * 0.95, q)
    q = np.where(_distinct(cp, lens) >= 8, q * 1.05, q)
    return np.minimum(q, 1.0)


def quality_score(serial: pd.Series, conf: pd.Series) -> pd.Series:
    """Quality re-score (ocr_adapter_improved.py:784-807).

    ×1.1 if 12-char alnum; ×0.95 if contains any of I,O,S,Z; ×1.05 if
    distinct chars >= 8; cap 1.0.
    """
    q = _quality(*_flat(serial.fillna("").tolist()), conf.to_numpy(dtype=float))
    return pd.Series(q, index=serial.index)


def quality_codes(codes: np.ndarray, conf: np.ndarray) -> np.ndarray:
    """``quality_score`` of the codes' strings."""
    return _quality(_ALNUM_CP[_digits(codes)].ravel(),
                    np.full(len(codes), 12), conf)


# --------------------------------------------------------------------------- #
# A1 / A2 keys: factorized columns, runs of one lexsort
# --------------------------------------------------------------------------- #

def _first_seen(cols: list[np.ndarray]) -> np.ndarray:
    """Per row, the first-appearance number of its tuple over ``cols``.

    Object columns go through a dict: ``pd.factorize`` hashes strings as C
    strings, so ``"0"`` and ``"0\\x00"`` would share a number."""
    k = np.zeros(len(cols[0]), dtype=np.int64)
    for c in cols:
        if c.dtype == object:
            seen: dict = {}
            code = np.fromiter((seen.setdefault(v, len(seen)) for v in c.tolist()),
                               dtype=np.int64, count=len(c))
        else:
            code, seen = pd.factorize(c)
        k = pd.factorize(k * len(seen) + code)[0]
    return k


def _ranked(df: pd.DataFrame, group_cols: list[str], rows: np.ndarray,
            score: np.ndarray, first_seq: np.ndarray, serial, conf) -> pd.DataFrame:
    """One output row per bucket (``rows``: a row of the bucket, in
    first-appearance order), ordered by (group values asc, score desc,
    first_seq asc, first appearance) with ``rank`` dense per group."""
    gk = [np.unique(df[c].to_numpy()[rows], return_inverse=True)[1]
          for c in group_cols]
    o = np.lexsort([first_seq, -score, *gk[::-1]])
    out = {c: df[c].to_numpy()[rows[o]] for c in group_cols}
    return pd.DataFrame({**out, "serial": np.asarray(serial)[o],
                         "conf": np.asarray(conf, dtype=float)[o],
                         "rank": run_rank(_first_seen([k[o] for k in gk]))})


def _runs(key: np.ndarray) -> np.ndarray:
    """Start positions of the runs of equal values in ``key``."""
    return np.flatnonzero(np.append(True, key[1:] != key[:-1]))


def run_rank(key: np.ndarray) -> np.ndarray:
    """Each element's position within its run of equal values."""
    start = _runs(key)
    return np.arange(len(key)) - np.repeat(start, np.diff(np.append(start, len(key))))


# --------------------------------------------------------------------------- #
# A1: normalize-group aggregation  (ocr_adapter_improved.py:1458-1469)
# --------------------------------------------------------------------------- #

def aggregate_candidates(df: pd.DataFrame, group_cols: list[str]) -> pd.DataFrame:
    """Per group: bucket candidates by position-aware normalized key; score =
    sum(conf); representative = arg-max conf with FIRST occurrence winning
    ties (reference uses strict ``>`` — line 1464); rank buckets by
    (score desc, first-occurrence asc) — CPython stable sort over dict
    insertion order (line 1468).

    Input columns: ``group_cols + [serial, conf, seq]`` where ``seq`` is the
    occurrence order.  Output: ``group_cols + [serial, conf, rank]``.
    """
    if df.empty:
        return df.assign(rank=pd.Series(dtype=np.int64))[
            group_cols + ["serial", "conf", "rank"]]
    d = df.iloc[np.argsort(df["seq"].to_numpy(), kind="stable")]
    norm = (d["norm"] if "norm" in d
            else normalize_ambiguous(d["serial"], position_aware=True))
    bucket = _first_seen([d[c].to_numpy() for c in group_cols]
                         + [norm.to_numpy()])
    conf = d["conf"].to_numpy(dtype=float)
    # bucket runs, each by conf desc: the run's first row is the arg-max
    # with the first occurrence winning ties
    o = np.lexsort((-conf, bucket))
    start = _runs(bucket[o])
    # Determinism across shuffles: the A1 score is a float SUM whose value
    # would depend on addition order on an engine that shuffles.  We sum
    # half-even-rounded integer micro-units (1e-9) instead — exact and
    # order-independent, numerically indistinguishable from the reference's
    # float sum (ocr_adapter_improved.py:1463).  Spark side mirrors this with
    # bround(conf*1e9) cast to long.
    iconf = np.round(conf * 1e9).astype(np.int64)
    best = o[start]
    return _ranked(d, group_cols, best,
                   np.add.reduceat(iconf[o], start),
                   np.minimum.reduceat(d["seq"].to_numpy()[o], start),
                   d["serial"].to_numpy()[best], conf[best])


# --------------------------------------------------------------------------- #
# A2: cross-pass merge  (ocr_adapter_improved.py:1310-1343)
# --------------------------------------------------------------------------- #

def merge_passes(df: pd.DataFrame, group_cols: list[str]) -> pd.DataFrame:
    """Sequential merge fold, closed form.

    The reference folds occurrences in order: on a repeat,
    ``cur = max(cur, c) + 0.05``; final values capped at 1.0; then sorted by
    confidence desc (stable → ties keep first-occurrence order).

    Closed form for occurrence j (1-based) of n in a (group, serial) bucket:
    ``contrib_j = c_j + 0.05*(n-1)`` if j == 1 else ``c_j + 0.05*(n-j+1)``;
    result = min(1.0, max_j contrib_j).  (Each element entering at step j >= 2
    gets an immediate +0.05 plus one per later step; the first element only
    gets the n-1 later-step boosts.)

    Input columns: ``group_cols + [serial, conf, seq]``.
    Output: ``group_cols + [serial, conf, rank]``.
    """
    if df.empty:
        return df.assign(rank=pd.Series(dtype=np.int64))[
            group_cols + ["serial", "conf", "rank"]]
    d = df.iloc[np.argsort(df["seq"].to_numpy(), kind="stable")]
    bucket = _first_seen([d[c].to_numpy() for c in group_cols + ["serial"]])
    o = np.argsort(bucket, kind="stable")
    start = _runs(bucket[o])
    size = np.diff(np.append(start, len(o)))
    n = np.repeat(size, size)
    j = np.arange(len(o)) - np.repeat(start, size) + 1
    c = d["conf"].to_numpy(dtype=float)[o]
    contrib = np.where(j == 1, c + 0.05 * (n - 1), c + 0.05 * (n - j + 1))
    conf = np.minimum(np.maximum.reduceat(contrib, start), 1.0)
    first = o[start]
    return _ranked(d, group_cols, first, conf, d["seq"].to_numpy()[first],
                   d["serial"].to_numpy()[first], conf)


# --------------------------------------------------------------------------- #
# Misc scalar semantics (X4 / X5)
# --------------------------------------------------------------------------- #

def mask_serial(s: pd.Series) -> pd.Series:
    """Log masking ``serial[:4]***serial[-4:]`` (app/routers/serials.py:93)."""
    return s.str.slice(0, 4).str.cat(s.str.slice(-4), sep="***")
