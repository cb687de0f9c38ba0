"""Serial-candidate semantics — vectorized pandas kernels.

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

Everything operates on whole pandas Series / DataFrames (no per-row Python in
the Spark hot path); the only Python loop is over *unique* 12-char strings
(expansion memo).  Position-aware normalization is one numpy gather from a
(position, code point) lookup table.

Determinism note: the reference iterates ``set`` objects when emitting expanded
variants (``_expand_ambiguous`` returns ``Set[str]``), so with equal
confidences its best-variant choice depends on Python hash randomization.  We
pin a total order instead: expanded variants are emitted in **lexicographic
order**.  This is the one place we are deliberately *more* deterministic than
the reference; every other tie-break (stable sort + first-occurrence order)
matches CPython semantics exactly.
"""

from __future__ import annotations

from functools import lru_cache

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


# --------------------------------------------------------------------------- #
# Expansion (SO1)
# --------------------------------------------------------------------------- #

@lru_cache(maxsize=65536)
def _expand_one(text: str, position_aware: bool = True) -> tuple[str, ...]:
    """``_expand_ambiguous`` (ocr_adapter_improved.py:413-462), variants
    returned in lexicographic order (see module docstring determinism note)."""
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


def expand_ambiguous(s: pd.Series, position_aware: bool = True) -> pd.DataFrame:
    """Expand a Series of candidate strings into variants.

    Returns a DataFrame with columns ``(idx, variant, variant_rank)`` where
    ``idx`` is the input Series' positional index (0..n-1), and
    ``variant_rank`` is the lexicographic rank within the expansion.  The
    Python loop runs only over *unique* strings (memoized), then the result is
    broadcast back with a vectorized merge — batch-level, not per-row.
    """
    vals = s.fillna("").to_numpy()
    uniq, inverse = np.unique(vals, return_inverse=True)
    per_uniq = [_expand_one(u, position_aware) for u in uniq]
    counts = np.fromiter((len(p) for p in per_uniq), dtype=np.int64, count=len(per_uniq))
    # rows per input position
    row_counts = counts[inverse]
    idx = np.repeat(np.arange(len(vals), dtype=np.int64), row_counts)
    variants = np.concatenate([np.asarray(per_uniq[j], dtype=object) for j in inverse]) \
        if len(vals) else np.empty(0, dtype=object)
    ranks = np.concatenate([np.arange(c, dtype=np.int64) for c in row_counts]) \
        if len(vals) else np.empty(0, dtype=np.int64)
    return pd.DataFrame({"idx": idx, "variant": variants, "variant_rank": ranks})


# --------------------------------------------------------------------------- #
# Sliding windows (SO3)
# --------------------------------------------------------------------------- #

def sliding_windows(s: pd.Series) -> pd.DataFrame:
    """12-char candidate windows (tesseract_adapter.py:154-163).

    A string of length 12 yields itself (window_idx 0); length L > 12 yields
    L-11 windows; length < 12 yields nothing.  Returns columns
    ``(idx, window_idx, window)``.  Vectorized: one ``str.slice`` per offset.
    """
    lens = s.fillna("").str.len()
    maxlen = int(lens.max()) if len(s) else 0
    frames = []
    for off in range(0, max(maxlen - 11, 0)):
        w = s.str.slice(off, off + 12)
        keep = lens >= off + 12
        if not bool(keep.any()):
            break
        sub = pd.DataFrame({
            "idx": np.flatnonzero(keep.to_numpy()),
            "window_idx": off,
            "window": w[keep].to_numpy(),
        })
        frames.append(sub)
    if not frames:
        return pd.DataFrame({"idx": pd.Series(dtype=np.int64),
                             "window_idx": pd.Series(dtype=np.int64),
                             "window": pd.Series(dtype=object)})
    out = pd.concat(frames, ignore_index=True)
    return out.sort_values(["idx", "window_idx"], kind="stable", ignore_index=True)


# --------------------------------------------------------------------------- #
# Validation (F1 / F2)
# --------------------------------------------------------------------------- #

def is_valid_basic(s: pd.Series) -> pd.Series:
    """``is_valid_apple_serial`` non-strict (validation.py:119-144):
    strip+upper then ``^[A-Z0-9]{12}$``."""
    up = s.fillna("").str.strip().str.upper()
    return up.str.fullmatch(r"[A-Z0-9]{12}").fillna(False)


def validate_extended(s: pd.Series) -> pd.DataFrame:
    """Vectorized ``validate_apple_serial_extended`` (validation.py:147-214).

    Returns columns ``(is_valid: bool, reason: object)`` aligned to the input.
    Assumes inputs may be raw (strips/uppers internally, reference line 160).
    """
    up = s.fillna("").str.strip().str.upper()
    n = len(up)
    valid = np.ones(n, dtype=bool)
    reason = np.full(n, None, dtype=object)

    # emptiness is checked on the RAW value (`if not text`, validation.py:157)
    # — a whitespace-only string is non-empty and fails the basic pattern
    empty = (s.fillna("").str.len() == 0).to_numpy()
    basic = up.str.fullmatch(r"[A-Z0-9]{12}").fillna(False).to_numpy()

    _set(valid, reason, empty, "Empty serial number")
    _set(valid, reason, ~empty & ~basic, "Must be exactly 12 alphanumeric characters")
    live = valid.copy()

    # --- prefix / position checks (validation.py:166-192) ---
    c0 = up.str.slice(0, 1)
    p2 = up.str.slice(0, 2)
    p3 = up.str.slice(0, 3)
    known = (c0.isin(_KNOWN_1) | p2.isin(_KNOWN_2) | p3.isin(_KNOWN_3)).to_numpy()
    # position errors only evaluated for unknown prefixes
    err_first = ~c0.isin(COMMON_FIRST_CHARS).to_numpy()
    err_pos0 = ~c0.str.fullmatch(r"[A-Z]").fillna(False).to_numpy()
    err_pos1 = ~up.str.slice(1, 2).str.fullmatch(r"[0-9]").fillna(False).to_numpy()
    n_pos_err = err_first.astype(int) + err_pos0.astype(int) + err_pos1.astype(int)
    bad_position = live & ~known & (n_pos_err > 2)
    _set(valid, reason, bad_position, "Failed position-specific checks")
    live &= valid

    # --- confusable-character budget (validation.py:196-198) ---
    confus = up.str.count(f"[{DISALLOWED_CHARS}]").fillna(0).to_numpy()
    _set(valid, reason, live & (confus > 3), "Too many potentially confused characters")
    live &= valid

    # --- last-4-must-contain-a-digit (validation.py:200-203) ---
    last4_digit = up.str.slice(-4).str.contains(r"[0-9]", regex=True).fillna(False).to_numpy()
    _set(valid, reason, live & basic & ~last4_digit,
         "Last 4 characters should contain at least one digit")

    return pd.DataFrame({"is_valid": valid, "reason": reason}, index=s.index)


def _set(valid: np.ndarray, reason: np.ndarray, mask: np.ndarray, msg: str) -> None:
    mask = mask & valid  # first failing check wins, like sequential returns
    valid[mask] = False
    reason[mask] = msg


# --------------------------------------------------------------------------- #
# Confidence shaping (X6) + quality filter (F8)
# --------------------------------------------------------------------------- #

def _distinct_char_count(s: pd.Series) -> pd.Series:
    """len(set(s)) per element, vectorized via sorted-unique trick."""
    # apply over uniques only — distinct-count is pure
    vals = s.fillna("").to_numpy()
    uniq, inverse = np.unique(vals, return_inverse=True)
    cnt = np.fromiter((len(set(u)) for u in uniq), dtype=np.int64, count=len(uniq))
    return pd.Series(cnt[inverse] if len(vals) else [], index=s.index, dtype=np.int64)


def shape_confidence(clean: pd.Series, conf: pd.Series) -> pd.Series:
    """Enhanced confidence (ocr_adapter_improved.py:758-777).

    Order of multiplicative boosts matches the reference exactly:
    length >= 10 → ×1.1 elif >= 8 → ×1.05; distinct chars >= 8 → ×1.05;
    length < 6 → ×0.8; cap at 1.0.
    """
    c = conf.astype(float).copy()
    ln = clean.fillna("").str.len()
    c = np.where(ln >= 10, c * 1.1, np.where(ln >= 8, c * 1.05, c))
    c = np.where(_distinct_char_count(clean) >= 8, c * 1.05, c)
    c = np.where(ln < 6, c * 0.8, c)
    return pd.Series(np.minimum(c, 1.0), index=clean.index)


def quality_score(serial: pd.Series, conf: pd.Series) -> pd.Series:
    """Quality re-score (ocr_adapter_improved.py:784-807).

    ×1.1 if 12-char alnum; ×0.95 if contains any of I,O,S,Z; ×1.05 if
    distinct chars >= 8; cap 1.0.
    """
    q = conf.astype(float).to_numpy().copy()
    is12alnum = serial.str.fullmatch(r"[A-Z0-9]{12}").fillna(False).to_numpy()
    q = np.where(is12alnum, q * 1.1, q)
    has_confusable = serial.str.contains(r"[IOSZ]", regex=True).fillna(False).to_numpy()
    q = np.where(has_confusable, q * 0.95, q)
    q = np.where(_distinct_char_count(serial).to_numpy() >= 8, q * 1.05, q)
    return pd.Series(np.minimum(q, 1.0), index=serial.index)


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
    d = df.sort_values("seq", kind="stable").reset_index(drop=True)
    if "norm" not in d:
        d["norm"] = normalize_ambiguous(d["serial"], position_aware=True)
    # Determinism across shuffles: the A1 score is a float SUM whose value
    # would depend on addition order on an engine that shuffles.  We sum
    # half-even-rounded integer micro-units (1e-9) instead — exact and
    # order-independent, numerically indistinguishable from the reference's
    # float sum (ocr_adapter_improved.py:1463).  Spark side mirrors this with
    # bround(conf*1e9) cast to long.
    d["iconf"] = np.round(d["conf"].to_numpy(dtype=float) * 1e9).astype(np.int64)
    keys = group_cols + ["norm"]
    g = d.groupby(keys, sort=False)
    agg = g.agg(score=("iconf", "sum"), first_seq=("seq", "min")).reset_index()
    # arg-max with first-occurrence tie-break: stable sort by conf desc
    best = (d.sort_values(["conf", "seq"], ascending=[False, True], kind="stable")
              .groupby(keys, sort=False).head(1)[keys + ["serial", "conf"]])
    out = agg.merge(best, on=keys, how="left")
    out = out.sort_values(group_cols + ["score", "first_seq"],
                          ascending=[True] * len(group_cols) + [False, True],
                          kind="stable", ignore_index=True)
    out["rank"] = out.groupby(group_cols, sort=False).cumcount()
    return out[group_cols + ["serial", "conf", "rank"]]


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
    d = df.sort_values("seq", kind="stable").reset_index(drop=True)
    keys = group_cols + ["serial"]
    grp = d.groupby(keys, sort=False)
    n = grp["conf"].transform("size").to_numpy()
    j = grp.cumcount().to_numpy() + 1
    c = d["conf"].to_numpy(dtype=float)
    contrib = np.where(j == 1, c + 0.05 * (n - 1), c + 0.05 * (n - j + 1))
    d["contrib"] = contrib
    agg = grp.agg(first_seq=("seq", "min")).reset_index()
    m = d.groupby(keys, sort=False)["contrib"].max().reset_index(name="merged")
    out = agg.merge(m, on=keys, how="left")
    out["conf"] = np.minimum(out["merged"].to_numpy(), 1.0)
    out = out.sort_values(group_cols + ["conf", "first_seq"],
                          ascending=[True] * len(group_cols) + [False, True],
                          kind="stable", ignore_index=True)
    out["rank"] = out.groupby(group_cols, sort=False).cumcount()
    return out[group_cols + ["serial", "conf", "rank"]]


# --------------------------------------------------------------------------- #
# Misc scalar semantics (X4 / X5)
# --------------------------------------------------------------------------- #

SERIAL_EXTRACT_RE = r"Serial[:,.]?\s?([A-Z0-9]{12})"  # vendor/ipad-ocr/main.py:65


def mask_serial(s: pd.Series) -> pd.Series:
    """Log masking ``serial[:4]***serial[-4:]`` (app/routers/serials.py:93)."""
    return s.str.slice(0, 4).str.cat(s.str.slice(-4), sep="***")
