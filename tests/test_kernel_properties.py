"""Property-based tests (hypothesis) for the serial kernels — pure pandas,
no Spark session.

The highest-value property here is the A2 closed form: `merge_passes`
computes ``min(1, max_j(c_j + 0.05 * boosts_j))`` in one vectorized pass,
while the reference folds occurrences sequentially
(``cur = max(cur, c) + 0.05`` on each repeat — ocr_adapter_improved.py:
1310-1343).  The fold below is an INDEPENDENT transcription of the reference
loop; hypothesis drives both through random occurrence patterns.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import example, given, settings, strategies as st

from apple_ocr_backend_spark.functions import serials as K

ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

serial12 = st.text(alphabet=ALPHABET, min_size=12, max_size=12)
raw_text = st.text(alphabet=ALPHABET + " .-", min_size=0, max_size=30)


# --------------------------------------------------------------------------- #
# expansion
# --------------------------------------------------------------------------- #

@settings(max_examples=80, deadline=None)
@given(serial12)
def test_expand_contains_original_sorted_unique(s):
    out = K.expand_ambiguous(pd.Series([s]), position_aware=True)
    variants = list(out["variant"])
    assert s in variants
    assert variants == sorted(set(variants))
    assert list(out["variant_rank"]) == list(range(len(variants)))
    assert all(len(v) == 12 for v in variants)


@settings(max_examples=80, deadline=None)
@given(serial12)
def test_expand_only_touches_ruled_positions(s):
    """A variant may differ from the input only at positions where either
    the general ambiguity map or a position rule applies to the input
    char (or where a position rule maps the substituted digit back)."""
    mutable = set()
    for i, ch in enumerate(s):
        if ch in K.AMBIGUOUS_MAP:
            mutable.add(i)
        if ch in K.POSITION_RULES and i in K.POSITION_RULES[ch]:
            mutable.add(i)
        rep = K.AMBIGUOUS_MAP.get(ch)
        if rep and rep in K.POSITION_RULES and i in K.POSITION_RULES[rep]:
            mutable.add(i)
    for v in K.expand_ambiguous(pd.Series([s]))["variant"]:
        diff = {i for i in range(12) if v[i] != s[i]}
        assert diff <= mutable, (s, v, diff - mutable)


# --------------------------------------------------------------------------- #
# normalization: vectorized == per-char dict walk
# --------------------------------------------------------------------------- #

@settings(max_examples=100, deadline=None)
@given(st.lists(serial12, min_size=1, max_size=8))
def test_normalize_matches_per_char_model(strings):
    got = list(K.normalize_ambiguous(pd.Series(strings), position_aware=True))
    for s, g in zip(strings, got):
        want = "".join(
            K.POSITION_RULES.get(c, {}).get(i)
            or K.AMBIGUOUS_MAP.get(c, c)
            if not (c in K.POSITION_RULES and i in K.POSITION_RULES[c])
            else K.POSITION_RULES[c][i]
            for i, c in enumerate(s))
        assert g == want, (s, g, want)


def _normalize_model(raw: str | None) -> str:
    up = (raw or "").strip().upper()
    if len(up) != 12:
        return up.translate(str.maketrans(K.AMBIGUOUS_MAP))
    return "".join(K.POSITION_RULES.get(c, {}).get(i)
                   or K.AMBIGUOUS_MAP.get(c, c) for i, c in enumerate(up))


# ASCII serial chars plus NUL, whitespace, non-ASCII and chars whose
# upper() changes the length (ß -> SS, ﬁ -> FI)
odd_text = st.text(alphabet=st.sampled_from(ALPHABET + "\x00 \tßﬁéŸİ")
               | st.characters(), max_size=14)


@settings(max_examples=300, deadline=None)
@given(st.lists(st.none() | odd_text, min_size=1, max_size=8))
@example(["ABCDEFGHIJK\x00", "\x00" * 12, "ßßßßßß", None, "", "é0125OIQGDTE"])
def test_normalize_arbitrary_text_matches_per_char_model(strings):
    """The code-point lookup table agrees with the per-char model on any
    text: non-ASCII passes through, lengths are taken after strip+upper,
    and trailing NULs survive the round trip."""
    got = list(K.normalize_ambiguous(pd.Series(strings, dtype=object)))
    assert got == [_normalize_model(s) for s in strings]


# --------------------------------------------------------------------------- #
# sliding windows
# --------------------------------------------------------------------------- #

@settings(max_examples=100, deadline=None)
@given(st.lists(raw_text, min_size=1, max_size=6))
def test_sliding_windows_model(strings):
    out = K.sliding_windows(pd.Series(strings))
    for idx, s in enumerate(strings):
        rows = out[out["idx"] == idx]
        expect = [s[i:i + 12] for i in range(max(len(s) - 11, 0))]
        assert list(rows["window"]) == expect
        assert list(rows["window_idx"]) == list(range(len(expect)))


# --------------------------------------------------------------------------- #
# validation: vectorized == straight-line transcription of validation.py
# --------------------------------------------------------------------------- #

def _valid_model(raw: str) -> bool:
    up = raw.strip().upper()
    if not raw:
        return False
    import re
    if not re.fullmatch(r"[A-Z0-9]{12}", up):
        return False
    known = (up[:1] in K._KNOWN_1 or up[:2] in K._KNOWN_2
             or up[:3] in K._KNOWN_3)
    if not known:
        errs = ((up[0] not in K.COMMON_FIRST_CHARS)
                + (not up[0].isalpha())
                + (not up[1].isdigit()))
        if errs > 2:
            return False
    if sum(c in K.DISALLOWED_CHARS for c in up) > 3:
        return False
    if not any(c.isdigit() for c in up[-4:]):
        return False
    return True


@settings(max_examples=150, deadline=None)
@given(st.lists(st.one_of(serial12, raw_text), min_size=1, max_size=10))
def test_validate_extended_matches_model(strings):
    got = K.validate_extended(pd.Series(strings))["is_valid"]
    for s, g in zip(strings, got):
        assert bool(g) == _valid_model(s), s


# --------------------------------------------------------------------------- #
# A2 closed form == the reference's sequential fold
# --------------------------------------------------------------------------- #

def _a2_fold_model(rows: list[tuple[str, float]]) -> list[tuple[str, float]]:
    """Reference loop (ocr_adapter_improved.py:1310-1343): iterate
    occurrences in order; first sight records conf, repeats do
    ``cur = max(cur, c) + 0.05``; cap at 1.0; final order by conf desc with
    first-occurrence stability."""
    merged: dict[str, float] = {}
    order: list[str] = []
    for serial, conf in rows:
        if serial in merged:
            merged[serial] = max(merged[serial], conf) + 0.05
        else:
            merged[serial] = conf
            order.append(serial)
    out = [(s, min(1.0, merged[s])) for s in order]
    out.sort(key=lambda t: -t[1])  # python sort is stable
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.tuples(st.sampled_from(["AAA", "BBB", "CCC", "DDD"]),
              st.floats(min_value=0.05, max_value=1.0,
                        allow_nan=False, allow_infinity=False)),
    min_size=1, max_size=12))
def test_merge_passes_equals_sequential_fold(rows):
    # The pipeline feeds A2 at most one occurrence per (serial, pass) and
    # two passes, so each serial occurs <= 2 times — in that regime the
    # closed form (c + 0.05*boosts in one multiply) is BIT-identical to the
    # reference's sequential fold.  (At 3+ repeats the fold's repeated
    # float additions drift by ulps from the single multiply; not a
    # reachable shape here.)  Truncate the generated stream accordingly.
    seen: dict[str, int] = {}
    capped = []
    for s, c in rows:
        if seen.get(s, 0) < 2:
            capped.append((s, c))
            seen[s] = seen.get(s, 0) + 1
    df = pd.DataFrame({
        "g": 0,
        "serial": [r[0] for r in capped],
        "conf": [r[1] for r in capped],
        "seq": range(len(capped)),
    })
    got = K.merge_passes(df, ["g"]).sort_values("rank")
    want = _a2_fold_model(capped)
    assert list(got["serial"]) == [s for s, _ in want]
    assert list(got["conf"]) == [c for _, c in want]  # bit-exact


# --------------------------------------------------------------------------- #
# confidence shaping / quality scoring: vectorized == scalar transcription
# --------------------------------------------------------------------------- #

def _shape_model(clean: str, conf: float) -> float:
    """Scalar transcription of ocr_adapter_improved.py:758-777."""
    c = conf
    if len(clean) >= 10:
        c = c * 1.1
    elif len(clean) >= 8:
        c = c * 1.05
    if len(set(clean)) >= 8:
        c = c * 1.05
    if len(clean) < 6:
        c = c * 0.8
    return min(c, 1.0)


def _quality_model(serial: str, conf: float) -> float:
    """Scalar transcription of ocr_adapter_improved.py:784-807."""
    import re
    q = conf
    if re.fullmatch(r"[A-Z0-9]{12}", serial):
        q = q * 1.1
    if any(ch in "IOSZ" for ch in serial):
        q = q * 0.95
    if len(set(serial)) >= 8:
        q = q * 1.05
    return min(q, 1.0)


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(raw_text,
                          st.floats(min_value=0.0, max_value=1.0,
                                    allow_nan=False)),
                min_size=1, max_size=8))
def test_shape_confidence_matches_scalar_model(rows):
    clean = pd.Series([r[0] for r in rows])
    conf = pd.Series([r[1] for r in rows])
    got = list(K.shape_confidence(clean, conf))
    for (s, c), g in zip(rows, got):
        assert g == _shape_model(s, c), (s, c)


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(serial12,
                          st.floats(min_value=0.0, max_value=1.0,
                                    allow_nan=False)),
                min_size=1, max_size=8))
def test_quality_score_matches_scalar_model(rows):
    serial = pd.Series([r[0] for r in rows])
    conf = pd.Series([r[1] for r in rows])
    got = list(K.quality_score(serial, conf))
    for (s, c), g in zip(rows, got):
        assert g == _quality_model(s, c), (s, c)


# --------------------------------------------------------------------------- #
# image kernels: NMS + despeckle invariants
# --------------------------------------------------------------------------- #

_box = st.tuples(st.integers(0, 80), st.integers(0, 80),
                 st.integers(1, 60), st.integers(1, 60)).map(
    lambda t: (t[0], t[1], t[0] + t[2], t[1] + t[3]))


@settings(max_examples=120, deadline=None)
@given(st.lists(st.tuples(_box, st.floats(0, 1, allow_nan=False)),
                min_size=0, max_size=12),
       st.floats(0.05, 0.95))
def test_nms_invariants(items, thr):
    """Kept indices are unique and score-sorted; every surviving pair has
    IoU <= threshold; every suppressed box overlaps some higher-or-equal
    scored survivor above the threshold (greedy completeness)."""
    import numpy as np
    from apple_ocr_backend_spark.functions.image_kernels import nms
    boxes = [b for b, _ in items]
    scores = [s for _, s in items]
    keep = nms(boxes, scores, thr)
    assert len(set(keep)) == len(keep)
    assert [scores[i] for i in keep] == sorted(
        (scores[i] for i in keep), reverse=True)

    def iou(a, b):
        y0, x0 = max(a[0], b[0]), max(a[1], b[1])
        y1, x1 = min(a[2], b[2]), min(a[3], b[3])
        inter = max(0, y1 - y0) * max(0, x1 - x0)
        aa = (a[2] - a[0]) * (a[3] - a[1])
        ab = (b[2] - b[0]) * (b[3] - b[1])
        return inter / max(aa + ab - inter, 1e-9)

    for i in keep:
        for j in keep:
            if i < j:
                assert iou(boxes[i], boxes[j]) <= thr + 1e-12
    for i in range(len(boxes)):
        if i not in keep:
            assert any(iou(boxes[i], boxes[k]) > thr
                       and (scores[k], -k) >= (scores[i], -i)
                       for k in keep)


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 10**6), st.integers(2, 4))
def test_despeckle_invariants(seed, min_neighbors):
    """Output ink is a subset of input ink; fully isolated pixels always
    die; a solid 3x3 block always survives any threshold <= 9."""
    import numpy as np
    from apple_ocr_backend_spark.functions.image_kernels import despeckle
    rng = np.random.default_rng(seed)
    mask = (rng.random((24, 36)) < 0.25).astype(np.uint8)
    mask[10:13, 10:13] = 1          # solid block
    mask[0, 0] = 1                  # corner pixel
    mask[0, 1] = mask[1, 0] = mask[1, 1] = 0  # ...made isolated
    out = despeckle(mask, min_neighbors)
    assert not (out.astype(bool) & ~mask.astype(bool)).any()
    assert out[0, 0] == 0
    assert out[11, 11] == 1
