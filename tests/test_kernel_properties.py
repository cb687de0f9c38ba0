"""Property-based tests (hypothesis) for the serial kernels — pure pandas,
no Spark session.

The highest-value property here is the A2 closed form: `merge_passes`
computes ``min(1, max_j(c_j + 0.05 * boosts_j))`` in one vectorized pass,
while the reference folds occurrences sequentially
(``cur = max(cur, c) + 0.05`` on each repeat — ocr_adapter_improved.py:
1310-1343).  The fold below is an INDEPENDENT transcription of the reference
loop; hypothesis drives both through random occurrence patterns.  The
html kernel is checked the same way against the regex model in
``tests/html_model.py``.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from hypothesis import example, given, settings, strategies as st

from apple_ocr_backend_spark.config import ExtractConfig
from apple_ocr_backend_spark.functions import serials as K
from apple_ocr_backend_spark.operators import html_extract as H
from html_model import extract_html as html_model

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
# the code-point / base-36 paths at their encoding edges
# --------------------------------------------------------------------------- #

# chars that uppercase INTO the charset (ı -> I, ſ -> S), change length
# (ß -> SS), NUL (numpy ``U`` strings drop a trailing one) and Unicode
# whitespace that strip() removes
edge_chars = st.sampled_from(list(ALPHABET + "ıſßé\x00 \u00a0\u2003\u3000\t"))
edge_text = st.one_of(
    st.text(alphabet=edge_chars, min_size=0, max_size=14),
    st.builds(lambda pad, core, tail: pad + core + tail,
              st.sampled_from(["", " ", "\u00a0", "\u2003\t"]),
              serial12 | st.text(alphabet=edge_chars, min_size=10, max_size=13),
              st.sampled_from(["", "\x00", " ", "\u3000"])))


@settings(max_examples=400, deadline=None)
@given(st.lists(edge_text, min_size=1, max_size=8),
       st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
@example(["ſ02Y95A8JG5H", "ıC02Y95A8JG5", "C02Y95A8JGß", "C02Y95A8JG5\x00",
          "C02Y95A8JG5H\x00", "\u3000C02Y95A8JG5H\u00a0", ""], 0.7)
def test_code_paths_match_scalar_models_on_edges(strings, conf):
    s = pd.Series(strings, dtype=object)
    got = K.validate_extended(s)["is_valid"]
    assert [bool(g) for g in got] == [_valid_model(x) for x in strings]
    assert list(K.quality_score(s, pd.Series([conf] * len(s)))) == \
        [_quality_model(x, conf) for x in strings]
    assert list(K.normalize_ambiguous(s)) == [_normalize_model(x) for x in strings]


def test_uppercase_into_charset_is_valid():
    assert K.validate_extended(pd.Series(["ſ02Y95A8JG5H"]))["is_valid"][0]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2),
                          st.text(alphabet="AOIS05\x00ſ ", max_size=13),
                          st.sampled_from([0.5, 0.6, 0.7])),
                min_size=1, max_size=14))
def test_a1_a2_ties_match_models(rows):
    """Tie-heavy occurrence streams (three confidences, few distinct
    serials of any length, several groups) through A1 and A2 against
    the literal reference loops."""
    from test_serial_kernels import naive_aggregate
    df = pd.DataFrame(rows, columns=["g", "serial", "conf"]).assign(
        seq=range(len(rows)))
    a1 = K.aggregate_candidates(df, ["g"])
    # A2 is bit-exact to the fold at <= 2 occurrences per serial (see
    # test_merge_passes_equals_sequential_fold)
    seen: dict = {}
    keep = []
    for k in zip(df["g"], df["serial"]):
        seen[k] = seen.get(k, 0) + 1
        keep.append(seen[k] <= 2)
    capped = df[keep]
    a2 = K.merge_passes(capped, ["g"])
    assert list(a1["g"]) == sorted(a1["g"]) and list(a2["g"]) == sorted(a2["g"])
    for g in sorted(set(df["g"])):
        sub, a1g = df[df["g"] == g], a1[a1["g"] == g]
        assert list(a1g["rank"]) == list(range(len(a1g)))
        assert list(zip(a1g["serial"], a1g["conf"])) == \
            naive_aggregate(list(zip(sub["serial"], sub["conf"])))
        csub, a2g = capped[capped["g"] == g], a2[a2["g"] == g]
        assert list(a2g["rank"]) == list(range(len(a2g)))
        assert list(zip(a2g["serial"], a2g["conf"])) == \
            _a2_fold_model(list(zip(csub["serial"], csub["conf"])))


# --------------------------------------------------------------------------- #
# pdf layout: extract_pdf == a per-span walk of the module docstring's rules
# --------------------------------------------------------------------------- #

def _pdf_number(v: str, signed: bool) -> bool:
    if signed and v.startswith("-"):
        v = v[1:]
    whole, dot, frac = v.partition(".")
    return whole.isdecimal() and (not dot or frac.isdecimal())


def _pdf_model(text: str | None, gap_factor: float) -> list[str]:
    """Rules 1-5 of ``operators/pdf_extract.py``, one span at a time."""
    recs = []
    for rec in (text or "").split("\n"):                      # 1. parse
        head, bar, line = rec.partition("|")
        nums = head.split(",")
        if bar and len(nums) == 3 and all(
                _pdf_number(v, i < 2) for i, v in enumerate(nums)):
            x, y, size = map(float, nums)
            recs.append((y, x, line, size))
    recs.sort(key=lambda r: r[:3])                             # 2. order
    lines: list[list] = []                                     # 3. same y
    for y, _, line, size in recs:
        if lines and lines[-1][0] == y:
            lines[-1][2].append(line)
        else:
            lines.append([y, size, [line]])
    blocks: list[list[str]] = []                               # 4. gaps
    for i, (y, _, words) in enumerate(lines):
        if i == 0 or y - lines[i - 1][0] > gap_factor * lines[i - 1][1]:
            blocks.append([])
        blocks[-1].append(" ".join(words))
    return ["\n".join(b) for b in blocks]                      # 5. emit


# y 100 / 118 / 136 sit exactly pdf_gap_factor (1.8) x size 10 apart;
# "118" and "118.0" are one visual line
_pdf_record = st.builds(
    lambda x, y, size, line: f"{x},{y},{size}|{line}",
    st.sampled_from(["72", "72.5", "300", "-5", "007", "72.0"]),
    st.sampled_from(["100", "118", "118.0", "136", "100.5", "-0", "0"]),
    st.sampled_from(["10", "12", "0", "2.5"]),
    st.text(alphabet="ab |,", max_size=4))
_pdf_junk = st.sampled_from(["nonsense", "72,100|x", "a,b,c|d", "72,100,-3|n",
                             "", "72,100,10", "72,,10|e", "|broken"])
_pdf_span = st.one_of(
    st.none(),
    st.lists(st.one_of(_pdf_record, _pdf_record, _pdf_junk),
             max_size=8).map("\n".join),
    st.lists(_pdf_junk, min_size=1, max_size=3).map("\n".join))


@settings(max_examples=300, deadline=None)
@given(st.lists(_pdf_span, min_size=1, max_size=6),
       st.sampled_from([1.8, 0.5]))
def test_extract_pdf_matches_per_span_model(texts, gap_factor):
    import numpy as np
    from apple_ocr_backend_spark.config import ExtractConfig
    from apple_ocr_backend_spark.operators.pdf_extract import extract_pdf
    df = pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(texts))],
                       "span_pos": 0, "offset": 0,
                       "text": np.array(texts, dtype=object)},
                      index=np.arange(len(texts)) * 3 + 7)
    out = extract_pdf(df, ExtractConfig(pdf_gap_factor=gap_factor))
    assert list(out.index) == sorted(out.index)
    for label, text in zip(df.index, texts):
        mine = out.loc[out.index == label]
        assert list(mine["text"]) == _pdf_model(text, gap_factor), text
        assert list(mine["out_rank"]) == list(range(len(mine)))


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


# --------------------------------------------------------------------------- #
# span-row contract: extract_span_rows output, indexed by its input rows
# --------------------------------------------------------------------------- #

# sha256 of the canonical JSON of extract_docs_oracle on the parity corpus
# (test_pipeline_parity: make_corpus(150, seed=42) + edge_docs), the output
# the Spark parity tests hold the plan to; a change to the oracle's output
# must change this pin on purpose
PARITY_ORACLE_SHA256 = (
    "c9ae17ba39d61240d1733df08e0bfd1f24a70839a357c59cf81d5d31ab168bc0")


def _shuffled_rows(docs: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Span rows in a shuffled order under unique, non-contiguous labels."""
    import numpy as np
    from apple_ocr_backend_spark.operators.assemble import explode_docs_pandas
    rng = np.random.RandomState(seed)
    rows = explode_docs_pandas(docs)
    rows = rows.iloc[rng.permutation(len(rows))]
    rows.index = rng.choice(10 ** 7, len(rows), replace=False)
    return rows


def _assert_contract(rows: pd.DataFrame, out: pd.DataFrame) -> None:
    """Every output label names an input row with the same doc_id /
    span_pos / offset; each kind's rows come in input-row order; out_rank
    is dense from 0, in order, per label."""
    import numpy as np
    assert rows.index.is_unique and len(out)
    src = rows.loc[out.index]
    for col in ("doc_id", "span_pos", "offset"):
        assert (src[col].to_numpy() == out[col].to_numpy()).all(), col
    pos = rows.index.get_indexer(out.index)
    for k in src["kind"].unique():
        assert (np.diff(pos[src["kind"].to_numpy() == k]) >= 0).all(), k
    rank = pd.Series(out["out_rank"].to_numpy())
    assert (rank == rank.groupby(pos).cumcount()).all()


def test_span_rows_contract_and_oracle_parity():
    import hashlib
    import json
    from apple_ocr_backend_spark.config import DEFAULT_CONFIG
    from apple_ocr_backend_spark.operators.assemble import (
        extract_span_rows, reassemble_pandas)
    from apple_ocr_backend_spark.sources.corpus import (
        extract_docs_oracle, make_corpus)
    from tests.test_pipeline_parity import edge_docs

    docs = pd.concat([make_corpus(150, seed=42), edge_docs()],
                     ignore_index=True)
    rows = _shuffled_rows(docs, seed=1)
    out = extract_span_rows(rows, DEFAULT_CONFIG)
    _assert_contract(rows, out)

    golden = extract_docs_oracle(docs, DEFAULT_CONFIG)
    canon = [[d, [[s["kind"], s["text"], s["media_ref"], s["order"]]
                  for s in spans]]
             for d, spans in zip(golden["doc_id"], golden["spans"])]
    assert (hashlib.sha256(json.dumps(canon).encode()).hexdigest()
            == PARITY_ORACLE_SHA256)
    got = reassemble_pandas(out)
    want = golden[golden["spans"].str.len() > 0].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_span_rows_contract_with_payload():
    """A ``payload`` column sends image rows to pixel OCR; a missing or
    corrupt payload drops its span, and the other kinds are unchanged."""
    import numpy as np
    from apple_ocr_backend_spark.config import DEFAULT_CONFIG
    from apple_ocr_backend_spark.functions.png_codec import encode_png_gray
    from apple_ocr_backend_spark.operators.assemble import extract_span_rows
    from apple_ocr_backend_spark.sources.corpus import make_corpus
    from apple_ocr_backend_spark.sources.derived import serial_py
    from apple_ocr_backend_spark.sources.image_corpus import (
        render_serial_image)

    rows = _shuffled_rows(make_corpus(30, seed=9), seed=2)
    image = np.flatnonzero((rows["kind"] == "image").to_numpy())
    payload = [None] * len(rows)
    for j, i in enumerate(image):
        payload[i] = (b"\x89PNG\r\n\x1a\ntruncated" if j % 5 == 1 else
                      None if j % 5 == 3 else
                      encode_png_gray(render_serial_image(
                          i, text=serial_py(i))))
    with_payload = rows.assign(payload=payload)
    out = extract_span_rows(with_payload, DEFAULT_CONFIG)
    _assert_contract(with_payload, out)

    pixel = out[out["kind"] == "ocr_text"]
    good = rows.index[image[[j % 5 not in (1, 3)
                             for j in range(len(image))]]]
    assert len(pixel) and set(pixel.index) <= set(good)
    assert (pixel["text"] == [serial_py(rows.index.get_loc(i))
                              for i in pixel.index]).all()
    token = extract_span_rows(rows, DEFAULT_CONFIG)
    pd.testing.assert_frame_equal(out[out["kind"] == "main_text"],
                                  token[token["kind"] == "main_text"])


# --------------------------------------------------------------------------- #
# html: the tag-index kernel == the regex model (tests/html_model.py)
# --------------------------------------------------------------------------- #

_ALL = "".join(map(chr, range(0x110000)))
_SPACES = re.findall(r"\s", _ALL)  # all 29: \x1c-\x1f, \x85, 　, ...
# letters Python's (?i) matches to a tag-name letter outside ASCII: İ/ı as
# i, ſ as s and K (U+212A) as k
_VARIANTS = {"i": "iIİı", "s": "sSſ", "k": "kKK"}
_NAMES = ("p", "h1", "h6", "li", "td", "blockquote", "a", "script", "style",
          "nav", "footer", "header", "aside", "b", "i", "div", "h7", "pa",
          "navé", "nav-x", "abbr", "scripts", "lı")


@st.composite
def _spelled(draw, name):
    return "".join(draw(st.sampled_from(_VARIANTS.get(ch, ch + ch.upper())))
                   for ch in name)


_attr = st.sampled_from(["", "", " ", " class=x", "\nclass='a\nb'",
                         " a=\"<\"", " /", "\t", " href='/x'"])
_leaf = st.one_of(
    st.sampled_from(["one", "two", "three", "four", "x", "é", "𝒜𝒞", "ſ", "0",
                     "word", "K"]),
    st.sampled_from(_SPACES), st.just(" "), st.text(max_size=3),
    st.sampled_from(["<", ">", "<>", "<<b>", "<!--", "-->", "--", "<!-->",
                     "--->", "/", "\0", "<!-- <p>c</p> -->", "<p<!--c-->>",
                     "<script><!-- x --></script>", "<SCRIPT>s</script>",
                     "<br>", "<b>", "</b>"]),
    st.builds(lambda n, a: f"<{n}{a}", st.sampled_from(_NAMES).flatmap(
        _spelled), _attr),  # an opening with no '>'
    st.builds(lambda n: f"</{n}>", st.sampled_from(_NAMES).flatmap(
        _spelled)))


@st.composite
def _element(draw, kids):
    """``<name attrs>kids</name>``, the end tag spelt the same, spelt in
    another case, with a space before its ``>``, or missing."""
    base = draw(st.sampled_from(_NAMES))
    name = draw(_spelled(base))
    end = draw(st.sampled_from(["same", "same", "other", "space", "none"]))
    close = {"same": f"</{name}>", "other": f"</{draw(_spelled(base))}>",
             "space": f"</{name} >", "none": ""}[end]
    return (f"<{name}{draw(_attr)}>" + "".join(draw(st.lists(kids, max_size=6)))
            + close)


_html = st.lists(st.recursive(_leaf, _element, max_leaves=40),
                 max_size=8).map("".join)


def _span_frame(texts):
    n = len(texts)
    return pd.DataFrame({"doc_id": [f"d{i % 3}" for i in range(n)],
                         "span_pos": range(n), "offset": range(0, 2 * n, 2),
                         "text": np.array(texts, dtype=object)},
                        index=range(100, 100 + n))


@settings(max_examples=400, deadline=None)
@given(st.lists(st.none() | st.just("") | _html, min_size=1, max_size=4),
       st.sampled_from([ExtractConfig(),
                        ExtractConfig(html_min_words=1,
                                      html_max_link_ratio=1.0,
                                      html_max_tag_density=2.0),
                        ExtractConfig(html_min_words=0,
                                      html_max_link_ratio=0.0)]))
@example(["<p<!--c-->>hello world one two three four</p>"], ExtractConfig())
@example(["<navé><p>one two three four five six</p></nav>"], ExtractConfig())
@example(["<p>aaaa bbb ccc d e f <a>xxxx</a><a>yyyy</a></p>"],  # ratio 9/28
         ExtractConfig())
@example(["<ſcript>x</script><p>one two three four five six</p></ſcript>"
          "<scrİpt></SCRIPT><blocKquote>a b c d e f g</blocKquote>",
          None, ""], ExtractConfig())
def test_html_kernel_equals_regex_model(texts, cfg):
    """Every output column, the index and the order equal the model's, on
    tag soup that reaches the edges of Python's ``re``: Unicode case
    folding and ``\\b``, case-insensitive backreferences, ``<>``, nested
    same-name tags, comments inside scripts and tags inside comments, tags
    formed across a removed region, every ``\\s`` character, non-BMP text,
    null and empty spans."""
    df = _span_frame(texts)
    pd.testing.assert_frame_equal(H.extract_html(df, cfg),
                                  html_model(df, cfg))


def test_html_tables_are_what_re_says():
    """The kernel's case-fold, case-class and whitespace tables, each
    derived from ``re`` at import, checked code point by code point
    against ``re`` and pinned where they leave ASCII."""
    fold = {chr(c): H._LETTERS[H._FOLD[c] - 1]
            for c in map(int, np.flatnonzero(H._FOLD))}
    assert fold == {c: x for x in H._LETTERS
                    for c in re.findall(f"(?i){x}", _ALL)}
    assert {c: x for c, x in fold.items() if not c.isascii()} == {
        "İ": "i", "ı": "i", "ſ": "s", "K": "k"}
    for c in fold:  # a backreference to c matches exactly c's case class
        for d in fold:
            if fold[c] == fold[d]:
                assert (re.fullmatch(r"(?i)(.)\1", c + d) is not None) == (
                    H._CASE[ord(c)] == H._CASE[ord(d)]), (c, d)
    assert {chr(c) for c in np.flatnonzero(H._CASE)} == {"ı", "ſ"}
    assert [chr(c) for c in np.flatnonzero(H._IS_SPACE)] == _SPACES
    assert len(_SPACES) == 29 and not H._IS_SPACE[-1]
