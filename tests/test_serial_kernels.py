"""Pin the vectorized serial kernels to the reference semantics.

Vectors come from the reference's own unit tests
(``tests/unit/pipeline/test_ocr_adapter.py``, ``tests/unit/utils/test_validation.py``)
plus naive per-string oracles implemented from the reference algorithms
(``app/pipeline/ocr_adapter_improved.py:413-491,755-811,1310-1343,1458-1469``,
``app/utils/validation.py:119-214``) — CODE semantics, not the reference's
stale test expectations (see SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from apple_ocr_backend_spark.functions import serials as K


# --------------------------------------------------------------------------- #
# Naive per-string oracles (spec re-implementations for property testing)
# --------------------------------------------------------------------------- #

def naive_normalize(text: str, position_aware: bool = True) -> str:
    up = text.strip().upper()
    out = []
    for i, ch in enumerate(up):
        if position_aware and len(up) == 12 and ch in K.POSITION_RULES \
                and i in K.POSITION_RULES[ch]:
            out.append(K.POSITION_RULES[ch][i])
        else:
            out.append(K.AMBIGUOUS_MAP.get(ch, ch))
    return "".join(out)


def naive_expand(text: str, position_aware: bool = True) -> set[str]:
    variants = {text}
    is12 = len(text) == 12
    for idx, ch in enumerate(text):
        if position_aware and is12 and ch in K.POSITION_RULES \
                and idx in K.POSITION_RULES[ch]:
            continue
        rep = K.AMBIGUOUS_MAP.get(ch)
        if rep:
            for v in list(variants):
                variants.add(v[:idx] + rep + v[idx + 1:])
    if position_aware and is12:
        pos_variants = set()
        for v in variants:
            pv = "".join(
                K.POSITION_RULES[c][i]
                if c in K.POSITION_RULES and i in K.POSITION_RULES[c] else c
                for i, c in enumerate(v))
            if pv != v:
                pos_variants.add(pv)
        variants |= pos_variants
    return variants


def naive_validate_extended(text: str) -> tuple[bool, str | None]:
    import re
    if not text:
        return False, "Empty serial number"
    cand = text.strip().upper()
    if not re.fullmatch(r"[A-Z0-9]{12}", cand):
        return False, "Must be exactly 12 alphanumeric characters"
    prefix = cand[:3]
    known = (prefix[0] in K.KNOWN_PREFIXES or prefix[:2] in K.KNOWN_PREFIXES
             or prefix in K.KNOWN_PREFIXES)
    if not known:
        errs = 0
        if cand[0] not in K.COMMON_FIRST_CHARS:
            errs += 1
        if not re.fullmatch(r"[A-Z]", cand[0]):
            errs += 1
        if not re.fullmatch(r"[0-9]", cand[1]):
            errs += 1
        if errs > 2:
            return False, "Failed position-specific checks"
    if sum(1 for c in cand if c in set(K.DISALLOWED_CHARS)) > 3:
        return False, "Too many potentially confused characters"
    if not any(c.isdigit() for c in cand[-4:]):
        return False, "Last 4 characters should contain at least one digit"
    return True, None


def naive_merge_passes(pairs: list[tuple[str, float]]) -> list[tuple[str, float]]:
    # ocr_adapter_improved.py:1310-1343, literal fold
    acc: dict[str, float] = {}
    for s, c in pairs:
        if s in acc:
            acc[s] = max(acc[s], c) + 0.05
        else:
            acc[s] = c
    for s in acc:
        acc[s] = min(acc[s], 1.0)
    return sorted(acc.items(), key=lambda kv: kv[1], reverse=True)


def naive_aggregate(pairs: list[tuple[str, float]]) -> list[tuple[str, float]]:
    # ocr_adapter_improved.py:1458-1469, literal — except the score sum uses
    # the same 1e-9 integer quantization as the production kernel (see
    # serials.aggregate_candidates determinism note)
    score: dict[str, int] = {}
    best: dict[str, tuple[str, float]] = {}
    for s, c in pairs:
        norm = naive_normalize(s, position_aware=True)
        score[norm] = score.get(norm, 0) + int(np.round(c * 1e9))
        if norm not in best or c > best[norm][1]:
            best[norm] = (s, c)
    ordered = sorted(score.items(), key=lambda kv: kv[1], reverse=True)
    return [best[n] for n, _ in ordered]


# --------------------------------------------------------------------------- #
# Reference unit-test vectors
# --------------------------------------------------------------------------- #

def test_normalize_reference_vectors():
    # tests/unit/pipeline/test_ocr_adapter.py:22-25 pin the basic
    # (ocr_adapter.py:138-148) map without position rules:
    #   "O1Z5B"   -> "01258"    (their test, holds under the literal map)
    #   "OIZSBGQ" -> "0125860"  (their test, holds)
    #   " Test "  -> "TE5T"     (their test says "TEST" but S->5 is in the
    #                            map — stale test; CODE semantics win,
    #                            SURVEY.md §5)
    s = pd.Series(["O1Z5B", "OIZSBGQ", " Test "])
    got = list(K.normalize_ambiguous(s, position_aware=False, basic=True))
    assert got == ["01258", "0125860", "TE5T"]


def test_expand_reference_vectors():
    # test_ocr_adapter.py:28-37 — these hold under the literal algorithm
    v = set(K._expand_one("O1", position_aware=False))
    assert {"O1", "01"} <= v
    v = set(K._expand_one("OIZ", position_aware=False))
    assert {"OIZ", "01Z", "OI2", "012"} <= v


def test_validation_reference_vectors():
    basic_valid = ["C02Y95A8JG5H", "F5KVN0DKHJC5", "DGKFL96JDRVG",
                   "C02Y9ABCDEFG", " C02Y95A8JG5H ", "c02y95a8jg5h"]
    ext_valid = ["C02Y95A8JG5H", "F5KVN0DKHJC5", " C02Y95A8JG5H ",
                 "c02y95a8jg5h"]
    # DGKFL96JDRVG: 4 confusable chars (D,G,D,G) > 3 -> extended-invalid
    # (validation.py:196-198); C02Y9ABCDEFG: last 4 "DEFG" has no digit ->
    # extended-invalid (validation.py:200-203).  Both still basic-valid.
    ext_invalid = ["", "ABC123", "C02Y95A8JG5H1", "C02Y95A8JG5!",
                   "OISZBGDTQQQQ", "X99AAAAAAAAA", "DGKFL96JDRVG",
                   "C02Y9ABCDEFG"]
    assert K.is_valid_basic(pd.Series(basic_valid)).all()
    ext = K.validate_extended(pd.Series(ext_valid))
    assert ext["is_valid"].all(), ext
    ext_bad = K.validate_extended(pd.Series(ext_invalid))
    assert not ext_bad["is_valid"].any(), ext_bad
    # reason strings
    r = K.validate_extended(pd.Series(["OISZBGDTQQQQ"]))["reason"][0]
    assert "confused" in r.lower()


def test_position_rule_collisions():
    """The dict-literal key collisions: O/I/L/Z/S/B only rule at pos 3-4."""
    assert K.POSITION_RULES["O"] == {3: "0", 4: "0"}
    assert K.POSITION_RULES["B"] == {3: "8", 4: "8"}
    assert 8 not in K.POSITION_RULES["O"]
    assert K.POSITION_RULES["Q"] == {8: "0", 9: "0", 10: "0", 11: "0"}
    # normalization consequence: O at position 8 of a 12-char string uses the
    # GENERAL map (O->0) — same output, different path; but B at pos 8 also
    # general (B->8).  E at pos 5 -> F only via position rule:
    s = pd.Series(["AAAAAEAAAAA1"])
    assert K.normalize_ambiguous(s, position_aware=True)[0] == "AAAAAFAAAAA1"
    assert K.normalize_ambiguous(s, position_aware=False)[0] == "AAAAAEAAAAA1"


# --------------------------------------------------------------------------- #
# Property tests: vectorized == naive oracle
# --------------------------------------------------------------------------- #

ALPHABET = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))


def _random_strings(n: int, rng: np.random.RandomState) -> list[str]:
    out = []
    for _ in range(n):
        ln = rng.choice([0, 5, 8, 11, 12, 12, 12, 13, 20])
        out.append("".join(rng.choice(ALPHABET, size=ln)))
    return out


def test_normalize_matches_naive():
    rng = np.random.RandomState(7)
    strs = _random_strings(500, rng) + ["C02Y95A8JG5H", "OIZSBQGDTE5J"]
    got = K.normalize_ambiguous(pd.Series(strs), position_aware=True)
    want = [naive_normalize(t, True) for t in strs]
    assert list(got) == want


def test_expand_matches_naive():
    rng = np.random.RandomState(11)
    strs = _random_strings(120, rng)
    df = K.expand_ambiguous(pd.Series(strs), position_aware=True)
    for i, t in enumerate(strs):
        got = set(df.loc[df["idx"] == i, "variant"])
        assert got == naive_expand(t, True), t


def test_expand_memo_bounded_by_variants(monkeypatch):
    """Hostile tokens (every char ambiguous) expand to thousands of
    variants each; the memo evicts by the variants it holds, so streaming
    them keeps it within budget, and every expansion still equals the
    naive one — evicted, re-expanded or served from the memo."""
    assert len(K._expand_one("LOSTDQOIZSBL")) == 4608
    rng = np.random.RandomState(29)
    hostile = ["LOSTDQOIZSBL"] + ["".join(rng.choice(list("LOSTDQIZBG"), 12))
                                 for _ in range(11)]
    want = {t: sorted(naive_expand(t, True)) for t in hostile}
    budget = 3 * 4608
    monkeypatch.setattr(K, "EXPAND_MEMO_VARIANTS", budget)
    K.clear_expand_memo()
    try:
        for _ in range(3):
            for i in range(0, len(hostile), 2):
                batch = hostile[i:i + 2] + ["C02Y95A8JG5H"]
                df = K.expand_ambiguous(pd.Series(batch))
                for j, t in enumerate(batch):
                    got = list(df.loc[df["idx"] == j, "variant"])
                    assert got == (want.get(t) or sorted(naive_expand(t)))
                held = sum(len(v) for v in K._MEMO.values())
                assert held == K._memo_held <= budget
                assert all(v.dtype == np.int64 for v in K._MEMO.values())
    finally:
        K.clear_expand_memo()


def test_validate_matches_naive():
    rng = np.random.RandomState(13)
    strs = _random_strings(800, rng) + ["", "  ", "D2KFL96JDRVG", "A1BCDEFGHJK9"]
    got = K.validate_extended(pd.Series(strs))
    for i, t in enumerate(strs):
        want_valid, want_reason = naive_validate_extended(t)
        assert bool(got["is_valid"].iloc[i]) == want_valid, (t, got.iloc[i])
        if want_reason is not None:
            assert str(got["reason"].iloc[i]).startswith(want_reason.split(":")[0])


def test_shape_confidence_vectors():
    # ocr_adapter_improved.py:758-777 worked examples
    clean = pd.Series(["C02Y95A8JG5H",   # len 12 -> x1.1; 10 distinct -> x1.05
                       "ABCDEFGH",       # len 8 -> x1.05; 8 distinct -> x1.05
                       "AAAAAAAA",       # len 8 -> x1.05; 1 distinct
                       "ABC"])           # len 3 -> x0.8
    conf = pd.Series([0.5, 0.5, 0.5, 0.5])
    got = K.shape_confidence(clean, conf)
    assert got[0] == pytest.approx(0.5 * 1.1 * 1.05)
    assert got[1] == pytest.approx(0.5 * 1.05 * 1.05)
    assert got[2] == pytest.approx(0.5 * 1.05)
    assert got[3] == pytest.approx(0.5 * 0.8)
    # cap at 1.0
    assert K.shape_confidence(pd.Series(["C02Y95A8JG5H"]), pd.Series([0.99]))[0] == 1.0


def test_quality_score_vectors():
    # ocr_adapter_improved.py:784-807
    # C02Y95A8JG5H: 12 alnum x1.1; no I/O/S/Z letters; 11 distinct -> x1.05
    got = K.quality_score(pd.Series(["C02Y95A8JG5H"]), pd.Series([0.6]))
    assert got[0] == pytest.approx(0.6 * 1.1 * 1.05)
    # CSOZY95A8G5H has S,O,Z -> x0.95 applies once
    got = K.quality_score(pd.Series(["CSOZY95A8G5H"]), pd.Series([0.6]))
    assert got[0] == pytest.approx(0.6 * 1.1 * 0.95 * 1.05)


def test_merge_passes_matches_naive():
    rng = np.random.RandomState(17)
    serial_pool = ["AAA", "BBB", "CCC", "DDD"]
    rows = []
    for doc in range(40):
        k = rng.randint(1, 9)
        for seq in range(k):
            rows.append((doc, serial_pool[rng.randint(0, 4)],
                         round(float(rng.uniform(0.2, 0.99)), 6), seq))
    df = pd.DataFrame(rows, columns=["doc", "serial", "conf", "seq"])
    got = K.merge_passes(df, ["doc"])
    for doc, sub in df.groupby("doc"):
        pairs = list(zip(sub["serial"], sub["conf"]))
        want = naive_merge_passes(pairs)
        g = got[got["doc"] == doc].sort_values("rank")
        assert list(zip(g["serial"], g["conf"].round(9))) == \
               [(s, round(c, 9)) for s, c in want], doc


def test_aggregate_matches_naive():
    rng = np.random.RandomState(19)
    pool = ["C02Y95A8JG5H", "CO2Y95A8JG5H", "F5KVN0DKHJC5", "FSKVN0DKHJC5"]
    rows = []
    for doc in range(40):
        k = rng.randint(1, 9)
        for seq in range(k):
            rows.append((doc, pool[rng.randint(0, 4)],
                         round(float(rng.uniform(0.2, 0.99)), 6), seq))
    df = pd.DataFrame(rows, columns=["doc", "serial", "conf", "seq"])
    got = K.aggregate_candidates(df, ["doc"])
    for doc, sub in df.groupby("doc"):
        pairs = list(zip(sub["serial"], sub["conf"]))
        want = naive_aggregate(pairs)
        g = got[got["doc"] == doc].sort_values("rank")
        assert list(zip(g["serial"], g["conf"].round(9))) == \
               [(s, round(c, 9)) for s, c in want], doc


def test_aggregate_reuses_precomputed_norm():
    """A ``norm`` column already on the input (``pass_candidates`` emits
    one) is used as the grouping key, not recomputed: the output equals
    the run without it, and a different ``norm`` changes the buckets."""
    rng = np.random.RandomState(23)
    # pairs that normalize alike (S -> 5 at positions 10 and 11)
    pool = ["C02Y95A8JG5H", "C02Y95A8JGSH", "F5KVN0DKHJC5", "F5KVN0DKHJCS"]
    df = pd.DataFrame(
        [(doc, pool[rng.randint(0, 4)], round(float(rng.uniform(0.2, 0.99)), 6),
          seq) for doc in range(40) for seq in range(rng.randint(1, 9))],
        columns=["doc", "serial", "conf", "seq"])
    want = K.aggregate_candidates(df, ["doc"])
    with_norm = df.assign(norm=K.normalize_ambiguous(df["serial"]))
    pd.testing.assert_frame_equal(
        K.aggregate_candidates(with_norm, ["doc"]), want)
    raw = K.aggregate_candidates(df.assign(norm=df["serial"]), ["doc"])
    assert len(raw) > len(want)


def test_sliding_windows():
    s = pd.Series(["A" * 12, "B" * 14, "C" * 8, ""])
    w = K.sliding_windows(s)
    assert list(w[w["idx"] == 0]["window"]) == ["A" * 12]
    assert list(w[w["idx"] == 1]["window"]) == ["B" * 12] * 3
    assert (w["idx"] == 2).sum() == 0 and (w["idx"] == 3).sum() == 0


def test_clean_and_mask():
    assert list(K.clean_tokens(pd.Series([" c02y-95a8 jg5h!", None]))) == \
        ["C02Y95A8JG5H", ""]
    assert K.mask_serial(pd.Series(["C02Y95A8JG5H"]))[0] == "C02Y***JG5H"


# ---------------------------------------------------------------- client path

def _client_validate_py(serial: str, conf_pct: int):
    """Direct re-derivation of the reference client validator's control
    flow (app/utils/client_validation.py:147-308), micro-unit arithmetic.
    Written from the reference's branches, NOT from the catalog entry —
    an independent twin for the fuzz check."""
    out = dict(is_valid=False, level="reject", corrected=None,
               n_corrections=0, n_warnings=0, requires_confirmation=False,
               conf_adj_q=None, submit=False)
    cand = serial.strip().upper()
    import re
    if not re.match(r"^[A-Z0-9]{12}$", cand):
        return out
    pos_corr = {0: {"0": "O", "1": "I"},
                1: {"0": "O", "1": "I", "5": "S"}}
    default = {"0": "O", "1": "I", "5": "S", "8": "B"}
    corrected, n_corr = [], 0
    for i, ch in enumerate(cand):
        m = pos_corr.get(i, default)
        cc = m.get(ch, ch)
        corrected.append(cc)
        n_corr += cc != ch
    cor = "".join(corrected)
    k3 = {f"C0{x}" for x in "23456789ABCDEF"} | {f"CO{x}" for x in "23456789ABCDEF"}
    k2 = {f"C{x}" for x in "123456789ABCDEF"}
    k1 = set("DEFGHJKLMNPQRSTUVWXYZ")
    known = cor[:3] in k3 or cor[:2] in k2 or cor[0] in k1
    pos0_err = not cor[0].isalpha()
    last4_warn = not any(c.isdigit() for c in cor[-4:])
    mid = cor[3:8]
    mid_warn = not (any(c.isalpha() for c in mid)
                    and any(c.isdigit() for c in mid))
    n_warn = int(last4_warn) + int(mid_warn)
    req = (not known) or pos0_err or last4_warn or mid_warn
    adj = max(0, min(1_000_000, conf_pct * 10_000 - n_corr * 50_000
                     - n_warn * 30_000 + (100_000 if known else 0)))
    if adj >= 850_000 and not req and known:
        level = "accept"
    elif adj >= 650_000 and known:
        level = "borderline"
    else:
        level = "reject"
    return dict(is_valid=level != "reject" and known,  # pos errors <= 1 always
                level=level, corrected=cor if n_corr else None,
                n_corrections=n_corr, n_warnings=n_warn,
                requires_confirmation=req, conf_adj_q=adj,
                submit=level == "accept")


def test_client_validate_matches_reference_twin(spark):
    """Fuzz the catalog entry against the independently written Python
    twin of the reference's client validator over every derived row."""
    from apple_ocr_backend_spark.plans.catalog import queries
    rows = queries()["client_validate"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 1500  # 3 variants x >= 500 docs
    seen_levels, seen_corr = set(), 0
    for r in rows:
        offs = {"clean": 0, "noisy": 13, "short": 29}[r.variant]
        want = _client_validate_py(r.s, (r.doc_id * 7 + offs) % 101)
        got = dict(is_valid=r.is_valid, level=r.level, corrected=r.corrected,
                   n_corrections=r.n_corrections, n_warnings=r.n_warnings,
                   requires_confirmation=r.requires_confirmation,
                   conf_adj_q=r.conf_adj_q, submit=r.submit)
        assert got == want, (r.doc_id, r.variant, r.s, got, want)
        seen_levels.add(r.level)
        seen_corr += r.n_corrections > 0
    # the fixture actually exercises the ladder: all three levels occur and
    # corrections fire (clean 'C0...' serials become 'CO...' -- the exact
    # OCR form the reference's CO* prefix entries exist for)
    assert seen_levels == {"accept", "borderline", "reject"}
    assert seen_corr > 0
