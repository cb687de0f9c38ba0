"""Deterministic interleaved-docs corpus synthesizer + single-process oracle.

Modeled on the reference's seeded synthetic-data generator
(``/root/reference/generate_image.py:23-38,247-316`` — seeded serials,
controlled distortions, ``labels.csv`` golden mapping).  Here the "images"
are deterministic OCR token streams (FIXTURES.md §3C), the distortions are
confusable-character substitutions the recovery chain must undo, and the
golden output is the pure-pandas oracle (`extract_docs_oracle`) that the
Spark pipeline must match bit-for-bit.

Document classes per FIXTURES.md §3: A html 30%, B pdf 20%, C image 30%,
D interleaved 15%, E edge 5%.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..operators.assemble import (explode_docs_pandas, extract_span_rows,
                                  reassemble_pandas)

# --------------------------------------------------------------------------- #
# Spark schemas (import-guarded so pandas-only tests don't need a JVM)
# --------------------------------------------------------------------------- #

SPAN_FIELDS_IN = [("kind", "string"), ("text", "string"),
                  ("media_ref", "string"), ("offset", "int")]

DOCS_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>")


def docs_spark_schema():
    from pyspark.sql.types import (StructType, StructField, StringType,
                                   IntegerType, ArrayType)
    span = StructType([
        StructField("kind", StringType()), StructField("text", StringType()),
        StructField("media_ref", StringType()), StructField("offset", IntegerType()),
    ])
    return StructType([StructField("doc_id", StringType(), False),
                       StructField("spans", ArrayType(span))])


# --------------------------------------------------------------------------- #
# Vocabulary / serial generation
# --------------------------------------------------------------------------- #

_WORDS = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
          "eiusmod tempor incididunt labore dolore magna aliqua enim minim "
          "veniam quis nostrud exercitation ullamco laboris nisi aliquip "
          "commodo consequat duis aute irure reprehenderit voluptate velit "
          "esse cillum fugiat nulla pariatur excepteur sint occaecat "
          "cupidatat non proident sunt culpa officia deserunt mollit anim "
          "laborum").split()

# first chars that are single-letter known prefixes (validation.py:40-70)
_FIRST = "CFMPVWXY"          # exclude G (confusable) to control the budget
_SAFE_LETTERS = "ACEFHJKMNPRUVWXY"  # no confusables (O,I,Z,S,B,Q,G,D,T), no L
_DIGITS = "0123456789"
# digit -> confusable letter corruption (inverse of AMBIGUOUS_MAP)
_CORRUPT = {"0": "O", "1": "I", "2": "Z", "5": "S", "8": "B", "6": "G", "7": "T"}


def gen_serial(rng: np.random.RandomState) -> str:
    """A serial that passes extended validation (known prefix, <=1 confusable,
    digit in last 4)."""
    chars = [rng.choice(list(_FIRST)), rng.choice(list(_DIGITS))]
    pool = list(_SAFE_LETTERS + _DIGITS)
    chars += [rng.choice(pool) for _ in range(9)]
    chars.append(rng.choice(list(_DIGITS)))  # guarantees last-4 digit
    return "".join(chars)


def corrupt_serial(serial: str, rng: np.random.RandomState,
                   p: float = 0.35) -> str:
    """Substitute digits with their confusable letters (the OCR 'noise' the
    recovery chain undoes via expansion/normalization)."""
    out = []
    for ch in serial:
        if ch in _CORRUPT and rng.rand() < p:
            out.append(_CORRUPT[ch])
        else:
            out.append(ch)
    return "".join(out)


def _words(rng: np.random.RandomState, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _conf(rng: np.random.RandomState, lo: float, hi: float) -> str:
    return f"{rng.uniform(lo, hi):.2f}"


# --------------------------------------------------------------------------- #
# Span builders per class
# --------------------------------------------------------------------------- #

def _html_span_text(rng: np.random.RandomState) -> str:
    nav = "<nav>" + " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.choice(_WORDS, rng.randint(3, 7))
    ) + "</nav>"
    paras = "".join(
        f"<p>{_words(rng, rng.randint(8, 21))}</p>"
        for _ in range(rng.randint(2, 6)))
    farm = "<div>" + "".join(
        f'<li><a href="/x/{w}">{w} {w}</a></li>'
        for w in rng.choice(_WORDS, rng.randint(3, 8))) + "</div>"
    short = f"<p>{_words(rng, rng.randint(1, 4))}</p>"  # below min_words
    footer = f"<footer>{_words(rng, 6)} <a href='/tos'>terms</a></footer>"
    aside = f"<aside><p>{_words(rng, 12)}</p></aside>"
    head = "<html><head><title>t</title><style>p{color:red}</style></head><body>"
    return (head + nav + f"<article>{paras}</article>" + short + farm
            + aside + footer + "</body></html>")


def _pdf_span_text(rng: np.random.RandomState, n_blocks: int | None = None) -> str:
    recs = []
    y = float(rng.randint(40, 80))
    size = float(rng.choice([10, 12]))
    for _ in range(n_blocks or rng.randint(2, 5)):
        for _ in range(rng.randint(1, 5)):  # lines in block
            line = _words(rng, rng.randint(4, 10))
            recs.append(f"{72},{y:g},{size:g}|{line}")
            if rng.rand() < 0.3:  # second record on the same visual line
                recs.append(f"{300},{y:g},{size:g}|{_words(rng, rng.randint(1, 4))}")
            y += size * 1.2  # within-block gap < gap_factor*size
        y += size * 3.0      # between-block gap > gap_factor*size
    order = rng.permutation(len(recs))
    return "\n".join(recs[i] for i in order)


def _image_span_text(rng: np.random.RandomState, serial: str | None,
                     n_passes: int, early_stop_at: int | None) -> str:
    """Token stream with n_passes passes.  If ``serial`` is given, a corrupted
    form appears in every pass up to (and including) ``early_stop_at`` (high
    confidence there, lower before).  ``serial=None`` -> junk-only span."""
    passes = []
    for p in range(n_passes):
        toks = []
        for _ in range(rng.randint(1, 4)):  # junk tokens
            junk = "".join(rng.choice(list("QWERTYUIOPASDFGH")) for _ in range(rng.randint(2, 7)))
            toks.append(f"{junk}@{_conf(rng, 0.1, 0.6)}")
        if serial is not None:
            hit = early_stop_at is not None and p == early_stop_at
            lo, hi = (0.92, 0.99) if hit else (0.45, 0.80)
            noisy = corrupt_serial(serial, rng)
            # sometimes embed in an over-long token (sliding-window coverage)
            if rng.rand() < 0.3:
                noisy = "XX" + noisy + ("9" if rng.rand() < 0.5 else "")
            toks.append(f"{noisy}@{_conf(rng, lo, hi)}")
        if rng.rand() < 0.2:  # malformed token (dropped by the parser)
            toks.append("garbage-no-conf")
        order = rng.permutation(len(toks))
        passes.append(" ".join(toks[i] for i in order))
    return " | ".join(passes)


# --------------------------------------------------------------------------- #
# Corpus
# --------------------------------------------------------------------------- #

def make_corpus(n_docs: int, seed: int = 42, giant_docs: int = 0,
                giant_spans: int = 100_000) -> pd.DataFrame:
    """Deterministic corpus: ``(doc_id: str, spans: list[dict])``.

    Class mix 30/20/30/15/5 (FIXTURES.md §3); ``giant_docs`` appends
    multi-page-PDF analogs with ``giant_spans`` spans each (skew fixtures,
    FIXTURES.md §5) named ``doc_giant_{i}``.
    """
    rng = np.random.RandomState(seed)
    rows = []
    u = rng.rand(n_docs)  # class thresholds give the FIXTURES.md §3 mix
    for i in range(n_docs):
        doc_id = f"doc_{i:08d}"
        x = u[i]
        cls = ("A" if x < 0.30 else "B" if x < 0.50 else
               "C" if x < 0.80 else "D" if x < 0.95 else "E")
        spans = _make_doc(rng, doc_id, cls)
        rows.append((doc_id, spans))
    for gi in range(giant_docs):
        doc_id = f"doc_giant_{gi}"
        spans = []
        for k in range(giant_spans):
            spans.append({"kind": "pdf", "text": _pdf_span_text(rng, n_blocks=1),
                          "media_ref": None, "offset": k})
        rows.append((doc_id, spans))
    return pd.DataFrame(rows, columns=["doc_id", "spans"])


def _make_doc(rng: np.random.RandomState, doc_id: str, cls: str) -> list[dict]:
    def img(k: int, offset: int, serial=None, n_passes=2, early=None):
        return {"kind": "image",
                "text": _image_span_text(rng, serial, n_passes, early),
                "media_ref": f"media://{doc_id}/{k}", "offset": offset}

    if cls == "A":
        return [{"kind": "html", "text": _html_span_text(rng),
                 "media_ref": None, "offset": 0}]
    if cls == "B":
        return [{"kind": "pdf", "text": _pdf_span_text(rng),
                 "media_ref": None, "offset": 0}]
    if cls == "C":
        spans = []
        for k in range(rng.randint(1, 4)):
            serial = gen_serial(rng) if rng.rand() < 0.85 else None
            n_passes = int(rng.randint(1, 5))
            early = int(rng.randint(0, n_passes)) if (serial and rng.rand() < 0.6) else None
            spans.append(img(k, k, serial, n_passes, early))
        return spans
    if cls == "D":
        spans = []
        n = rng.randint(3, 13)
        kimg = 0
        for pos in range(n):
            r = rng.rand()
            if r < 0.3:
                spans.append({"kind": "text", "text": _words(rng, rng.randint(3, 15)),
                              "media_ref": None, "offset": pos})
            elif r < 0.55:
                spans.append({"kind": "html", "text": _html_span_text(rng),
                              "media_ref": None, "offset": pos})
            elif r < 0.8:
                serial = gen_serial(rng) if rng.rand() < 0.8 else None
                np_ = int(rng.randint(1, 4))
                early = int(rng.randint(0, np_)) if (serial and rng.rand() < 0.5) else None
                spans.append(img(kimg, pos, serial, np_, early))
                kimg += 1
            else:
                spans.append({"kind": "pdf", "text": _pdf_span_text(rng),
                              "media_ref": None, "offset": pos})
        return spans
    # E: edge docs
    r = rng.rand()
    if r < 0.25:
        return []
    if r < 0.5:
        return [{"kind": "text", "text": "", "media_ref": None, "offset": 0},
                {"kind": "text", "text": "   ", "media_ref": None, "offset": 1}]
    if r < 0.75:  # junk-only image span -> no ocr_text output (detection miss)
        return [{"kind": "image", "text": _image_span_text(rng, None, 2, None),
                 "media_ref": f"media://{doc_id}/0", "offset": 0}]
    # duplicate offsets — ties broken by array position
    return [{"kind": "text", "text": "alpha beta", "media_ref": None, "offset": 0},
            {"kind": "text", "text": "gamma delta", "media_ref": None, "offset": 0}]


# --------------------------------------------------------------------------- #
# Oracle: the single-process reference implementation
# --------------------------------------------------------------------------- #

def extract_docs_oracle(docs: pd.DataFrame,
                        cfg: ExtractConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Pure-pandas end-to-end extraction (the golden producer; the Spark
    pipeline must equal it exactly — SURVEY.md §7 step 1/3)."""
    extracted = extract_span_rows(explode_docs_pandas(docs), cfg)
    out = reassemble_pandas(extracted)
    # docs with no extracted spans still appear, with an empty array
    missing = docs.loc[~docs["doc_id"].isin(out["doc_id"]), ["doc_id"]].copy()
    missing["spans"] = [[] for _ in range(len(missing))]
    out = pd.concat([out, missing], ignore_index=True)
    return out.sort_values("doc_id", ignore_index=True)
