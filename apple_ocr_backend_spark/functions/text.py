"""Text-analysis column builders — pure JVM expressions (no Python).

Large-scale training-data pipeline primitives over a ``text`` column:
language ID (stopword-ratio heuristic), quality scoring, token counting,
document fingerprinting.  Every builder returns a Column; the matching
DuckDB oracle SQL lives in ``plans/catalog.py`` using the same formulas with
the same quantization, so results hash-match across engines.

Determinism idiom: any float that is compared or output is quantized with
``floor(x * SCALE)`` — floor of an identically-computed double is
bit-deterministic in both engines (no round-half ambiguity, no sum-order
dependence because sums are over integers).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

# Per-language stopword tables for the multi-language ID (argmax of
# stopword ratios).  Deliberately small, high-frequency function words —
# the n-gram-free heuristic a 100 TB first-pass language router uses
# before anything model-based; shared literally with the DuckDB oracle.
STOPWORDS = {
    "en": EN_STOPWORDS,
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
           "zu", "den"),
    "fr": ("le", "les", "et", "est", "une", "des", "du", "dans",
           "pour", "vous"),
    "es": ("el", "los", "las", "es", "una", "por", "con", "para",
           "del", "como"),
}


def tokens(text: Column) -> Column:
    return F.split(F.trim(F.regexp_replace(text, r"\s+", " ")), " ")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# BPE-ish subword proxy: letter chunks capped at 4 chars, single digits,
# single punctuation marks — a deterministic stand-in for a real BPE
# tokenizer's piece count (the ratio ws_tokens/bpe_tokens is the usual
# fertility signal for training-data budgeting).  Same regex semantics in
# Spark (java.util.regex) and DuckDB (RE2): alternation is leftmost-first,
# {1,4} is greedy.
BPE_ISH_PATTERN = r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Subword-piece count under the BPE-ish pattern.  (Spark's
    regexp_extract_all extracts a capture group, so the whole pattern is
    wrapped in one; DuckDB's returns full matches either way.)"""
    return F.size(
        F.regexp_extract_all(text, F.lit(f"({BPE_ISH_PATTERN})"), 1))


def stopword_ratio_q(text: Column, scale: int = 1_000_000) -> Column:
    """floor(stopword_tokens / tokens * scale) as bigint."""
    toks = tokens(text)
    stop = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.floor(stop / F.size(toks) * scale).cast("long")


def lang_id(text: Column) -> Column:
    """'en' when >= 5% of tokens are English stopwords, else 'unk' —
    an n-gram/stopword heuristic language detector."""
    return F.when(stopword_ratio_q(text) >= 50_000, F.lit("en")).otherwise("unk")


def quality_score_q(text: Column, scale: int = 1_000_000) -> Column:
    """Composite document-quality score in [0, 1] * scale (long):
    0.5*min(tokens/50,1) + 0.3*distinct_ratio + 0.2*alpha_ratio."""
    toks = tokens(text)
    n = F.size(toks)
    len_part = F.least(n / F.lit(50.0), F.lit(1.0)) * 0.5
    distinct_part = (F.size(F.array_distinct(toks)) / n) * 0.3
    alpha_part = (F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
                  / F.greatest(F.length(text), F.lit(1))) * 0.2
    return F.floor((len_part + distinct_part + alpha_part) * scale).cast("long")


def fingerprint(text: Column, n: int = 8, max_chars: int = 4096) -> Column:
    """Document fingerprint: lexicographic-min md5 over n-char rolling
    shingles (a 1-permutation minhash / winnowing-lite signature).
    md5 is the only hash shared bit-exactly with DuckDB.

    ``max_chars`` bounds the sweep to the document prefix: the per-char
    shingle expansion is O(len) hashes/doc, which a multi-MB document would
    turn into millions of md5s for one signature — the prefix keeps the cost
    constant per doc while staying deterministic (same idiom as content-
    defined sampling in large-corpus fingerprinting).

    The lambda captures only the raw ``text`` column (an attribute read is
    free per element); bounding the POSITION RANGE replaces the earlier
    ``substring(text, 1, max_chars)`` capture, which — like any computed
    expression captured in a higher-order-function lambda — was re-evaluated
    per element (see ``word_shingles``).  The last window position is
    ``min(len, max_chars) - (n-1)`` so no window reads past the prefix —
    byte-identical to shingling the materialized prefix (and to the DuckDB
    oracle, which shingles ``substring(text, 1, max_chars)``)."""
    bound = F.greatest(
        F.least(F.length(text), F.lit(max_chars)) - (n - 1), F.lit(1))
    return F.array_min(
        F.transform(F.sequence(F.lit(1), bound),
                    lambda i: F.md5(F.substring(text, i, F.lit(n)))))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of n-word shingles.

    Built by zipping n-1 shifted copies of the token array, NOT by indexing
    the array from inside a ``transform`` lambda: an expression captured in
    a higher-order-function lambda is re-evaluated PER ELEMENT by both the
    interpreted and codegen paths, so the earlier
    ``transform(sequence(...), i -> concat_ws(slice(toks, i, n)))`` shape
    re-ran the whole tokenization (a regex pass over the full text) once
    per token per document — O(tokens) regex passes/doc, the single largest
    cost in every MinHash/Jaccard operator built on this function.  The zip
    shape references ``toks`` a constant number of times per row.

    ``zip_with`` pads the shorter side with nulls and ``concat_ws`` skips
    them, so the trailing partial windows come out right and the final
    slice truncates to exactly ``max(size - n + 1, 1)`` shingles —
    identical output to the old shape, including short-doc edge cases.
    """
    toks = tokens(text)
    sh = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1,
                          F.greatest(F.size(toks) - j, F.lit(0)))
        sh = F.zip_with(sh, shifted,
                        lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(sh, 1, F.greatest(F.size(toks) - (n - 1), F.lit(1)))


# --------------------------------------------------------------------------- #
# Repetition signals (Gopher-style quality rules) and PII masking
# --------------------------------------------------------------------------- #

def _max_multiplicity(arr: Column) -> Column:
    """Count of the most frequent element = longest run of equal adjacent
    elements in the SORTED array: one O(n log n) sort + one linear fold.
    The naive ``transform(array_distinct(arr), t -> size(filter(arr, ...)))``
    shape is O(distinct x n) AND re-evaluates the captured ``arr``
    expression per distinct element (the higher-order-function capture
    trap, see ``word_shingles``) — on token arrays that meant re-running
    the tokenization regex thousands of times per document."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(F.lit(0).alias("best"), F.lit(0).alias("run"),
                 F.lit(None).cast("string").alias("prev")),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(acc["prev"].isNotNull() & (acc["prev"] == x),
                       acc["run"] + 1).otherwise(F.lit(1))).alias("best"),
            F.when(acc["prev"].isNotNull() & (acc["prev"] == x),
                   acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            x.alias("prev")),
        lambda acc: acc["best"])


def top_token_frac_q(text: Column, scale: int = 1_000_000,
                     max_tokens: int = 4096) -> Column:
    """Fraction of tokens taken by the single most frequent token —
    the Gopher-style repetition signal (a page that is one token over and
    over scores ~scale).  Sorted-run-length mode count: no explode, no
    shuffle, no UDF, O(n log n) per doc.  The sweep is bounded to the
    first ``max_tokens`` tokens (same prefix idiom as ``fingerprint``):
    a multi-MB repetition page still scores ~scale on its prefix, and
    cost per doc stays constant at corpus scale."""
    toks = F.slice(tokens(text), 1, max_tokens)
    return F.floor(_max_multiplicity(toks) / F.size(toks) * scale) \
        .cast("long")


def bigrams(text: Column, max_tokens: int = 4096) -> Column:
    """Array of adjacent token bigrams ("a b") over the first
    ``max_tokens`` tokens — a single unpaired token yields itself.
    Zip-of-shifted-copies shape (see ``word_shingles`` for why not a
    transform-lambda over positions)."""
    toks = F.slice(tokens(text), 1, max_tokens)
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    zipped = F.zip_with(toks, shifted,
                        lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(zipped, 1, F.greatest(F.size(toks) - 1, F.lit(1)))


def top_bigram_frac_q(text: Column, scale: int = 1_000_000,
                      max_tokens: int = 4096) -> Column:
    """Fraction of bigram occurrences taken by the most frequent bigram
    (catches two-token loops that the unigram signal dilutes); same
    prefix bound and sorted-run-length mode as ``top_token_frac_q``."""
    bg = bigrams(text, max_tokens)
    return F.floor(_max_multiplicity(bg) / F.size(bg) * scale).cast("long")


# PII patterns — kept inside the syntax subset where java.util.regex and
# RE2 (DuckDB) agree: no backrefs, no lookaround, explicit classes.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def mask_pii(text: Column) -> Column:
    """Replace email- and phone-shaped spans with fixed tags.  Emails are
    masked first so a phone-like digit run inside an address cannot
    double-fire.  Pure regexp_replace — streams through codegen, no UDF."""
    no_mail = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(no_mail, PHONE_PATTERN, "<PHONE>")


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found in the text — the audit-side output a
    redaction job reports per partition/day."""
    n_mail = F.size(F.regexp_extract_all(text, F.lit(f"({EMAIL_PATTERN})"), 1))
    no_mail = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    n_phone = F.size(
        F.regexp_extract_all(no_mail, F.lit(f"({PHONE_PATTERN})"), 1))
    return n_mail, n_phone
