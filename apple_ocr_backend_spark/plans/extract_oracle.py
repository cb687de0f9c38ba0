"""DuckDB oracle SQL for the flagship extraction pipeline.

The driver-path corpus (`sources.derived.docs_from_documents`) is closed-form:
every span of every document is a deterministic JVM expression over
``documents(doc_id, text)``.  That makes the end-to-end extraction result
SQL-expressible, so the flagship entry (`extract_pipeline_fused`) gets a real
machine-checked oracle instead of a rows-only check:

* **html span** — the corpus wraps ``text`` in one ``<p>`` block inside
  boilerplate ``<nav>``/``<footer>`` zones; the kernel
  (`operators.html_extract`) strips zones and emits the whitespace-normalized
  block iff it has >= ``html_min_words`` words (link ratio and tag density are
  0 because ``documents.text`` contains no markup — asserted by the parity
  test).
* **pdf span** — three fixed-position lines at y=100/112/160 with font size
  10: gap 12 <= 1.8*10 merges the first two lines into block 1, gap 48 starts
  block 2 (`operators.pdf_extract` clustering closed form).
* **image span** — a 2-pass token stream ``noisy@0.55 JU NK@0.20 | noisy@0.95``
  where ``noisy = translate(serial, '0125', 'OIZS')``.  Pass 1's best shaped
  quality is <= 0.7338 < early_stop_confidence 0.90, so both passes always
  execute; pass 2's shaped quality is exactly 1.0 for every valid variant.
  The candidate chain (charset projection, confidence shaping, position-aware
  ambiguity expansion, extended validation, quality filter, A1
  normalize-group ranking, A2 cross-pass merge — `operators.ocr_extract`,
  `functions.serials`) is replayed below with the SAME character maps: the SQL
  is *generated from* ``AMBIGUOUS_MAP`` / ``POSITION_RULES``, so the two
  sides cannot drift.

Cross-engine exactness (the catalog "cents idiom" conventions):

* all float literals are cast to DOUBLE (DuckDB would otherwise do DECIMAL
  arithmetic) and multiplied in the exact order of the numpy kernels, so
  every confidence double is bit-identical;
* the A1 score sums ``round(q*1e9)`` integers; every reachable ``q*1e9`` is
  verified to be >1e-7 away from a rounding tie, so DuckDB's ``round``
  (half-away) and numpy/Spark's half-even agree (see
  ``tests/test_extract_oracle.py``);
* every window ordering carries a unique tie-break (``seq`` is the
  lexicographic variant rank — the same total order the pandas kernels pin).

Reference semantics being checked end-to-end: progressive multi-pass OCR with
early stop (``ocr_adapter_improved.py:939-1307,1432-1456``), A1
(``:1458-1469``), A2 (``:1310-1343``), validation
(``app/utils/validation.py:119-214``) — over the interleaved-doc layout of
BASELINE.json's input_hint.
"""

from __future__ import annotations

from ..functions.serials import AMBIGUOUS_MAP, POSITION_RULES, _POS_MAPS
from ..sources.derived import SERIAL_SQL


def _case_map(var: str, mapping: dict[str, str], else_expr: str) -> str:
    """CASE <var> WHEN 'k' THEN 'v' ... ELSE <else_expr> END."""
    if not mapping:
        return else_expr
    whens = " ".join(f"WHEN '{k}' THEN '{v}'"
                     for k, v in sorted(mapping.items()))
    return f"CASE {var} {whens} ELSE {else_expr} END"


def _char(src: str, i0: int) -> str:
    return f"substring({src}, {i0 + 1}, 1)"


def _posmap_expr(src: str) -> str:
    """Expansion phase-2 position pass: apply POSITION_RULES at each index,
    identity elsewhere (functions.serials._expand_one, position_variants)."""
    parts = [_case_map(_char(src, i), _POS_MAPS[i], _char(src, i))
             for i in range(12)]
    return "(" + " || ".join(parts) + ")"


def _norm_expr(src: str) -> str:
    """normalize_ambiguous(position_aware=True): per index, position rule
    first, general AMBIGUOUS_MAP fallback, identity else."""
    parts = []
    for i in range(12):
        general = _case_map(_char(src, i), AMBIGUOUS_MAP, _char(src, i))
        parts.append(_case_map(_char(src, i), _POS_MAPS[i], general))
    return "(" + " || ".join(parts) + ")"


def _free_chars_literal() -> str:
    """Per 1-based position, the chars the phase-1 general expansion may
    substitute there: in AMBIGUOUS_MAP and WITHOUT a position rule at that
    index (those are deferred to the position pass — _expand_one's skip)."""
    per_pos = []
    for i in range(12):
        chars = sorted(ch for ch in AMBIGUOUS_MAP
                       if i not in POSITION_RULES.get(ch, {}))
        per_pos.append("[" + ",".join(f"'{c}'" for c in chars) + "]")
    return "[" + ",".join(per_pos) + "]"


_GENERAL_FROM = "".join(sorted(AMBIGUOUS_MAP))
_GENERAL_TO = "".join(AMBIGUOUS_MAP[c] for c in sorted(AMBIGUOUS_MAP))

# validation constants (functions.serials, app/utils/validation.py:33-75)
_K1 = "'C','F','G','M','P','V','W','X','Y'"
_K2 = "'DM','DN','FK','G8','QP','RN','RM','SG','VM','YM'"
_K3 = "'C07','C17','C1M','C2V','F4N','F5K','FC7','G8V','QT4'"
_COMMON = "'C','F','G','D','M','P','V','W','X','Y'"
_DISALLOWED = "OIZSBQGDT"


def _html_pdf_ctes(html_min_words: int) -> str:
    """html_rows + pdf_rows CTEs (over ``src``) — shared by the token-stream
    and pixels oracles: the non-image branches are identical by design."""
    return f"""\
-- ======================= html span (offset 0) ============================ --
html_rows AS (
  SELECT doc_id, 0 AS off, 0 AS sp, 0 AS rnk, 'main_text' AS kind,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS text,
         CAST(NULL AS VARCHAR) AS media_ref
  FROM src
  WHERE len(regexp_extract_all(trim(regexp_replace(text, '\\s+', ' ', 'g')),
                               '\\S+')) >= {html_min_words}
),
-- ======================= pdf span (offset 1) ============================= --
pdf_rows AS (
  SELECT doc_id, 1 AS off, 1 AS sp, 0 AS rnk, 'main_text' AS kind,
         substring(text, 1, 60) || chr(10) || substring(text, 61, 60) AS text,
         CAST(NULL AS VARCHAR) AS media_ref
  FROM src
  UNION ALL
  SELECT doc_id, 1, 1, 1, 'main_text', substring(text, 121, 60),
         CAST(NULL AS VARCHAR)
  FROM src
)"""


def pixels_oracle_sql(html_min_words: int = 5) -> str:
    """Oracle for ``extract_pipeline_pixels``: html/pdf identical to the
    token-stream oracle; the image span resolves to exactly ONE ocr_text row
    — the md5-derived serial itself — because the pixel recognizer reads the
    rendered plate back exactly (no ambiguity expansion: the glyph font has
    no confusable pairs by construction, tests/test_glyph_ocr.py).  DuckDB
    recomputes the serial analytically; Spark must recover it from the PNG
    payloads in the media store."""
    return f"""
WITH src AS (
  SELECT printf('doc_%08d', doc_id) AS doc_id, text,
         {SERIAL_SQL.format(id='doc_id')} AS serial
  FROM documents
),
{_html_pdf_ctes(html_min_words)},
ocr_rows AS (
  SELECT doc_id, 2 AS off, 2 AS sp, 0 AS rnk, 'ocr_text' AS kind,
         serial AS text, 'media://' || doc_id || '/0' AS media_ref
  FROM src
),
allrows AS (
  SELECT * FROM html_rows
  UNION ALL SELECT * FROM pdf_rows
  UNION ALL SELECT * FROM ocr_rows
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY off ASC, sp ASC, rnk ASC) - 1
            AS INTEGER) AS ord,
       kind, text, media_ref
FROM allrows
"""


def extract_oracle_sql(html_min_words: int = 5,
                       early_stop_confidence: float = 0.90) -> str:
    """The full flagship oracle.  Output columns match `_flatten`:
    (doc_id, ord, kind, text, media_ref)."""
    free_chars = _free_chars_literal()

    # variant string for one (noisy, mask): substitute the masked subset of
    # free positions with the general-map digit, keep the rest
    v1_expr = f"""array_to_string([
      CASE WHEN list_contains(free, i)
                AND ((mask >> (list_position(free, i) - 1)) & 1) = 1
           THEN translate(substring(noisy, i, 1),
                          '{_GENERAL_FROM}', '{_GENERAL_TO}')
           ELSE substring(noisy, i, 1) END
      FOR i IN range(1, 13)], '')"""

    # shaped pass-1 token confidence (shape_confidence on the 12-char clean
    # token, conf 0.55): c*1.1 (len>=10), then *1.05 iff >=8 distinct chars
    enh1 = ("LEAST(CASE WHEN dcn >= 8"
            " THEN (CAST(0.55 AS DOUBLE) * CAST(1.1 AS DOUBLE))"
            " * CAST(1.05 AS DOUBLE)"
            " ELSE CAST(0.55 AS DOUBLE) * CAST(1.1 AS DOUBLE) END,"
            " CAST(1.0 AS DOUBLE))")
    # quality_score(variant, enh1): *1.1 (12 alnum), *0.95 iff [IOSZ],
    # *1.05 iff >=8 distinct — multiplied in exactly that order
    q1 = f"""LEAST(
      CASE WHEN dc >= 8 THEN
        CASE WHEN hc
          THEN (((enh1) * CAST(1.1 AS DOUBLE)) * CAST(0.95 AS DOUBLE)) * CAST(1.05 AS DOUBLE)
          ELSE ((enh1) * CAST(1.1 AS DOUBLE)) * CAST(1.05 AS DOUBLE) END
      ELSE
        CASE WHEN hc
          THEN ((enh1) * CAST(1.1 AS DOUBLE)) * CAST(0.95 AS DOUBLE)
          ELSE (enh1) * CAST(1.1 AS DOUBLE) END
      END, CAST(1.0 AS DOUBLE))"""

    confus = ("length(v) - length(regexp_replace(v, '[" + _DISALLOWED
              + "]', '', 'g'))")

    return f"""
WITH src AS (
  SELECT printf('doc_%08d', doc_id) AS doc_id, text,
         {SERIAL_SQL.format(id='doc_id')} AS serial
  FROM documents
),
docs AS (
  SELECT doc_id, text, translate(serial, '0125', 'OIZS') AS noisy FROM src
),
{_html_pdf_ctes(html_min_words)},
-- ======================= image span (offset 2) =========================== --
meta AS (
  SELECT doc_id, noisy,
         [i FOR i IN range(1, 13)
            IF list_contains(({free_chars})[CAST(i AS INT)],
                             substring(noisy, i, 1))] AS free,
         len(list_distinct([substring(noisy, i, 1)
                            FOR i IN range(1, 13)])) AS dcn
  FROM docs
),
masks AS (
  SELECT doc_id, noisy, free, dcn, unnest(range(0, 1 << len(free))) AS mask
  FROM meta
),
v1 AS (
  SELECT doc_id, dcn, {v1_expr} AS v FROM masks
),
expanded AS (
  SELECT DISTINCT doc_id, dcn, v FROM (
    SELECT doc_id, dcn, v FROM v1
    UNION ALL
    SELECT doc_id, dcn, {_posmap_expr('v')} AS v FROM v1
  )
),
-- extended validation (validation.py:147-214): basic 12-alnum holds by
-- construction; known-prefix OR <=2 position errors; confusable budget;
-- last-4-digit
valid AS (
  SELECT doc_id, dcn, v,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY v ASC) - 1 AS seq,
         {_norm_expr('v')} AS norm,
         len(list_distinct([substring(v, i, 1) FOR i IN range(1, 13)])) AS dc,
         regexp_matches(v, '[IOSZ]') AS hc
  FROM expanded
  WHERE (substring(v,1,1) IN ({_K1}) OR substring(v,1,2) IN ({_K2})
         OR substring(v,1,3) IN ({_K3})
         OR ((CASE WHEN substring(v,1,1) NOT IN ({_COMMON}) THEN 1 ELSE 0 END)
             + (CASE WHEN NOT regexp_matches(substring(v,1,1), '^[A-Z]$')
                     THEN 1 ELSE 0 END)
             + (CASE WHEN NOT regexp_matches(substring(v,2,1), '^[0-9]$')
                     THEN 1 ELSE 0 END)) <= 2)
    AND {confus} <= 3
    AND regexp_matches(substring(v, 9, 4), '[0-9]')
),
cand1 AS (
  SELECT doc_id, v, seq, norm, dc, hc, {enh1} AS enh1 FROM valid
),
cand1q AS (
  SELECT doc_id, v, seq, norm, {q1} AS q1 FROM cand1
),
-- A1 pass 1 (quality-shaped confidences < 0.7338: never early-stops)
a1p1 AS (
  SELECT doc_id, norm, SUM(CAST(round(q1 * 1e9) AS BIGINT)) AS score,
         MIN(seq) AS fseq
  FROM cand1q GROUP BY doc_id, norm
),
rep1 AS (
  SELECT doc_id, norm, v AS serial, q1 AS conf FROM (
    SELECT doc_id, norm, v, q1,
           ROW_NUMBER() OVER (PARTITION BY doc_id, norm
                              ORDER BY q1 DESC, seq ASC) AS rn
    FROM cand1q) WHERE rn = 1
),
p1 AS (
  SELECT a.doc_id, r.serial, r.conf,
         ROW_NUMBER() OVER (PARTITION BY a.doc_id
                            ORDER BY a.score DESC, a.fseq ASC) - 1 AS rnk
  FROM a1p1 a JOIN rep1 r ON a.doc_id = r.doc_id AND a.norm = r.norm
),
-- A1 pass 2 (every valid variant shaped+quality-capped to exactly 1.0)
a1p2 AS (
  SELECT doc_id, norm, 1000000000 * COUNT(*) AS score, MIN(seq) AS fseq
  FROM valid GROUP BY doc_id, norm
),
rep2 AS (
  SELECT doc_id, norm, v AS serial FROM (
    SELECT doc_id, norm, v,
           ROW_NUMBER() OVER (PARTITION BY doc_id, norm
                              ORDER BY seq ASC) AS rn
    FROM valid) WHERE rn = 1
),
p2 AS (
  SELECT a.doc_id, r.serial, CAST(1.0 AS DOUBLE) AS conf,
         ROW_NUMBER() OVER (PARTITION BY a.doc_id
                            ORDER BY a.score DESC, a.fseq ASC) - 1 AS rnk
  FROM a1p2 a JOIN rep2 r ON a.doc_id = r.doc_id AND a.norm = r.norm
),
-- A2 cross-pass sequential merge (closed form, merge_passes)
a2in AS (
  SELECT doc_id, 0 AS pass, rnk, serial, conf FROM p1
  UNION ALL
  SELECT doc_id, 1 AS pass, rnk, serial, conf FROM p2
),
a2seq AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY pass ASC, rnk ASC) AS seq2
  FROM a2in
),
a2grp AS (
  SELECT *, COUNT(*) OVER (PARTITION BY doc_id, serial) AS n,
         ROW_NUMBER() OVER (PARTITION BY doc_id, serial ORDER BY seq2) AS j,
         MIN(seq2) OVER (PARTITION BY doc_id, serial) AS fseq2
  FROM a2seq
),
a2contrib AS (
  SELECT doc_id, serial, fseq2,
         CASE WHEN j = 1
              THEN conf + CAST(0.05 AS DOUBLE) * (n - 1)
              ELSE conf + CAST(0.05 AS DOUBLE) * (n - j + 1) END AS contrib
  FROM a2grp
),
a2merged AS (
  SELECT doc_id, serial, MIN(fseq2) AS fseq2,
         LEAST(CAST(1.0 AS DOUBLE), MAX(contrib)) AS conf2
  FROM a2contrib GROUP BY doc_id, serial
),
ocr_rows AS (
  SELECT doc_id, 2 AS off, 2 AS sp,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY conf2 DESC, fseq2 ASC) - 1 AS rnk,
         'ocr_text' AS kind, serial AS text,
         'media://' || doc_id || '/0' AS media_ref
  FROM a2merged
),
-- ================== ordered reassembly (array_sort analog) =============== --
allrows AS (
  SELECT * FROM html_rows
  UNION ALL SELECT * FROM pdf_rows
  UNION ALL SELECT * FROM ocr_rows
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY off ASC, sp ASC, rnk ASC) - 1
            AS INTEGER) AS ord,
       kind, text, media_ref
FROM allrows
"""
