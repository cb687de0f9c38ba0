"""S10: serial-list source with fuzzy header matching.

Re-expression of the reference's Excel serial loader
(``/root/reference/generate_image.py:56-98``): pick the serial column from a
spreadsheet whose header is messy (e.g. ``'Serial N0.'``), then keep the
12-char values uppercased.  Semantics preserved exactly:

1. headers are normalized (lower, ``o``→``0``, strip non-alnum);
2. first pass: exact normalized match against the requested column;
3. second pass: requested-name substring OR any header containing
   ``'serial'``;
4. value rows: skip empties, ``strip().upper()``, keep ``len == 12`` only.

The xlsx branch reads through the vendored stdlib OOXML reader
(``xlsx_lite.py``); the CSV branch implements identical semantics over the
same tabular shape.  Loaded serials
become a Spark DataFrame via ``to_spark`` (driver-side list — the reference
analog is a small golden list, never bulk data)."""

from __future__ import annotations

import csv


def _norm_col(s: str) -> str:
    """Lower, O→0 confusion fold, strip non-alnum (generate_image.py:50-53)."""
    s = s.lower().replace("o", "0")
    return "".join(ch for ch in s if ch.isalnum())


def _pick_header(headers: list, column: str) -> int:
    want = _norm_col(column)
    for i, h in enumerate(headers):  # pass 1: exact normalized match
        if h is not None and _norm_col(str(h)) == want:
            return i
    for i, h in enumerate(headers):  # pass 2: substring / 'serial' fallback
        if h is None:
            continue
        if want in _norm_col(str(h)) or "serial" in str(h).lower():
            return i
    raise ValueError(f"Column '{column}' not found in header: {headers}")


def _filter_values(raw: list) -> list[str]:
    out = []
    for v in raw:
        if v is None:
            continue
        s = str(v).strip().upper()
        if len(s) == 12:
            out.append(s)
    return out


def load_serials_from_xlsx(path: str, column: str = "serial") -> list[str]:
    """Excel branch: the first sheet, read by the vendored stdlib OOXML
    reader (``xlsx_lite.read_xlsx``), with the CSV branch's header-matching
    and value semantics (reference guard: generate_image.py:57-58)."""
    from .xlsx_lite import read_xlsx
    sheets = read_xlsx(path)
    if not sheets:
        raise ValueError(f"workbook {path} has no sheets")
    headers, rows = next(iter(sheets.values()))
    idx = _pick_header(list(headers), column)
    return _filter_values([r[idx] if idx < len(r) else None for r in rows])


def load_serials_from_csv(path: str, column: str = "serial") -> list[str]:
    """CSV fallback with identical header-matching + value semantics."""
    with open(path, newline="") as f:
        reader = csv.reader(f)
        headers = next(reader, [])
        idx = _pick_header(headers, column)
        return _filter_values([row[idx] if idx < len(row) else None
                               for row in reader])


def load_serials(path: str, column: str = "serial") -> list[str]:
    """Dispatch on extension: ``.xlsx``/``.xlsm`` read as a workbook,
    anything else as CSV."""
    if path.lower().endswith((".xlsx", ".xlsm")):
        return load_serials_from_xlsx(path, column)
    return load_serials_from_csv(path, column)


def to_spark(spark, serials: list[str]):
    """Small golden list -> DataFrame (broadcast-join side)."""
    return spark.createDataFrame([(s,) for s in serials], "serial string")
