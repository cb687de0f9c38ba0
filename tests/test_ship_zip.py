"""The checked-in ship zip (``dist/apple_ocr_backend_spark.zip``, the
``spark-submit --py-files`` artifact) must be exactly the package sources:
rebuild it with the ``scripts/submit.sh`` recipe after any source change."""

from __future__ import annotations

import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_ship_zip_matches_sources():
    with zipfile.ZipFile(REPO / "dist" / "apple_ocr_backend_spark.zip") as z:
        shipped = {n: z.read(n) for n in z.namelist()}
    sources = {p.relative_to(REPO).as_posix(): p.read_bytes()
               for p in (REPO / "apple_ocr_backend_spark").rglob("*.py")}
    assert sorted(shipped) == sorted(sources)
    stale = sorted(n for n in sources if shipped[n] != sources[n])
    assert not stale, f"rebuild the ship zip; stale members: {stale}"
