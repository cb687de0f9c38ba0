"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline (interleaved docs
derived from the sf0.001 documents table -> ordered extracted spans).
``queries()``/``oracle_sql()`` expose the full operator catalog
(apple_ocr_backend_spark.plans.catalog): every SURVEY.md §2 operator family
plus the training-data ops (dedup incl. cluster resolution, ANN search
incl. constructed IVF cells, text analysis, multimodal plumbing).  Every
entry carries a DuckDB oracle — including the two end-to-end extraction
entries, whose oracle (plans/extract_oracle.py) is generated from the same
character maps the kernels use — EXCEPT the two sketch-tier siblings
(rolling_active_users_approx, length_quantiles_approx): cross-engine
approximate algorithms differ, so those take the rows-only driver check
and are error-bound-pinned against their exact twins at sf0.1 in
tests/test_training_ops.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: batch main-content extraction over interleaved text+media
    docs built from /root/testdata/sf0.001 (html strip + pdf layout parse +
    OCR serial recovery with per-span early stop, skew-aware salting)."""
    from apple_ocr_backend_spark.plans.catalog import _q_extract_fused
    return _q_extract_fused(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from apple_ocr_backend_spark.plans.catalog import queries as q
    return q()


def oracle_sql() -> dict[str, str]:
    from apple_ocr_backend_spark.plans.catalog import oracle_sql as o
    return o()
