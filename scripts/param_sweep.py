#!/usr/bin/env python
"""Parameter-sweep orchestration: grid x corpus accuracy matrix.

Re-expression of ``/root/reference/scripts/param_sweep.py:77-240`` (grid via
``itertools.product`` over param lists, per-combination accuracy against a
golden label set, best-cell selection) and the param-cache write
(``app/services/param_cache.py:30-52``).

Spark-first shape: the GRID loop stays on the driver (a handful of cells,
exactly like the reference's outer loop), but each cell's evaluation is one
fully distributed job — extraction pipeline + broadcast golden join + one
aggregation; no per-image driver loop anywhere.  Per-cell metrics follow
``app/services/eval.py:160-177``: total / detected / top-1 hits / any-candidate
hits, rates in basis points (integer — the cents idiom).

Usage::

    python scripts/param_sweep.py [sf_dir]   # default /root/testdata/sf0.001
"""

from __future__ import annotations

import itertools
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from apple_ocr_backend_spark.config import ExtractConfig  # noqa: E402
from apple_ocr_backend_spark.plans.pipeline import extract_docs  # noqa: E402


def evaluate_cell(docs: DataFrame, golden: DataFrame,
                  cfg: ExtractConfig) -> dict:
    """One grid cell: distributed extraction + golden match aggregation.

    ``golden`` is (doc_id, serial).  Returns total / detected / top-1 and
    any-candidate hit counts + basis-point rates (eval.py:160-177 shape).
    """
    ocr = (extract_docs(docs, cfg)
           .select("doc_id", F.explode("spans").alias("s"))
           .filter(F.col("s.kind") == "ocr_text")
           .select("doc_id", F.col("s.order").alias("ord"),
                   F.col("s.text").alias("cand")))
    per_doc = (golden.join(ocr, "doc_id", "left")
               .groupBy("doc_id", "serial")
               .agg(F.max(F.col("cand").isNotNull().cast("int"))
                    .alias("detected"),
                    F.coalesce(
                        F.max((F.col("cand") == F.col("serial")).cast("int")),
                        F.lit(0)).alias("any_hit"),
                    (F.min_by("cand", "ord") == F.col("serial"))
                    .cast("int").alias("top1_hit")))
    row = (per_doc.agg(
        F.count("*").alias("total"),
        F.sum("detected").alias("detected"),
        F.sum(F.coalesce(F.col("top1_hit"), F.lit(0))).alias("top1_hits"),
        F.sum("any_hit").alias("any_hits"))
        .collect()[0])
    total = row["total"] or 1
    return {
        "total": int(row["total"]), "detected": int(row["detected"] or 0),
        "top1_hits": int(row["top1_hits"] or 0),
        "any_hits": int(row["any_hits"] or 0),
        "top1_acc_bp": int(row["top1_hits"] or 0) * 10_000 // total,
        "any_acc_bp": int(row["any_hits"] or 0) * 10_000 // total,
    }


def sweep(spark: SparkSession, docs: DataFrame, golden: DataFrame,
          grid: dict[str, list], base: ExtractConfig | None = None
          ) -> list[dict]:
    """Full grid sweep.  Returns one result dict per cell, ranked by
    (top1_acc_bp desc, cell_id asc) — the reference's best-params selection
    (param_sweep.py:196-205) with a deterministic tie-break."""
    base_kwargs = (base or ExtractConfig()).as_dict()
    names = list(grid.keys())
    docs = docs.persist()
    results = []
    for cell_id, combo in enumerate(itertools.product(*grid.values())):
        params = dict(zip(names, combo))
        cfg = ExtractConfig(**{**base_kwargs, **params})
        results.append({"cell_id": cell_id, **params,
                        **evaluate_cell(docs, golden, cfg)})
    docs.unpersist()
    return sorted(results,
                  key=lambda r: (-r["top1_acc_bp"], r["cell_id"]))


_METRIC_KEYS = ("cell_id", "total", "detected", "top1_hits", "any_hits",
                "top1_acc_bp", "any_acc_bp")


def save_best_params(results: list[dict], path: str, preset: str = "sweep",
                     now: float | None = None) -> dict:
    """Param-cache write with full reference-parity metadata
    (app/services/param_cache.py:30-52: preset/params/accuracy/timestamp/
    date) plus this engine's integer extras (accuracy_bp, cell_id).
    ``now`` is injectable for deterministic output; the payload also lands
    at the explicit ``path`` for single-file callers."""
    from apple_ocr_backend_spark.sources import param_cache as PC
    best = results[0]
    params = {k: v for k, v in best.items() if k not in _METRIC_KEYS}
    cache_dir = os.path.dirname(os.path.abspath(path)) or "."
    payload = PC.save_best_params(
        cache_dir, preset, params,
        accuracy=best["top1_acc_bp"] / 10_000, now=now,
        extra={"accuracy_bp": best["top1_acc_bp"],
               "cell_id": best["cell_id"]})
    if os.path.abspath(path) != PC.cache_path(cache_dir, preset):
        # copy, don't move: the canonical preset-cache file must keep
        # existing so load_best_params/get_best_params still resolve the
        # preset after an explicit-path save (round-3 advice finding)
        import shutil
        shutil.copyfile(PC.cache_path(cache_dir, preset), path)
    return payload


def main() -> None:
    from apple_ocr_backend_spark.session import get_spark
    from apple_ocr_backend_spark.sources.derived import (docs_from_documents,
                                                         serial_expr)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    docs = docs_from_documents(spark, sf_dir)
    golden = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .select(F.format_string("doc_%08d", F.col("doc_id"))
                      .alias("doc_id"),
                      serial_expr(F.col("doc_id")).alias("serial")))
    grid = {"min_confidence": [0.30, 0.60, 0.97],
            "early_stop_confidence": [0.90, 0.50]}
    results = sweep(spark, docs, golden, grid)
    best = save_best_params(results, os.path.join(REPO, "best_params.json"))
    print(json.dumps({"cells": results, "best": best}))
    spark.stop()


if __name__ == "__main__":
    main()
