"""Report/export sinks — the reference's S6 (Excel), S9 (eval CSV+JSON) and
A5 (export summary) re-expressed Spark-first.

All heavy lifting (filters, aggregation) runs in Spark; only presentation
happens driver-side, mirroring the reference's split where
``generate_excel`` styles rows that SQLite already filtered
(``app/services/export.py:11-238``).  The eval-report shape matches
``app/services/eval.py:78-125,160-181``: one CSV row per document plus a
JSON summary sidecar.  Excel goes through the vendored stdlib OOXML
writer (``xlsx_lite.py``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F


def export_filters(df: DataFrame, date_col: str | None = None,
                   date_from: str | None = None, date_to: str | None = None,
                   **equals) -> DataFrame:
    """F7-style export filtering (date range + dimension equality).

    ``equals`` maps column -> required value; None values are ignored —
    the reference's optional query params (``app/routers/serials.py:379-403``).
    """
    if date_col and date_from:
        df = df.filter(F.col(date_col) >= F.lit(date_from))
    if date_col and date_to:
        # end-of-day clamp, reference serials.py:390-394
        df = df.filter(F.col(date_col) <= F.lit(f"{date_to} 23:59:59"))
    for col, val in equals.items():
        if val is not None:
            df = df.filter(F.col(col) == F.lit(val))
    return df


def summary_stats(df: DataFrame, value_col: str,
                  group_col: str | None = None) -> DataFrame:
    """A5 export summary: count + min/max/avg of a value column, optionally
    per group (``app/services/export.py:146-177``)."""
    aggs = [F.count("*").alias("n"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
            F.avg(value_col).alias("avg_v")]
    if group_col:
        return df.groupBy(group_col).agg(*aggs).orderBy(group_col)
    return df.agg(*aggs)


def write_eval_report(rows: DataFrame, out_dir: str,
                      match_col: str = "match") -> dict:
    """S9 eval sinks: per-row CSV + JSON summary (eval.py:78-181 shape).

    ``rows`` must carry a boolean ``match_col``; everything else is written
    through.  The CSV is written by Spark (distributed, one part per
    partition — at 100 TB you never funnel rows through the driver);
    the summary aggregates in Spark and lands as one driver-side JSON.
    """
    os.makedirs(out_dir, exist_ok=True)
    rows.write.mode("overwrite").option("header", True).csv(
        os.path.join(out_dir, "rows_csv"))
    agg = rows.agg(
        F.count("*").alias("total"),
        F.sum(F.col(match_col).cast("int")).alias("hits"),
        F.floor(F.sum(F.col(match_col).cast("int")) / F.count("*") * 10000)
        .cast("long").alias("hit_rate_bp")).collect()[0]
    summary = {"total": agg["total"], "hits": int(agg["hits"] or 0),
               "hit_rate_bp": int(agg["hit_rate_bp"] or 0)}
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f)
    return summary


def workbook_frames(df: DataFrame, value_col: str | None = None,
                    group_col: str | None = None,
                    filters: dict | None = None,
                    max_rows: int = 100_000) -> dict:
    """The reference's 3-sheet workbook CONTENT (app/services/export.py:
    11-238: data sheet, summary sheet, export-info metadata sheet), computed
    Spark-side and materialized as small pandas frames for presentation.

    Separated from the styling/writer so the sheet semantics are testable
    without a workbook.  ``max_rows`` guards the driver materialization —
    Spark must have already filtered/aggregated (this is presentation, not a
    data path)."""
    import pandas as pd
    data = df.limit(max_rows).toPandas()
    if value_col:
        summary = summary_stats(df, value_col, group_col).toPandas()
    else:
        summary = df.agg(F.count("*").alias("n")).toPandas()
    meta_rows = [("record_count", str(len(data))),
                 ("columns", ", ".join(data.columns))]
    for k, v in (filters or {}).items():
        meta_rows.append((f"filter:{k}", str(v)))
    metadata = pd.DataFrame(meta_rows, columns=["field", "value"])
    return {"data": data, "summary": summary, "metadata": metadata}


def _frames_to_sheets(frames: dict) -> dict:
    """pandas frames -> the (header, rows) shape xlsx_lite writes; NaN cells
    become blanks, numpy scalars become plain Python values."""
    sheets = {}
    for name, pdf in frames.items():
        rows = []
        for rec in pdf.itertuples(index=False):
            rows.append([None if v is None or
                         (isinstance(v, float) and v != v)
                         else (v.item() if hasattr(v, "item") else v)
                         for v in rec])
        sheets[name] = ([str(c) for c in pdf.columns], rows)
    return sheets


def generate_excel(df: DataFrame, path: str, max_rows: int = 100_000,
                   value_col: str | None = None,
                   group_col: str | None = None,
                   filters: dict | None = None) -> str:
    """S6 Excel sink: the reference's 3-sheet styled workbook (data, summary,
    export-info metadata — ``app/services/export.py:11-238``) with bold
    filled header rows and auto-sized columns, written by the vendored
    stdlib OOXML writer (``sources/xlsx_lite.py``)."""
    from .xlsx_lite import write_xlsx
    frames = workbook_frames(df, value_col, group_col, filters, max_rows)
    return write_xlsx(path, _frames_to_sheets(frames))
