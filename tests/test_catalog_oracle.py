"""Mirror of the driver's correctness gate: run every catalog query on Spark
AND its DuckDB oracle on the same parquet, compare row count + column names +
order-insensitive values.  Runs at sf0.001 locally (the driver uses sf0.01).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from apple_ocr_backend_spark.plans.catalog import catalog

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].map(lambda x: None if x is None or
                              (isinstance(x, float) and math.isnan(x))
                              else round(float(x), 9))
        else:
            try:
                df[c] = df[c].astype("Int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return (df.sort_values(list(df.columns), ignore_index=True,
                           na_position="last"))


ORACLE_NAMES = sorted(n for n, e in catalog().items() if e["oracle"])
ROWS_ONLY = sorted(n for n, e in catalog().items() if not e["oracle"])


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    entry = catalog()[name]
    got = entry["spark"](spark, SF).toPandas()
    want = ddb.execute(entry["oracle"]).df()
    assert sorted(got.columns) == sorted(want.columns), \
        f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    g, w = _canon(got), _canon(want)
    if not g.equals(w):
        diff = pd.concat([g, w]).drop_duplicates(keep=False)
        raise AssertionError(f"{name}: value mismatch, e.g.\n{diff.head(10)}")


@pytest.mark.parametrize("name", ROWS_ONLY or ["__all_entries_have_oracles__"])
def test_rows_only_queries_run(spark, name):
    # an empty ROWS_ONLY list used to surface as a skipped empty-parameter
    # test; assert the good state explicitly instead
    if name == "__all_entries_have_oracles__":
        assert ROWS_ONLY == []
        return
    got = catalog()[name]["spark"](spark, SF)
    assert got.count() > 0
    assert len(got.columns) > 0


def test_entry_smoke(spark):
    import sys
    from pathlib import Path
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as E
    df = E.entry(spark)
    assert df.count() > 0
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 25


def test_extract_oracle_corpus_assumptions(ddb):
    """The flagship oracle's html/pdf closed forms assume documents.text
    carries no markup or newlines (true of the driver's generator); if the
    testdata ever changes shape, fail HERE with a clear message instead of
    a hash mismatch."""
    bad = ddb.execute(
        r"SELECT COUNT(*) FROM documents "
        r"WHERE regexp_matches(text, '[<>\n\r]')").fetchone()[0]
    assert bad == 0, (
        "documents.text now contains markup/newlines — the closed-form "
        "extract oracle (plans/extract_oracle.py html/pdf sections) no "
        "longer models the kernels for this corpus")
    # the multimodal oracles compare md5 over Spark's UTF-8 BYTES against
    # DuckDB CHARACTER substrings — identical only for ASCII text
    non_ascii = ddb.execute(
        r"SELECT COUNT(*) FROM documents "
        r"WHERE regexp_matches(text, '[^\x20-\x7e]')").fetchone()[0]
    assert non_ascii == 0, (
        "documents.text now contains non-ASCII — byte and char offsets "
        "desynchronize the multimodal_{signature,frames,resize} oracles")
