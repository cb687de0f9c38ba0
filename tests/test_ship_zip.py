"""The ship zip (``dist/apple_ocr_backend_spark.zip``, the ``spark-submit
--py-files`` artifact ``scripts/submit.sh`` builds before every submit) must
carry a working package: built with the same recipe into a temp dir and
imported from nowhere else, its extraction kernel gives the in-tree
kernel's span rows on one Arrow batch."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import numpy as np
import pyarrow as pa

from apple_ocr_backend_spark.config import DEFAULT_CONFIG
from apple_ocr_backend_spark.operators.assemble import (explode_docs_pandas,
                                                       extract_span_rows)
from apple_ocr_backend_spark.plans.pipeline import _mono_partial_kernel
from apple_ocr_backend_spark.sources.corpus import make_corpus

REPO = Path(__file__).resolve().parents[1]

_RUN_SHIPPED = """
import sys
import pyarrow as pa
from apple_ocr_backend_spark.config import DEFAULT_CONFIG
from apple_ocr_backend_spark.plans import pipeline
assert pipeline.__file__.startswith(sys.argv[1]), pipeline.__file__
batch = pa.ipc.open_file(sys.argv[2]).get_batch(0)
out = list(pipeline._mono_partial_kernel(DEFAULT_CONFIG.as_dict())(iter([batch])))
with pa.ipc.new_file(sys.argv[3], out[0].schema) as w:
    for b in out:
        w.write_batch(b)
"""


def _span_batch() -> pa.RecordBatch:
    rows = explode_docs_pandas(make_corpus(40, seed=5))
    rows["salt"] = 0
    rows = rows.astype({"salt": np.int32, "span_pos": np.int32,
                        "offset": np.int32})
    return pa.RecordBatch.from_pandas(
        rows[["doc_id", "salt", "span_pos", "offset", "kind", "media_ref",
              "text"]], preserve_index=False)


def test_ship_zip_matches_sources(tmp_path):
    zip_path = tmp_path / "dist" / "apple_ocr_backend_spark.zip"
    zip_path.parent.mkdir()
    subprocess.run(f"find apple_ocr_backend_spark -name '*.py' | zip -q "
                   f"'{zip_path}' -@", shell=True, cwd=REPO, check=True)
    with zipfile.ZipFile(zip_path) as z:
        shipped = sorted(z.namelist())
    assert shipped == sorted(
        p.relative_to(REPO).as_posix()
        for p in (REPO / "apple_ocr_backend_spark").rglob("*.py"))

    batch = _span_batch()
    with pa.ipc.new_file(tmp_path / "in.arrow", batch.schema) as w:
        w.write_batch(batch)
    work = tmp_path / "cwd"
    work.mkdir()
    env = {**os.environ, "PYTHONPATH": str(zip_path)}
    subprocess.run([sys.executable, "-c", _RUN_SHIPPED, str(zip_path),
                    str(tmp_path / "in.arrow"), str(tmp_path / "out.arrow")],
                   cwd=work, env=env, check=True)
    shipped_out = pa.ipc.open_file(tmp_path / "out.arrow").read_all()

    kernel = _mono_partial_kernel(DEFAULT_CONFIG.as_dict())
    in_tree = pa.Table.from_batches(list(kernel(iter([batch]))))
    extracted = extract_span_rows(batch.to_pandas(), DEFAULT_CONFIG)
    docs = set(batch.column("doc_id").to_pylist())
    assert in_tree.num_rows == len(extracted) + len(docs)
    assert in_tree.column("span").null_count == len(docs)
    assert shipped_out.equals(in_tree)
