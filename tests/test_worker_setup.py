"""The once-per-worker zip-import setup (``apple_ocr_backend_spark.worker``):
on CPython < 3.13 a ``zipimporter`` re-reads its archive only when the
archive changed on disk; on 3.13+ the class is left alone; inside Spark a
reused Python worker's ``importlib.invalidate_caches()`` reads no archive,
and the driver keeps the stdlib method.  Each case runs in a fresh
interpreter, so no patch leaks into this process."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

_CONTRACT = r"""
import importlib, io, os, sys, zipfile, zipimport

archive = sys.argv[1]


def write_zip(modules, in_place=False, mtime_ns=None):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name in ["__init__", *modules]:
            z.writestr(f"zpkg/{name}.py", f"NAME = {name!r}\n")
    if in_place:  # same inode
        with open(archive, "r+b") as f:
            f.write(buf.getvalue())
            f.truncate()
    else:  # a new inode, as a re-shipped zip gets
        with open(archive + ".tmp", "wb") as f:
            f.write(buf.getvalue())
        os.replace(archive + ".tmp", archive)
    if mtime_ns is not None:
        os.utime(archive, ns=(mtime_ns, mtime_ns))
    return os.stat(archive)


def reread_and_import(name):
    importlib.invalidate_caches()
    if sys.version_info < (3, 13):
        assert len(reads) == 2, (name, reads)  # each importer re-reads
    del reads[:]
    assert importlib.import_module(f"zpkg.{name}").NAME == name


write_zip(["old"])
sys.path.insert(0, archive)
import zpkg.old
importers = [v for v in sys.path_importer_cache.values()
             if isinstance(v, zipimport.zipimporter) and v.archive == archive]
assert len(importers) == 2, importers  # the zip root and zpkg/

reads = []
read_directory = zipimport._read_directory


def counting(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)


zipimport._read_directory = counting
stdlib = zipimport.zipimporter.invalidate_caches

from apple_ocr_backend_spark.worker import install_keyed_zip_invalidation

installed = install_keyed_zip_invalidation()
if sys.version_info >= (3, 13):
    assert not installed
    assert zipimport.zipimporter.invalidate_caches is stdlib
else:
    assert installed and not install_keyed_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches.stdlib_original is stdlib
    importlib.invalidate_caches()  # no key recorded yet: each importer reads
    assert len(reads) == 2, reads
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [], reads  # unchanged archive: nothing re-read

st = write_zip(["old", "new"])  # larger, new inode
reread_and_import("new")
st2 = write_zip(["old", "two"], mtime_ns=st.st_mtime_ns)
assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
reread_and_import("two")  # only the inode changed
st3 = write_zip(["old", "six"], in_place=True,
                mtime_ns=st2.st_mtime_ns + 10**9)
assert (st3.st_ino, st3.st_size) == (st2.st_ino, st2.st_size)
reread_and_import("six")  # only the mtime changed
st4 = write_zip(["old", "six", "ten"], in_place=True,
                mtime_ns=st3.st_mtime_ns)  # a coarse-mtime filesystem
assert (st4.st_ino, st4.st_mtime_ns) == (st3.st_ino, st3.st_mtime_ns)
reread_and_import("ten")  # only the size changed
print("ok", sys.version_info[:2])
"""


def _python313() -> str | None:
    """A working CPython 3.13+ interpreter on PATH, if any (a version
    manager's shim may exist without one behind it)."""
    exe = shutil.which("python3.13")
    if exe is None:
        return None
    p = subprocess.run([exe, "-c", "import sys; "
                        "assert sys.version_info >= (3, 13)"],
                       capture_output=True)
    return exe if p.returncode == 0 else None


def _interpreters() -> list:
    exe = _python313()
    return [pytest.param(sys.executable, id="current"),
            pytest.param(exe, id="python3.13", marks=pytest.mark.skipif(
                exe is None, reason="no working python3.13"))]


@pytest.mark.parametrize("python", _interpreters())
def test_zip_importer_rereads_only_a_changed_archive(python, tmp_path):
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    p = subprocess.run([python, "-c", _CONTRACT, str(tmp_path / "z.zip")],
                       cwd=tmp_path, env=env, capture_output=True, text=True)
    assert p.returncode == 0, p.stderr
    assert p.stdout.startswith("ok")


_IN_SPARK = r"""
import zipimport

stdlib = zipimport.zipimporter.invalidate_caches

from apple_ocr_backend_spark.plans.pipeline import extract_docs
from apple_ocr_backend_spark.session import get_spark
from apple_ocr_backend_spark.sources.corpus import (
    docs_spark_schema, make_corpus)


def probe(batches):
    import importlib, os
    import pyarrow as pa
    for _ in batches:
        pass
    installed = hasattr(zipimport.zipimporter.invalidate_caches,
                        "stdlib_original")
    reads, read_directory = [], zipimport._read_directory
    zipimport._read_directory = lambda p: (reads.append(p),
                                           read_directory(p))[1]
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    yield pa.RecordBatch.from_pylist([{"pid": os.getpid(),
                                       "installed": installed,
                                       "reads": len(reads)}])


spark = get_spark(app_name="worker_setup", master="local[2]",
                  shuffle_partitions=2)
docs = spark.createDataFrame(make_corpus(60, seed=3),
                             schema=docs_spark_schema())
for _ in range(2):
    extract_docs(docs).write.format("noop").mode("overwrite").save()
rows = (spark.range(2, numPartitions=2)
        .mapInArrow(probe, "pid long, installed boolean, reads long")
        .collect())
spark.stop()
assert len(rows) == 2, rows
assert all(r.installed and r.reads == 0 for r in rows), rows
assert zipimport.zipimporter.invalidate_caches is stdlib
print("ok", rows)
"""


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13+ importers invalidate lazily; no install")
def test_reused_spark_worker_reads_no_archive(tmp_path):
    p = subprocess.run([sys.executable, "-c", _IN_SPARK], cwd=REPO,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    assert p.stdout.startswith("ok")
