"""Once-per-worker setup for Spark's Python workers.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py::setup_spark_files``).  On CPython < 3.13 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory (``zipimport.py``: ``invalidate_caches`` calls
``_read_directory``).  A worker that has run the extraction kernel holds 16:
12 over ``pyspark.zip`` (1,328 entries), 2 over py4j's source zip and 2 over
the spark-core jar (5,359 entries), all on the worker's ``PYTHONPATH`` —
0.3-0.4 s per kernel task on a 4-vCPU host.  CPython 3.13 made the call
lazy: it drops the cache and re-reads only on the next lookup.

``install_keyed_zip_invalidation`` gives 3.11/3.12 importers the same
economy: an importer re-reads its archive only when the archive's
``(st_ino, st_mtime_ns, st_size)`` differs from the key it last read under.
The package ``__init__`` installs it when imported inside a Spark task, so
a worker's first task installs it and its later tasks skip the re-reads;
the driver process is never patched.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install_keyed_zip_invalidation() -> bool:
    """Patch ``zipimport.zipimporter.invalidate_caches`` (CPython < 3.13,
    once per process).  Returns whether this call installed it."""
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(original, "stdlib_original"):
        return False

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_read_key", None):
            original(self)
            self._read_key = key

    invalidate_caches.stdlib_original = original
    cls.invalidate_caches = invalidate_caches
    return True


def install_in_spark_task() -> None:
    """Install the keyed invalidation when running inside a Spark task."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        install_keyed_zip_invalidation()
