"""apple_ocr_backend_spark — a from-scratch, PySpark-native batch extraction engine.

Re-expresses the computation of the reference serving backend
(``SERIAL-OCR/apple-ocr-backend``, read-only at ``/root/reference``) as a batch
main-content extraction pipeline over an Iceberg-style table of interleaved
text+media documents::

    docs(doc_id: string,
         spans: array<struct<kind: string, text: string,
                             media_ref: string, offset: int>>)

Subpackages
-----------
functions   vectorized pandas kernels + columnar builders (serial semantics,
            text analysis, similarity primitives)
operators   extraction operators (HTML strip, PDF layout, OCR recovery),
            span assembly, skew-aware repartitioning, dedup, ANN search
sources     deterministic corpus synthesizer, testdata loaders, snapshot-log
            table layer ("icelite") for checkpoint/resume
plans       end-to-end pipeline composition (one extraction plan: a single
            Arrow kernel pass with per-span OCR early stop; checkpoint
            commits) and the query/oracle catalog
streaming   Structured Streaming ingestion variant
worker      once-per-worker setup of a Spark Python worker (zip importers
            re-read an archive only when it changed on disk)

Nothing here is a port: the reference is a per-request FastAPI/OpenCV/EasyOCR
service; this repo is a declarative Spark DataFrame program whose only Python
hot paths are Arrow-vectorized pandas UDF stages.
"""

__version__ = "0.1.0"

from .worker import install_in_spark_task

# inside a Spark Python worker, stop each later task from re-reading every
# zip archive on sys.path (see worker.py); a no-op in the driver
install_in_spark_task()
