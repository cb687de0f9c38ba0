"""SparkSession factory with scale-oriented defaults.

Tuned for correctness-vs-DuckDB comparison (UTC session TZ) and for the
local[{8,32}] scaling-evidence protocol (BASELINE.md).  On a real cluster the
same builder applies — only master/memory change; AQE handles runtime skew
re-planning, and Arrow is the mandatory UDF transport (north_rule: no per-row
Python).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "apple_ocr_backend_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    n_shuffle = shuffle_partitions or int(os.environ.get(
        "SPARK_SHUFFLE_PARTITIONS", cores if str(cores).isdigit() else 32))
    b = (SparkSession.builder
         .master(master)
         .appName(app_name)
         .config("spark.sql.shuffle.partitions", str(n_shuffle))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # extraction workloads are compute-heavy per byte: the 64 MB default
         # advisory size coalesces payload shuffles down to a handful of fat
         # partitions and strangles reduce-side parallelism
         .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # 8192 rows/batch: the per-batch kernel fixed costs (pandas frame
         # assembly, group machinery) amortize 4x vs the old 2048 for a
         # measured ~22% kernel-stage win, while worker peak RSS on the
         # giant-doc probe grows only 133->142 MB (BENCH.md "Arrow batch
         # size sweep") — still batch-bounded, nowhere near the 343 MB
         # whole-partition footprint the streaming kernel exists to avoid
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
         # ... and at most 1 MiB per batch, so a one-wave kernel partition
         # (operators.skew.repartition_salted) still streams as bounded
         # batches.  extract_mixed at local[4], one wave (perfbench, median
         # of 2 runs, worker peak RSS / docs/s; 4 waves read 135 MB):
         # 512 KiB 138 MB / 2,224; 768 KiB 140 MB / 2,544; 1 MiB 145 MB /
         # 2,876; no cap 149 MB / 3,434 (+10 % RSS, over the bench bound)
         .config("spark.sql.execution.arrow.maxBytesPerBatch", str(1 << 20))
         .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
         .config("spark.ui.enabled", "false")
         .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
