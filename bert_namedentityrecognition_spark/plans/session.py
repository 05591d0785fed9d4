"""SparkSession builder with scale-oriented defaults.

Local mode here, but every conf is chosen for the 1000-executor / 100 TB
deployment shape and is safe at both scales:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on, bounded batch size (the NER UDF streams batches; keeps peak
  Python-worker memory flat regardless of partition size)
- shuffle partitions sized to cores locally; on a cluster this is overridden
  by AQE's coalescing from a high initial value
- broadcast threshold raised: all our dimension tables (entity dictionaries)
  are deliberately broadcast-side
- generated-code cache raised from Spark's 100 classes: one KG pass
  generates 85–93, the cache is 4 LRU segments of 25, and a class's
  segment follows its key's hash, which includes the class loader's
  identity hash. So whether each warm pass recompiled identical code
  (Janino, then interpreted until the JIT caught up) changed from one
  process to the next.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "kg-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    # pin BLAS to one thread per python worker: task parallelism comes from
    # Spark, not from numpy spawning its own thread pool inside every worker
    # (unpinned BLAS oversubscribes the host and silently borrows cores
    # across tasks, which also corrupts scaling measurements)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.python.worker.reuse", "true")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
