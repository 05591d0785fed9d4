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
- one BLAS environment for the driver and every Python worker
  (:func:`worker_blas_env`): BLAS pinned to one thread, since task
  parallelism comes from Spark, and ``OPENBLAS_CORETYPE`` derived from the
  CPU flags, since OpenBLAS 0.3.23 falls back to its SSE3 ``Prescott``
  kernels on CPUs it does not recognise by model (AVX-512 hosts that
  report only "Intel(R) Xeon(R) Processor"). The NER forward is mostly
  GEMM, so the kernel choice sets the model stage's speed. OpenBLAS reads
  the variable once, when numpy loads: Python workers start after the
  session and get it; a driver that imported numpy (pyarrow imports it)
  before the session keeps the kernels it loaded with.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# (flags the CPU must have, OpenBLAS core type), first match wins. SkylakeX
# also on CPUs with avx512_bf16: on an AVX-512 Xeon, OpenBLAS's Cooperlake
# kernels ran a 12-layer/768-hidden forward at 382 tokens/s per core,
# SkylakeX's at 472.
_CORETYPE_RULES = (
    (("avx512f", "avx512bw", "avx512vl"), "SkylakeX"),
    (("avx2", "fma"), "Haswell"),
)
_CPUINFO = "/proc/cpuinfo"
_BLAS_THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def _cpu_flags() -> frozenset[str]:
    """The ``flags`` line of the first CPU in ``/proc/cpuinfo``; empty where
    there is none (non-Linux, non-x86)."""
    try:
        with open(_CPUINFO) as f:
            for line in f:
                if line.startswith("flags"):
                    return frozenset(line.partition(":")[2].split())
    except OSError:
        pass
    return frozenset()


def worker_blas_env() -> dict[str, str]:
    """The BLAS environment every Python worker (and the driver) runs with.

    ``OMP_NUM_THREADS``, ``OPENBLAS_NUM_THREADS`` and ``MKL_NUM_THREADS``
    are ``1``: one BLAS thread per worker, since a numpy thread pool in
    every worker oversubscribes the host. ``OPENBLAS_CORETYPE`` is
    ``SkylakeX`` on AVX-512 (f/bw/vl) CPUs, ``Haswell`` on AVX2+FMA ones,
    and absent otherwise, so OpenBLAS autodetects as before. Callers let a
    value the deployment already set win."""
    env = dict.fromkeys(_BLAS_THREAD_VARS, "1")
    flags = _cpu_flags()
    for needs, core in _CORETYPE_RULES:
        if flags.issuperset(needs):
            env["OPENBLAS_CORETYPE"] = core
            break
    return env


def _launch_conf() -> dict[str, str]:
    """Confs the spark-submit launch holds (``--conf``, spark-defaults):
    under spark-submit the JVM starts before this driver does. A plain
    ``python`` driver has no launch conf yet."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()  # connects to the launch's JVM
    return dict(SparkConf().getAll())


def with_worker_blas_env(builder: SparkSession.Builder) -> SparkSession.Builder:
    """``builder`` plus :func:`worker_blas_env` as ``spark.executorEnv.*``
    confs: :func:`build_session` and the spark-submit entry points that
    configure their own session. A value already set wins: a launch
    ``--conf spark.executorEnv.X=...`` (a builder conf would replace it) or
    ``X`` in the environment."""
    launched = _launch_conf()
    for key, val in worker_blas_env().items():
        conf = f"spark.executorEnv.{key}"
        if conf not in launched:
            builder = builder.config(conf, os.environ.get(key, val))
    return builder


def build_session(
    app_name: str = "kg-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """A local session with the scale defaults above. The BLAS environment
    (:func:`worker_blas_env`) goes to this process's environment, where a
    value already set wins, and the resulting values go to the Python
    workers (:func:`with_worker_blas_env`); ``extra_conf`` is applied last
    and wins over both. ``getOrCreate`` returns a context that already
    exists unchanged: its workers keep the environment it was started with."""
    # unpinned BLAS oversubscribes the host and silently borrows cores
    # across tasks, which also corrupts scaling measurements
    for key, val in worker_blas_env().items():
        os.environ.setdefault(key, val)
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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    builder = with_worker_blas_env(builder)
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
