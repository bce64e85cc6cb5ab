"""SparkSession factory tuned for the engine.

Local mode is a single JVM; on a real cluster the same configs apply,
with ``spark.sql.shuffle.partitions`` sized to ~2-3x total cores and AQE
coalescing down at runtime.

Python worker start-up: Spark puts ``pyspark.zip``, the py4j source zip
and the spark-core jar at the head of every Python worker's path, and
every task calls ``importlib.invalidate_caches()``, which on Python 3.11
makes each cached ``zipimporter`` re-read its archive's central directory
(pyspark.zip alone has 1,328 entries, the jar 5,359). Measured on 4 cores:
0.14-0.23 s of worker CPU per task, for a UDF body of ~2 ms; a 4-task
``mapInPandas`` write cost ~1.0 s of worker CPU. On local masters the
daemon is therefore ``apollon_spark._daemon``, which drops those archives
before pyspark is imported, so the forked workers use the installed
pyspark and py4j (the driver's own). On a ``SPARK_GRAFT_MASTER`` cluster
the engine's root reaches the workers only per task (``--py-files``), so
the daemon stays pyspark's default there.
"""
from __future__ import annotations

import os
import pathlib

from pyspark.sql import SparkSession

# Repo root — shipped via --py-files on a real cluster; in local mode the
# forked Python workers need it on PYTHONPATH to unpickle our UDFs.
_PKG_ROOT = str(pathlib.Path(__file__).resolve().parent.parent)

# One BLAS thread per Python worker: task-level parallelism comes
# from Spark; letting every worker spin up a full OpenBLAS/OMP
# thread pool oversubscribes the box and destroys scaling.
_WORKER_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
    # glibc tuning for the vectorized-UDF allocation pattern (large
    # short-lived numpy buffers every Arrow batch): without these,
    # every free() trims the heap and the next batch re-faults the
    # same pages — ~8 minor faults per segment, and the kernel
    # fault path contends badly at high worker counts (measured
    # 10x sys-time inflation at 32 workers, 67x fault reduction
    # with the thresholds set).
    "MALLOC_MMAP_THRESHOLD_": "268435456",
    "MALLOC_TRIM_THRESHOLD_": "536870912",
    "MALLOC_TOP_PAD_": "134217728",
    "MALLOC_ARENA_MAX": "2",
}


def _default_driver_memory() -> str:
    """Half of physical RAM in whole GiB, within [1g, 48g]: the other half
    is left to the Python workers, the JVM's off-heap memory and the OS."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(48, max(1, phys // 2 // 2 ** 30))}g"


def spark_conf(master: str, shuffle_partitions: int) -> dict[str, str]:
    """The engine's Spark conf for ``master`` (before ``extra_conf``)."""
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # big Arrow batches amortize the Python<->JVM boundary for the
        # pandas-UDF feature kernels (each batch = many whole docs)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM",
                                              _default_driver_memory()),
        "spark.ui.enabled": "false",
        # parquet scans: allow splitting large files across tasks
        "spark.sql.files.maxPartitionBytes": "134217728",
    }
    # on a real cluster the workers don't inherit the driver env
    for var, val in _WORKER_ENV.items():
        conf[f"spark.executorEnv.{var}"] = val
    # local workers fork from a daemon started with _PKG_ROOT on its path
    if master == "local" or master.startswith("local["):
        conf["spark.python.daemon.module"] = "apollon_spark._daemon"
    return conf


def get_spark(
    app_name: str = "apollon_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    Args:
        app_name: Spark application name.
        cpus: parallelism for local mode (int or "*" ). Defaults to
            ``$SPARK_GRAFT_CPUS`` or all cores.
        shuffle_partitions: defaults to max(2*cores, 32) locally. On a
            cluster this would be ~2-3x total executor cores; AQE
            coalesces small partitions at runtime either way.
        extra_conf: additional config overrides.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cores = os.cpu_count() or 8 if cpus in ("*", None) else int(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n_cores, 32)

    existing = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_PKG_ROOT}{os.pathsep}{existing}" if existing else _PKG_ROOT)

    for var, val in _WORKER_ENV.items():
        os.environ.setdefault(var, val)

    # SPARK_GRAFT_MASTER: run against a real cluster (e.g. a standalone
    # master URL) instead of in-process local mode. cpus then means the
    # TOTAL executor cores the job should assume for sizing.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = spark_conf(master, shuffle_partitions)
    conf.update(extra_conf or {})
    for key, val in conf.items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_compact(df, min_ratio: int = 1):
    """Round-robin repartition a DataFrame IF it has fewer partitions
    than ``min_ratio * defaultParallelism`` — the compact-input guard
    for CPU-heavy per-doc stages (EM, cdim, fused onsets): one small
    parquet file is ONE scan partition, which would serialize the
    whole stage into a single task. At real scale inputs carry at
    least cores-many partitions and this is a no-op, preserving the
    zero-shuffle plan."""
    par = df.sparkSession.sparkContext.defaultParallelism * min_ratio
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
