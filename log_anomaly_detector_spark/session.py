"""SparkSession factory tuned for the validation workload.

Local mode is a single JVM; on a real cluster the same config block applies
unchanged except ``master`` (spark-submit supplies it). AQE is on so skewed
shuffles re-plan at runtime; Arrow is on for the vectorized UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM in whole GiB (floor ``1g``): room for the driver
    heap on any host, with the other half left to the Python workers and the
    OS page cache."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(ram // 2**31, 1)}g"


def get_spark(
    app_name: str = "log_anomaly_detector_spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` default: ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    cores this process may run on, ``os.sched_getaffinity``).
    ``spark.sql.shuffle.partitions``: the local core count — the 200 default
    over-parallelizes small local runs and under-parallelizes big ones.
    ``spark.driver.memory``: ``$SPARK_DRIVER_MEMORY``, else half of physical
    RAM (it only takes effect when this call starts the JVM).
    """
    # cap BLAS threading in the Python workers BEFORE the JVM (and therefore
    # the workers) inherit this environment: task-level parallelism already
    # uses every core, and 32 workers × an N-thread GEMM pool oversubscribes
    # the box exactly when the Arrow kernels go hot. Workers import numpy
    # fresh, so the env caps them; setdefault keeps a caller's explicit
    # sizing. (Driver-side numpy may already be loaded — its tiny dim-sized
    # math doesn't care.)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    # local[N] / local[N,F] / local-cluster[N,C,M] → N; local[*,F], bare
    # local or a cluster URL → cpu hint
    inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    first = inner.split(",")[0]
    shuffle_partitions = cpus if first in ("", "*") else int(first)

    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # idempotent per-partition rewrite (the engine's upsert analogue):
        # only partitions present in the written DataFrame are replaced.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def quiesce(spark: SparkSession) -> None:
    """Wait (at most 30 s) for stray async jobs before ``spark.stop()``.

    AQE submits broadcast-stage futures speculatively during planning; when
    the final plan goes another way, the abandoned future keeps running for a
    few seconds after the action returns. Stopping the session mid-task kills
    its Python workers and spews 'Python worker exited unexpectedly (crashed)'
    ERRORs into CLI output — harmless, but indistinguishable from a real
    crash to a reader. CLIs call this between the last action and stop().
    """
    import time

    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 30.0
    while time.time() < deadline:
        if not tracker.getActiveJobsIds():
            return
        time.sleep(0.2)
