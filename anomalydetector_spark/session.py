"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster; all sizing
knobs are expressed so the same code scales to 1000 executors:

* AQE on (runtime coalescing + skew-join splitting),
* shuffle partitions sized to parallelism, not the 200 default,
* Arrow enabled and batch-capped so pandas-UDF groups stream in bounded
  memory,
* UTC session timezone so window bucketing is deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MIB = 48 * 1024


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 40% of the
    host's ``MemTotal``, capped at 48g. A fixed 48g heap on a smaller
    host lets the JVM grow until the kernel OOM-kills it; 40% leaves
    room for the JVM's off-heap memory and the Python workers. Hosts
    without ``/proc/meminfo`` get the cap."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return f"{_MAX_DRIVER_MIB}m"
    return f"{max(1024, min(_MAX_DRIVER_MIB, kib * 4 // 10 // 1024))}m"


def get_spark(
    app_name: str = "anomalydetector_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` drives both ``local[N]`` and the default shuffle-partition
    count; on a real cluster, drop the ``master`` call and size
    ``spark.sql.shuffle.partitions`` to ~2-3× total executor cores.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cores, 8)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default-false out of cache-reuse conservatism; without it a
        # persisted aggregate keeps its full pre-AQE shuffle fan-out
        # (measured: the 621-row stat-series cache carried 128
        # partitions, and every downstream stage paid 128 tiny tasks —
        # enabling AQE repartitioning of cached plans coalesced it to 4
        # and cut the flagship's post-scan phases ~35%). Nothing in the
        # engine relies on a cached frame's physical partitioning.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # local-mode shuffle files go through spark.local.dir; the sandbox's
    # virtual disk throttles after sustained writes, so prefer tmpfs when
    # it exists (a real cluster uses its own local SSDs — this knob is
    # sandbox-only and overridable via SPARK_LOCAL_DIRS)
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        os.makedirs("/dev/shm/spark-local", exist_ok=True)
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
