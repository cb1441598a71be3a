"""SparkSession construction tuned for this engine.

Local-mode testing uses ``local[N]``; the same config scales to a real
cluster because nothing here is local-only: AQE, Arrow, explicit shuffle
partitioning and UTC session time are cluster best practices too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_heap() -> str:
    """A quarter of physical RAM, clamped to 1-8 GB. A heap cap above
    physical RAM lets the driver heap grow until the kernel OOM-kills the
    JVM (seen mid test suite on a 15 GB machine)."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(8192, max(1024, ram_mb // 4))}m"


def get_spark(
    app_name: str = "dcs_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the core count — at cluster scale
    this would be ~2-3x total executor cores; the point is the same:
    never leave the 200 default in place.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # smaller splits than the 128m default: local-scale inputs are a
        # few GB and the kernel runs on scan partitions — keep every core
        # fed. On a real 100 TB cluster the default is fine.
        .config("spark.sql.files.maxPartitionBytes", "32m")
    )
    # Single-box fidelity: on a real cluster every executor has its own
    # local disk, so shuffle/spill I/O scales with the node count. On this
    # one machine the lone disk would serialize all 32 threads — put
    # shuffle/spill on tmpfs (the moral equivalent of per-node NVMe).
    if os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
