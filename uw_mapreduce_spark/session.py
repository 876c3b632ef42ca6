"""SparkSession construction with scale-minded defaults.

Replaces the reference's entire cluster-provisioning surface
(`/root/reference/scripts/{download,configure,start}.sh`) — on Spark the
"cluster setup" is a builder call; everything else (HDFS, YARN heaps,
slaves files) has no equivalent worth rebuilding.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs applied to any session we are handed (driver-owned or our
# own).  These are all dynamic SQL confs, safe to set post-creation.
RUNTIME_CONFS: dict[str, str] = {
    # The driver's events.parquet carries TIMESTAMP(NANOS) which Spark's
    # vectorized reader rejects; read as long (ns) and convert in the
    # loader (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Pin the session zone: driver data ships naive µs timestamps
    # (TIMESTAMP_NTZ); the engine normalizes them to TimestampType, and
    # under UTC that cast is wall-clock-identical, matching DuckDB's
    # naive TIMESTAMP for oracle comparison regardless of host zone.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    # At 100 TB these replace all of the reference's hand-tuned
    # partition-count knobs (-D my.reducers).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / mapInPandas path (similarity, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let Catalyst inject its own bloom runtime filters on shuffle joins
    # where one side is selective (complements operators/bloomjoin.py's
    # explicit map-only prune for the cases the optimizer can't see).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # File scans split at min(maxPartitionBytes, max(openCost, bytes /
    # cores)).  The 4 MB default open cost floors splits at 4 MB, so a
    # 4.4 MB text input read as 2 splits and scanned on 2 of 4 cores; at
    # 1 MiB every core gets a split from ~4 MB of input up.  There is no
    # per-read option: Spark 4.1's FilePartition.maxSplitBytes reads
    # session confs only.
    "spark.sql.files.openCostInBytes": str(1 << 20),
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply dynamic confs; call on every session before using the engine."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static on some builds — builder path sets it then.
            pass
    return spark


def _default_driver_memory() -> str:
    """1/8 of detected system memory in GiB, clamped to [4, 16]."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        total_gib = pages * page_size / (1 << 30)
    except (ValueError, OSError, AttributeError):
        total_gib = 64.0
    return f"{max(4, min(16, int(total_gib // 8)))}g"


def get_spark(
    app_name: str = "uw-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a session.

    Defaults follow the driver environment: ``local[$SPARK_GRAFT_CPUS]``
    (32 on the test box) and shuffle partitions sized to the core count —
    at real cluster scale you would leave AQE to coalesce from a high
    initial count instead.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*"))
        except (IndexError, ValueError):
            n = 32
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # In local mode the driver heap IS the executor heap for every
        # concurrent task; 8g split 32 ways OOMed the sf1 triangle-count
        # wedge join (round-7 sweep).  Size the default from the host
        # instead of baking in the 128 GiB test box (ADVICE r7): 1/8 of
        # system RAM, clamped to [4g, 16g]; SPARK_DRIVER_MEMORY overrides.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        # Spark: "Enable the DataFrame debugging. This feature is enabled
        # by default, but has a non-trivial performance overhead because
        # of the stack trace collection."  With it on, every PySpark
        # Column function walks the Python stack and makes extra py4j
        # calls to record its call site.  It is a static conf
        # (spark.conf.set raises CANNOT_MODIFY_STATIC_CONFIG), so it is
        # set here and not in RUNTIME_CONFS; a session the engine is
        # handed, or one that already exists, keeps its own value.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
