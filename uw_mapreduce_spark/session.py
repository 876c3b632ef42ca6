"""SparkSession construction with scale-minded defaults.

Replaces the reference's entire cluster-provisioning surface
(`/root/reference/scripts/{download,configure,start}.sh`) — on Spark the
"cluster setup" is a builder call; everything else (HDFS, YARN heaps,
slaves files) has no equivalent worth rebuilding.
"""

from __future__ import annotations

import os
import re

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


# Size suffixes Spark accepts in a memory string such as
# ``spark.driver.memory``; a bare number means MiB.
_MEMORY_UNITS = {"": 1 << 20, "b": 1} | {
    u + b: 1 << (10 * i) for i, u in enumerate("kmgtp", start=1) for b in ("", "b")
}

# TaskMemoryManager.PAGE_TABLE_SIZE: the most pages one task can hold.
_PAGE_TABLE_SIZE = 8192


def _memory_bytes(memory: str) -> int:
    """Bytes in a memory string as Spark reads ``spark.driver.memory``."""
    m = re.fullmatch(r"(\d+)([a-z]*)", memory.strip().lower())
    if m is None or m.group(2) not in _MEMORY_UNITS:
        raise ValueError(f"not a memory size: {memory!r}")
    return int(m.group(1)) * _MEMORY_UNITS[m.group(2)]


def _page_size_bytes(heap: str) -> int:
    """The smallest power of two that is >= 1 MiB and >= heap / 8192."""
    need = -(-_memory_bytes(heap) // _PAGE_TABLE_SIZE)
    return max(1 << 20, 1 << (need - 1).bit_length())


def get_spark(
    app_name: str = "uw-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a session.

    Defaults follow the driver environment: ``local[$SPARK_GRAFT_CPUS]``
    (32 when unset) and max(cores, 8) shuffle partitions; at real cluster
    scale you would leave AQE to coalesce from a high initial count
    instead.  Local masters also get memory pages sized to the heap.
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
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()

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
        .config("spark.driver.memory", driver_memory)
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
    if master == "local" or master.startswith("local["):
        # Spark's default page is heap share / cores / 16, rounded up to a
        # power of two: 32 MiB on a 4g local[4] session.  The first record
        # of every sort, window buffer or hash map in a task takes one
        # page, whatever its data.  Use the smallest power of two >= 1 MiB
        # (Spark's own lower clamp) and >= heap / 8192: a task holds at
        # most 8192 pages (TaskMemoryManager's page table) and its
        # execution memory never exceeds the heap, so no task runs out of
        # page-table entries.  4g gives 1 MiB, 16g 2 MiB, 64g 8 MiB.  Only
        # in local mode is the driver heap the executor heap; elsewhere
        # the executors' heaps are unknown here and Spark's default
        # stays.  Static conf, so it is set on the builder, and a session
        # the engine is handed keeps its own value.
        builder = builder.config("spark.buffer.pageSize", str(_page_size_bytes(driver_memory)))
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
