"""SparkSession construction with scale-appropriate defaults.

Single place where engine-wide configuration lives so tests, bench, and
the driver entry point all run the same way.  Settings chosen for the
100 TB design target (AQE on, skew handling on, Arrow on) while staying
correct on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of physical memory the default driver heap may take: the rest is
# for the Python workers (one per core under pandas UDFs), the driver's
# own Python process and the OS page cache the local dirs lean on.
_HEAP_SHARE = 0.4


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` for the local JVM.

    ``$SPARK_GRAFT_DRIVER_MEM`` wins when set.  Otherwise the heap is
    sized from ``MemTotal`` in ``meminfo``: ``_HEAP_SHARE`` of it, at
    least 1 GiB and at most 16 GiB.  Where ``meminfo`` cannot be read
    (not Linux) the default stays 16g.  A local[N] JVM with a 16g
    ceiling on a 15 GiB host grows its heap instead of collecting and
    can take the whole machine."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    try:
        with open(meminfo) as fh:
            total_kb = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError, IndexError):
        return "16g"
    heap_mb = int(total_kb * _HEAP_SHARE) // 1024
    return f"{max(1024, min(heap_mb, 16 * 1024))}m"


def get_spark(
    app_name: str = "kinesis-handler-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    ``shuffle_partitions`` defaults to the core count — on a real cluster
    this would be sized to total cores × 2-3; AQE coalesces down anyway.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or 32)
    shuffle = str(shuffle_partitions or max(int(cpus), 8))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # local[N] = ONE JVM doing driver + executor work; the 1g
        # default heap OOMs under cached micro-batches at bench scale;
        # driver_memory() sizes it to the host.  Honored only at JVM
        # launch (first session in the process).
        .config("spark.driver.memory", driver_memory())
        # AQE: runtime re-plan — broadcast conversion, partition coalescing,
        # skew-join splitting.  Non-negotiable at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle)
        # Deterministic wall-clock-independent timestamp semantics.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas-UDF path (the only sanctioned Python hot path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Parquet TIMESTAMP(NANOS) (events.ts) is unreadable natively;
        # read as long and convert in tables.table (micros truncation
        # matches DuckDB's ns→us behavior).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Reliable checkpoints (functions/lineage.truncate) are only
        # written when a checkpoint dir is configured; when one is, let
        # the ContextCleaner delete checkpoint data once the frame is
        # GC'd — otherwise every truncation in an iterative loop
        # (components ~25 rounds, pagerank, BPE merges) leaks
        # O(rounds × frame size) of durable storage.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Quieter driver logs.
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def cluster_conf(
    *,
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """Recommended conf overrides for a REAL cluster run (the 100 TB
    design point), as data so deploy tooling can merge them into any
    submit path.  ``get_spark`` stays local-mode; this is the documented
    bridge to the target environment.

    Sizing rationale (SCALE.md "Storage layout"):

    * shuffle partitions = 2× total cores — enough tasks to keep every
      core busy through stragglers, small enough that per-partition
      shuffle state stays >100 MB at 100 TB; AQE coalesces down when a
      stage's output is small, and the advisory size keeps post-AQE
      partitions near the target.
    * ``maxPartitionBytes`` fixes scan-task input at the target size so
      100 TB maps to ~800k scan tasks — bounded scheduler pressure,
      spill-free per-task memory at 4 GB/core heaps.
    * Kryo + zstd: smaller shuffle/broadcast payloads; at cluster scale
      network dominates, trading CPU for bytes wins.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": (
            f"{target_partition_mb}m"
        ),
        "spark.sql.files.maxPartitionBytes": f"{target_partition_mb}m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        # runtime bloom-filter semi-join reduction (tests/test_runtime_filter.py)
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # lineage.truncate uses reliable checkpoint() when a checkpoint
        # dir is set; without this, Spark never deletes checkpoint data
        # and iterative operators leak O(rounds × frame) HDFS/S3 bytes.
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        "spark.shuffle.service.enabled": "true",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
    }
