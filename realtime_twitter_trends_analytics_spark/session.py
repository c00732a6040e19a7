"""SparkSession factory.

The reference hand-configures a fixed local session (KafkaSparkProcessor.scala:31-38:
local[6], 5g executor memory, Mongo URIs). Here the session is tuned for the
engine's actual execution model: Catalyst + AQE pick physical strategies, Arrow
accelerates the few pandas-UDF paths, and shuffle partitioning is sized by the
environment rather than hard-coded.

Scale notes (100 TB design target):
- AQE is on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion replace every manual knob the reference hard-codes.
- ``spark.sql.shuffle.partitions`` here is a local-mode default; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant as long
  as it is high enough (set it ~2-3x total cores there).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime confs every entry point applies even when the caller (e.g. the
# verification driver) owns the session. All of these are runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark rejects by default;
    # read as int64 nanos and convert in the loader (sources/loaders.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic wall-clock semantics: parquet naive timestamps and the
    # DuckDB oracle both interpret in UTC.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for the pandas-UDF paths (multimodal, custom stateful ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-owned session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment; loaders degrade gracefully
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    input_tb: float = 100.0,
) -> dict[str, str]:
    """The conf profile this engine deploys with on a real cluster — the
    100 TB sizing story made executable instead of prose. Local tests
    never use this; it exists so 'would this hold at 1000 executors' has
    one reviewable answer, parameterized by the actual fleet.

    Sizing rules (each one maps to a failure mode at scale):
    - shuffle.partitions ~ max(2x total cores, input / 200MB-per-task):
      too few -> spill + stragglers; AQE coalesces the excess at runtime,
      so erring high is safe and erring low is not.
    - maxPartitionBytes 256MB: scan-task granularity; smaller wastes
      scheduler throughput on 100k+ tasks, larger starves parallelism.
    - autoBroadcastJoinThreshold 64MB: every dim table in this schema fits
      far under it; a fact table never broadcasts.
    - Kryo + registrationRequired=false: the few shuffled Python-facing
      rows are Arrow-encoded anyway; JVM-side rows dominate shuffle bytes.
    - shuffle.service + dynamicAllocation: executors scale with stage
      width, shuffle files survive executor loss (task retry, not stage
      retry, after preemption).
    - streaming trigger bounds (source options, not session confs — set
      maxOffsetsPerTrigger / maxFilesPerTrigger on the reader): bound the
      QUERY volume per trigger of the maintained-ANN serve paths so the
      per-query broadcast state stays inside the executor budget —
      |Q|/trigger x nprobe x (LUT + query vector) bytes; the dispatch at
      ivfpq_stream.ivfpq_serve_bcast_max_q(model) (GEOMETRY-derived:
      480 MB budget / per-query payload — ~1e5 queries at the gate
      codebook, ~5e3 at production 8-bit PQ) is the in-plan backstop
      when a caller exceeds it anyway.
    - checkpoint file manager: left at Spark's default, whose FileContext
      rename is atomic on HDFS in one namenode call. Only get_spark()
      switches to the FileSystem manager, because on a local disk without
      Hadoop's native library the default forks a process per file call.
    """
    total_cores = executors * cores_per_executor
    by_cores = 2 * total_cores
    by_bytes = int(input_tb * 1024 * 1024 / 200)  # MB / 200MB tasks
    return {
        **RUNTIME_CONFS,
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.shuffle.partitions": str(max(by_cores, by_bytes)),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Runtime bloom-filter join pruning: a selective dim filter builds a
        # bloom filter that drops fact rows BEFORE the fact-side shuffle —
        # at 100 TB this is the difference between shuffling the whole fact
        # table and shuffling the matching ~1%. Default thresholds apply on
        # a real cluster (the probe side must be big enough to pay for the
        # filter); tests/test_plans.py gates the injection with floored
        # thresholds since local tables are tiny.
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.shuffle.service.enabled": "true",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }


def get_spark(app_name: str = "rtta-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a session tuned for this engine.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. Streaming
    checkpoints (offsets, commits, state deltas) go through Spark's
    FileSystem-based checkpoint manager, which forks no process per
    local file-status call.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Without Hadoop's native library, the default FileContext manager
        # forks readlink on every file:// status call (with chmod on create:
        # 30-33 ms and 20 processes per checkpoint file). The FileSystem
        # manager's temp write + rename(2) is as atomic on a local disk.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    return spark
