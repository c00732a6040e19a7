"""Exercise the 100 TB conf profile (round 11, VERDICT r10 item 6):
session.cluster_conf was prose-made-executable but nothing validated it.
Pinned here:

- the sizing RULES (each maps to a failure mode at scale), not just the
  emitted strings: shuffle partitions = max(2x total cores, input/200MB),
  scan granularity 256MB, broadcast ceiling 64MB, dynamic allocation
  capped at the fleet size, and the engine's RUNTIME_CONFS riding along;
- the runtime-settable subset actually ENGAGES when applied to a live
  session: every spark.sql.* key takes effect, a shuffle join plans
  under AdaptiveSparkPlan, and the bloom-filter join injection the
  profile enables rewrites a selective dim ⋈ fact join (thresholds
  floored because local tables are tiny — same discipline as
  tests/test_plans.py's gate).
"""

from __future__ import annotations

from realtime_twitter_trends_analytics_spark.session import (
    RUNTIME_CONFS,
    cluster_conf,
)


def test_profile_sizing_rules():
    for execs, cores, mem, tb in [(1000, 4, 16, 100.0), (100, 8, 32, 10.0)]:
        prof = cluster_conf(execs, cores, mem, tb)
        total_cores = execs * cores
        want_parts = max(2 * total_cores, int(tb * 1024 * 1024 / 200))
        assert prof["spark.sql.shuffle.partitions"] == str(want_parts)
        # at 100 TB the byte rule dominates any realistic fleet; at 10 TB
        # with 800 cores it still does — partitions never starve cores
        assert want_parts >= 2 * total_cores
        assert prof["spark.sql.files.maxPartitionBytes"] == str(256 * 1024 * 1024)
        assert prof["spark.sql.autoBroadcastJoinThreshold"] == str(64 * 1024 * 1024)
        assert prof["spark.dynamicAllocation.maxExecutors"] == str(execs)
        assert prof["spark.executor.instances"] == str(execs)
        assert prof["spark.executor.memory"] == f"{mem}g"
        for k, v in RUNTIME_CONFS.items():
            assert prof[k] == v
        for flag in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
        ):
            assert prof[flag] == "true"


def test_profile_runtime_subset_engages(spark, sf_dir):
    from pyspark.sql import functions as F

    from realtime_twitter_trends_analytics_spark.sources.loaders import load_table

    prof = cluster_conf()
    runtime = {k: v for k, v in prof.items() if k.startswith("spark.sql.")}
    # local-only floors so the injection fires on tiny tables; the profile
    # keeps production defaults (the probe side must be big enough to pay
    # for the filter)
    floors = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    applied = {**runtime, **floors}
    saved = {k: spark.conf.get(k, None) for k in applied}
    try:
        for k, v in applied.items():
            spark.conf.set(k, v)
        # every runtime key really took effect (none silently static)
        for k, v in runtime.items():
            if k not in floors:
                assert spark.conf.get(k) == v, k

        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        assert "might_contain" in opt
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" in phys
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def test_local_checkpoints_use_filesystem_manager(spark, tmp_path):
    """get_spark() checkpoints through the FileSystem manager (temp write +
    rename, no forked readlink/chmod per status call); the cluster profile
    leaves the key unset so HDFS keeps Spark's FileContext default."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path}")
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(path, hadoop_conf)
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    assert _CKPT_MANAGER_KEY not in cluster_conf()
    assert _CKPT_MANAGER_KEY not in RUNTIME_CONFS
