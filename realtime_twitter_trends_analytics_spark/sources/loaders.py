"""Parquet loaders for the driver's synthetic tables.

Replaces the reference's sources (twitter4j push stream, KafkaTwitterProducer.java:44-73;
Kafka direct stream, KafkaSparkProcessor.scala:75-88) with declarative
``spark.read.parquet`` scans over the TPC-H-ish star schema plus the
events/documents/embeddings tables (TESTDATA.md).

Scale notes:
- Plain ``spark.read.parquet`` keeps predicate pushdown and column pruning
  live: downstream ``filter``/``select`` reach the scan (check
  ``PushedFilters`` / ``ReadSchema`` in ``df.explain("formatted")``).
- The ``events.ts`` column is stored as TIMESTAMP(NANOS); Spark reads it as
  int64 under ``spark.sql.legacy.parquet.nanosAsLong`` and we convert to a
  proper TimestampType column here, once, at the source — so event-time
  operators (windows, watermarks) see a typed column.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor (region is 5
# rows, nation 25 at every SF; supplier/part grow slowly). Used by operators
# to pick explicit broadcast joins.
BROADCAST_TABLES = ("region", "nation", "supplier", "part")


# (applicationId, sf_dir, name, mtime_ns, size) -> lazy DataFrame PLAN.
# Metadata memo, not a result cache (r14): spark.read.parquet costs
# ~0.15 s of driver time per call (py4j + footer schema read), and the
# bench-wide call count made that the single largest driver-side tax.
# The memoized object is an unexecuted plan — every action still scans
# the parquet data pages; only the footer-derived schema/file-listing
# work is reused, the same class of state as _ROW_COUNT_MEMO below.
# Keyed on the file stat so a regenerated fixture invalidates naturally.
_TABLE_PLAN_MEMO: dict[tuple[str, str, str, int, int], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; normalizes the events.ts nanos column to TimestampType."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, sf_dir, name, st.st_mtime_ns, st.st_size)
    memo = _TABLE_PLAN_MEMO.get(key)
    if memo is not None:
        return memo
    apply_runtime_confs(spark)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # int64 nanos -> microsecond timestamp. INTEGER division: the double
        # path loses 1us above 2^53 ns, which breaks oracle equality.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    _TABLE_PLAN_MEMO[key] = df
    return df


# (path, mtime_ns, size) -> rows; keyed on the file stat so a regenerated
# fixture invalidates naturally (the scale_probe fingerprint lesson)
_ROW_COUNT_MEMO: dict[tuple[str, int, int], int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Row count from the parquet FOOTERS (pyarrow metadata read — zero
    Spark jobs, no data pages touched) of a single file or a directory of
    part files. ml.learned_k needs N per invocation; an eager full-scan
    count() per call was the ADVICE r11 fix — on a real warehouse this is
    the table-stats lookup every CBO already does."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    n = _ROW_COUNT_MEMO.get(key)
    if n is None:
        files = [path] if os.path.isfile(path) else [
            e.path for e in os.scandir(path)
            if e.is_file() and not e.name.startswith(("_", "."))
        ]
        n = sum(pq.read_metadata(f).num_rows for f in files)
        _ROW_COUNT_MEMO[key] = n
    return n


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


# (applicationId, view name) -> the load_table memo key last registered
# under that name. Re-registration is idempotent catalog work (~25 ms of
# py4j per view); skipping it when the SAME table plan is already bound
# saves a fixed per-query driver tax. A different sf_dir (or regenerated
# fixture) changes the key and re-registers, so multi-SF sessions —
# the test suites do this — stay correct.
_VIEW_MEMO: dict[tuple[str, str], tuple] = {}


def register_table_view(spark: SparkSession, sf_dir: str, name: str) -> None:
    """Bind table ``name`` as a temp view, once per (session, fixture)."""
    df = load_table(spark, sf_dir, name)
    st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
    vkey = (spark.sparkContext.applicationId, name)
    tkey = (sf_dir, st.st_mtime_ns, st.st_size)
    if _VIEW_MEMO.get(vkey) != tkey:
        df.createOrReplaceTempView(name)
        _VIEW_MEMO[vkey] = tkey


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql entry points)."""
    for name in TABLES:
        register_table_view(spark, sf_dir, name)
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def driver_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """1-partition DataFrame from bounded driver model-state rows (r15).

    ``spark.createDataFrame(list, schema)`` parallelizes over
    defaultParallelism — at local[32] every downstream stage over a
    32-row codebook/merge-table/flag relation launches 32 tasks, and the
    per-task launch floor measured ~8 ms on the bench box (a 32-row
    readout write: 1.13 s default vs 0.57 s at 1 partition). These
    relations are K/grid/value-domain-bounded BY CONSTRUCTION (the repo's
    model-state discipline), so one partition is the right physical shape
    at any corpus scale; values and schema are unchanged."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def bucket_ranked(df: DataFrame, bucket: Column, order: list, value=None):
    """Exact global ``row_number`` (``_rn``) and, when ``value`` is given,
    running ``sum(value)`` (``_run``) over the strict total ``order``,
    with no one-task sort: ``(ranked_df, n, s)`` with the grand count and
    sum as driver ints (``s`` is 0 without ``value``).

    ``bucket`` must be non-null and non-decreasing along ``order`` (a
    monotone function of the leading key, so ties share a bucket), and
    its distinct count must be bounded by the key's value range, not by
    the row count (``floor(x * 32)``, a permille, a count, epoch days).
    Then: per-bucket (count, sum) is a bounded collect, exclusive prefix
    offsets are computed on the driver and broadcast, and the window runs
    partitioned BY bucket; offset + within-bucket rank is the global rank.
    The ``RDD.zipWithIndex`` numbering scheme, keyed by value range.

    ``df`` is read twice (histogram + rank branch): callers stage or
    checkpoint an input that is expensive to recompute."""
    keyed = df.withColumn("_bk", bucket)
    v = F.lit(0) if value is None else value
    hist = keyed.groupBy("_bk").agg(
        F.count(F.lit(1)).alias("_n"), F.sum(v).alias("_s")
    )
    rows = hist.collect()
    if any(r["_bk"] is None for r in rows):
        raise ValueError("bucket_ranked: the bucket expression produced a null")
    offsets, n, s = [], 0, 0
    for r in sorted(rows, key=lambda r: r["_bk"]):
        offsets.append((r["_bk"], n, s))  # exclusive: rows before this bucket
        n += r["_n"]
        s += r["_s"] or 0
    types = {f.name: f.dataType.simpleString() for f in hist.schema}
    offs = driver_rows_df(
        df.sparkSession,
        offsets,
        f"_bk {types['_bk']}, _on bigint, _os {types['_s']}",
    )
    w = Window.partitionBy("_bk").orderBy(*order)
    out = (
        keyed.join(F.broadcast(offs), "_bk")
        .withColumn("_rn", F.row_number().over(w) + F.col("_on"))
        .withColumn(
            "_run",
            F.sum(v).over(w.rowsBetween(Window.unboundedPreceding, 0)) + F.col("_os"),
        )
        .drop("_bk", "_on", "_os")
    )
    return (out if value is not None else out.drop("_run")), n, s


def ntile(rn: str, n: int, tiles: int) -> Column:
    """``ntile(tiles)`` of the 1-based global row number column ``rn`` over
    ``n`` rows, as Spark and DuckDB deal it: the first ``n % tiles`` tiles
    hold one extra row. Integer-typed like Spark's ``ntile``."""
    q, r = divmod(n, tiles)
    big = r * (q + 1)  # rows in the larger tiles
    return F.expr(
        f"CASE WHEN {rn} <= {big} THEN ({rn} - 1) DIV {q + 1} + 1 "
        f"ELSE {r} + ({rn} - 1 - {big}) DIV {max(q, 1)} + 1 END"
    ).cast("int")


def fan_out_small(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Floor the physical parallelism of a map-heavy relation (r14).

    Parquet scan parallelism is bounded by ROW GROUPS, not by split
    configs: a table written as one row group scans as ONE task no matter
    what maxPartitionBytes/minPartitionNum say, and every map-side stage
    built on it (tokenize, shingle+md5, LSH bucket + cosine, quantize)
    runs single-threaded until the first exchange. The local gate/bench
    fixtures are exactly that shape (one small file, one row group).

    When the plan yields fewer partitions than the session's default
    parallelism, round-robin repartition to the default; otherwise return
    the input UNCHANGED. At 100 TB the scan fans out over thousands of
    row groups, the condition is false, and no corpus-sized shuffle is
    ever added — the floor is input-size-adaptive by construction, not a
    local[32] constant. The partition probe (df.rdd.getNumPartitions)
    plans the query but runs no job.
    """
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
