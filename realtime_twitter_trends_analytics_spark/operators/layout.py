"""Data-layout and ETL-shaping operators: z-order clustering keys (the
data-skipping story), fixed-width histograms (profiling before layout
decisions), and SCD2 effective-dated ranges (the warehouse-shaping step).

Scale rationale: at 100 TB the scan cost is decided before the query runs —
by how the writer laid the files out. A z-order key interleaves the bits of
two filter columns so rows close in (user, time) land in the same file;
parquet min/max footers then prune most files for either predicate. The
operator here computes the key and PROVES the locality (per-block bounding
boxes) with integer-exact arithmetic, so the oracle verifies the actual bit
math a writer would `sortWithinPartitions` on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..audit import audit_plan
from ..functions import dialect as dl
from ..sources.loaders import bucket_ranked, load_table, ntile

Z_BITS = 10          # bits kept per dimension (user, hour)
Z_BLOCK_SHIFT = 12   # z >> shift = the "file" a writer would group into


def _epoch_sec(d: str) -> str:
    # DuckDB epoch() returns a DOUBLE carrying the sub-second fraction and
    # CAST(double AS BIGINT) ROUNDS, while Spark unix_timestamp() truncates
    # — an event in the last 0.5 s of an hour would land in the next bucket
    # on the DuckDB side only (9 such events live in sf0.1). floor() before
    # the cast restores truncation semantics.
    return "unix_timestamp(ts)" if d == dl.SPARK else "CAST(floor(epoch(ts)) AS BIGINT)"


def _bit(d: str, col: str, i: int, out_pos: int) -> str:
    """Bit i of ``col`` moved to position ``out_pos`` (dual-dialect)."""
    if d == dl.SPARK:
        return f"shiftleft(shiftright({col}, {i}) & 1, {out_pos})"
    return f"((({col} >> {i}) & 1) << {out_pos})"


def _z_sql(d: str) -> str:
    """Interleave Z_BITS bits of ux (even positions) and tb (odd)."""
    terms = [_bit(d, "ux", i, 2 * i) for i in range(Z_BITS)]
    terms += [_bit(d, "tb", i, 2 * i + 1) for i in range(Z_BITS)]
    return "(" + " + ".join(terms) + ")"


def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, event hour), then the
    per-block locality audit: for each Z_BLOCK (what a writer would emit as
    one file after sorting by z), the row count and the (user, hour)
    bounding box. Tight boxes = min/max footer pruning works for BOTH
    filter columns — the property a 100 TB layout is chosen for. All
    integer bit arithmetic, identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    d = dl.SPARK
    masked = ev.select(
        F.expr(f"user_id & {2 ** Z_BITS - 1}").alias("ux"),
        F.expr(f"({_epoch_sec(d)} DIV 3600) & {2 ** Z_BITS - 1}").alias("tb"),
    )
    z = masked.withColumn("z", F.expr(_z_sql(d)))
    return (
        z.groupBy(F.expr(f"shiftright(z, {Z_BLOCK_SHIFT})").cast("int").alias("z_block"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ux").alias("min_user"),
            F.max("ux").alias("max_user"),
            F.min("tb").alias("min_hour"),
            F.max("tb").alias("max_hour"),
        )
        .withColumn(
            "bbox_area",
            (
                (F.col("max_user") - F.col("min_user") + 1)
                * (F.col("max_hour") - F.col("min_hour") + 1)
            ).cast("bigint"),
        )
    )


def _oracle_zorder() -> str:
    d = dl.DUCK
    return f"""
WITH masked AS (
  SELECT user_id & {2 ** Z_BITS - 1} AS ux,
    (({_epoch_sec(d)}) // 3600) & {2 ** Z_BITS - 1} AS tb
  FROM events
), zz AS (
  SELECT ux, tb, {_z_sql(d)} AS z FROM masked
)
SELECT CAST(z >> {Z_BLOCK_SHIFT} AS INT) AS z_block, count(*) AS n_rows,
  min(ux) AS min_user, max(ux) AS max_user,
  min(tb) AS min_hour, max(tb) AS max_hour,
  CAST((max(ux) - min(ux) + 1) * (max(tb) - min(tb) + 1) AS BIGINT) AS bbox_area
FROM zz GROUP BY 1
"""


# ---------------------------------------------------------------- Hilbert key
HB_BITS = 8          # bits per dimension (256 x 256 grid)
HB_BLOCK_SHIFT = 12  # h >> shift = the "file" a writer would group into


def _hb_level_exprs(i: int) -> tuple[str, str, str]:
    """One level of the Gonzalez/Wikipedia xy2d Hilbert transform as SQL
    over running columns (x, y, d): quadrant contribution
    s^2 * ((3*rx) XOR ry) — written arithmetically as 3*rx + ry*(1-2*rx)
    since neither dialect spells XOR the same — then the conditional
    reflect+swap rotation. x/y may go NEGATIVE mid-chain (s-1-x with high
    bits still set); both engines do two's-complement & on BIGINT, and rx
    tests (x & s) != 0, never a sign-dependent shift, so the chain is
    engine-exact. The identical text runs as Spark selectExpr levels and
    DuckDB CTE levels."""
    s = 1 << i
    rx = f"(CASE WHEN (x & {s}) != 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (y & {s}) != 0 THEN 1 ELSE 0 END)"
    d_new = f"(d + {s * s} * (3 * {rx} + {ry} * (1 - 2 * {rx})))"
    x_new = f"(CASE WHEN {ry} = 1 THEN x WHEN {rx} = 0 THEN y ELSE {s - 1} - y END)"
    y_new = f"(CASE WHEN {ry} = 1 THEN y WHEN {rx} = 0 THEN x ELSE {s - 1} - x END)"
    return x_new, y_new, d_new


def layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (user_id, event hour) — the
    locality-preserving upgrade to layout_zorder_key above (Delta Lake
    OPTIMIZE and recent Iceberg writers moved from Morton to Hilbert for
    exactly this): every unit step along a Hilbert curve moves one cell in
    exactly ONE dimension, so sorted runs never take the quadrant-boundary
    jumps a Z-curve takes, and per-file bounding boxes come out tighter
    for the SAME block size. Readout is the identical per-block locality
    audit as the z-order operator so the two keys are directly comparable
    (sum bbox_area here < z-order's at equal block grain).

    The HB_BITS-level transform is unrolled: each level is one projection
    (integer CASE/bit arithmetic, whole-stage codegen keeps the chain in
    one stage), then one hash agg to block grain — identical shuffle
    profile to z-order, the curve math is free."""
    ev = load_table(spark, sf_dir, "events")
    d = dl.SPARK
    mask = 2 ** HB_BITS - 1
    cur = ev.select(
        F.expr(f"user_id & {mask}").alias("ux"),
        F.expr(f"({_epoch_sec(d)} DIV 3600) & {mask}").alias("tb"),
    ).selectExpr("ux", "tb", "ux AS x", "tb AS y", "CAST(0 AS BIGINT) AS d")
    for i in range(HB_BITS - 1, -1, -1):
        xn, yn, dn = _hb_level_exprs(i)
        cur = cur.selectExpr("ux", "tb", f"{xn} AS x", f"{yn} AS y", f"{dn} AS d")
    return (
        cur.groupBy(
            F.expr(f"CAST(d >> {HB_BLOCK_SHIFT} AS INT)").alias("h_block")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ux").alias("min_user"),
            F.max("ux").alias("max_user"),
            F.min("tb").alias("min_hour"),
            F.max("tb").alias("max_hour"),
        )
        .withColumn(
            "bbox_area",
            (
                (F.col("max_user") - F.col("min_user") + 1)
                * (F.col("max_hour") - F.col("min_hour") + 1)
            ).cast("bigint"),
        )
    )


def _oracle_hilbert() -> str:
    d = dl.DUCK
    mask = 2 ** HB_BITS - 1
    ctes = [
        f"""masked AS (
  SELECT user_id & {mask} AS ux,
    (({_epoch_sec(d)}) // 3600) & {mask} AS tb
  FROM events
), lvl{HB_BITS} AS (
  SELECT ux, tb, ux AS x, tb AS y, CAST(0 AS BIGINT) AS d FROM masked
)"""
    ]
    for i in range(HB_BITS - 1, -1, -1):
        xn, yn, dn = _hb_level_exprs(i)
        ctes.append(
            f"lvl{i} AS (SELECT ux, tb, {xn} AS x, {yn} AS y, {dn} AS d FROM lvl{i + 1})"
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT CAST(d >> {HB_BLOCK_SHIFT} AS INT) AS h_block, count(*) AS n_rows,
  min(ux) AS min_user, max(ux) AS max_user,
  min(tb) AS min_hour, max(tb) AS max_hour,
  CAST((max(ux) - min(ux) + 1) * (max(tb) - min(tb) + 1) AS BIGINT) AS bbox_area
FROM lvl0 GROUP BY 1
"""


HIST_BUCKET_WIDTH = 25
HIST_MAX_BUCKET = 19  # values clamp into [0, (HIST_MAX_BUCKET+1)*WIDTH)


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — the profiling step
    before choosing layout/partition bounds. Buckets via floor (truncating
    casts diverge between engines); sums in integer cents so no double
    summation order can flip a digit. One scan, one small agg shuffle."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr(
        f"CAST(least(floor(value / {HIST_BUCKET_WIDTH}.0), {HIST_MAX_BUCKET}) AS INT)"
    )
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    return (
        ev.select("event_type", bucket.alias("bucket"), cents.alias("cents"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("total_cents"))
        .withColumn("bucket_lo", (F.col("bucket") * HIST_BUCKET_WIDTH).cast("int"))
        .withColumn("bucket_hi", ((F.col("bucket") + 1) * HIST_BUCKET_WIDTH).cast("int"))
    )


def _oracle_value_histogram() -> str:
    b = f"CAST(least(floor(value / {HIST_BUCKET_WIDTH}.0), {HIST_MAX_BUCKET}) AS INT)"
    return f"""
SELECT event_type, {b} AS bucket, count(*) AS n_events,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
  CAST({b} * {HIST_BUCKET_WIDTH} AS INT) AS bucket_lo,
  CAST(({b} + 1) * {HIST_BUCKET_WIDTH} AS INT) AS bucket_hi
FROM events GROUP BY event_type, {b}
"""


# open-ended sentinel; kept inside pandas' datetime64[ns] range (year 2262
# cap) because the verification harness normalizes dates through pandas
SCD_OPEN_END = "2099-12-31"


def orders_scd_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 construction: each customer's order history becomes
    effective-dated rows (valid from its order date until the day before
    the next order; the latest row stays open-ended and flagged current).
    The warehouse-shaping step every dimension build runs. One window per
    customer key — shuffles once on the uniform o_custkey; ties on a date
    are ordered by o_orderkey so the ranges are deterministic (a same-day
    successor yields an empty range, by construction, not by chance)."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.to_date("o_orderdate")  # stored as timestamp
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate", 1).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("effective_from"),
        F.coalesce(F.date_sub(nxt, 1), F.to_date(F.lit(SCD_OPEN_END))).alias(
            "effective_to"
        ),
        nxt.isNull().cast("int").alias("is_current"),
    )


def _oracle_scd_ranges() -> str:
    return f"""
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderstatus,
    CAST(o_orderdate AS DATE) AS o_orderdate
  FROM orders
), nxt AS (
  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
    lead(o_orderdate) OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ) AS next_date
  FROM o
)
SELECT o_custkey, o_orderkey, o_orderstatus,
  o_orderdate AS effective_from,
  coalesce(next_date - 1, DATE '{SCD_OPEN_END}') AS effective_to,
  CAST(CASE WHEN next_date IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM nxt
"""


SCD_AS_OF = "1996-06-30"


def orders_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time read over the SCD2 ranges: the state of every
    customer's order dimension AS OF SCD_AS_OF — the time-travel query an
    effective-dated warehouse exists to answer. Composition of
    orders_scd_ranges + one range predicate; at scale the predicate prunes
    partitions when the dim is stored partitioned by effective_from
    month (see SCALE.md scan layer)."""
    d = F.to_date(F.lit(SCD_AS_OF))
    return orders_scd_ranges(spark, sf_dir).filter(
        (F.col("effective_from") <= d) & (F.col("effective_to") >= d)
    )


def _oracle_asof_snapshot() -> str:
    return f"""
WITH scd AS ({_oracle_scd_ranges()})
SELECT * FROM scd
WHERE effective_from <= DATE '{SCD_AS_OF}' AND effective_to >= DATE '{SCD_AS_OF}'
"""


INCR_SPLIT_DATE = "1997-01-01"


def orders_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the per-customer order aggregate
    is computed as BASE (orders before INCR_SPLIT_DATE, the 'materialized'
    state) merged with DELTA (the increment) via a full-outer coalesce-sum
    — never by re-aggregating the full history.

    This is the pattern that keeps a 100 TB warehouse viable: the nightly
    job aggregates only the new partition (pruned scan on the date
    predicate) and merges it into customer-keyed state; both sides shuffle
    on the same key so the merge co-partitions. All sums are integer cents
    — the merge is EXACT, and the DuckDB oracle computes the aggregate the
    non-incremental way (one direct groupBy over all orders), so the
    hash-match proves merge(base, delta) == full recompute."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    split = F.lit(INCR_SPLIT_DATE).cast("timestamp")

    def agg(df: DataFrame, n: str, c: str) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias(n), F.sum(cents).alias(c)
        )

    base = agg(o.filter(F.col("o_orderdate") < split), "bn", "bc")
    delta = agg(o.filter(F.col("o_orderdate") >= split), "dn", "dc")
    zero = F.lit(0).cast("bigint")
    return base.join(delta, "o_custkey", "full_outer").select(
        "o_custkey",
        (F.coalesce("bn", zero) + F.coalesce("dn", zero)).alias("n_orders"),
        (F.coalesce("bc", zero) + F.coalesce("dc", zero)).alias("total_cents"),
    )


def _oracle_incremental_merge() -> str:
    # deliberately NON-incremental: the direct aggregate over all orders.
    # Hash-equality with the Spark merge result proves the incremental
    # path reconstructs the full-recompute answer exactly.
    return f"""
SELECT o_custkey, count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY o_custkey
"""


def orders_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN-then-aggregate view — the step
    past orders_incremental_merge (which maintains a single-table
    aggregate): the (priority, month) revenue view over orders ⋈ lineitem
    is maintained from a base state plus increment deltas on BOTH inputs
    using the delta-join algebra

        Δ(A ⋈ B) = ΔA ⋈ B_base  ∪  A_base ⋈ ΔB  ∪  ΔA ⋈ ΔB

    then coalesce-sum-merged into the base aggregate. Deltas are the
    post-split-date slice of each table (orders by o_orderdate, lineitem
    by l_shipdate — deliberately DIFFERENT predicates, so every one of
    the three delta terms is non-empty and actually exercised).

    Scale: each delta term scans only the pruned increment on at least
    one side; all joins are orderkey equi-joins; the merge co-partitions
    on the view key. Exact integer cents everywhere — the DuckDB oracle
    recomputes the view the non-incremental way (one direct join over
    the full tables), so the hash-match proves the delta algebra
    reconstructs the full recompute bit-for-bit."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(date_trunc('month', o_orderdate) AS DATE)").alias("om"),
        F.col("o_orderdate").alias("od"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        F.col("l_shipdate").alias("sd"),
    )
    split = F.lit(INCR_SPLIT_DATE).cast("timestamp")
    # r15 (§2.4 share the scan + the exchange): the four delta terms used
    # to be four SEPARATE pre-filtered joins — the executed plan held 16
    # scans / 18 Exchange nodes, each term shuffling its own slice of the
    # same two tables on the same key (an attempted shared repartition was
    # defeated by filter pushdown: Catalyst pushes the split predicate
    # below RepartitionByExpression, re-splitting the scans). Carry the
    # delta FLAGS through ONE order-keyed join instead and aggregate at
    # the (priority, month, is_delta_o, is_delta_li) state grain: the
    # (F, F) cell IS the base view aggregate, and the three delta terms
    # ΔA⋈B / A⋈ΔB / ΔA⋈ΔB are exactly the (T,F) / (F,T) / (T,T) cells —
    # the identical delta-join algebra with the slicing moved from four
    # scan predicates to one grouping key. Two scans, one data-sized
    # shuffle pair, one matrix-grain agg; the base/increment/merge
    # structure (and the oracle's full-recompute proof) is unchanged.
    # A null date is not past the split: the row belongs to the base side,
    # so each row lands in exactly one cell (a three-valued flag would
    # drop it from both filters below).
    o2 = o.withColumn("do_", F.coalesce(F.col("od") >= split, F.lit(False)))
    li2 = li.withColumn("dl_", F.coalesce(F.col("sd") >= split, F.lit(False)))
    cells = (
        o2.join(li2, o2.o_orderkey == li2.l_orderkey)
        .groupBy("o_orderpriority", "om", "do_", "dl_")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
    )
    # base + inc read it once each; audited (the r5 blind-spot rule for
    # checkpoint-hidden subplans)
    cells = audit_plan("ivm_cells", cells).localCheckpoint(eager=False)
    # The merge is null-safe on the month: a null om is keyed as
    # (omk = epoch, omn = true), which the plain equi-join matches. Both
    # sides group by the same keys, so the join needs no extra exchange
    # (an eqNullSafe condition would re-shuffle both on coalesce/isnull).
    view_key = [
        "o_orderpriority",
        F.coalesce("om", F.expr("DATE '1970-01-01'")).alias("omk"),
        F.isnull("om").alias("omn"),
    ]
    base = (
        cells.filter(~F.col("do_") & ~F.col("dl_"))
        .groupBy(*view_key)
        .agg(F.sum("n").alias("bn"), F.sum("c").alias("bc"))
    )
    inc = (
        cells.filter(F.col("do_") | F.col("dl_"))
        .groupBy(*view_key)
        .agg(F.sum("n").alias("dn"), F.sum("c").alias("dc"))
    )
    zero = F.lit(0).cast("bigint")
    return (
        base.join(inc, ["o_orderpriority", "omk", "omn"], "full_outer")
        .select(
            F.col("o_orderpriority").alias("pr"),
            F.when(~F.col("omn"), F.col("omk")).alias("om"),
            (F.coalesce("bn", zero) + F.coalesce("dn", zero)).alias("n_items"),
            (F.coalesce("bc", zero) + F.coalesce("dc", zero)).alias("rev_cents"),
        )
        .orderBy("pr", "om")
    )


def _oracle_join_ivm() -> str:
    # NON-incremental on purpose: one direct join + aggregate over the
    # full tables — hash-equality proves the delta-join algebra.
    return """
SELECT o_orderpriority AS pr, CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
  count(*) AS n_items,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


# (column, spark-projection SQL, duckdb-projection SQL) — timestamps
# profile as epoch days, so min/max stay in exact integer/double space
# (string-rendering of timestamps/doubles is engine-divergent; numbers
# are not). The date column needs per-engine SQL: in Spark 4 date−date
# yields INTERVAL DAY (not castable to DOUBLE), so Spark uses
# datediff(); DuckDB's date subtraction already returns integer days.
PROFILE_COLS = [
    ("o_orderkey", "CAST(o_orderkey AS DOUBLE)", "CAST(o_orderkey AS DOUBLE)"),
    ("o_custkey", "CAST(o_custkey AS DOUBLE)", "CAST(o_custkey AS DOUBLE)"),
    ("o_totalprice", "round(o_totalprice, 4)", "round(o_totalprice, 4)"),
    (
        "o_orderdate",
        "CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS DOUBLE)",
        "CAST(CAST(o_orderdate AS DATE) - CAST('1970-01-01' AS DATE) AS DOUBLE)",
    ),
]
PROFILE_STR_COLS = ["o_orderstatus", "o_orderpriority"]


def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of orders in ONE scan: every column's
    null count, distinct count, and min/max (numeric columns as values,
    dates as day numbers, string columns lexicographic) computed as one
    wide aggregate row, then unpivoted to a row per column.

    At 100 TB profiling must not scan once per column — all 6 columns'
    24 aggregates ride the same scan and the same (single-row) agg; the
    unpivot is free. count(DISTINCT) over many columns in one agg would
    multiply the shuffle (one expand row per distinct agg), so distincts
    use approx-free exact two-phase aggregation over the expand — fine at
    6 columns; at very wide tables swap in approx_count_distinct."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c, num, _ in PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.expr(num)).alias(f"{c}__min"),
            F.max(F.expr(num)).alias(f"{c}__max"),
        ]
    for c in PROFILE_STR_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.lit(None).cast("double").alias(f"{c}__min"),
            F.lit(None).cast("double").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    all_cols = [c for c, _, _ in PROFILE_COLS] + PROFILE_STR_COLS
    stack_args = ", ".join(
        f"'{c}', `{c}__nulls`, `{c}__distinct`, `{c}__min`, `{c}__max`"
        for c in all_cols
    )
    return wide.select(
        F.expr(
            f"stack({len(all_cols)}, {stack_args}) "
            "AS (column_name, n_nulls, n_distinct, min_num, max_num)"
        )
    ).select(
        "column_name",
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_num",
        "max_num",
    )


def _oracle_profile() -> str:
    agg_exprs = []
    for c, _, num in PROFILE_COLS:
        agg_exprs += [
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}__nulls",
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS {c}__distinct",
            f"min({num}) AS {c}__min",
            f"max({num}) AS {c}__max",
        ]
    for c in PROFILE_STR_COLS:
        agg_exprs += [
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}__nulls",
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS {c}__distinct",
            f"CAST(NULL AS DOUBLE) AS {c}__min",
            f"CAST(NULL AS DOUBLE) AS {c}__max",
        ]
    all_cols = [c for c, _, _ in PROFILE_COLS] + PROFILE_STR_COLS
    rows = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, {c}__nulls AS n_nulls, "
        f"{c}__distinct AS n_distinct, {c}__min AS min_num, {c}__max AS max_num "
        "FROM wide"
        for c in all_cols
    )
    return f"""
WITH wide AS (
  SELECT {', '.join(agg_exprs)} FROM orders
)
{rows}
"""


# ---------------------------------------------------------------- compaction
COMPACT_TARGET = 4096  # target compacted "file" size in bytes


def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE bin-packing step a
    table maintenance service runs): model each (day, hour) slice of
    events as one written "file" whose size is its serialized payload
    bytes, then greedily pack consecutive hourly files into compaction
    groups of ~COMPACT_TARGET bytes — group = cumulative-bytes-before
    DIV target, the deterministic first-fit-in-order rule. Output is
    the plan a rewriter would execute: every file, its bytes, its
    group, and the group's totals.

    Determinism: sizes are exact BIGINT octet counts (payload + fixed
    per-row overhead); the plan is pure integer window arithmetic.

    Scale: one (day, hour) hash agg; both windows partition by day (and
    by (day, group)) over <=24 rows per partition — never data-sized.
    At 100 TB the file inventory comes from the table metadata, not a
    scan, but the planning plan itself is unchanged: grain = files."""
    e = load_table(spark, sf_dir, "events")
    files = (
        e.select(
            F.expr("unix_timestamp(ts) DIV 86400").alias("day"),
            F.expr("(unix_timestamp(ts) DIV 3600) % 24").alias("hour"),
            F.expr("CAST(octet_length(props) + 32 AS BIGINT)").alias("rb"),
        )
        .groupBy("day", "hour")
        .agg(F.sum("rb").alias("file_bytes"), F.count(F.lit(1)).alias("n_rows"))
    )
    wt = (
        Window.partitionBy("day")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = files.withColumn(
        "cum_before", F.coalesce(F.sum("file_bytes").over(wt), F.lit(0))
    ).withColumn("grp", F.expr(f"cum_before DIV {COMPACT_TARGET}"))
    wg = Window.partitionBy("day", "grp")
    return planned.select(
        "day",
        "hour",
        "file_bytes",
        "n_rows",
        F.col("grp").alias("compact_group"),
        F.sum("file_bytes").over(wg).alias("group_bytes"),
        F.count(F.lit(1)).over(wg).alias("group_files"),
    ).orderBy("day", "hour")


def _oracle_compaction() -> str:
    return f"""
WITH files AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day,
    ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24) AS hour,
    CAST(sum(CAST(strlen(props) + 32 AS BIGINT)) AS BIGINT) AS file_bytes,  -- DuckDB byte length (octet_length is BLOB-only there); sum() widens to HUGEINT
    count(*) AS n_rows
  FROM events GROUP BY 1, 2
), planned AS (
  SELECT *,
    CAST(coalesce(sum(file_bytes) OVER (PARTITION BY day ORDER BY hour
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      // {COMPACT_TARGET} AS BIGINT) AS compact_group
  FROM files
)
SELECT day, hour, file_bytes, CAST(n_rows AS BIGINT) AS n_rows, compact_group,
  CAST(sum(file_bytes) OVER (PARTITION BY day, compact_group) AS BIGINT)
    AS group_bytes,
  count(*) OVER (PARTITION BY day, compact_group) AS group_files
FROM planned ORDER BY day, hour
"""


# ------------------------------------------------------------- range splits
RANGE_SPLITS = 32  # target partition count for the repartitionByRange plan


def layout_range_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced range-partition boundary planner — the split table a
    writer feeds `repartitionByRange` / a range-bucketed layout: cut
    lineitem's price axis into RANGE_SPLITS ranges holding equal row
    counts, so downstream range-pruned scans and merge joins see no
    straggler partition. Exact form: ntile over the TOTAL order
    (cents, orderkey, linenumber — the tiebreak makes both engines
    deal identical tiles), reading back each tile's [lo, hi] cents and
    row count.

    The tile comes from bucket_ranked's exact global row number, bucketed
    by geometric price buckets floor(ln(cents) * 50) (~2% value
    resolution, a few hundred buckets regardless of row count), so no
    window sorts lineitem in one task; the input is a projection of one
    scan, cheap to read twice. The oracle states the data-wide ntile
    window, so the gate pins the helper's exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    ranked, n, _ = bucket_ranked(
        cents,
        F.floor(F.log(F.col("cents")) * 50),
        [F.asc("cents"), F.asc("l_orderkey"), F.asc("l_linenumber")],
    )
    tiled = ranked.select("cents", ntile("_rn", n, RANGE_SPLITS).alias("split_id"))
    return (
        tiled.groupBy("split_id")
        .agg(
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("split_id")
    )


def _oracle_range_splits() -> str:
    return f"""
WITH tiled AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
    ntile({RANGE_SPLITS}) OVER (
      ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
               l_orderkey, l_linenumber) AS split_id
  FROM lineitem
)
SELECT CAST(split_id AS INT) AS split_id,
  min(cents) AS lo_cents, max(cents) AS hi_cents, count(*) AS n_rows
FROM tiled GROUP BY split_id ORDER BY split_id
"""


QUERIES = {
    "orders_join_ivm": orders_join_ivm,
    "profile_orders_columns": profile_orders_columns,
    "layout_zorder_key": layout_zorder_key,
    "layout_hilbert_key": layout_hilbert_key,
    "events_value_histogram": events_value_histogram,
    "orders_scd_ranges": orders_scd_ranges,
    "orders_asof_snapshot": orders_asof_snapshot,
    "orders_incremental_merge": orders_incremental_merge,
    "layout_compaction_plan": layout_compaction_plan,
    "layout_range_splits": layout_range_splits,
}

ORACLES = {
    "orders_join_ivm": _oracle_join_ivm(),
    "profile_orders_columns": _oracle_profile(),
    "layout_zorder_key": _oracle_zorder(),
    "layout_hilbert_key": _oracle_hilbert(),
    "events_value_histogram": _oracle_value_histogram(),
    "orders_scd_ranges": _oracle_scd_ranges(),
    "orders_asof_snapshot": _oracle_asof_snapshot(),
    "orders_incremental_merge": _oracle_incremental_merge(),
    "layout_compaction_plan": _oracle_compaction(),
    "layout_range_splits": _oracle_range_splits(),
}
