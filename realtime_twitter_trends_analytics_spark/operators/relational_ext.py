"""Extended relational surface: statistical aggregates, percentiles, pivot,
subqueries, map/JSON functions, higher-order array functions, null-handling,
and the reference's parse/clean/country chain as an oracle-checked batch
query (P7/P8/P10 of SURVEY §2.2).

Determinism notes:
- stddev/variance/corr are computed from EXACT decimal power sums
  (sum x, sum x^2, sum xy as DECIMAL(38,4)) with the closed-form formulas
  evaluated in double at the end — the one-pass streaming moments built into
  each engine differ in update order and would not hash-match. The plan
  shape is the same partial/final hash agg either way.
- percentile/median use linear interpolation in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..audit import audit_plan
from ..functions import dialect as dl
from ..functions.text import (
    clean_tweet_text,
    country_from_location,
    parse_sentinel,
)
from ..sources.loaders import fan_out_small, load_table, register_table_view


def _dec4(col) -> "F.Column":
    return col.cast("decimal(38,4)")


def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / covariance / correlation per group from exact
    decimal power sums (deterministic across partitionings)."""
    l = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(18,2)")
    y = F.col("l_quantity").cast("decimal(18,2)")
    agg = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(_dec4(x * x)).cast("double").alias("sxx"),
        F.sum(_dec4(y * y)).cast("double").alias("syy"),
        F.sum(_dec4(x * y)).cast("double").alias("sxy"),
    )
    n = F.col("n")
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    return agg.select(
        "l_returnflag",
        "n",
        F.round(var_x, 4).alias("var_price"),
        F.round(F.sqrt(var_x), 4).alias("stddev_price"),
        F.round(cov, 4).alias("covar_price_qty"),
        F.round(cov / (F.sqrt(var_x) * F.sqrt(var_y)), 6).alias("corr_price_qty"),
    )


ORACLE_STATS = """
WITH agg AS (
  SELECT l_returnflag, count(*) AS n,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sy,
    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy,
    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  round((sxx - sx * sx / n) / (n - 1), 4) AS var_price,
  round(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS stddev_price,
  round((sxy - sx * sy / n) / (n - 1), 4) AS covar_price_qty,
  round(((sxy - sx * sy / n) / (n - 1)) /
        (sqrt((sxx - sx * sx / n) / (n - 1)) * sqrt((syy - sy * sy / n) / (n - 1))), 6) AS corr_price_qty
FROM agg
"""


def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) + median per group.

    SCALE NOTE: exact percentile buffers and sorts every group member — a
    per-group global sort that does not survive 100 TB. This operator is
    the small-sf ORACLE; the scale path is ``percentiles_approx`` below
    (mergeable sketch, bounded memory), kept side-by-side so the bench can
    show both and the rank-error bound is test-asserted between them."""
    # r14 note: fanning the scan measured 1.01x (parity) — the holistic
    # final merge dominates, which is the documented reason
    # percentiles_approx is the 100 TB face. Left on the direct scan.
    l = load_table(spark, sf_dir, "lineitem")
    # ONE percentile agg with an array of fractions = one sort buffer per
    # group, not three (Spark's exact percentile sorts per aggregate call).
    pct = F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
    return (
        l.groupBy("l_linestatus")
        .agg(
            pct.alias("pct"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
        )
        .select(
            "l_linestatus",
            F.round(F.col("pct")[0], 4).alias("p50_price"),
            F.round(F.col("pct")[1], 4).alias("p90_price"),
            F.round(F.col("pct")[2], 4).alias("p99_price"),
            "p50_qty",
        )
    )


ORACLE_PERCENTILES = """
SELECT l_linestatus,
  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price,
  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
FROM lineitem GROUP BY l_linestatus
"""


# Greenwald-Khanna accuracy: rank error <= group_size / accuracy.
APPROX_PCT_ACCURACY = 10_000


def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: ``approx_percentile`` (Greenwald-Khanna
    sketch). Partial sketches merge map-side like any algebraic agg —
    bounded memory per group, no per-group sort, one shuffle of
    O(accuracy)-sized sketches instead of raw values.

    Oracle-green bounded-error form (round 6; was rows-only): the sketch
    value itself is engine-specific, so the query verifies the GK rank
    guarantee IN-PLAN — the approx values (a per-group aggregate, <=
    |groups| rows) broadcast-join back onto the scan, conditional counts
    produce each value's true-rank interval [count(x < v) + 1,
    count(x <= v)] (ties make rank an interval), and the emitted booleans
    assert |rank(v) - p*n| <= n/accuracy + 1 with pure integer
    cross-multiplication (p as a rational pn/pd, scaled by ACCURACY — no
    float boundary to flap). The oracle recomputes group sizes and
    asserts TRUE: GK's bound is a hard guarantee, so a FALSE is a real
    engine bug. This is the in-plan form of the r2-r5 pytest
    (test_approx_percentile_rank_bound). A deployment runs ``ap`` alone
    (one scan, one hash agg of GK partials); the broadcast join and the
    rank counts after it are the eval harness."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_linestatus", "l_extendedprice", "l_quantity"
    )
    pct = F.expr(
        f"approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), {APPROX_PCT_ACCURACY})"
    )
    ap = (
        l.groupBy("l_linestatus")
        .agg(
            pct.alias("pct"),
            F.expr(
                f"approx_percentile(l_quantity, 0.5, {APPROX_PCT_ACCURACY})"
            ).alias("v_qty50"),
        )
        .select(
            "l_linestatus",
            F.col("pct")[0].alias("v_price50"),
            F.col("pct")[1].alias("v_price90"),
            F.col("pct")[2].alias("v_price99"),
            "v_qty50",
        )
    )
    j = l.join(F.broadcast(ap), "l_linestatus")
    checks = [
        ("p50_price_ok", "l_extendedprice", "v_price50", 1, 2),
        ("p90_price_ok", "l_extendedprice", "v_price90", 9, 10),
        ("p99_price_ok", "l_extendedprice", "v_price99", 99, 100),
        ("p50_qty_ok", "l_quantity", "v_qty50", 1, 2),
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, src, v, _, _ in checks:
        aggs.append(
            F.sum(F.when(F.col(src) < F.col(v), 1).otherwise(0)).alias(f"lt_{name}")
        )
        aggs.append(
            F.sum(F.when(F.col(src) <= F.col(v), 1).otherwise(0)).alias(f"le_{name}")
        )
    g = j.groupBy("l_linestatus").agg(*aggs)
    acc = APPROX_PCT_ACCURACY
    out_cols = ["l_linestatus", F.col("n")]
    for name, _, _, pn, pd_ in checks:
        # rank_lo <= p*n + n/acc + 1 AND rank_hi >= p*n - n/acc - 1,
        # cross-multiplied by acc*pd so every side is a BIGINT
        rank_lo = F.col(f"lt_{name}") + 1
        rank_hi = F.col(f"le_{name}")
        lo_ok = rank_lo * acc * pd_ <= pn * acc * F.col("n") + pd_ * (F.col("n") + acc)
        hi_ok = rank_hi * acc * pd_ >= pn * acc * F.col("n") - pd_ * (F.col("n") + acc)
        out_cols.append((lo_ok & hi_ok).alias(name))
    return g.select(*out_cols)


ORACLE_PERCENTILES_APPROX = """
SELECT l_linestatus, count(*) AS n,
  TRUE AS p50_price_ok, TRUE AS p90_price_ok,
  TRUE AS p99_price_ok, TRUE AS p50_qty_ok
FROM lineitem GROUP BY 1
"""


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def pivot_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts, status x priority (explicit value list — at
    scale you never let pivot discover values with an extra job)."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = {p: f"prio_{p[0]}" for p in PRIORITIES}
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    return piv.na.fill(0)


ORACLE_PIVOT = """
SELECT o_orderstatus,
  CAST(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END), 0) AS BIGINT) AS prio_1,
  CAST(coalesce(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END), 0) AS BIGINT) AS prio_2,
  CAST(coalesce(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END), 0) AS BIGINT) AS prio_3,
  CAST(coalesce(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END), 0) AS BIGINT) AS prio_4,
  CAST(coalesce(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END), 0) AS BIGINT) AS prio_5
FROM orders GROUP BY o_orderstatus
"""


# One ANSI text, two engines: run via spark.sql AND DuckDB verbatim.
SQL_SUBQUERIES = """
SELECT c_custkey, round(c_acctbal, 4) AS c_acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
  AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
  AND EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000
  )
"""


def subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar + IN + correlated-EXISTS subqueries through the SQL front-end
    (one ANSI text shared verbatim with the oracle)."""
    register_table_view(spark, sf_dir, "customer")
    register_table_view(spark, sf_dir, "orders")
    return spark.sql(SQL_SUBQUERIES)


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: JSON -> map<string,bigint>, key/value extraction."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return e.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_value"),
        F.size(m).alias("n_props"),
    )


ORACLE_MAP_FUNCS = """
SELECT event_id,
  array_to_string(json_keys(props), ',') AS prop_keys,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
  CAST(len(json_keys(props)) AS INT) AS n_props
FROM events
"""


def higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: transform / filter / aggregate /
    array_contains / slice+sort — all JVM-side, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) >= 5)).alias("n_long_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_token_chars"),
        F.array_contains(toks, "dup").cast("int").alias("has_dup_marker"),
        F.array_join(F.slice(F.array_sort(toks), 1, 3), ",").alias("first3_sorted"),
    )


ORACLE_HIGHER_ORDER = """
SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 5)) AS INT) AS n_long_tokens,
  CAST(coalesce(list_sum(list_transform(string_split(text, ' '), t -> length(t))), 0) AS BIGINT) AS total_token_chars,
  CAST(list_contains(string_split(text, ' '), 'dup') AS INT) AS has_dup_marker,
  array_to_string(list_slice(list_sort(string_split(text, ' ')), 1, 3), ',') AS first3_sorted
FROM documents
"""


def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / nullif / nvl2 / least / greatest surface over events."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return e.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("(err)")).alias("type_or_err"),
        F.round(F.least(v, F.lit(100.0)), 4).alias("value_capped"),
        F.round(F.greatest(v, F.lit(0.0)), 4).alias("value_floored"),
        F.when(v > 100, "high").when(v > 10, "mid").otherwise("low").alias("value_band"),
    )


ORACLE_NULL_HANDLING = """
SELECT event_id,
  coalesce(nullif(event_type, 'error'), '(err)') AS type_or_err,
  round(least(value, 100.0), 4) AS value_capped,
  round(greatest(value, 0.0), 4) AS value_floored,
  CASE WHEN value > 100 THEN 'high' WHEN value > 10 THEN 'mid' ELSE 'low' END AS value_band
FROM events
"""


def try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe error handling (the try_* family): division by a
    sometimes-zero denominator, casts of non-numeric strings, and overflow
    -safe add all yield NULL instead of failing the job — at 100 TB a
    single malformed row must never kill a 6-hour pipeline run. Each
    try_* is a row-local expression; nothing about the plan changes."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    # integer-cents numerator: round(x,4)-after-double-division is a tie
    # hazard across engines; dividing two exactly-representable integers
    # is ONE IEEE operation -> bit-identical in Spark and DuckDB
    cents = F.round(F.col("value") * 100).cast("bigint")
    return e.select(
        "event_id",
        F.try_divide(cents.cast("double"), k * 100).alias("value_per_k"),
        F.col("event_type").try_cast("double").alias("type_as_num"),
        F.substring(F.col("event_type"), 1, 1).try_cast("int").alias("first_char_int"),
        F.try_add(k, F.lit(1)).alias("k_next"),
    )


# DuckDB: x / NULLIF(y, 0) == try_divide; TRY_CAST is native.
ORACLE_TRY_FUNCS = """
SELECT event_id,
  CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE)
    / nullif(CAST(json_extract_string(props, '$.k') AS BIGINT) * 100, 0) AS value_per_k,
  TRY_CAST(event_type AS DOUBLE) AS type_as_num,
  TRY_CAST(substr(event_type, 1, 1) AS INT) AS first_char_int,
  CAST(json_extract_string(props, '$.k') AS BIGINT) + 1 AS k_next
FROM events
"""


def tweet_parse_clean_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 + P8 + P10 end-to-end, oracle-checked in batch: build sentinel
    messages from documents, parse them back, run the cleaning chain and the
    country heuristic. Location patterns cycle to hit every branch of
    proc:198-210 (USA 2-letter rule / last-segment / no-comma 'NULL')."""
    d = load_table(spark, sf_dir, "documents")
    location = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("Springfield, "), F.upper("lang")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("City, Area, "), F.col("source")))
        .otherwise(F.col("source"))
    )
    noisy = F.concat(F.lit("RT @user "), F.col("text"), F.lit(" https://t.co/xyz !!"))
    msg = d.select(
        "doc_id", F.concat(location, F.lit(" /TLOC/ "), noisy).alias("value")
    )
    parsed = msg.withColumn("p", parse_sentinel(F.col("value")))
    return parsed.select(
        "doc_id",
        F.col("p.location").alias("location"),
        country_from_location(F.col("p.location")).alias("country"),
        F.substring(clean_tweet_text(F.col("p.text")), 1, 40).alias("clean_prefix"),
    )


ORACLE_TWEET_PARSE = r"""
WITH msg AS (
  SELECT doc_id,
    concat(
      CASE WHEN doc_id % 3 = 0 THEN concat('Springfield, ', upper(lang))
           WHEN doc_id % 3 = 1 THEN concat('City, Area, ', source)
           ELSE source END,
      ' /TLOC/ ', concat('RT @user ', text, ' https://t.co/xyz !!')
    ) AS value
  FROM documents
), parsed AS (
  SELECT doc_id,
    string_split(value, ' /TLOC/ ')[1] AS location,
    string_split(value, ' /TLOC/ ')[2] AS txt
  FROM msg
), country AS (
  SELECT doc_id, location, txt,
    string_split(location, ',') AS segs
  FROM parsed
)
SELECT doc_id, location,
  CASE WHEN len(segs) < 2 THEN 'NULL'
       WHEN len(segs) = 2 AND length(trim(regexp_replace(segs[-1], '[^a-zA-Z0-9\s]', '', 'g'))) = 2 THEN 'USA'
       ELSE upper(trim(segs[-1]))
  END AS country,
  substr(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(txt, '(\b\w*RT)|[^a-zA-Z0-9\s.,!@]', '', 'g'),
        'http\S+', '', 'g'),
      '@\w+', 'Foo', 'g'),
    '^Foo', ''),
  1, 40) AS clean_prefix
FROM country
"""


def unpivot_nation_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long): per-nation customer/supplier balance columns
    melted into (nation, metric, value) rows — the inverse of pivot,
    completing the reshape surface. Spark plans unpivot as an Expand node
    (each input row emits one row per value column, map-side, no shuffle
    beyond the upstream aggs)."""
    n = load_table(spark, sf_dir, "nation")
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("cust_bal"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.sum(F.col("s_acctbal").cast("decimal(18,2)")).alias("supp_bal"))
    )
    wide = (
        n.join(c, n["n_nationkey"] == c["c_nationkey"], "left")
        .join(s, n["n_nationkey"] == s["s_nationkey"], "left")
        .select(
            "n_name",
            F.round(F.coalesce(F.col("cust_bal").cast("double"), F.lit(0.0)), 4).alias("cust_bal"),
            F.round(F.coalesce(F.col("supp_bal").cast("double"), F.lit(0.0)), 4).alias("supp_bal"),
        )
    )
    return wide.unpivot(["n_name"], ["cust_bal", "supp_bal"], "metric", "value")


ORACLE_UNPIVOT = """
WITH c AS (
  SELECT c_nationkey, sum(CAST(c_acctbal AS DECIMAL(18,2))) AS cust_bal
  FROM customer GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey, sum(CAST(s_acctbal AS DECIMAL(18,2))) AS supp_bal
  FROM supplier GROUP BY s_nationkey
), wide AS (
  SELECT n.n_name,
    round(coalesce(CAST(c.cust_bal AS DOUBLE), 0.0), 4) AS cust_bal,
    round(coalesce(CAST(s.supp_bal AS DOUBLE), 0.0), 4) AS supp_bal
  FROM nation n
  LEFT JOIN c ON n.n_nationkey = c.c_nationkey
  LEFT JOIN s ON n.n_nationkey = s.s_nationkey
)
SELECT n_name, 'cust_bal' AS metric, cust_bal AS value FROM wide
UNION ALL
SELECT n_name, 'supp_bal' AS metric, supp_bal AS value FROM wide
"""


def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family window functions over orders partitioned by
    priority: ntile quartiles, percent_rank, cume_dist, and first/last
    value over the full partition frame. Ties broken by o_orderkey so
    ntile is deterministic. One shuffle on the partition key; the sort
    within partitions is the window's, no global sort.

    Scale honesty: the partition key has 5 values, so each window is one
    task's sort — at 100 TB these exact per-row ranks over giant
    partitions are the wrong tool (stragglers by construction). The
    scale path for distribution STATISTICS is approx_percentile per
    group (see percentiles_approx); this query exists for the cases that
    genuinely need a rank per row on bounded partitions."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("o_totalprice", 4).alias("o_totalprice"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.first("o_totalprice").over(wf), 4).alias("cheapest_in_prio"),
        F.round(F.last("o_totalprice").over(wf), 4).alias("priciest_in_prio"),
    )


ORACLE_WINDOW_DIST = """
SELECT o_orderkey, o_orderpriority, round(o_totalprice, 4) AS o_totalprice,
  CAST(ntile(4) OVER w AS INT) AS price_quartile,
  round(percent_rank() OVER w, 6) AS pct_rank,
  round(cume_dist() OVER w, 6) AS cume,
  round(first_value(o_totalprice) OVER wf, 4) AS cheapest_in_prio,
  round(last_value(o_totalprice) OVER wf, 4) AS priciest_in_prio
FROM orders
WINDOW
  w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC),
  wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the event stream: users grouped by
    first-seen week, counted per subsequent active week. Two shuffles
    (min-per-user, then distinct cohort/offset/user) — the second is on
    a composite key so no cohort hot-spot; at 100 TB the user-grain
    pre-agg shrinks the input by the events-per-user factor before the
    distinct."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        activity.join(first_seen, "user_id")
        .select(
            "cohort_week",
            (F.datediff("activity_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


ORACLE_RETENTION = """
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS activity_week
  FROM events
)
SELECT f.cohort_week,
  CAST(date_diff('day', f.cohort_week, a.activity_week) / 7 AS INT) AS week_offset,
  count(DISTINCT a.user_id) AS n_active
FROM activity a JOIN first_seen f ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
"""


def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin via max_by/min_by aggregation — per event_type, the
    event carrying the max (and min) value. At scale this is ONE hash agg
    with map-side partials; the window-function formulation (row_number
    over value desc) costs a full sort per partition for the same answer.
    Ties are broken deterministically by a composite ordering key of
    fixed-width zero-padded (cents, event_id) strings — lexicographic ==
    numeric at ANY id magnitude, where an arithmetic packing like
    cents*10^8 + id silently collides once ids pass the packing base
    (neither engine's max_by accepts a struct ordering key). Cents are
    offset +10^15 so negative values order correctly too."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint") + F.lit(10**15)
    key = F.concat(
        F.lpad(cents.cast("string"), 18, "0"),
        F.lit("|"),
        F.lpad(F.col("event_id").cast("string"), 18, "0"),
    )
    return e.groupBy("event_type").agg(
        F.max_by("event_id", key).alias("max_value_event"),
        F.min_by("event_id", key).alias("min_value_event"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.min("value"), 4).alias("min_value"),
    )


ORACLE_ARGMAX = """
WITH keyed AS (
  SELECT event_type, event_id, value,
    lpad(CAST(CAST(round(value * 100) AS BIGINT) + 1000000000000000 AS VARCHAR), 18, '0')
      || '|' || lpad(CAST(event_id AS VARCHAR), 18, '0') AS k
  FROM events
)
SELECT event_type,
  max_by(event_id, k) AS max_value_event,
  min_by(event_id, k) AS min_value_event,
  round(max(value), 4) AS max_value,
  round(min(value), 4) AS min_value
FROM keyed GROUP BY event_type
"""


def events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: event-type pairs that happen for the
    same user, with support and lift. The self-join is on user_id over the
    DISTINCT (user, type) relation — at most |types| rows per user, so the
    per-key join fan-out is bounded by the (tiny, fixed) type vocabulary,
    never by the user's raw event count."""
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    n_users = e.select("user_id").distinct().count()
    type_counts = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users_type")
    )
    pairs = (
        ut.alias("x")
        .join(ut.alias("y"), "user_id")
        .filter(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = type_counts.select(
        F.col("event_type").alias("type_a"), F.col("n_users_type").alias("n_a")
    )
    cb = type_counts.select(
        F.col("event_type").alias("type_b"), F.col("n_users_type").alias("n_b")
    )
    from ..functions import dialect as dl

    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.expr(
                dl.round_ratio(dl.SPARK, "n_both", str(n_users))
            ).alias("support"),
            F.expr(
                dl.round_ratio(dl.SPARK, f"n_both * {n_users}", "n_a * n_b")
            ).alias("lift"),
        )
    )


def _oracle_cooccurrence() -> str:
    from ..functions import dialect as dl

    support = dl.round_ratio(dl.DUCK, "n_both", "n.n_users")
    lift = dl.round_ratio(
        dl.DUCK, "n_both * n.n_users", "ca.n_users_type * cb.n_users_type"
    )
    return f"""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), n AS (
  SELECT count(DISTINCT user_id) AS n_users FROM events
), tc AS (
  SELECT event_type, count(*) AS n_users_type FROM ut GROUP BY event_type
), pairs AS (
  SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS n_both
  FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
  {support} AS support,
  {lift} AS lift
FROM pairs
JOIN tc ca ON ca.event_type = type_a
JOIN tc cb ON cb.event_type = type_b
CROSS JOIN n
"""


ROLLING_WINDOW_SEC = 300


def events_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series feature engineering: per-user rolling 5-minute event
    count and mean value (RANGE frame over event time) plus the gap to
    the previous event — the standard online-feature shapes. The frame is
    a range over epoch seconds so both engines bound it identically; the
    rolling mean is an integer-cents ratio (tie-safe). One shuffle on
    user_id; frames evaluate within the partition sort, no self-join."""
    from ..functions import dialect as dl
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    epoch = F.unix_timestamp("ts")
    wr = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-ROLLING_WINDOW_SEC, 0)
    )
    wl = Window.partitionBy("user_id").orderBy(epoch, F.col("event_id"))
    cents_sum = F.sum(F.round(F.col("value") * 100).cast("bigint")).over(wr)
    n_window = F.count(F.lit(1)).over(wr)
    rolling_mean = F.expr(
        dl.round_ratio(
            dl.SPARK,
            f"sum(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY unix_timestamp(ts) RANGE BETWEEN {ROLLING_WINDOW_SEC} PRECEDING AND CURRENT ROW)",
            f"count(*) OVER (PARTITION BY user_id ORDER BY unix_timestamp(ts) RANGE BETWEEN {ROLLING_WINDOW_SEC} PRECEDING AND CURRENT ROW) * 100",
        )
    )
    return e.select(
        "user_id",
        "event_id",
        n_window.alias("n_last_5min"),
        rolling_mean.alias("mean_value_5min"),
        (epoch - F.lag(epoch).over(wl)).cast("int").alias("gap_sec"),
    )


def _oracle_rolling() -> str:
    from ..functions import dialect as dl

    frame = (
        f"OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT) "
        f"RANGE BETWEEN {ROLLING_WINDOW_SEC} PRECEDING AND CURRENT ROW)"
    )
    mean = dl.round_ratio(
        dl.DUCK,
        f"sum(CAST(round(value * 100) AS BIGINT)) {frame}",
        f"count(*) {frame} * 100",
    )
    return f"""
SELECT user_id, event_id,
  count(*) {frame} AS n_last_5min,
  {mean} AS mean_value_5min,
  CAST(CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
  ) AS INT) AS gap_sec
FROM events
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-sketch distinct counts (approx_count_distinct) — the sketch the
    reference never had for 'how many unique hashtags'.

    Oracle-green bounded-error form (round 6; was rows-only): the raw HLL
    estimate is engine-specific, so the query computes approx AND exact in
    ONE aggregation and reduces the sketch side to a within-tolerance
    boolean (|approx - exact| * 100 <= 10 * exact — integer arithmetic,
    can't flap). The oracle recomputes the exact side and asserts the
    boolean TRUE, so the driver hash-matches every emitted column. The
    exact count_distinct rides the same shuffle (it is the eval harness —
    production keeps only the sketch)."""
    l = load_table(spark, sf_dir, "lineitem")
    # The sketch and the exact side run as SEPARATE aggregations joined on
    # the 3-row group key (round 9, wall-ratio flag): mixing
    # count_distinct with approx_count_distinct in ONE agg makes Spark's
    # distinct-Expand rewrite key the FIRST aggregate on
    # (flag, partkey, orderkey, gid) — so the partial HLL buffer (~6 KB,
    # 768 words at rsd=0.02) is maintained and SHUFFLED per fine-grain
    # group instead of per flag: ~4 GB of exchange at sf0.1, measured
    # 24 s warm vs 1.3 s split. Split, the HLL agg is a 3-group map-side
    # partial and the exact agg's Expand carries 8-byte count state.
    approx = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("ap"),
        F.approx_count_distinct("l_orderkey", 0.02).alias("ao"),
    )
    exact = l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )
    g = exact.join(F.broadcast(approx), "l_returnflag")
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) * 100 <= 10 * F.col(e)
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        within("ap", "exact_parts").alias("parts_within_10pct"),
        within("ao", "exact_orders").alias("orders_within_10pct"),
    )


ORACLE_AGG_APPROX_DISTINCT = """
SELECT l_returnflag,
  count(DISTINCT l_partkey) AS exact_parts,
  count(DISTINCT l_orderkey) AS exact_orders,
  TRUE AS parts_within_10pct,
  TRUE AS orders_within_10pct
FROM lineitem GROUP BY 1
"""


CDC_DELETE_TYPE = "error"  # tombstone op in the synthetic CDC mapping


def events_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: treat the event stream as a change log keyed by
    user_id ('error' = delete tombstone, anything else = upsert), apply in
    (ts, event_id) order, return the final live state — the batch analogue
    of a Debezium/Delta MERGE apply.

    Plan: one window shuffle keyed by user_id picks the last op per key
    (no self-join, no global sort); tombstoned keys drop at the end. At
    100 TB this compaction runs per ingest partition and merges like
    orders_incremental_merge — last-writer-wins is associative, so
    partial compactions compose."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("event_type") != CDC_DELETE_TYPE)
    )
    return latest.select(
        "user_id",
        F.col("ts").alias("state_ts"),
        F.col("event_type").alias("last_op"),
        F.round("value", 4).alias("value"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


def _oracle_cdc_state() -> str:
    return f"""
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value, props,
    row_number() OVER (
      PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) AS rn
  FROM events
)
SELECT user_id, ts AS state_ts, event_type AS last_op,
  round(value, 4) AS value,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM ranked WHERE rn = 1 AND event_type <> '{CDC_DELETE_TYPE}'
"""


ATTRIBUTION_WINDOW_SEC = 3600


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attributes its value to the
    most recent preceding click by the same user within the attribution
    window. ONE window pass (last-ignore-nulls over a rows frame) — no
    purchases x clicks self-join, so the cost is a single shuffle on
    user_id regardless of event volume; the (ts, event_id) order key makes
    the frame total and both engines deterministic."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_click = F.col("event_type") == "click"
    last_click_id = F.last(F.when(is_click, F.col("event_id")), ignorenulls=True).over(w)
    last_click_ts = F.last(F.when(is_click, F.col("ts")), ignorenulls=True).over(w)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(last_click_ts)
    return (
        e.withColumn("last_click_id", last_click_id)
        .withColumn("gap_sec", gap)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("value_cents"),
            "last_click_id",
            "gap_sec",
            F.when(
                F.col("last_click_id").isNotNull()
                & (F.col("gap_sec") <= ATTRIBUTION_WINDOW_SEC),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("attributed"),
        )
    )


def _oracle_attribution() -> str:
    return f"""
WITH tagged AS (
  SELECT event_id, user_id, event_type, ts, value,
    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM events
)
SELECT event_id, user_id,
  CAST(round(value * 100) AS BIGINT) AS value_cents,
  last_click_id,
  CAST(floor(epoch(ts)) AS BIGINT)
    - CAST(floor(epoch(last_click_ts)) AS BIGINT) AS gap_sec,
  CASE WHEN last_click_id IS NOT NULL
        AND CAST(floor(epoch(ts)) AS BIGINT)
          - CAST(floor(epoch(last_click_ts)) AS BIGINT)
          <= {ATTRIBUTION_WINDOW_SEC}
       THEN 1 ELSE 0 END AS attributed
FROM tagged WHERE event_type = 'purchase'
"""


def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the pattern that makes incremental
    distinct-count cubes affordable at 100 TB: build one HLL sketch per
    (event_type, day) partition (`hll_sketch_agg`), persist those partials,
    and answer the coarser grain by UNIONING sketches (`hll_union_agg`) —
    never re-scanning raw events. Also emits the naive sum of daily
    estimates, which double-counts cross-day repeat users — the error the
    sketch union exists to avoid.

    Oracle-green bounded-error form (round 6; was rows-only — sketch
    bytes are DataSketches-specific): the daily grain carries the HLL
    sketch AND the exact daily distinct; the rollup unions the sketches,
    sums the exact dailies (the naive double-counting series, now exact
    and oracle-computable), joins the exact per-type distinct from the
    raw scan, and reduces the sketch estimate to two booleans — within
    5% of exact (lgK=12 default ~1.6% rse; integer cross-multiplication
    with a +/-2 absolute floor for tiny groups) and <= the naive daily
    sum (union can only remove double-counting). The oracle recomputes
    every exact column and asserts the booleans TRUE. The exact sides
    ride the same shuffles (eval harness; production keeps sketches
    only)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.count_distinct("user_id").alias("exact_daily"),
    )
    rolled = daily.groupBy("event_type").agg(
        F.expr(
            "CAST(round(hll_sketch_estimate(hll_union_agg(sk))) AS BIGINT)"
        ).alias("est"),
        F.sum("exact_daily").alias("naive_daily_sum"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        rolled.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            "naive_daily_sum",
            (
                F.abs(F.col("est") - F.col("exact_users")) * 100
                <= F.greatest(5 * F.col("exact_users"), F.lit(200))
            ).alias("merged_within_5pct"),
            (F.col("est") <= F.col("naive_daily_sum")).alias("merged_le_naive"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_HLL_ROLLUP = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    count(DISTINCT user_id) AS exact_daily
  FROM events GROUP BY 1, 2
), rolled AS (
  SELECT event_type, CAST(sum(exact_daily) AS BIGINT) AS naive_daily_sum,
    CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
), exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_users
  FROM events GROUP BY 1
)
SELECT r.event_type, r.n_days, x.exact_users, r.naive_daily_sum,
  TRUE AS merged_within_5pct, TRUE AS merged_le_naive
FROM rolled r JOIN exact x USING (event_type)
ORDER BY event_type
"""


# Count-min sketch: D salted hash rows x W buckets. With the MG heavy
# hitters, HLL rollup, and GK percentiles this completes the sketch
# family a 100 TB aggregation layer runs (frequency / distinct / rank).
CMS_D = 4
CMS_W = 256


def events_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, point-queried at the exact
    top-10 users. The sketch is built as DATA: the event stream reduces
    to user grain (one hash agg — CMS over a stream equals CMS over
    (key, count) pairs, so the cells aggregate the REDUCED relation),
    each user fans out to its CMS_D salted md5 buckets map-side, and the
    cell table is D*W = 1024 rows. Point query = min over the key's D
    cells — a broadcast join against the tiny cell table.

    Unlike a JVM-internal sketch (Spark's count_min_sketch agg emits an
    opaque binary with no SQL point-query), this formulation is a pure
    function of the data and portable hashes, so est values are
    ORACLE-CHECKED exactly, and `no_undercount` (est >= exact, the CMS
    theorem) is a live engine check. At 100 TB: the user-grain agg is
    the only data-sized shuffle; cells are map-side partial-agg friendly
    (1024 distinct keys), and the sketch merges across partitions/days
    by cell-wise addition — the same mergeability contract as the HLL
    rollup."""
    e = load_table(spark, sf_dir, "events")
    ex = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    d = dl.SPARK
    hashed = ex.select(
        "user_id",
        "cnt",
        *[
            F.expr(f"md5(concat('cms{r}|', CAST(user_id AS STRING)))").alias(f"h{r}")
            for r in range(CMS_D)
        ],
    ).select(
        "user_id",
        "cnt",
        *[
            F.expr(f"({dl.hex_prefix_uint(d, f'h{r}', 8)}) % {CMS_W}").alias(f"b{r}")
            for r in range(CMS_D)
        ],
    )
    melted = hashed.select(
        "cnt",
        F.posexplode(F.array(*[F.col(f"b{r}") for r in range(CMS_D)])).alias(
            "r", "bucket"
        ),
    )
    cells = melted.groupBy("r", "bucket").agg(F.sum("cnt").alias("cell"))
    top = (
        hashed.orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(10)
        .select(
            "user_id",
            F.col("cnt").alias("exact"),
            F.posexplode(F.array(*[F.col(f"b{r}") for r in range(CMS_D)])).alias(
                "r", "bucket"
            ),
        )
    )
    est = (
        top.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("user_id", "exact")
        .agg(F.min("cell").alias("est"))
    )
    return est.select(
        "user_id",
        "exact",
        "est",
        (F.col("est") >= F.col("exact")).alias("no_undercount"),
        (F.col("est") - F.col("exact")).alias("overcount"),
    ).orderBy(F.desc("exact"), F.asc("user_id"))


def _oracle_cms() -> str:
    d = dl.DUCK
    bexprs = ", ".join(
        f"({dl.hex_prefix_uint(d, f'h{r}', 8)}) % {CMS_W} AS b{r}" for r in range(CMS_D)
    )
    hexprs = ", ".join(
        f"md5(concat('cms{r}|', CAST(user_id AS VARCHAR))) AS h{r}"
        for r in range(CMS_D)
    )
    melt = " UNION ALL ".join(
        f"SELECT {r} AS r, b{r} AS bucket, cnt FROM hashed" for r in range(CMS_D)
    )
    qmelt = " UNION ALL ".join(
        f"SELECT user_id, exact, {r} AS r, b{r} AS bucket FROM top" for r in range(CMS_D)
    )
    return f"""
WITH ex AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
), hexed AS (
  SELECT user_id, cnt, {hexprs} FROM ex
), hashed AS (
  SELECT user_id, cnt, {bexprs} FROM hexed
), melted AS ({melt}),
cells AS (
  SELECT r, bucket, sum(cnt) AS cell FROM melted GROUP BY 1, 2
), top AS (
  SELECT user_id, cnt AS exact, b0, b1, b2, b3 FROM hashed
  ORDER BY cnt DESC, user_id ASC LIMIT 10
), qm AS ({qmelt}),
est AS (
  SELECT q.user_id, q.exact, CAST(min(c.cell) AS BIGINT) AS est
  FROM qm q JOIN cells c ON c.r = q.r AND c.bucket = q.bucket
  GROUP BY 1, 2
)
SELECT user_id, exact, est, est >= exact AS no_undercount,
  est - exact AS overcount
FROM est ORDER BY exact DESC, user_id ASC
"""


def events_hll_sliding_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day distinct users per day from MERGED daily HLL
    partials — the windowed face of events_hll_rollup's mergeability
    story, and the reason sketch partials beat raw re-scans at 100 TB:
    a naive sliding distinct re-scans 7 days of raw events per output
    day (7x read amplification); persisted daily sketches answer every
    window by unioning 7 lgK=12 partials. The union rides a RANGE
    window over DAY-grain rows (calendar-bounded — the global window is
    never data-sized), frame [d-6, d] by day INDEX so calendar gaps
    shorten the window rather than silently widening it.

    Eval contract (the events_hll_rollup convention): the readout
    carries the EXACT 7-day distinct (x7 fan-out of the distinct
    user-day pairs — each pair covers the 7 window-ends it belongs to;
    user-day grain, bounded) and the naive sum of daily exacts, and
    reduces the sketch estimate to two oracle-checkable booleans:
    within 5% of exact (+/-2 absolute floor) and <= the naive sum
    (union only removes double-counting). A deployment keeps the sketch
    columns only; the exact sides (``exact_daily``, ``naive_7d_sum`` and
    the ``cov``/``exact7`` fan-out) are the eval harness."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    ud = e.select(
        F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("di"),
        "user_id",
    )
    daily = ud.groupBy("di").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.count_distinct("user_id").alias("exact_daily"),
    )
    w = W.orderBy("di").rangeBetween(-6, 0)
    est = (
        daily.withColumn("u7", F.expr("hll_union_agg(sk)").over(w))
        .withColumn("est7", F.expr("CAST(round(hll_sketch_estimate(u7)) AS BIGINT)"))
        .withColumn("naive_7d_sum", F.sum("exact_daily").over(w))
        .withColumn("n_window_days", F.count(F.lit(1)).over(w))
    )
    cov = (
        ud.distinct()
        .select("user_id", F.explode(F.expr("sequence(di, di + 6)")).alias("di"))
        .distinct()
    )
    exact7 = cov.groupBy("di").agg(F.count(F.lit(1)).alias("exact_7d"))
    return (
        est.join(exact7, "di")
        .select(
            F.expr("date_add(DATE '1970-01-01', CAST(di AS INT))").alias("day"),
            "n_window_days",
            "exact_7d",
            "naive_7d_sum",
            (
                F.abs(F.col("est7") - F.col("exact_7d")) * 100
                <= F.greatest(5 * F.col("exact_7d"), F.lit(200))
            ).alias("merged_within_5pct"),
            (F.col("est7") <= F.col("naive_7d_sum")).alias("merged_le_naive"),
        )
        .orderBy("day")
    )


ORACLE_EVENTS_HLL_SLIDING = """
WITH ud AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS di, user_id FROM events
), daily AS (
  SELECT di, count(DISTINCT user_id) AS exact_daily FROM ud GROUP BY 1
), win AS (
  SELECT di, CAST(sum(exact_daily) OVER w AS BIGINT) AS naive_7d_sum,
    CAST(count(*) OVER w AS BIGINT) AS n_window_days
  FROM daily
  WINDOW w AS (ORDER BY di RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
), cov AS (
  SELECT DISTINCT di, user_id FROM (
    SELECT user_id, unnest(generate_series(di, di + 6)) AS di
    FROM (SELECT DISTINCT di, user_id FROM ud)
  )
), exact7 AS (
  SELECT di, count(*) AS exact_7d FROM cov GROUP BY 1
)
SELECT DATE '1970-01-01' + CAST(w.di AS INT) AS day, w.n_window_days,
  CAST(x.exact_7d AS BIGINT) AS exact_7d, w.naive_7d_sum,
  TRUE AS merged_within_5pct, TRUE AS merged_le_naive
FROM win w JOIN exact7 x ON x.di = w.di
ORDER BY day
"""


# Fixed alphabetical bit assignment for the audience-overlap bitmask.
AUD_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types (n_a, n_b, n_both,
    Jaccard) — the segment-overlap matrix behind 'how much do purchasers
    overlap with error-hitters'. The 100 TB trick: reduce each user to a
    5-bit TYPE BITMASK (one user-keyed agg), then aggregate the <= 31-row
    mask HISTOGRAM; every pairwise intersection/union is pure arithmetic
    over that histogram — the FULL exact overlap matrix costs one scan +
    one user-keyed agg + one 31-row readout, not C(types,2) distinct
    self-joins. (This is the exact-counting analogue of the theta-sketch
    intersection pattern; with |types| beyond ~20 the histogram widens
    and HLL sketch intersections take over.)

    The readout is the stats_correlation_matrix stack shape: ONE
    aggregation row carrying every per-type and per-pair count, stacked
    to pair rows. All integers; Jaccard is a round_ratio rational."""
    e = load_table(spark, sf_dir, "events")
    bit = "CASE " + " ".join(
        f"WHEN event_type = '{t}' THEN {1 << i}" for i, t in enumerate(AUD_TYPES)
    ) + " ELSE 0 END"
    masks = (
        e.select("user_id", F.expr(bit).alias("b"))
        .groupBy("user_id")
        .agg(F.expr("sum(DISTINCT b)").alias("mask"))
    )
    hist = masks.groupBy("mask").agg(F.count(F.lit(1)).alias("cnt"))
    aggs = []
    for i, t in enumerate(AUD_TYPES):
        aggs.append(
            F.sum(
                F.when(F.expr(f"(mask DIV {1 << i}) % 2 = 1"), F.col("cnt")).otherwise(0)
            ).alias(f"n_{t}")
        )
    pairs = [
        (AUD_TYPES[i], AUD_TYPES[j], i, j)
        for i in range(len(AUD_TYPES))
        for j in range(i + 1, len(AUD_TYPES))
    ]
    for ta, tb, i, j in pairs:
        aggs.append(
            F.sum(
                F.when(
                    F.expr(
                        f"(mask DIV {1 << i}) % 2 = 1 AND (mask DIV {1 << j}) % 2 = 1"
                    ),
                    F.col("cnt"),
                ).otherwise(0)
            ).alias(f"nb_{ta}__{tb}")
        )
    one = hist.agg(*aggs)
    d = dl.SPARK

    # empty-union guard (repo CASE-den=0 convention): a type pair with no
    # members in either audience has Jaccard 0.0, not a division error
    def jac(ta: str, tb: str) -> str:
        den = f"(n_{ta} + n_{tb} - nb_{ta}__{tb})"
        return (
            f"CASE WHEN {den} = 0 THEN 0.0 "
            f"ELSE {dl.round_ratio(d, f'nb_{ta}__{tb}', den)} END"
        )
    stack_args = ", ".join(
        f"'{ta}', '{tb}', n_{ta}, n_{tb}, nb_{ta}__{tb}, {jac(ta, tb)}"
        for ta, tb, _, _ in pairs
    )
    return one.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) "
            "AS (type_a, type_b, n_a, n_b, n_both, jaccard)"
        )
    )


def _oracle_audience_overlap() -> str:
    d = dl.DUCK
    bit = "CASE " + " ".join(
        f"WHEN event_type = '{t}' THEN {1 << i}" for i, t in enumerate(AUD_TYPES)
    ) + " ELSE 0 END"
    pairs = [
        (AUD_TYPES[i], AUD_TYPES[j], i, j)
        for i in range(len(AUD_TYPES))
        for j in range(i + 1, len(AUD_TYPES))
    ]
    cols = []
    for i, t in enumerate(AUD_TYPES):
        cols.append(
            f"CAST(sum(CASE WHEN (mask // {1 << i}) % 2 = 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_{t}"
        )
    for ta, tb, i, j in pairs:
        cols.append(
            f"CAST(sum(CASE WHEN (mask // {1 << i}) % 2 = 1 AND (mask // {1 << j}) % 2 = 1 "
            f"THEN cnt ELSE 0 END) AS BIGINT) AS nb_{ta}__{tb}"
        )
    def jac(ta: str, tb: str) -> str:
        den = f"(n_{ta} + n_{tb} - nb_{ta}__{tb})"
        return (
            f"CASE WHEN {den} = 0 THEN 0.0 "
            f"ELSE {dl.round_ratio(d, f'nb_{ta}__{tb}', den)} END"
        )

    rows = " UNION ALL ".join(
        f"SELECT '{ta}' AS type_a, '{tb}' AS type_b, n_{ta} AS n_a, n_{tb} AS n_b, "
        f"nb_{ta}__{tb} AS n_both, "
        f"{jac(ta, tb)} AS jaccard "
        "FROM one"
        for ta, tb, _, _ in pairs
    )
    return f"""
WITH masks AS (
  SELECT user_id, CAST(sum(DISTINCT {bit}) AS BIGINT) AS mask
  FROM events GROUP BY user_id
), hist AS (
  SELECT mask, CAST(count(*) AS BIGINT) AS cnt FROM masks GROUP BY mask
), one AS (
  SELECT {', '.join(cols)} FROM hist
)
{rows}
"""


TRIGRAM_TOP = 10


def events_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user paths of three consecutive event types (the 'what journey
    leads to X' Sankey surface) — extends the first-order Markov matrix
    (events_markov_transitions) to order-2 context with the SAME plan
    shape: one user-keyed shuffle for the two lag windows, one hash agg
    on the path string. Share is an exact integer ratio of path count to
    total trigram count; the total rides a single-partition window over
    the path-domain rows (<= |types|^3, constant-sized at any corpus
    scale). Ordering ties break alphabetically on the path."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        e.select(
            "user_id",
            "event_id",
            "ts",
            F.lag("event_type", 2).over(w).alias("t0"),
            F.lag("event_type", 1).over(w).alias("t1"),
            F.col("event_type").alias("t2"),
        )
        .filter(F.col("t0").isNotNull() & F.col("t1").isNotNull())
        .select(
            F.concat_ws(">", "t0", "t1", "t2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    d = dl.SPARK
    return (
        tri.withColumn("total", F.expr("sum(n) OVER ()"))
        .select(
            "path",
            "n",
            F.expr(dl.round_ratio(d, "n", "total")).alias("share"),
        )
        .orderBy(F.desc("n"), "path")
        .limit(TRIGRAM_TOP)
    )


def _oracle_trigram_paths() -> str:
    d = dl.DUCK
    return f"""
WITH tri AS (
  SELECT
    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t0,
    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1,
    event_type AS t2
  FROM events
), paths AS (
  SELECT t0 || '>' || t1 || '>' || t2 AS path, CAST(count(*) AS BIGINT) AS n
  FROM tri WHERE t0 IS NOT NULL AND t1 IS NOT NULL
  GROUP BY 1
)
SELECT path, n, {dl.round_ratio(d, 'n', 'total')} AS share
FROM (SELECT *, CAST(sum(n) OVER () AS BIGINT) AS total FROM paths)
ORDER BY n DESC, path
LIMIT {TRIGRAM_TOP}
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov): count
    consecutive (prev -> next) pairs via one lag window, then row-normalize
    to probabilities with integer-ratio rounding (tie-safe). One shuffle on
    user_id for the lag, one hash agg on the (from, to) pair — the
    product-analytics 'what happens after X' surface."""
    from pyspark.sql.window import Window

    from ..functions import dialect as dl

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.expr(
            dl.round_ratio(
                dl.SPARK,
                "n",
                "sum(n) OVER (PARTITION BY from_type)",
            )
        ).alias("p"),
    )


def _oracle_markov() -> str:
    from ..functions import dialect as dl

    p = dl.round_ratio(dl.DUCK, "n", "sum(n) OVER (PARTITION BY from_type)")
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n, {p} AS p FROM pairs
"""


MAD_K_NUM = 3  # flag |x - median| > 3 * MAD (the standard robust cutoff)


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median absolute deviation
    (exact percentile both times), flag values beyond 3*MAD. Two grouped
    percentile aggs + one broadcast-back join — mean/stddev would be
    dragged by the very outliers being hunted, which is the point of MAD.

    SCALE NOTE: exact medians buffer each group (documented trade in
    `percentiles`); at 100 TB swap both for approx_percentile — same
    plan shape, sketch memory. Returns per-type counts + bounds so the
    output is audit-sized, not row-sized.

    Values are quantized to cents (BIGINT) BEFORE the percentile/MAD
    pipeline (ADVICE r3): integer inputs make every interpolated median a
    half-integer, every deviation a half, every 3*MAD bound a multiple of
    1/2 — all exact binary doubles, so the adev > 3*mad boundary cannot
    flap on a cross-engine last-ulp difference the way raw-double
    percentile() vs quantile_cont() could."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(round(value * 100) AS BIGINT)").alias("vc")
    )
    med = e.groupBy("event_type").agg(
        F.expr("percentile(vc, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "vc", "med", F.abs(F.col("vc") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.any_value("med").alias("med"), F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = dev.drop("med").join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type")
        .agg(
            F.any_value("med").alias("med_c"),
            F.any_value("mad").alias("mad_c"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("adev") > MAD_K_NUM * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            F.round(F.col("med_c") / 100, 4).alias("median_value"),
            F.round(F.col("mad_c") / 100, 4).alias("mad"),
            "n_events",
            "n_outliers",
        )
    )


def _oracle_anomaly_mad() -> str:
    return f"""
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc FROM events
), med AS (
  SELECT event_type, quantile_cont(vc, 0.5) AS med
  FROM e GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.vc, m.med, abs(e.vc - m.med) AS adev
  FROM e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
  round(any_value(d.med) / 100, 4) AS median_value,
  round(any_value(m.mad) / 100, 4) AS mad,
  count(*) AS n_events,
  CAST(sum(CASE WHEN d.adev > {MAD_K_NUM} * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


ROLLING_DAU_DAYS = 7


def events_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day active users per day — the DAU/WAU metric.
    COUNT(DISTINCT) is not legal inside a window frame in either engine,
    so the standard rewrite applies: reduce to the distinct (user, day)
    relation (one hash agg — the big shrink), then a bounded range join
    of days x user-days (each user-day lands in <= 7 windows) and one
    count-distinct per window day.

    At 100 TB the (user, day) reduction is what makes this affordable:
    the range join runs over |active user-days|, not raw events — and the
    7x fan-out is a constant. The sketch alternative (events_hll_rollup)
    trades exactness for merging; this is the exact-path twin."""
    e = load_table(spark, sf_dir, "events")
    user_days = e.select(
        F.col("user_id"), F.to_date("ts").alias("day")
    ).distinct()
    days = user_days.select("day").distinct().select(F.col("day").alias("win_day"))
    joined = days.join(
        user_days,
        (F.col("day") <= F.col("win_day"))
        & (F.col("day") >= F.date_sub(F.col("win_day"), ROLLING_DAU_DAYS - 1)),
    )
    return joined.groupBy("win_day").agg(
        F.count_distinct("user_id").alias("active_users_7d"),
        F.count(F.lit(1)).alias("user_day_rows"),
    )


def _oracle_rolling_dau() -> str:
    return f"""
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), days AS (
  SELECT DISTINCT day AS win_day FROM user_days
)
SELECT win_day, count(DISTINCT user_id) AS active_users_7d,
  count(*) AS user_day_rows
FROM days JOIN user_days
  ON day <= win_day AND day >= win_day - {ROLLING_DAU_DAYS - 1}
GROUP BY win_day
"""


# --------------------------------------------------------- market basket
# Pair rule minimum support: pair must appear in >= 1% of baskets
# (relative — an absolute count flips between all-pass and none-pass as
# the corpus scales; integer cross-multiplication keeps it engine-exact).
MB_SUP_NUM = 1
MB_SUP_DEN = 100
MB_TOP = 20


def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules (support / confidence / lift) over order
    baskets, items = part brand — the frequent-itemset surface (the
    2-itemset level of Apriori/FP-growth, which is where most production
    affinity analyses stop: pair rules are what recommenders and
    cross-sell reports consume).

    Plan shape for 100 TB: ONE shuffle keyed by the order key builds each
    basket as a sorted distinct-item ARRAY; pair candidates are then
    generated MAP-SIDE from each array (C(items_per_basket, 2) structs
    per basket, bounded by the ~7-lineitem order grain, never |items|²)
    — no basket self-join, so the only other shuffles are the tiny
    (item_a, item_b) and per-item aggs (|brands|²-bounded). This
    formulation replaced a basket-key self-join: same result, one fewer
    edge-sized shuffle, measured 2.90 s -> ~1.3 s at sf0.1. Item counts
    and the basket-count scalar ride broadcast sides. All metrics are
    integer-exact ratios (dialect.round_ratio); at >2^63/1e4 basket
    counts, promote the lift numerator to DECIMAL(38,0) (repo
    convention).

    Rule ordering is (lift DESC, item_a, item_b) — lift doubles come from
    identical BIGINTs in both engines, so the top-MB_TOP cut is stable."""
    # fan_out_small (r14): the broadcast probe + partial collect_set over
    # every lineitem row ran as ONE task on the single-row-group fixture;
    # the floor shuffles only the slim 2-column projection.
    li = fan_out_small(
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"), spark
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("items"))
    )
    # three consumers (basket count, item counts, pair fan-out):
    # materialize once — the staging-tier lesson. r15 (ADVICE r14,
    # medium): the r14 LAZY checkpoint's first touch happened INSIDE the
    # nb/items BroadcastExchange builds, compiling the whole basket
    # shuffle into an opaque lineage raced by three concurrent broadcast
    # threads under spark.sql.broadcastTimeout — fine at gate scale, a
    # timeout risk at 100 TB. Materialize through a cheap NON-broadcast
    # action instead: the count IS the n_baskets scalar (driver model
    # state, one BIGINT), so the 1-row broadcast + crossJoin disappear
    # into a literal and the checkpoint still costs one pre-job, not two
    # (the count job is the materializer).
    baskets = audit_plan("basket_rel", baskets).localCheckpoint(eager=False)
    n_baskets = baskets.count()
    items = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # map-side ordered-pair fan-out from the sorted array: for element i,
    # pair it with every later element (items are distinct + sorted, so
    # item_a < item_b holds by construction)
    pair_gen = (
        "flatten(transform(items, (x, i) -> "
        "transform(slice(items, i + 2, size(items)), "
        "y -> struct(x AS item_a, y AS item_b))))"
    )
    pairs = (
        baskets.select(F.explode(F.expr(pair_gen)).alias("pr"))
        .select(F.col("pr.item_a").alias("item_a"), F.col("pr.item_b").alias("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
    )
    d = dl.SPARK
    return (
        pairs.join(
            F.broadcast(items.select(F.col("item").alias("item_a"), F.col("cnt").alias("a_n"))),
            "item_a",
        )
        .join(
            F.broadcast(items.select(F.col("item").alias("item_b"), F.col("cnt").alias("b_n"))),
            "item_b",
        )
        .withColumn("n_baskets", F.lit(n_baskets).cast("bigint"))
        .filter(F.col("pair_n") * MB_SUP_DEN >= F.lit(MB_SUP_NUM) * F.col("n_baskets"))
        .select(
            "item_a",
            "item_b",
            "pair_n",
            "a_n",
            "b_n",
            "n_baskets",
            F.expr(dl.round_ratio(d, "pair_n", "n_baskets")).alias("support"),
            F.expr(dl.round_ratio(d, "pair_n", "a_n")).alias("confidence"),
            F.expr(
                dl.round_ratio(d, "(pair_n * n_baskets)", "(a_n * b_n)")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "item_a", "item_b")
        .limit(MB_TOP)
    )


def _oracle_market_basket() -> str:
    d = dl.DUCK
    return f"""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS okey, p_brand AS item
  FROM lineitem JOIN part ON p_partkey = l_partkey
), nb AS (
  SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_baskets FROM baskets
), it AS (
  SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM baskets GROUP BY 1
), pr AS (
  SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS pair_n
  FROM baskets a JOIN baskets b ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1, 2
)
SELECT item_a, item_b, pair_n, ia.cnt AS a_n, ib.cnt AS b_n, n_baskets,
  {dl.round_ratio(d, 'pair_n', 'n_baskets')} AS support,
  {dl.round_ratio(d, 'pair_n', 'ia.cnt')} AS confidence,
  {dl.round_ratio(d, '(pair_n * n_baskets)', '(ia.cnt * ib.cnt)')} AS lift
FROM pr
JOIN it ia ON ia.item = pr.item_a
JOIN it ib ON ib.item = pr.item_b
CROSS JOIN nb
WHERE pair_n * {MB_SUP_DEN} >= {MB_SUP_NUM} * n_baskets
ORDER BY lift DESC, item_a, item_b
LIMIT {MB_TOP}
"""


# ---------------------------------------------------------------- OLS slope
def part_price_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand least-squares fit of retail price (cents) against part
    size — grouped simple linear regression from SUFFICIENT STATISTICS:
    one hash agg collects (n, Sx, Sy, Sxx, Sxy, Syy) per brand as exact
    BIGINTs, then slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) and r^2 are
    closed-form per-brand expressions. The grouped counterpart of
    ml_normal_equations's global fit: no window, no per-group iteration,
    one shuffle keyed by brand at any scale.

    Exactness: sums are BIGINT; slope is the sign-split integer
    round_ratio (the helper requires a non-negative numerator); r^2 is
    (num/den)*(num/dyy) — two bigint->double divisions (identical IEEE
    both engines; num^2 as an integer would overflow BIGINT, which is
    also why the r^2 pieces stay as ratios). At 100 TB the same stats
    escalate to DECIMAL(38,0); the plan shape is unchanged."""
    p = load_table(spark, sf_dir, "part")
    stats = p.groupBy(F.col("p_brand").alias("brand")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p_size").cast("bigint")).alias("sx"),
        F.sum(F.expr("CAST(round(p_retailprice * 100) AS BIGINT)")).alias("sy"),
        F.sum(F.expr("CAST(p_size AS BIGINT) * p_size")).alias("sxx"),
        F.sum(F.expr("CAST(p_size AS BIGINT) * CAST(round(p_retailprice * 100) AS BIGINT)")).alias("sxy"),
        F.sum(F.expr("CAST(round(p_retailprice * 100) AS BIGINT) * CAST(round(p_retailprice * 100) AS BIGINT)")).alias("syy"),
    )
    d = dl.SPARK
    num, den, dyy = "(n * sxy - sx * sy)", "(n * sxx - sx * sx)", "(n * syy - sy * sy)"
    slope = (
        f"CASE WHEN {den} = 0 THEN NULL "
        f"WHEN {num} >= 0 THEN {dl.round_ratio(d, num, den, 6)} "
        f"ELSE -{dl.round_ratio(d, f'(-{num})', den, 6)} END"
    )
    r2 = (
        f"CASE WHEN {den} = 0 OR {dyy} = 0 THEN NULL ELSE "
        f"round((CAST({num} AS DOUBLE) / {den}) * (CAST({num} AS DOUBLE) / {dyy}), 6) END"
    )
    return stats.select(
        "brand",
        F.col("n").alias("n_parts"),
        F.expr(slope).alias("slope_cents_per_size"),
        F.expr(r2).alias("r2"),
        F.expr(dl.round_ratio(d, "sy", "(n * 100)")).alias("avg_price"),
    ).orderBy("brand")


def _oracle_price_slope() -> str:
    d = dl.DUCK
    num, den, dyy = "(n * sxy - sx * sy)", "(n * sxx - sx * sx)", "(n * syy - sy * sy)"
    return f"""
WITH stats AS (
  SELECT p_brand AS brand, count(*) AS n,
    CAST(sum(CAST(p_size AS BIGINT)) AS BIGINT) AS sx,
    CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS sy,
    CAST(sum(CAST(p_size AS BIGINT) * p_size) AS BIGINT) AS sxx,
    CAST(sum(CAST(p_size AS BIGINT) * CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS sxy,
    CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT) * CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS syy
  FROM part GROUP BY 1
)
SELECT brand, n AS n_parts,
  CASE WHEN {den} = 0 THEN NULL
    WHEN {num} >= 0 THEN {dl.round_ratio(d, num, den, 6)}
    ELSE -{dl.round_ratio(d, f'(-{num})', den, 6)} END AS slope_cents_per_size,
  CASE WHEN {den} = 0 OR {dyy} = 0 THEN NULL ELSE
    round((CAST({num} AS DOUBLE) / {den}) * (CAST({num} AS DOUBLE) / {dyy}), 6) END AS r2,
  {dl.round_ratio(d, 'sy', '(n * 100)')} AS avg_price
FROM stats ORDER BY brand
"""


QUERIES = {
    "part_price_slope": part_price_slope,
    "events_cms_topk": events_cms_topk,
    "market_basket_rules": market_basket_rules,
    "events_audience_overlap": events_audience_overlap,
    "events_trigram_paths": events_trigram_paths,
    "events_cdc_state": events_cdc_state,
    "events_attribution": events_attribution,
    "events_hll_rollup": events_hll_rollup,
    "events_hll_sliding_dau": events_hll_sliding_dau,
    "events_markov_transitions": events_markov_transitions,
    "events_anomaly_mad": events_anomaly_mad,
    "events_rolling_dau": events_rolling_dau,
    "agg_approx_distinct": agg_approx_distinct,
    "stats_aggregates": stats_aggregates,
    "percentiles": percentiles,
    "percentiles_approx": percentiles_approx,
    "pivot_status_priority": pivot_status_priority,
    "unpivot_nation_balances": unpivot_nation_balances,
    "subqueries": subqueries,
    "map_functions": map_functions,
    "higher_order_functions": higher_order_functions,
    "null_handling": null_handling,
    "try_functions": try_functions,
    "agg_argmax": agg_argmax,
    "events_cooccurrence": events_cooccurrence,
    "events_rolling_features": events_rolling_features,
    "window_distribution_funcs": window_distribution_funcs,
    "events_retention_cohorts": events_retention_cohorts,
    "tweet_parse_clean_country": tweet_parse_clean_country,
}

ORACLES = {
    "part_price_slope": _oracle_price_slope(),
    "events_cms_topk": _oracle_cms(),
    "market_basket_rules": _oracle_market_basket(),
    "events_audience_overlap": _oracle_audience_overlap(),
    "events_trigram_paths": _oracle_trigram_paths(),
    "events_cdc_state": _oracle_cdc_state(),
    "events_attribution": _oracle_attribution(),
    "events_markov_transitions": _oracle_markov(),
    "events_anomaly_mad": _oracle_anomaly_mad(),
    "events_rolling_dau": _oracle_rolling_dau(),
    "stats_aggregates": ORACLE_STATS,
    "percentiles": ORACLE_PERCENTILES,
    "percentiles_approx": ORACLE_PERCENTILES_APPROX,
    "agg_approx_distinct": ORACLE_AGG_APPROX_DISTINCT,
    "events_hll_rollup": ORACLE_EVENTS_HLL_ROLLUP,
    "events_hll_sliding_dau": ORACLE_EVENTS_HLL_SLIDING,
    "pivot_status_priority": ORACLE_PIVOT,
    "unpivot_nation_balances": ORACLE_UNPIVOT,
    "subqueries": SQL_SUBQUERIES,
    "map_functions": ORACLE_MAP_FUNCS,
    "higher_order_functions": ORACLE_HIGHER_ORDER,
    "null_handling": ORACLE_NULL_HANDLING,
    "try_functions": ORACLE_TRY_FUNCS,
    "agg_argmax": ORACLE_ARGMAX,
    "events_cooccurrence": _oracle_cooccurrence(),
    "events_rolling_features": _oracle_rolling(),
    "window_distribution_funcs": ORACLE_WINDOW_DIST,
    "events_retention_cohorts": ORACLE_RETENTION,
    "tweet_parse_clean_country": ORACLE_TWEET_PARSE,
}
