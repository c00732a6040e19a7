"""Fourth-session analytics operators (round 8 continuation):

- DAU/MAU stickiness with the per-user interval-merge rewrite (the
  28-day exact MAU that a naive day x user-day range join would pay a
  28x fan-out for),
- Kendall tau-b rank correlation over the bounded day grain,
- the hashing-trick featurizer (feature hashing over document tokens),
- Neyman allocation for stratified sampling budgets,
- a balanced range-split planner for repartitionByRange layouts,
- uplift-by-decile (Qini-style) experiment readout,
- the stationary distribution of the event-type Markov chain by
  unrolled power iteration.

Same contract as every other operator module: pure DataFrame/window/agg
compositions (no row Python), exact-integer sums before any IEEE math,
one shared double expression per readout column, and a DuckDB oracle per
query.

Reference tie-in: the reference's analytic core is a keyed windowed
count (proc:131-140); these extend the same key -> agg -> readout shape
to the retention/experimentation/featurization queries a production
analytics stack runs beside it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..functions import dialect as dl
from ..sources.loaders import driver_rows_df, load_table
from .analytics_ext import ANOVA_DOW, ANOVA_DOW_DUCK


# ---------------------------------------------------------------- stickiness
MAU_WINDOW_DAYS = 28  # trailing window for the MAU denominator


def events_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the canonical product-engagement
    ratio (what share of the monthly actives showed up today), with the
    MAU side computed EXACTLY over a trailing 28-day window.

    The naive exact plan (events_rolling_dau's day x user-day range
    join) pays a fan-out equal to the window length — fine at 7 days,
    4x worse at 28. This is the interval-merge rewrite: an active day d
    makes its user MAU-active for window ends [d, d+27], so per user,
    active days closer than the window merge into one covered interval
    (gaps-and-islands with gap > W as the break). Each user contributes
    ONE exploded row per covered day, not per (active-day x 28): for a
    regularly-active user the blow-up is ~1x, and the worst case
    (isolated single days) degrades to exactly the naive fan-out, never
    worse. MAU(d) is then a plain count because per-user intervals are
    disjoint by construction.

    Scale: the user-day distinct is the big shrink (cardinality bounded
    by users x days, orders below the event count); the lag window
    partitions by user; the explode is linear in covered user-days.
    Day-index arithmetic per the repo convention (unix_timestamp DIV
    86400 vs floor(epoch) in DuckDB — epoch() alone ROUNDS sub-second
    fractions)."""
    e = load_table(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id",
            F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("di"),
        )
        .distinct()
    )
    lag = F.lag("di").over(W.partitionBy("user_id").orderBy("di"))
    brk = F.when(
        lag.isNull() | (F.col("di") - lag > MAU_WINDOW_DAYS), F.lit(1)
    ).otherwise(F.lit(0))
    isl = ud.select(
        "user_id",
        "di",
        F.sum(brk).over(
            W.partitionBy("user_id").orderBy("di").rowsBetween(W.unboundedPreceding, 0)
        ).alias("island"),
    )
    cover = (
        isl.groupBy("user_id", "island")
        .agg(F.min("di").alias("lo"), F.max("di").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.expr(f"sequence(lo, hi + {MAU_WINDOW_DAYS - 1})")
            ).alias("di"),
        )
    )
    mau = cover.groupBy("di").agg(F.count(F.lit(1)).alias("mau_28d"))
    dau = ud.groupBy("di").agg(F.count(F.lit(1)).alias("dau"))
    ratio = dl.round_ratio(dl.SPARK, "dau", "mau_28d")
    return (
        dau.join(mau, "di")
        .selectExpr("di", "dau", "mau_28d", f"{ratio} AS stickiness")
        .orderBy("di")
    )


def _oracle_stickiness() -> str:
    d = dl.DUCK
    ratio = dl.round_ratio(d, "dau", "mau_28d")
    return f"""
WITH ud AS (
  SELECT DISTINCT user_id,
    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS di
  FROM events
), brk AS (
  SELECT user_id, di,
    CASE WHEN di - lag(di) OVER (PARTITION BY user_id ORDER BY di)
              > {MAU_WINDOW_DAYS}
         OR lag(di) OVER (PARTITION BY user_id ORDER BY di) IS NULL
      THEN 1 ELSE 0 END AS b
  FROM ud
), isl AS (
  SELECT user_id, di,
    sum(b) OVER (PARTITION BY user_id ORDER BY di
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
), cover AS (
  SELECT user_id,
    unnest(generate_series(min(di), max(di) + {MAU_WINDOW_DAYS - 1})) AS di
  FROM isl GROUP BY user_id, island
), mau AS (
  SELECT di, count(*) AS mau_28d FROM cover GROUP BY di
), dau AS (
  SELECT di, count(*) AS dau FROM ud GROUP BY di
)
SELECT dau.di AS di, dau, mau_28d, {ratio} AS stickiness
FROM dau JOIN mau ON dau.di = mau.di
ORDER BY di
"""


# ---------------------------------------------------------------- kendall tau
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily order volume and daily revenue — the
    rank-correlation twin of stats_spearman_rho that is robust to ties
    by construction (tau-b's denominator discounts tied pairs on either
    axis). Concordant/discordant/tied pair counts come from the classic
    pairwise definition over the DAY-GRAIN series.

    Scale: the quadratic pair join runs on the day grain, which is
    CALENDAR-bounded (~2.4k days at any SF — the same argument as every
    day-spine op): pairs are ~3M regardless of event volume, evaluated
    once. The O(n log n) merge-sort inversion count is the textbook
    alternative; at a calendar-bounded n it buys nothing. The non-equi
    self-join is whitelisted in tests/test_plan_hygiene.py with this
    reason. x/y are exact BIGINTs (count, cents), so the comparisons
    and the C/D/tie counts are integer-exact; tau-b and the normal
    z-statistic are one shared IEEE expression over them."""
    o = load_table(spark, sf_dir, "orders")
    day = (
        o.select(
            F.expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS BIGINT)").alias(
                "di"
            ),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("di")
        .agg(F.count(F.lit(1)).alias("x"), F.sum("cents").alias("y"))
    )
    a = day.select(
        F.col("di").alias("di1"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = day.select(
        F.col("di").alias("di2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    pairs = a.join(b, F.col("di1") < F.col("di2"))
    agg = pairs.agg(
        F.sum(
            F.when(
                ((F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2")))
                | ((F.col("x1") > F.col("x2")) & (F.col("y1") > F.col("y2"))),
                1,
            ).otherwise(0)
        ).alias("nc"),
        F.sum(
            F.when(
                ((F.col("x1") < F.col("x2")) & (F.col("y1") > F.col("y2")))
                | ((F.col("x1") > F.col("x2")) & (F.col("y1") < F.col("y2"))),
                1,
            ).otherwise(0)
        ).alias("nd"),
        F.sum(F.when(F.col("x1") == F.col("x2"), 1).otherwise(0)).alias("tx"),
        F.sum(F.when(F.col("y1") == F.col("y2"), 1).otherwise(0)).alias("ty"),
        F.count(F.lit(1)).alias("n0"),
    )
    n_days = day.agg(F.count(F.lit(1)).alias("n_days"))
    tau = (
        "(CAST(nc - nd AS DOUBLE) "
        "/ sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)))"
    )
    z = (
        "(3.0 * CAST(nc - nd AS DOUBLE) "
        "/ sqrt(CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5) / 2.0))"
    )
    return agg.crossJoin(n_days).selectExpr(
        "n_days",
        "nc",
        "nd",
        "tx",
        "ty",
        f"round({tau}, 4) AS tau_b",
        f"round({z}, 4) AS z_stat",
    )


def _oracle_kendall() -> str:
    tau = (
        "(CAST(nc - nd AS DOUBLE) "
        "/ sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE)))"
    )
    z = (
        "(3.0 * CAST(nc - nd AS DOUBLE) "
        "/ sqrt(CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5) / 2.0))"
    )
    return f"""
WITH day AS (
  SELECT (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS di,
    count(*) AS x,
    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
  FROM orders GROUP BY 1
), agg AS (
  SELECT
    CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
    CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT) AS nd,
    CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
    CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty,
    count(*) AS n0
  FROM day a JOIN day b ON a.di < b.di
), nn AS (SELECT count(*) AS n_days FROM day)
SELECT n_days, nc, nd, tx, ty,
  round({tau}, 4) AS tau_b,
  round({z}, 4) AS z_stat
FROM agg, nn
"""


# ------------------------------------------------------------ feature hashing
FH_DIM = 4096  # hashed feature space (2^12)
FH_TOP = 20    # readout rows


def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick featurizer (Weinberger et al. 2009) over the
    document corpus: every token maps to a feature index
    md5-prefix % FH_DIM with a +/-1 sign from an independent hash
    nibble — the fixed-width, vocabulary-free text featurization that
    large-scale linear models and online learners train on (no
    dictionary build, no driver-side vocab broadcast, new tokens never
    change the schema). Readout: the FH_TOP heaviest feature buckets
    with their instance counts, signed sums (the value a linear model
    would accumulate), and the distinct-token collision count per
    bucket.

    Consumes the shared tokenize-once staging relation. Scale: one
    token-grain hash agg into a D-bounded (4096-row) space — map-side
    partials do almost all the work, and the output is constant-sized
    regardless of corpus size. All-integer arithmetic (md5-prefix
    folds), so cross-engine equality is exact."""
    from .dedup import tokenized_docs_staging

    toks = tokenized_docs_staging(spark, sf_dir).select(
        F.explode("toks").alias("w")
    )
    h = toks.selectExpr("w", "md5(w) AS hx").selectExpr(
        "w",
        f"pmod({dl.hex_prefix_uint(dl.SPARK, 'hx', 8)}, {FH_DIM}) AS feat",
        f"CASE WHEN {dl.hex_nibble(dl.SPARK, 'substr(hx, 9, 1)')} < 8 "
        "THEN 1 ELSE -1 END AS sgn",
    )
    return (
        h.groupBy("feat")
        .agg(
            F.count(F.lit(1)).alias("n_instances"),
            F.sum("sgn").alias("signed_sum"),
            F.count_distinct("w").alias("n_distinct_tokens"),
        )
        .orderBy(F.desc("n_instances"), F.asc("feat"))
        .limit(FH_TOP)
    )


def _oracle_feature_hashing() -> str:
    d = dl.DUCK
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(d, 'text')} AS toks FROM documents
), tok AS (
  SELECT {dl.unnest(d, 'toks')} AS w FROM tokd
), h AS (
  SELECT w, md5(w) AS hx FROM tok
), f AS (
  SELECT w,
    ({dl.hex_prefix_uint(d, 'hx', 8)}) % {FH_DIM} AS feat,
    CASE WHEN {dl.hex_nibble(d, 'substr(hx, 9, 1)')} < 8
      THEN 1 ELSE -1 END AS sgn
  FROM h
)
SELECT feat, count(*) AS n_instances,
  CAST(sum(sgn) AS BIGINT) AS signed_sum,
  count(DISTINCT w) AS n_distinct_tokens
FROM f GROUP BY feat
ORDER BY n_instances DESC, feat ASC
LIMIT {FH_TOP}
"""


# --------------------------------------------------------- neyman allocation
NEYMAN_BUDGET = 10000  # total sample budget to allocate across strata


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation over the events
    table (strata = event_type): the sample budget each stratum should
    get to minimize the variance of the estimated mean, n_h proportional
    to N_h * s_h — the survey-sampling design readout a platform shows
    next to its samplers (sample_stratified draws the rows; this decides
    HOW MANY per stratum, and how far proportional allocation is from
    optimal).

    Exact arithmetic: per-stratum n/s1/s2 are exact cents BIGINTs; the
    std, the Neyman and proportional shares, and the allocated budget
    are each ONE shared IEEE expression over them (ks_lambda
    convention). The stratum-total denominators ride a global window
    over the TYPE-GRAIN grouped relation (a handful of rows — never
    data-sized), not a scalar cross join.

    Scale: one (event_type) hash agg; everything after is constant-
    sized."""
    e = load_table(spark, sf_dir, "events")
    g = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    std = (
        "sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1) "
        "/ (CAST(n AS DOUBLE) * (n - 1)))"
    )
    w_all = W.partitionBy()
    scored = g.select(
        "event_type",
        "n",
        F.expr(std).alias("ns_std"),
        F.sum("n").over(w_all).alias("n_tot"),
        F.sum(F.expr(f"CAST(n AS DOUBLE) * {std}")).over(w_all).alias("d_tot"),
    )
    return scored.selectExpr(
        "event_type",
        "n AS n_rows",
        "round(ns_std / 100, 4) AS std_dollars",
        "round(CAST(n AS DOUBLE) * ns_std / d_tot, 4) AS neyman_share",
        "round(CAST(n AS DOUBLE) / n_tot, 4) AS prop_share",
        f"round({NEYMAN_BUDGET} * CAST(n AS DOUBLE) * ns_std / d_tot, 2) "
        "AS alloc_rows",
    ).orderBy("event_type")


def _oracle_neyman() -> str:
    std = (
        "sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1) "
        "/ (CAST(n AS DOUBLE) * (n - 1)))"
    )
    return f"""
WITH g AS (
  SELECT event_type, count(*) AS n,
    sum(CAST(round(value * 100) AS BIGINT)) AS s1,
    sum(CAST(round(value * 100) AS BIGINT)
        * CAST(round(value * 100) AS BIGINT)) AS s2
  FROM events GROUP BY 1
  HAVING count(*) >= 2
), scored AS (
  SELECT event_type, n, {std} AS ns_std,
    sum(n) OVER () AS n_tot,
    sum(CAST(n AS DOUBLE) * {std}) OVER () AS d_tot
  FROM g
)
SELECT event_type, n AS n_rows,
  round(ns_std / 100, 4) AS std_dollars,
  round(CAST(n AS DOUBLE) * ns_std / d_tot, 4) AS neyman_share,
  round(CAST(n AS DOUBLE) / n_tot, 4) AS prop_share,
  round({NEYMAN_BUDGET} * CAST(n AS DOUBLE) * ns_std / d_tot, 2) AS alloc_rows
FROM scored ORDER BY event_type
"""


# ------------------------------------------------------------ uplift by tier
UPLIFT_OUTCOME = "purchase"  # conversion event for the outcome window


def events_uplift_by_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment-effect readout (the uplift-modeling
    table): split the calendar at its midpoint, score every user by
    PRE-period spend, assign treatment by the hash coin
    (events_ab_test_lift's convention), and read POST-period purchase
    conversion per (activity tier x arm) — where tier is the
    Benford-style geometric band 9*(decimal digits - 1) + (leading
    digit - 1), a DETERMINISTIC magnitude band computed by pure string
    arithmetic. Tiers instead of ntile deciles on purpose: exact
    deciles need a data-wide global-sort window (the known weak
    pattern the ABC/Gini/RFM prod twins exist to avoid); geometric
    bands give the same heterogeneity readout with a plain map-side
    expression — no sort, no sketch, and the oracle gate covers it
    exactly. String digits instead of floor(log2): libm log2 differs
    by ulps across engines and a boundary user would flip bands;
    CAST(BIGINT AS STRING) cannot.

    The time split (score from the first half, outcome from the second)
    is the leakage discipline every uplift analysis needs; the split
    day derives from the data's own min/max day so the operator is not
    calendar-hardcoded. Counts are exact integers; rates and uplift are
    final-division round_ratio readouts (tie-safe).

    Scale: one event scan -> two user-grain aggs -> tier-grain agg.
    The split-day scalar rides a 1-row broadcast (scalar-aggregate
    pattern, whitelisted)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("di"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    split = e.agg(
        F.expr("CAST((min(di) + max(di) + 1) DIV 2 AS BIGINT)").alias("split_di")
    )
    tagged = e.join(F.broadcast(split))
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    # one user-grain agg (r14): pre-spend and post-conversion fold into
    # conditional aggregates over ONE pass — before, pre/post/users were
    # three separate scans + aggs stitched by two left joins. Exact
    # equivalence: sum(when(pre, cents)) is NULL for a user with no pre
    # rows (== the old left-join miss, coalesced to 0 identically), and
    # max(when(post & outcome, 1) else 0) is 0 whenever the old post-side
    # max was absent or 0.
    scored = (
        tagged.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("di") < F.col("split_di"), F.col("cents"))
            ).alias("pre_sum"),
            F.max(
                F.when(
                    (F.col("di") >= F.col("split_di"))
                    & (F.col("event_type") == UPLIFT_OUTCOME),
                    1,
                ).otherwise(0)
            ).alias("conv"),
        )
        .select(
            "user_id",
            F.coalesce("pre_sum", F.lit(0)).alias("pre_cents"),
            F.col("conv").alias("converted"),
            F.when(nib < 8, "control").otherwise("treat").alias("arm"),
        )
        .withColumn(
            "tier",
            F.expr(
                "CASE WHEN pre_cents = 0 THEN -1 ELSE "
                "CAST(9 * (length(CAST(pre_cents AS STRING)) - 1) "
                "+ CAST(substr(CAST(pre_cents AS STRING), 1, 1) AS INT) - 1 "
                "AS INT) END"
            ),
        )
    )
    g = scored.groupBy("tier").agg(
        F.sum(F.when(F.col("arm") == "treat", 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("arm") == "control", 1).otherwise(0)).alias("n_c"),
        F.sum(
            F.when((F.col("arm") == "treat") & (F.col("converted") == 1), 1).otherwise(0)
        ).alias("conv_t"),
        F.sum(
            F.when((F.col("arm") == "control") & (F.col("converted") == 1), 1).otherwise(
                0
            )
        ).alias("conv_c"),
    ).filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    rate_t = dl.round_ratio(dl.SPARK, "conv_t", "n_t")
    rate_c = dl.round_ratio(dl.SPARK, "conv_c", "n_c")
    return g.selectExpr(
        "tier",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        f"{rate_t} AS rate_t",
        f"{rate_c} AS rate_c",
        f"round({rate_t} - {rate_c}, 4) AS uplift",
    ).orderBy("tier")


def _oracle_uplift() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(user_id AS VARCHAR)")
    rate_t = dl.round_ratio(d, "conv_t", "n_t")
    rate_c = dl.round_ratio(d, "conv_c", "n_c")
    return f"""
WITH e AS (
  SELECT user_id, event_type,
    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS di,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), split AS (
  SELECT CAST((min(di) + max(di) + 1) // 2 AS BIGINT) AS split_di FROM e
), pre AS (
  SELECT user_id, sum(cents) AS pre_cents
  FROM e, split WHERE di < split_di GROUP BY user_id
), post AS (
  SELECT user_id,
    max(CASE WHEN event_type = '{UPLIFT_OUTCOME}' THEN 1 ELSE 0 END) AS converted
  FROM e, split WHERE di >= split_di GROUP BY user_id
), scored AS (
  SELECT u.user_id,
    coalesce(pre_cents, 0) AS pre_cents,
    coalesce(converted, 0) AS converted,
    CASE WHEN {nib} < 8 THEN 'control' ELSE 'treat' END AS arm,
    CASE WHEN coalesce(pre_cents, 0) = 0 THEN -1 ELSE
      CAST(9 * (length(CAST(coalesce(pre_cents, 0) AS VARCHAR)) - 1)
      + CAST(substr(CAST(coalesce(pre_cents, 0) AS VARCHAR), 1, 1) AS INT) - 1
      AS INT) END AS tier
  FROM (SELECT DISTINCT user_id FROM e) u
  LEFT JOIN pre USING (user_id) LEFT JOIN post USING (user_id)
), g AS (
  SELECT tier,
    CAST(sum(CASE WHEN arm = 'treat' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
    CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
    CAST(sum(CASE WHEN arm = 'treat' AND converted = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS conv_t,
    CAST(sum(CASE WHEN arm = 'control' AND converted = 1 THEN 1 ELSE 0 END)
      AS BIGINT) AS conv_c
  FROM scored GROUP BY tier
  HAVING sum(CASE WHEN arm = 'treat' THEN 1 ELSE 0 END) > 0
     AND sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) > 0
)
SELECT tier, n_t, n_c, conv_t, conv_c,
  {rate_t} AS rate_t, {rate_c} AS rate_c,
  round({rate_t} - {rate_c}, 4) AS uplift
FROM g ORDER BY tier
"""


# ------------------------------------------------------- markov stationary
MARKOV_ITERS = 30          # unrolled power-iteration rounds
MARKOV_SCALE = 10**12      # fixed-point mass scale (BIGINT-exact)


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — the
    long-run share of each state if users kept behaving per the observed
    transition matrix (events_markov_transitions shows ONE step; this
    answers "where does the chain settle"). MARKOV_ITERS unrolled power
    iterations of v <- vP, in FIXED-POINT BIGINT arithmetic: transition
    probabilities quantize once to p6 = cnt * 1e6 DIV tot, the mass
    vector lives at MARKOV_SCALE, and each step moves v_i * p6 DIV 1e6
    along every observed edge — integer-exact, so partial-agg order
    cannot perturb the result and both engines converge to
    bit-identical masses (the _quant_cos discipline applied to linear
    algebra; DIV flooring leaks a few units of 1e-12 mass per round,
    identically in both engines). The p6 pre-quantization also bounds
    the products: mass * p6 <= 1e18 < BIGINT max REGARDLESS of data
    volume (the raw cnt form would overflow once an edge count passed
    ~9e6). Readout compares the stationary share against the empirical
    state frequency — the mismatch IS the non-stationarity signal.

    Scale: the transition counts come from one user-partitioned lag
    window + a K^2 hash agg (K = event types, a handful) — that is the
    only data-sized work. The power iteration itself runs on the DRIVER
    over the collected K^2 quantized matrix (round 9): it is model
    state by the ml.py discipline (kmeans centroids, kcenter rounds),
    and the previous in-plan unrolling paid 30 shuffle-stage schedules
    to move K rows — the bench's deepest line (5.7-6.9 s warm at
    sf0.1) for arithmetic a driver does instantly; measured 6.4 -> 2.0 s
    (the residual is the window+agg that builds the matrix).
    Python int // = the same floor DIV both engines quantize with, and
    integer sums are order-free, so the masses stay bit-identical to
    the oracle's unrolled-CTE iteration."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    from ..audit import audit_plan

    # ONE pass collects both model inputs (r14): the transition counts
    # AND the empirical per-state counts ride the same scan + lag window
    # via GROUPING SETS ((src, dst), (src)) — the (src) subtotal counts
    # every event (each row appears exactly once as src in the lagged
    # frame), so it IS the old e.groupBy(event_type) empirical agg. The
    # former form paid THREE events scans per run: the matrix job, the
    # emp agg, and emp_tot's un-reused duplicate of the emp subplan. The
    # per-src totals and the p6 quantization move to the driver over the
    # collected K^2 rows — model-state arithmetic (Python // == the DIV
    # both engines quantize with), same discipline as the power
    # iteration below.
    lagged = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    gs = audit_plan(
        "markov_tm",
        lagged.groupingSets([["src", "dst"], ["src"]], "src", "dst").agg(
            F.count(F.lit(1)).alias("cnt"), F.grouping_id().alias("gid")
        ),
    )
    rows = gs.collect()  # K^2 + K rows — the model (see docstring)
    # gid 0 = (src, dst) cells (drop the terminal dst-NULL cell: the old
    # form filtered nxt IS NOT NULL before counting); gid 1 = (src)
    # subtotals over ALL rows = the empirical state counts
    trans_rows = [r for r in rows if r["gid"] == 0 and r["dst"] is not None]
    emp_counts = {r["src"]: int(r["cnt"]) for r in rows if r["gid"] == 1}
    tot: dict[str, int] = {}
    for r in trans_rows:
        tot[r["src"]] = tot.get(r["src"], 0) + int(r["cnt"])
    tm_rows = [
        (r["src"], r["dst"], (int(r["cnt"]) * 1_000_000) // tot[r["src"]])
        for r in trans_rows
    ]
    states = sorted({src for src, _dst, _p6 in tm_rows})
    k = len(states)
    mass = {s: MARKOV_SCALE // k for s in states}
    for _ in range(MARKOV_ITERS):
        nxt: dict[str, int] = {}
        for src, dst, p6 in tm_rows:
            m = mass.get(src)
            if m is not None:
                nxt[dst] = nxt.get(dst, 0) + (m * p6) // 1_000_000
        mass = nxt
    n_tot = sum(emp_counts.values())
    out_rows = sorted(
        (s, m, emp_counts[s], n_tot) for s, m in mass.items() if s in emp_counts
    )
    v = driver_rows_df(
        spark, out_rows, "state string, mass bigint, n_events bigint, n_tot bigint"
    )
    share = dl.round_ratio(dl.SPARK, "n_events", "n_tot")
    stat = dl.round_ratio(dl.SPARK, "mass", str(MARKOV_SCALE))
    return v.selectExpr(
        "state",
        "mass",
        f"{stat} AS stationary_share",
        f"{share} AS empirical_share",
        f"round({stat} - {share}, 4) AS drift",
    ).orderBy("state")


def _oracle_markov_stationary() -> str:
    d = dl.DUCK
    share = dl.round_ratio(d, "n_events", "n_tot")
    stat = dl.round_ratio(d, "mass", str(MARKOV_SCALE))
    ctes = [
        """pairs AS MATERIALIZED (
  SELECT event_type AS src,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
)""",
        """tm AS MATERIALIZED (
  SELECT src, dst,
    CAST((count(*) * 1000000)
         // sum(count(*)) OVER (PARTITION BY src) AS BIGINT) AS p6
  FROM pairs WHERE dst IS NOT NULL GROUP BY src, dst
)""",
        f"""v0 AS MATERIALIZED (
  SELECT src AS state,
    CAST({MARKOV_SCALE} // (SELECT count(DISTINCT src) FROM tm) AS BIGINT)
      AS mass
  FROM (SELECT DISTINCT src FROM tm)
)""",
    ]
    for i in range(1, MARKOV_ITERS + 1):
        ctes.append(
            f"""v{i} AS MATERIALIZED (
  SELECT tm.dst AS state,
    CAST(sum((v.mass * tm.p6) // 1000000) AS BIGINT) AS mass
  FROM tm JOIN v{i - 1} v ON v.state = tm.src
  GROUP BY tm.dst
)"""
        )
    body = ",\n".join(ctes)
    return f"""
WITH {body},
emp AS (
  SELECT event_type AS state, count(*) AS n_events,
    sum(count(*)) OVER () AS n_tot
  FROM events GROUP BY event_type
)
SELECT v.state AS state, v.mass AS mass,
  {stat} AS stationary_share,
  {share} AS empirical_share,
  round({stat} - {share}, 4) AS drift
FROM v{MARKOV_ITERS} v JOIN emp ON emp.state = v.state
ORDER BY state
"""


# -------------------------------------------------------------- diff-in-diff
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the hash-assigned
    treatment's effect on mean spend: split the calendar at its
    midpoint (events_uplift_by_tier's split), form the classic 2x2
    (arm x period) cell means, and read DiD = (T_post - T_pre) -
    (C_post - C_pre) with its large-sample standard error
    sqrt(sum cell_var/cell_n) and t-statistic. The A/B readout that
    survives a pre-existing level difference between arms — what
    events_ab_test_lift cannot correct for.

    Exact arithmetic: per-cell n/s1/s2 are exact cents BIGINTs from ONE
    (arm, period) hash agg folded to a single row by conditional sums
    (no pivot shuffle, no scalar cross join); means, the DiD, the SE,
    and t are each one shared IEEE expression (ks_lambda convention).

    Scale: one event scan, one 4-group agg, constant-size everything
    after. The split-day scalar rides the same whitelisted 1-row
    broadcast as events_uplift_by_tier."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("di"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    split = e.agg(
        F.expr("CAST((min(di) + max(di) + 1) DIV 2 AS BIGINT)").alias("split_di")
    )
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    cells = (
        e.join(F.broadcast(split))
        .select(
            F.when(nib < 8, "c").otherwise("t").alias("arm"),
            F.when(F.col("di") < F.col("split_di"), "pre")
            .otherwise("post")
            .alias("period"),
            "cents",
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
    )

    def cell(a: str, p: str, col: str) -> F.Column:
        return F.sum(
            F.when((F.col("arm") == a) & (F.col("period") == p), F.col(col))
        )

    one = cells.groupBy().agg(
        *[
            cell(a, p, c).alias(f"{c}_{a}{p[:2]}")
            for a in ("t", "c")
            for p in ("pre", "post")
            for c in ("n", "s1", "s2")
        ]
    )

    def mean(sfx: str) -> str:
        return f"(CAST(s1_{sfx} AS DOUBLE) / n_{sfx})"

    def var_over_n(sfx: str) -> str:
        return (
            f"((CAST(n_{sfx} AS DOUBLE) * s2_{sfx} "
            f"- CAST(s1_{sfx} AS DOUBLE) * s1_{sfx}) "
            f"/ (CAST(n_{sfx} AS DOUBLE) * (n_{sfx} - 1)) / n_{sfx})"
        )

    did = (
        f"(({mean('tpo')} - {mean('tpr')}) - ({mean('cpo')} - {mean('cpr')}))"
    )
    se = (
        f"sqrt({var_over_n('tpo')} + {var_over_n('tpr')} "
        f"+ {var_over_n('cpo')} + {var_over_n('cpr')})"
    )
    return one.selectExpr(
        "n_tpr", "n_tpo", "n_cpr", "n_cpo",
        f"round({mean('tpr')} / 100, 4) AS mean_t_pre",
        f"round({mean('tpo')} / 100, 4) AS mean_t_post",
        f"round({mean('cpr')} / 100, 4) AS mean_c_pre",
        f"round({mean('cpo')} / 100, 4) AS mean_c_post",
        f"round({did} / 100, 4) AS did_dollars",
        f"round({se} / 100, 4) AS se_dollars",
        f"round({did} / {se}, 4) AS t_stat",
    )


def _oracle_did() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(user_id AS VARCHAR)")

    def mean(sfx: str) -> str:
        return f"(CAST(s1_{sfx} AS DOUBLE) / n_{sfx})"

    def var_over_n(sfx: str) -> str:
        return (
            f"((CAST(n_{sfx} AS DOUBLE) * s2_{sfx} "
            f"- CAST(s1_{sfx} AS DOUBLE) * s1_{sfx}) "
            f"/ (CAST(n_{sfx} AS DOUBLE) * (n_{sfx} - 1)) / n_{sfx})"
        )

    did = f"(({mean('tpo')} - {mean('tpr')}) - ({mean('cpo')} - {mean('cpr')}))"
    se = (
        f"sqrt({var_over_n('tpo')} + {var_over_n('tpr')} "
        f"+ {var_over_n('cpo')} + {var_over_n('cpr')})"
    )
    cellcols = ",\n    ".join(
        f"CAST(sum(CASE WHEN arm = '{a}' AND period = '{p}' THEN {c} END) AS BIGINT)"
        f" AS {c}_{a}{p[:2]}"
        for a in ("t", "c")
        for p in ("pre", "post")
        for c in ("n", "s1", "s2")
    )
    return f"""
WITH e AS (
  SELECT user_id,
    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS di,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), split AS (
  SELECT CAST((min(di) + max(di) + 1) // 2 AS BIGINT) AS split_di FROM e
), cells AS (
  SELECT CASE WHEN {nib} < 8 THEN 'c' ELSE 't' END AS arm,
    CASE WHEN di < split_di THEN 'pre' ELSE 'post' END AS period,
    count(*) AS n, sum(cents) AS s1, sum(cents * cents) AS s2
  FROM e, split GROUP BY 1, 2
), one AS (
  SELECT {cellcols}
  FROM cells
)
SELECT n_tpr, n_tpo, n_cpr, n_cpo,
  round({mean('tpr')} / 100, 4) AS mean_t_pre,
  round({mean('tpo')} / 100, 4) AS mean_t_post,
  round({mean('cpr')} / 100, 4) AS mean_c_pre,
  round({mean('cpo')} / 100, 4) AS mean_c_post,
  round({did} / 100, 4) AS did_dollars,
  round({se} / 100, 4) AS se_dollars,
  round({did} / {se}, 4) AS t_stat
FROM one
"""


# ------------------------------------------------------------ partition skew
SKEW_PARTITION_COUNTS = (32, 256)  # candidate shuffle widths to audit


def layout_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition skew audit — the planner readout for "would
    this partition strategy hold at 1000 executors": hash events by
    user_id into each candidate partition count and report the load
    distribution (max/mean ratio, the straggler predictor; top
    partition's share; empty-partition count). The portable md5 hash
    stands in for the engine's internal shuffle hash so both engines
    audit the SAME assignment; the SKEW the audit measures is a
    property of the key distribution, which is what carries to the
    real shuffle.

    Scale: one scan -> P-bounded hash agg per candidate width ->
    constant-size summary. All-integer loads; ratios are final
    divisions."""
    e = load_table(spark, sf_dir, "events")
    outs = []
    for p in SKEW_PARTITION_COUNTS:
        pid = (
            f"pmod({dl.hex_prefix_uint(dl.SPARK, 'md5(CAST(user_id AS STRING))', 8)},"
            f" {p})"
        )
        loads = (
            e.selectExpr(f"{pid} AS pid")
            .groupBy("pid")
            .agg(F.count(F.lit(1)).alias("load"))
        )
        outs.append(
            loads.groupBy().agg(
                F.lit(p).cast("int").alias("n_partitions"),
                F.count(F.lit(1)).alias("used_partitions"),
                F.sum("load").alias("total_rows"),
                F.max("load").alias("max_load"),
                F.min("load").alias("min_load"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.selectExpr(
        "n_partitions",
        "used_partitions",
        "total_rows",
        "max_load",
        "min_load",
        # max/mean straggler factor: max * P / total, exact-integer rounding
        f"{dl.round_ratio(dl.SPARK, 'max_load * n_partitions', 'total_rows')} "
        "AS straggler_factor",
        f"{dl.round_ratio(dl.SPARK, 'max_load', 'total_rows')} AS top_share",
    ).orderBy("n_partitions")


def _oracle_partition_skew() -> str:
    d = dl.DUCK
    parts = []
    for p in SKEW_PARTITION_COUNTS:
        pid = f"({dl.hex_prefix_uint(d, 'md5(CAST(user_id AS VARCHAR))', 8)}) % {p}"
        parts.append(
            f"""
  SELECT {p} AS n_partitions, count(*) AS used_partitions,
    CAST(sum(load) AS BIGINT) AS total_rows,
    max(load) AS max_load, min(load) AS min_load
  FROM (
    SELECT {pid} AS pid, count(*) AS load FROM events GROUP BY 1
  )"""
        )
    union = "\n  UNION ALL\n".join(parts)
    sf_ = dl.round_ratio(d, "max_load * n_partitions", "total_rows")
    ts_ = dl.round_ratio(d, "max_load", "total_rows")
    return f"""
WITH per AS (
{union}
)
SELECT CAST(n_partitions AS INT) AS n_partitions, used_partitions,
  total_rows, max_load, min_load,
  {sf_} AS straggler_factor,
  {ts_} AS top_share
FROM per ORDER BY n_partitions
"""


# -------------------------------------------------------- watermark lateness
LATE_JITTER_SEC = 3600  # per-nibble synthetic transport delay step
LATE_BUCKET_SEC = 3600  # lateness histogram granularity (hours)
LATE_BUCKET_CAP = 24    # last bucket is ">= cap hours"


def events_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness profile — the measurement that SIZES a streaming
    watermark: a record's lateness is how far the per-user event-time
    high-watermark had already passed it on arrival (running max of
    event time, in arrival order, minus the record's own event time).
    The histogram's tail tells you what `withWatermark` delay keeps
    completeness — a p99 at 9 hours means a 10-hour watermark drops
    ~nothing — and the terminal bucket's share is the unavoidable drop
    rate at the cap. The batch-side twin of the streaming pipeline's
    watermark configuration (SURVEY A1/A2).

    The dataset records no transport timestamps (event_id is exactly
    event-time-ordered — verified, zero inversions), so arrival time is
    SIMULATED deterministically: arr = ts + md5-nibble(event_id) *
    LATE_JITTER_SEC, a 0-15h uniform transport delay. The harness —
    per-user arrival-ordered running max, bucketed exceedance — is the
    real product; the jitter is the declared stand-in for a transport
    log, same discipline as the multimodal decode stubs.

    Scale: one user-partitioned running-max window over the raw scan,
    one bucket-grain agg (LATE_BUCKET_CAP+1 output rows). All-integer
    seconds and bucket math."""
    e = load_table(spark, sf_dir, "events")
    nib = dl.md5_prefix_nibble(dl.SPARK, "CAST(event_id AS STRING)")
    arr = e.selectExpr(
        "user_id",
        "event_id",
        "CAST(unix_timestamp(ts) AS BIGINT) AS sec",
        f"CAST(unix_timestamp(ts) AS BIGINT) + ({nib}) * {LATE_JITTER_SEC} AS arr",
    )
    wm = F.max("sec").over(
        W.partitionBy("user_id").orderBy("arr", "event_id").rowsBetween(
            W.unboundedPreceding, 0
        )
    )
    late = arr.select((wm - F.col("sec")).alias("late_sec"))
    bucket = F.expr(
        f"least(late_sec DIV {LATE_BUCKET_SEC}, {LATE_BUCKET_CAP})"
    )
    g = late.groupBy(bucket.alias("late_hour_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("late_sec").alias("max_late_sec"),
    )
    share = dl.round_ratio(dl.SPARK, "n_events", "tot")
    return (
        g.selectExpr(
            "late_hour_bucket",
            "n_events",
            "max_late_sec",
            "sum(n_events) OVER () AS tot",
        )
        .selectExpr(
            "late_hour_bucket",
            "n_events",
            "max_late_sec",
            f"{share} AS share",
        )
        .orderBy("late_hour_bucket")
    )


def _oracle_lateness() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(event_id AS VARCHAR)")
    share = dl.round_ratio(d, "n_events", "tot")
    return f"""
WITH e AS (
  SELECT user_id, event_id,
    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
    CAST(floor(epoch(ts)) AS BIGINT)
      + ({nib}) * {LATE_JITTER_SEC} AS arr
  FROM events
), late AS (
  SELECT max(sec) OVER (
      PARTITION BY user_id ORDER BY arr, event_id
      ROWS UNBOUNDED PRECEDING) - sec AS late_sec
  FROM e
), g AS (
  SELECT least(late_sec // {LATE_BUCKET_SEC}, {LATE_BUCKET_CAP})
      AS late_hour_bucket,
    count(*) AS n_events, max(late_sec) AS max_late_sec
  FROM late GROUP BY 1
), w AS (
  SELECT *, CAST(sum(n_events) OVER () AS BIGINT) AS tot FROM g
)
SELECT late_hour_bucket, n_events, max_late_sec, {share} AS share
FROM w ORDER BY late_hour_bucket
"""


# ------------------------------------------------------------------ AR aging
AGING_BANDS = (30, 60, 90)  # classic 0-30 / 31-60 / 61-90 / 90+ buckets


def orders_ar_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable aging — the finance close readout: every
    order not yet finalized (o_orderstatus != 'F'), bucketed by how
    many days it has been open as of the dataset's own last order date
    (the snapshot), with per-bucket open order counts and dollar
    totals per status. The snapshot day derives from max(o_orderdate)
    so the operator is calendar-portable (same discipline as the
    uplift split day).

    Exact: ages are integer day differences, totals exact cents; the
    bucket label is a pure CASE over integers. Scale: one scan, the
    1-row snapshot scalar broadcast (whitelisted pattern), one
    (status, bucket) hash agg."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS BIGINT)").alias("di"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    snap = o.agg(F.max("di").alias("snap_di"))
    b1, b2, b3 = AGING_BANDS
    bucket = (
        f"CASE WHEN age <= {b1} THEN '00-{b1}' "
        f"WHEN age <= {b2} THEN '{b1 + 1}-{b2}' "
        f"WHEN age <= {b3} THEN '{b2 + 1}-{b3}' "
        f"ELSE '{b3}+' END"
    )
    share = dl.round_ratio(dl.SPARK, "open_cents", "tot_cents")
    return (
        o.filter(F.col("o_orderstatus") != "F")
        .join(F.broadcast(snap))
        .selectExpr("o_orderstatus", "cents", "snap_di - di AS age")
        .selectExpr("o_orderstatus", "cents", f"{bucket} AS age_band")
        .groupBy("o_orderstatus", "age_band")
        .agg(
            F.count(F.lit(1)).alias("n_open"),
            F.sum("cents").alias("open_cents"),
        )
        .selectExpr(
            "o_orderstatus",
            "age_band",
            "n_open",
            "open_cents",
            "sum(open_cents) OVER () AS tot_cents",
        )
        .selectExpr(
            "o_orderstatus",
            "age_band",
            "n_open",
            "round(CAST(open_cents AS DOUBLE) / 100.0, 2) AS open_dollars",
            f"{share} AS share_of_open",
        )
        .orderBy("o_orderstatus", "age_band")
    )


def _oracle_ar_aging() -> str:
    b1, b2, b3 = AGING_BANDS
    bucket = (
        f"CASE WHEN age <= {b1} THEN '00-{b1}' "
        f"WHEN age <= {b2} THEN '{b1 + 1}-{b2}' "
        f"WHEN age <= {b3} THEN '{b2 + 1}-{b3}' "
        f"ELSE '{b3}+' END"
    )
    share = dl.round_ratio(dl.DUCK, "open_cents", "tot_cents")
    return f"""
WITH o AS (
  SELECT o_orderstatus,
    (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS di,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), snap AS (SELECT max(di) AS snap_di FROM o),
aged AS (
  SELECT o_orderstatus, cents, {bucket} AS age_band
  FROM (SELECT o_orderstatus, cents, snap_di - di AS age
        FROM o, snap WHERE o_orderstatus <> 'F')
), g AS (
  SELECT o_orderstatus, age_band, count(*) AS n_open,
    CAST(sum(cents) AS BIGINT) AS open_cents
  FROM aged GROUP BY 1, 2
), w AS (
  SELECT *, CAST(sum(open_cents) OVER () AS BIGINT) AS tot_cents FROM g
)
SELECT o_orderstatus, age_band, n_open,
  round(CAST(open_cents AS DOUBLE) / 100.0, 2) AS open_dollars,
  {share} AS share_of_open
FROM w ORDER BY o_orderstatus, age_band
"""


# ------------------------------------------------------------- discount bands
def lineitem_discount_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount effectiveness — revenue and volume per discount band
    (the pricing-analytics readout behind TPC-H Q19's predicates):
    lineitems banded by their exact discount percentage point
    (integer round(discount*100), 0..10 here), with per-band order-line
    counts, quantity, gross and discounted revenue, and the effective
    realized margin ratio. Answers "does a deeper discount move enough
    volume to pay for itself" from one scan.

    Exact: the band is an integer; revenues sum exact cents with the
    discount applied in integer basis points before any division.
    Scale: one scan, one band-grain hash agg (<=101 groups)."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = li.selectExpr(
        "CAST(round(l_discount * 100) AS INT) AS disc_pct",
        "CAST(round(l_quantity) AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS gross_cents",
        # discounted revenue in exact cents x 100 basis points
        "CAST(round(l_extendedprice * 100) AS BIGINT) "
        "* (100 - CAST(round(l_discount * 100) AS BIGINT)) AS net_cents_x100",
    )
    ratio = dl.round_ratio(dl.SPARK, "net_x100", "gross * 100")
    return (
        rows.groupBy("disc_pct")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("qty").alias("total_qty"),
            F.sum("gross_cents").alias("gross"),
            F.sum("net_cents_x100").alias("net_x100"),
        )
        .selectExpr(
            "disc_pct",
            "n_lines",
            "total_qty",
            "round(CAST(gross AS DOUBLE) / 100.0, 2) AS gross_dollars",
            "round(CAST(net_x100 AS DOUBLE) / 10000.0, 2) AS net_dollars",
            f"{ratio} AS realized_ratio",
        )
        .orderBy("disc_pct")
    )


def _oracle_discount_bands() -> str:
    ratio = dl.round_ratio(dl.DUCK, "net_x100", "gross * 100")
    return f"""
WITH rows_ AS (
  SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
    CAST(round(l_quantity) AS BIGINT) AS qty,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS gross_cents,
    CAST(round(l_extendedprice * 100) AS BIGINT)
      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS net_cents_x100
  FROM lineitem
), g AS (
  SELECT disc_pct, count(*) AS n_lines,
    CAST(sum(qty) AS BIGINT) AS total_qty,
    CAST(sum(gross_cents) AS BIGINT) AS gross,
    CAST(sum(net_cents_x100) AS BIGINT) AS net_x100
  FROM rows_ GROUP BY 1
)
SELECT disc_pct, n_lines, total_qty,
  round(CAST(gross AS DOUBLE) / 100.0, 2) AS gross_dollars,
  round(CAST(net_x100 AS DOUBLE) / 10000.0, 2) AS net_dollars,
  {ratio} AS realized_ratio
FROM g ORDER BY disc_pct
"""


# ---------------------------------------------------------------- SRM check
SRM_CHI2_CRIT = "3.841459"  # chi-square 95% critical value, 1 dof


def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard — the first thing an experimentation
    platform checks before ANY lift readout: are the hash-assigned arms
    actually 50/50 at the user grain? Chi-square goodness-of-fit of the
    observed (n_a, n_b) against the design ratio, with the pass/fail
    verdict at the textbook 95% critical value as an oracle-checkable
    boolean. A failed SRM invalidates events_ab_test_lift /
    events_cuped_adjustment / events_diff_in_diff downstream — this is
    their gate.

    Exact: counts are integers; chi2 = (n_a - n_b)^2 / (n_a + n_b) for
    the 50/50 design is one shared IEEE expression over them; the
    verdict compares against a literal constant. Scale: one user-grain
    distinct + one 2-group agg."""
    e = load_table(spark, sf_dir, "events")
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    users = e.select("user_id").distinct().select(
        F.when(nib < 8, "A").otherwise("B").alias("arm")
    )
    g = users.groupBy().agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).alias("n_b"),
    )
    chi2 = (
        "(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b))"
    )
    ratio = dl.round_ratio(dl.SPARK, "n_a", "n_a + n_b")
    return g.selectExpr(
        "n_a",
        "n_b",
        f"{ratio} AS share_a",
        f"round({chi2}, 4) AS chi2_stat",
        f"CAST({chi2} <= {SRM_CHI2_CRIT} AS BOOLEAN) AS srm_ok",
    )


def _oracle_srm() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(user_id AS VARCHAR)")
    chi2 = "(CAST(n_a - n_b AS DOUBLE) * (n_a - n_b) / (n_a + n_b))"
    ratio = dl.round_ratio(d, "n_a", "n_a + n_b")
    return f"""
WITH users AS (
  SELECT CASE WHEN {nib} < 8 THEN 'A' ELSE 'B' END AS arm
  FROM (SELECT DISTINCT user_id FROM events)
), g AS (
  SELECT
    CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM users
)
SELECT n_a, n_b,
  {ratio} AS share_a,
  round({chi2}, 4) AS chi2_stat,
  CAST({chi2} <= {SRM_CHI2_CRIT} AS BOOLEAN) AS srm_ok
FROM g
"""


# ------------------------------------------------------------------- PR / AP
AP_POS_TYPE = "purchase"  # positive class, matching ml_auc_roc
AP_Q = 10**9              # per-cell precision-term quantization


def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the PR-curve area) per day-of-week — the
    class-imbalance-honest companion to ml_auc_roc (same score = event
    value, same positive = purchase): AP weighs precision where the
    positives actually rank, so a model that looks fine by ROC on a
    rare class shows its true retrieval quality here. Reported with the
    prevalence baseline (a random ranker's AP) and the lift over it.

    Tie-deterministic BLOCK form: scores tie heavily on the cents grid,
    and textbook AP depends on the arbitrary order within a tied block
    — so precision is evaluated at tied-BLOCK boundaries (descending
    score), each block contributing cp * (cumPos/cumAll) at its
    inclusive boundary. Equal to textbook AP when ties are absent, and
    a well-defined, engine-identical quantity when present. Per-block
    terms are exact integer ratios quantized to 1e-9 BEFORE the sum
    (partial-agg order independence), the same discipline as every
    ln()-bearing sum in this repo.

    Scale: one (dow, cents) hash agg; cumulative windows partition by
    dow over the bounded value domain; 7-row output."""
    e = load_table(spark, sf_dir, "events")
    per = (
        e.select(
            F.expr(ANOVA_DOW).alias("dow"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            (F.col("event_type") == AP_POS_TYPE).cast("long").alias("p"),
        )
        .groupBy("dow", "cents")
        .agg(F.sum("p").alias("cp"), F.sum(F.lit(1) - F.col("p")).alias("cn"))
    )
    wd = W.partitionBy("dow").orderBy(F.desc("cents")).rowsBetween(
        W.unboundedPreceding, 0
    )
    cells = per.withColumn("cum_pos", F.sum("cp").over(wd)).withColumn(
        "cum_all", F.sum(F.col("cp") + F.col("cn")).over(wd)
    )
    term = f"CAST(round(cp * (CAST(cum_pos AS DOUBLE) / cum_all) * {AP_Q}) AS BIGINT)"
    agg = (
        cells.selectExpr("dow", "cp", "cn", f"{term} AS tq")
        .groupBy("dow")
        .agg(
            F.sum("cp").alias("np"),
            F.sum("cn").alias("nn"),
            F.sum("tq").alias("sum_tq"),
        )
        .filter(F.col("np") > 0)
    )
    ap = f"(CAST(sum_tq AS DOUBLE) / np / {AP_Q})"
    prev = dl.round_ratio(dl.SPARK, "np", "np + nn")
    return agg.selectExpr(
        "dow",
        "np AS n_pos",
        "nn AS n_neg",
        f"round({ap}, 4) AS avg_precision",
        f"{prev} AS prevalence",
        f"round({ap} / (CAST(np AS DOUBLE) / (np + nn)), 4) AS ap_lift",
    ).orderBy("dow")


def _oracle_pr_auc() -> str:
    d = dl.DUCK
    term = f"CAST(round(cp * (CAST(cum_pos AS DOUBLE) / cum_all) * {AP_Q}) AS BIGINT)"
    ap = f"(CAST(sum_tq AS DOUBLE) / np / {AP_Q})"
    prev = dl.round_ratio(d, "np", "np + nn")
    return f"""
WITH per AS (
  SELECT {ANOVA_DOW_DUCK} AS dow,
    CAST(round(value * 100) AS BIGINT) AS cents,
    CAST(sum(CASE WHEN event_type = '{AP_POS_TYPE}' THEN 1 ELSE 0 END)
      AS BIGINT) AS cp,
    CAST(sum(CASE WHEN event_type = '{AP_POS_TYPE}' THEN 0 ELSE 1 END)
      AS BIGINT) AS cn
  FROM events GROUP BY 1, 2
), cells AS (
  SELECT dow, cp, cn,
    CAST(sum(cp) OVER (PARTITION BY dow ORDER BY cents DESC
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
    CAST(sum(cp + cn) OVER (PARTITION BY dow ORDER BY cents DESC
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
  FROM per
), agg AS (
  SELECT dow, CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cn) AS BIGINT) AS nn,
    CAST(sum({term}) AS BIGINT) AS sum_tq
  FROM cells GROUP BY dow
  HAVING sum(cp) > 0
)
SELECT dow, np AS n_pos, nn AS n_neg,
  round({ap}, 4) AS avg_precision,
  {prev} AS prevalence,
  round({ap} / (CAST(np AS DOUBLE) / (np + nn)), 4) AS ap_lift
FROM agg ORDER BY dow
"""


# -------------------------------------------------------- supplier scorecard
OTIF_LEAD_DAYS = 90   # "on time" = shipped within this many days of order
OTIF_TOP = 20         # scorecard rows


def supplier_otif_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier on-time scorecard — the procurement readout next to
    lineitem_leadtime_percentiles (which profiles lead times by return
    flag; this ranks SUPPLIERS): per supplier, line volume, revenue,
    mean lead days, and the late-share (lead > OTIF_LEAD_DAYS), for
    the OTIF_TOP suppliers by revenue.

    Exact: lead days are integer day differences off the lineitem ⋈
    orders equi-join; revenue exact cents; mean lead and late share
    are half-up integer-ratio rounds. Scale: the join shuffles on
    orderkey (both sides key-partitioned), then one supplier-grain
    hash agg; top-k is TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr("CAST(unix_timestamp(l_shipdate) DIV 86400 AS BIGINT)").alias(
            "ship_di"
        ),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS BIGINT)").alias(
            "ord_di"
        ),
    )
    g = (
        li.join(o, "l_orderkey")
        .select(
            "l_suppkey",
            "cents",
            (F.col("ship_di") - F.col("ord_di")).alias("lead"),
        )
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("cents").alias("rev_cents"),
            F.sum("lead").alias("lead_sum"),
            F.sum(
                F.when(F.col("lead") > OTIF_LEAD_DAYS, 1).otherwise(0)
            ).alias("n_late"),
        )
    )
    mean_lead = dl.round_ratio(dl.SPARK, "lead_sum", "n_lines", 2)
    late = dl.round_ratio(dl.SPARK, "n_late", "n_lines")
    return (
        g.orderBy(F.desc("rev_cents"), F.asc("l_suppkey"))
        .limit(OTIF_TOP)
        .selectExpr(
            "l_suppkey",
            "n_lines",
            "round(CAST(rev_cents AS DOUBLE) / 100.0, 2) AS revenue_dollars",
            f"{mean_lead} AS mean_lead_days",
            f"{late} AS late_share",
        )
    )


def _oracle_otif() -> str:
    d = dl.DUCK
    mean_lead = dl.round_ratio(d, "lead_sum", "n_lines", 2)
    late = dl.round_ratio(d, "n_late", "n_lines")
    return f"""
WITH j AS (
  SELECT l_suppkey,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
    (CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400)
      - (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS lead
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
), g AS (
  SELECT l_suppkey, count(*) AS n_lines,
    CAST(sum(cents) AS BIGINT) AS rev_cents,
    CAST(sum(lead) AS BIGINT) AS lead_sum,
    CAST(sum(CASE WHEN lead > {OTIF_LEAD_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
      AS n_late
  FROM j GROUP BY 1
)
SELECT l_suppkey, n_lines,
  round(CAST(rev_cents AS DOUBLE) / 100.0, 2) AS revenue_dollars,
  {mean_lead} AS mean_lead_days,
  {late} AS late_share
FROM g ORDER BY rev_cents DESC, l_suppkey ASC
LIMIT {OTIF_TOP}
"""


# ---------------------------------------------------------------- monthly YoY
def orders_monthly_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year growth — the board-deck twin
    of orders_wow_revenue (weekly): revenue per calendar month, the
    same month last year via a 12-month lag over the MONTH-INDEX domain
    (ym = year*12 + month, so a January correctly lags to last January
    even across year boundaries and calendar gaps cannot silently
    shift the comparison — the lag is an equi-join on ym-12, not a
    positional lag), and the YoY percentage as a sign-split exact
    ratio.

    Scale: one scan, one month-grain agg (tens of rows), a self-join on
    the month index. Exact cents; the signed YoY ratio splits into
    magnitude (round_ratio on non-negative ints) and sign, per the
    float-discipline rule that round_ratio operands be non-negative."""
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.selectExpr(
            "(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS ym",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .groupBy("ym")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("rev"))
    )
    prev = m.selectExpr("ym + 12 AS ym", "rev AS rev_prev")
    mag = dl.round_ratio(dl.SPARK, "abs(rev - rev_prev) * 100", "rev_prev", 2)
    return (
        m.join(prev, "ym", "left")
        .selectExpr(
            "CAST(ym DIV 12 AS BIGINT) AS year",
            "CAST(ym % 12 + 1 AS BIGINT) AS month",
            "n_orders",
            "round(CAST(rev AS DOUBLE) / 100.0, 2) AS revenue_dollars",
            f"CASE WHEN rev_prev IS NULL OR rev_prev = 0 THEN NULL "
            f"ELSE CASE WHEN rev >= rev_prev THEN {mag} ELSE -{mag} END "
            f"END AS yoy_pct",
        )
        .orderBy("year", "month")
    )


def _oracle_monthly_yoy() -> str:
    mag = dl.round_ratio(dl.DUCK, "abs(rev - rev_prev) * 100", "rev_prev", 2)
    return f"""
WITH m AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS ym,
    count(*) AS n_orders,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM orders GROUP BY 1
), j AS (
  SELECT a.ym, a.n_orders, a.rev, b.rev AS rev_prev
  FROM m a LEFT JOIN m b ON b.ym = a.ym - 12
)
SELECT CAST(ym // 12 AS BIGINT) AS year, CAST(ym % 12 + 1 AS BIGINT) AS month,
  n_orders,
  round(CAST(rev AS DOUBLE) / 100.0, 2) AS revenue_dollars,
  CASE WHEN rev_prev IS NULL OR rev_prev = 0 THEN NULL
    ELSE CASE WHEN rev >= rev_prev THEN {mag} ELSE -{mag} END
  END AS yoy_pct
FROM j ORDER BY year, month
"""


# -------------------------------------------------------------- velocity flag
VELOCITY_PER_HOUR = 1  # events per user-hour above which the hour is flagged
# (this corpus averages ~2 events/user/DAY, so >1 in one hour IS the burst)


def events_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limit / fraud velocity audit: users whose per-hour event
    rate ever exceeded VELOCITY_PER_HOUR, with how many hours tripped,
    the worst hour's count, and their share of total events — the
    batch twin of a streaming rate-limiter (the same user-hour grain a
    `transformWithState` throttle would key on), and the list a fraud
    review queue consumes.

    Exact integers end to end. Scale: one (user, hour) hash agg —
    activity-bounded grain — then a user-grain agg over the flagged
    subset; the total-events scalar rides the whitelisted 1-row
    broadcast."""
    e = load_table(spark, sf_dir, "events")
    uh = (
        e.selectExpr(
            "user_id",
            "CAST(unix_timestamp(ts) DIV 3600 AS BIGINT) AS hi",
        )
        .groupBy("user_id", "hi")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    flagged = (
        uh.filter(F.col("c") > VELOCITY_PER_HOUR)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("hours_tripped"),
            F.max("c").alias("worst_hour_events"),
        )
    )
    all_tot = e.agg(F.count(F.lit(1)).alias("corpus_events"))
    share = dl.round_ratio(dl.SPARK, "n_events", "corpus_events")
    return (
        flagged.join(tot, "user_id")
        .join(F.broadcast(all_tot))
        .selectExpr(
            "user_id",
            "hours_tripped",
            "worst_hour_events",
            "n_events",
            f"{share} AS share_of_corpus",
        )
        .orderBy(F.desc("hours_tripped"), F.desc("worst_hour_events"), "user_id")
    )


def _oracle_velocity() -> str:
    share = dl.round_ratio(dl.DUCK, "n_events", "corpus_events")
    return f"""
WITH uh AS (
  SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS hi,
    count(*) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1
), flagged AS (
  SELECT user_id, count(*) AS hours_tripped, max(c) AS worst_hour_events
  FROM uh WHERE c > {VELOCITY_PER_HOUR} GROUP BY 1
), allt AS (SELECT count(*) AS corpus_events FROM events)
SELECT f.user_id AS user_id, hours_tripped, worst_hour_events, n_events,
  {share} AS share_of_corpus
FROM flagged f JOIN tot USING (user_id), allt
ORDER BY hours_tripped DESC, worst_hour_events DESC, user_id
"""


# ---------------------------------------------------------- churn sensitivity
CHURN_HORIZONS = (7, 14, 28)  # inactivity thresholds (days) to compare


def events_churn_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-definition sensitivity — the table that settles "what do we
    call churned": for each candidate inactivity horizon, the share of
    ever-seen users whose last activity is more than that many days
    before the dataset's own snapshot (max event day). Growth teams
    pick the horizon where the rate stabilizes; publishing the whole
    sensitivity row prevents the silent metric fork where two teams
    ship different 'churn' numbers.

    Exact integers end to end; one user-grain agg (last active day) is
    shared by every horizon via conditional sums — the horizons cost
    grouping expressions, not re-scans. The snapshot scalar rides the
    whitelisted 1-row broadcast."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("di"),
    )
    last = e.groupBy("user_id").agg(F.max("di").alias("last_di"))
    snap = e.agg(F.max("di").alias("snap_di"))
    idle = last.join(F.broadcast(snap)).selectExpr(
        "snap_di - last_di AS idle_days"
    )
    outs = []
    for h in CHURN_HORIZONS:
        rate = dl.round_ratio(dl.SPARK, "churned", "n_users")
        outs.append(
            idle.agg(
                F.count(F.lit(1)).alias("n_users"),
                F.sum(
                    F.when(F.col("idle_days") > h, 1).otherwise(0)
                ).alias("churned"),
            ).selectExpr(
                f"CAST({h} AS INT) AS horizon_days",
                "n_users",
                "churned",
                f"{rate} AS churn_rate",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("horizon_days")


def _oracle_churn() -> str:
    rate = dl.round_ratio(dl.DUCK, "churned", "n_users")
    parts = []
    for h in CHURN_HORIZONS:
        parts.append(
            f"""
  SELECT CAST({h} AS INT) AS horizon_days, count(*) AS n_users,
    CAST(sum(CASE WHEN idle_days > {h} THEN 1 ELSE 0 END) AS BIGINT)
      AS churned
  FROM idle"""
        )
    union = "\n  UNION ALL\n".join(parts)
    return f"""
WITH e AS (
  SELECT user_id, (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS di
  FROM events
), last AS (
  SELECT user_id, max(di) AS last_di FROM e GROUP BY 1
), snap AS (SELECT max(di) AS snap_di FROM e),
idle AS (
  SELECT snap_di - last_di AS idle_days FROM last, snap
), per AS (
{union}
)
SELECT horizon_days, n_users, churned, {rate} AS churn_rate
FROM per ORDER BY horizon_days
"""


# ------------------------------------------------------------------ HHI
def parts_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration (Herfindahl-Hirschman) index per brand —
    the procurement-risk readout: for each part brand, the sum of
    squared supplier revenue shares. HHI near 1 = single-supplier
    exposure (one factory fire stops the line); near 1/n = healthy
    multi-sourcing. The supplier-axis complement of
    events_power_users_gini's user-concentration readout.

    All-integer core: HHI = sum(rev_i^2) / (sum rev)^2 — numerator and
    denominator are exact BIGINT sums off one (brand, supplier) agg
    (squares go through DOUBLE casts inside one shared expression, so
    no BIGINT overflow at any revenue), the top-supplier share is a
    max over the same relation. Scale: lineitem ⋈ part equi-join
    (partkey), two bounded-grain aggs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    bs = (
        li.join(p, "l_partkey")
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum("cents").alias("rev"))
    )
    g = bs.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev").alias("tot"),
        F.sum(F.expr("CAST(rev AS DOUBLE) * rev")).alias("sq"),
        F.max("rev").alias("top_rev"),
    )
    hhi = "(sq / (CAST(tot AS DOUBLE) * tot))"
    top = dl.round_ratio(dl.SPARK, "top_rev", "tot")
    return g.selectExpr(
        "p_brand",
        "n_suppliers",
        f"round({hhi}, 4) AS hhi",
        f"{top} AS top_supplier_share",
        f"round(CAST(1.0 AS DOUBLE) / n_suppliers, 4) AS equal_share_floor",
    ).orderBy("p_brand")


def _oracle_hhi() -> str:
    hhi = "(sq / (CAST(tot AS DOUBLE) * tot))"
    top = dl.round_ratio(dl.DUCK, "top_rev", "tot")
    return f"""
WITH bs AS (
  SELECT p_brand, l_suppkey,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), g AS (
  SELECT p_brand, count(*) AS n_suppliers,
    CAST(sum(rev) AS BIGINT) AS tot,
    sum(CAST(rev AS DOUBLE) * rev) AS sq,
    max(rev) AS top_rev
  FROM bs GROUP BY 1
)
SELECT p_brand, n_suppliers,
  round({hhi}, 4) AS hhi,
  {top} AS top_supplier_share,
  round(CAST(1.0 AS DOUBLE) / n_suppliers, 4) AS equal_share_floor
FROM g ORDER BY p_brand
"""


# ---------------------------------------------------------------- basket size
def orders_basket_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-composition histogram: how many line items an order
    carries, with each size's order count, share, and revenue — the
    merchandising readout behind bundle design and the direct check on
    the fan-out factor every orders ⋈ lineitem join pays (mean basket
    size IS the join amplification).

    Exact integers; shares are half-up integer-ratio rounds on a
    size-grain (<=7 for TPC-H) relation. Scale: one lineitem agg to
    order grain, one size-grain agg."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_size"), F.sum("cents").alias("rev")
    )
    share = dl.round_ratio(dl.SPARK, "n_orders", "tot_orders")
    return (
        per_order.groupBy("basket_size")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("rev").alias("rev"))
        .selectExpr(
            "basket_size",
            "n_orders",
            "rev",
            "sum(n_orders) OVER () AS tot_orders",
        )
        .selectExpr(
            "basket_size",
            "n_orders",
            f"{share} AS order_share",
            "round(CAST(rev AS DOUBLE) / 100.0, 2) AS revenue_dollars",
        )
        .orderBy("basket_size")
    )


def _oracle_basket_size() -> str:
    share = dl.round_ratio(dl.DUCK, "n_orders", "tot_orders")
    return f"""
WITH per_order AS (
  SELECT l_orderkey, count(*) AS basket_size,
    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
), g AS (
  SELECT basket_size, count(*) AS n_orders, CAST(sum(rev) AS BIGINT) AS rev
  FROM per_order GROUP BY 1
), w AS (
  SELECT *, CAST(sum(n_orders) OVER () AS BIGINT) AS tot_orders FROM g
)
SELECT basket_size, n_orders,
  {share} AS order_share,
  round(CAST(rev AS DOUBLE) / 100.0, 2) AS revenue_dollars
FROM w ORDER BY basket_size
"""


# ------------------------------------------------------------ pruning advisor
def layout_pruning_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping advisor — for each candidate filter column, how
    well the CURRENT write layout prunes: model files as the (day,
    hour) slices the stream writer emits (layout_compaction_plan's
    model), and measure how many files an equality predicate on each
    column must read (avg and max over values), against the floor of 1.
    `skip_ratio` near 1 = predicates on that column already skip most
    files; near 0 = a re-cluster (z-order/Hilbert on that column) pays
    for itself. The question every OPTIMIZE decision starts with,
    answered from one scan instead of a guess.

    All-integer: file ids, per-value file counts, and the ratios are
    exact counts and half-up integer-ratio rounds. Scale: one
    (column-value, file) distinct per candidate — activity-bounded —
    then a value-grain agg; candidates cost one scan each over the
    SAME cached projection shape (Catalyst shares the scan via
    unionByName of two aggregations on one base)."""
    e = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "event_type",
        "(CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)) AS file_id",
    )
    n_files = e.select("file_id").distinct().count()  # scalar model-state
    outs = []
    for col in ("user_id", "event_type"):
        vf = e.select(col, "file_id").distinct()
        per_val = vf.groupBy(col).agg(F.count(F.lit(1)).alias("nf"))
        avg_files = dl.round_ratio(dl.SPARK, "sum_nf", "n_values", 2)
        skip = dl.round_ratio(
            dl.SPARK, f"{n_files} * n_values - sum_nf", f"{n_files} * n_values"
        )
        outs.append(
            per_val.agg(
                F.count(F.lit(1)).alias("n_values"),
                F.sum("nf").alias("sum_nf"),
                F.max("nf").alias("max_files"),
            ).selectExpr(
                f"'{col}' AS candidate_column",
                "n_values",
                f"CAST({n_files} AS BIGINT) AS n_files",
                f"{avg_files} AS avg_files_per_value",
                "max_files",
                f"{skip} AS skip_ratio",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("candidate_column")


def _oracle_pruning_advisor() -> str:
    parts = []
    for col in ("user_id", "event_type"):
        avg_files = dl.round_ratio(dl.DUCK, "sum_nf", "n_values", 2)
        skip = dl.round_ratio(
            dl.DUCK, "nfl * n_values - sum_nf", "nfl * n_values"
        )
        parts.append(
            f"""
  SELECT '{col}' AS candidate_column, n_values,
    CAST(nfl AS BIGINT) AS n_files,
    {avg_files} AS avg_files_per_value,
    max_files,
    {skip} AS skip_ratio
  FROM (
    SELECT count(*) AS n_values, CAST(sum(nf) AS BIGINT) AS sum_nf,
      max(nf) AS max_files
    FROM (
      SELECT {col}, count(*) AS nf FROM (
        SELECT DISTINCT {col},
          (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS file_id
        FROM events
      ) GROUP BY 1
    )
  ), (SELECT count(DISTINCT (CAST(floor(epoch(ts)) AS BIGINT) // 3600))
        AS nfl FROM events)"""
        )
    union = "\n  UNION ALL\n".join(parts)
    return f"""
SELECT * FROM (
{union}
) ORDER BY candidate_column
"""


# ------------------------------------------------------------------- Welch t
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test per event_type for the
    hash-assigned arms — the test the equal-variance pooled t (and the
    large-sample z in events_ab_test_lift) silently gets wrong when
    one arm's variance differs: t = (mb - ma) / sqrt(va/na + vb/nb)
    with the Welch-Satterthwaite effective degrees of freedom, plus
    Cohen's d (the standardized effect size readouts get reported
    next to). dof is what distinguishes this from the z — at small or
    lopsided n the critical value moves.

    Exact arithmetic: per-arm n/s1/s2 are exact cents BIGINTs (the
    stats_power_mde pivot); t, dof, and d are each ONE shared IEEE
    expression over them. Scale: one (type, arm) hash agg, 2-row fold
    per type."""
    e = load_table(spark, sf_dir, "events")
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    g = (
        e.select(
            "event_type",
            F.when(nib < 8, "A").otherwise("B").alias("v"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
    )
    piv = (
        g.groupBy("event_type")
        .agg(
            *[
                F.sum(F.when(F.col("v") == a, F.col(c))).alias(f"{c}{a.lower()}")
                for a in ("A", "B")
                for c in ("n", "s1", "s2")
            ]
        )
        .filter((F.col("na") >= 2) & (F.col("nb") >= 2))
    )

    def var(a: str) -> str:
        return (
            f"((CAST(n{a} AS DOUBLE) * s2{a} - CAST(s1{a} AS DOUBLE) * s1{a}) "
            f"/ (CAST(n{a} AS DOUBLE) * (n{a} - 1)))"
        )

    se2 = f"({var('a')} / na + {var('b')} / nb)"
    t = f"((CAST(s1b AS DOUBLE) / nb - CAST(s1a AS DOUBLE) / na) / sqrt({se2}))"
    dof = (
        f"(({se2}) * ({se2}) / "
        f"(({var('a')} / na) * ({var('a')} / na) / (na - 1) "
        f"+ ({var('b')} / nb) * ({var('b')} / nb) / (nb - 1)))"
    )
    pooled_sd = (
        f"sqrt(((na - 1) * {var('a')} + (nb - 1) * {var('b')}) / (na + nb - 2))"
    )
    d = f"((CAST(s1b AS DOUBLE) / nb - CAST(s1a AS DOUBLE) / na) / {pooled_sd})"
    return piv.selectExpr(
        "event_type",
        "na",
        "nb",
        f"round({t}, 4) AS welch_t",
        f"round({dof}, 2) AS welch_dof",
        f"round({d}, 4) AS cohens_d",
    ).orderBy("event_type")


def _oracle_welch() -> str:
    d_ = dl.DUCK
    nib = dl.md5_prefix_nibble(d_, "CAST(user_id AS VARCHAR)")

    def var(a: str) -> str:
        return (
            f"((CAST(n{a} AS DOUBLE) * s2{a} - CAST(s1{a} AS DOUBLE) * s1{a}) "
            f"/ (CAST(n{a} AS DOUBLE) * (n{a} - 1)))"
        )

    se2 = f"({var('a')} / na + {var('b')} / nb)"
    t = f"((CAST(s1b AS DOUBLE) / nb - CAST(s1a AS DOUBLE) / na) / sqrt({se2}))"
    dof = (
        f"(({se2}) * ({se2}) / "
        f"(({var('a')} / na) * ({var('a')} / na) / (na - 1) "
        f"+ ({var('b')} / nb) * ({var('b')} / nb) / (nb - 1)))"
    )
    pooled_sd = (
        f"sqrt(((na - 1) * {var('a')} + (nb - 1) * {var('b')}) / (na + nb - 2))"
    )
    dd = f"((CAST(s1b AS DOUBLE) / nb - CAST(s1a AS DOUBLE) / na) / {pooled_sd})"
    cols = ",\n    ".join(
        f"CAST(sum(CASE WHEN v = '{a}' THEN {c} END) AS BIGINT) AS {c}{a.lower()}"
        for a in ("A", "B")
        for c in ("n", "s1", "s2")
    )
    return f"""
WITH g AS (
  SELECT event_type,
    CASE WHEN {nib} < 8 THEN 'A' ELSE 'B' END AS v,
    count(*) AS n,
    sum(CAST(round(value * 100) AS BIGINT)) AS s1,
    sum(CAST(round(value * 100) AS BIGINT)
        * CAST(round(value * 100) AS BIGINT)) AS s2
  FROM events GROUP BY 1, 2
), piv AS (
  SELECT event_type,
    {cols}
  FROM g GROUP BY 1
  HAVING sum(CASE WHEN v = 'A' THEN n END) >= 2
     AND sum(CASE WHEN v = 'B' THEN n END) >= 2
)
SELECT event_type, na, nb,
  round({t}, 4) AS welch_t,
  round({dof}, 2) AS welch_dof,
  round({dd}, 4) AS cohens_d
FROM piv ORDER BY event_type
"""


# ------------------------------------------------------- skewness / kurtosis
def stats_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third and fourth standardized moments per event type — sample
    skewness g1 and excess kurtosis g2 from raw power sums, the
    distribution-shape profile that tells a modeler whether the value
    column needs a transform before anything Gaussian-assuming touches
    it (the ANOVA/t/z family above all quietly assume g1 ~ 0).

    Exactness: s1/s2 power sums stay BIGINT; s3/s4 sums run in
    DECIMAL(38,0) — cents^4 alone can reach ~8e17, so a BIGINT SUM
    would overflow within 10 rows (the ml_embedding_dim_variance
    precedent, one moment order further). DECIMAL(38,0) holds s4
    exactly to ~1e20 total; both engines then convert the identical
    exact integer to the identical IEEE double, and g1/g2 are each one
    shared expression over the five exact sums. Central moments expand
    as m2 = s2/n - mu^2, m3 = s3/n - 3 mu s2/n + 2 mu^3,
    m4 = s4/n - 4 mu s3/n + 6 mu^2 s2/n - 3 mu^4.

    Scale: one (type) hash agg; constant readout."""
    e = load_table(spark, sf_dir, "events")
    g = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
            F.sum(
                F.expr("CAST(c AS DECIMAL(38,0)) * c * c")
            ).alias("s3"),
            F.sum(
                F.expr("CAST(c AS DECIMAL(38,0)) * c * c * c")
            ).alias("s4"),
        )
        .filter(F.col("n") >= 3)
    )
    mu = "(CAST(s1 AS DOUBLE) / n)"
    m2 = f"(CAST(s2 AS DOUBLE) / n - {mu} * {mu})"
    m3 = (
        f"(CAST(s3 AS DOUBLE) / n - 3 * {mu} * CAST(s2 AS DOUBLE) / n "
        f"+ 2 * {mu} * {mu} * {mu})"
    )
    m4 = (
        f"(CAST(s4 AS DOUBLE) / n - 4 * {mu} * CAST(s3 AS DOUBLE) / n "
        f"+ 6 * {mu} * {mu} * CAST(s2 AS DOUBLE) / n "
        f"- 3 * {mu} * {mu} * {mu} * {mu})"
    )
    g1 = f"({m3} / ({m2} * sqrt({m2})))"  # not pow(x,1.5): sqrt is correctly rounded, libm pow is not
    g2 = f"({m4} / ({m2} * {m2}) - 3.0)"
    return g.selectExpr(
        "event_type",
        "n",
        f"round({mu} / 100, 4) AS mean_dollars",
        f"round({g1}, 4) AS skewness_g1",
        f"round({g2}, 4) AS excess_kurtosis_g2",
    ).orderBy("event_type")


def _oracle_skew_kurt() -> str:
    mu = "(CAST(s1 AS DOUBLE) / n)"
    m2 = f"(CAST(s2 AS DOUBLE) / n - {mu} * {mu})"
    m3 = (
        f"(CAST(s3 AS DOUBLE) / n - 3 * {mu} * CAST(s2 AS DOUBLE) / n "
        f"+ 2 * {mu} * {mu} * {mu})"
    )
    m4 = (
        f"(CAST(s4 AS DOUBLE) / n - 4 * {mu} * CAST(s3 AS DOUBLE) / n "
        f"+ 6 * {mu} * {mu} * CAST(s2 AS DOUBLE) / n "
        f"- 3 * {mu} * {mu} * {mu} * {mu})"
    )
    g1 = f"({m3} / ({m2} * sqrt({m2})))"  # not pow(x,1.5): sqrt is correctly rounded, libm pow is not
    g2 = f"({m4} / ({m2} * {m2}) - 3.0)"
    return f"""
WITH g AS (
  SELECT event_type, count(*) AS n,
    sum(CAST(round(value * 100) AS BIGINT)) AS s1,
    sum(CAST(round(value * 100) AS BIGINT)
        * CAST(round(value * 100) AS BIGINT)) AS s2,
    sum(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))
        * CAST(round(value * 100) AS BIGINT)
        * CAST(round(value * 100) AS BIGINT)) AS s3,
    sum(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))
        * CAST(round(value * 100) AS BIGINT)
        * CAST(round(value * 100) AS BIGINT)
        * CAST(round(value * 100) AS BIGINT)) AS s4
  FROM events GROUP BY 1
  HAVING count(*) >= 3
)
SELECT event_type, n,
  round({mu} / 100, 4) AS mean_dollars,
  round({g1}, 4) AS skewness_g1,
  round({g2}, 4) AS excess_kurtosis_g2
FROM g ORDER BY event_type
"""


# ------------------------------------------------------ doc-length lognormal
LOGNORM_Q = 10**9  # per-doc log-term quantization


def docs_length_lognormal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of document length per source — natural-text
    lengths are canonically log-normal, so the (mu, sigma) of
    ln(n_chars) per source IS the compact length model: it feeds
    chunk-size planning (docs_chunking), packing-bin sizing
    (docs_pack_bins), and the quick outlier rule (beyond mu +/- 3
    sigma in log space). Reported with the implied median exp(mu) and
    the p99-over-median ratio exp(2.33 sigma) — the numbers a corpus
    card publishes.

    Float discipline: per-doc ln(n_chars) quantizes to 1e-9 BEFORE the
    sums (ln on identical exact integers — the JSD/MI convention);
    mu/sigma/derived readouts are shared IEEE expressions over the two
    exact quantized sums. Scale: one (source) hash agg over the raw
    scan."""
    d = load_table(spark, sf_dir, "documents")
    lq = f"CAST(round(ln(CAST(n_chars AS DOUBLE)) * {LOGNORM_Q}) AS BIGINT)"
    g = (
        d.filter(F.col("n_chars") > 0)
        .selectExpr("source", f"{lq} AS l")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l").alias("s1"),
            F.sum(F.expr("CAST(l AS DOUBLE) * l")).alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    mu = f"(CAST(s1 AS DOUBLE) / n / {LOGNORM_Q})"
    sigma = (
        f"sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) / {LOGNORM_Q}"
    )
    return g.selectExpr(
        "source",
        "n AS n_docs",
        f"round({mu}, 4) AS mu_log",
        f"round({sigma}, 4) AS sigma_log",
        f"round(exp({mu}), 2) AS implied_median_chars",
        f"round(exp(2.326348 * {sigma}), 4) AS p99_over_median",
    ).orderBy("source")


def _oracle_lognormal() -> str:
    lq = f"CAST(round(ln(CAST(n_chars AS DOUBLE)) * {LOGNORM_Q}) AS BIGINT)"
    mu = f"(CAST(s1 AS DOUBLE) / n / {LOGNORM_Q})"
    sigma = f"sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) / {LOGNORM_Q}"
    return f"""
WITH g AS (
  SELECT source, count(*) AS n,
    CAST(sum(l) AS BIGINT) AS s1,
    sum(CAST(l AS DOUBLE) * l) AS s2
  FROM (
    SELECT source, {lq} AS l FROM documents WHERE n_chars > 0
  ) GROUP BY 1
  HAVING count(*) >= 2
)
SELECT source, n AS n_docs,
  round({mu}, 4) AS mu_log,
  round({sigma}, 4) AS sigma_log,
  round(exp({mu}), 2) AS implied_median_chars,
  round(exp(2.326348 * {sigma}), 4) AS p99_over_median
FROM g ORDER BY source
"""


# ------------------------------------------------------------- session depth
SESSION_GAP_MIN = 30  # inactivity minutes that close a session


def events_session_depth_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth histogram: sessionize each user's stream with the
    standard 30-minute inactivity rule (the window_session_per_user
    grain) and report how many events a session contains — count,
    share, and the single-event-session ("bounce") share readable off
    the first row. The engagement-depth readout next to
    events_stickiness_dau_mau's frequency one, and the direct input to
    sizing session-state stores (p-max depth bounds the state a
    streaming sessionizer holds per key).

    All-integer: epoch seconds, gap breaks, session ids via cumulative
    sum, depth counts, half-up share ratios. Scale: one user-partitioned
    lag/cumsum window over the raw scan, then session-grain and
    depth-grain aggs — each strictly smaller than the last."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("sec"),
    )
    w = W.partitionBy("user_id").orderBy("sec", "event_id")
    brk = F.when(
        F.lag("sec").over(w).isNull()
        | (F.col("sec") - F.lag("sec").over(w) > SESSION_GAP_MIN * 60),
        1,
    ).otherwise(0)
    sess = e.select(
        "user_id",
        F.sum(brk)
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("session_id"),
    )
    depth = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("depth")
    )
    share = dl.round_ratio(dl.SPARK, "n_sessions", "tot")
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .selectExpr("depth", "n_sessions", "sum(n_sessions) OVER () AS tot")
        .selectExpr("depth", "n_sessions", f"{share} AS session_share")
        .orderBy("depth")
    )


def _oracle_session_depth() -> str:
    share = dl.round_ratio(dl.DUCK, "n_sessions", "tot")
    return f"""
WITH e AS (
  SELECT user_id, event_id,
    CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events
), brk AS (
  SELECT user_id, sec, event_id,
    CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
              IS NULL
      OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
         > {SESSION_GAP_MIN * 60}
      THEN 1 ELSE 0 END AS b
  FROM e
), sess AS (
  SELECT user_id,
    sum(b) OVER (PARTITION BY user_id ORDER BY sec, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM brk
), depth AS (
  SELECT user_id, session_id, count(*) AS depth FROM sess GROUP BY 1, 2
), g AS (
  SELECT depth, count(*) AS n_sessions FROM depth GROUP BY 1
), w AS (
  SELECT *, CAST(sum(n_sessions) OVER () AS BIGINT) AS tot FROM g
)
SELECT depth, n_sessions, {share} AS session_share
FROM w ORDER BY depth
"""


# ------------------------------------------------------------------ drawdown
def orders_revenue_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of cumulative daily revenue momentum — the
    risk-curve readout applied to a business series: track daily
    revenue's running peak and report the worst peak-to-trough fall
    (depth, the peak day, the trough day) plus the current drawdown at
    the series end. On a revenue series this surfaces the worst
    sustained slump window exactly as the financial version surfaces
    crashes; the argmax convention ties to the EARLIEST day.

    All-integer: cumulative cents, running max (day-ordered window over
    the CALENDAR-bounded day grain), drawdown differences; dollar
    outputs are final divisions. Scale: day-grain agg then day-grain
    windows — never data-sized."""
    e = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(unix_timestamp(o_orderdate) DIV 86400 AS BIGINT)").alias("di"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    day = e.groupBy("di").agg(F.sum("cents").alias("y"))
    wcum = W.orderBy("di").rowsBetween(W.unboundedPreceding, 0)
    cum = day.select("di", F.sum("y").over(wcum).alias("cum"))
    cur = cum.select(
        "di", "cum", F.max("cum").over(wcum).alias("peak")
    ).withColumn("dd", F.col("peak") - F.col("cum"))
    worst = cur.orderBy(F.desc("dd"), F.asc("di")).limit(1)
    last = cur.orderBy(F.desc("di")).limit(1)
    return (
        worst.selectExpr(
            "di AS trough_day_index",
            "dd AS worst_dd_cents",
            "round(CAST(dd AS DOUBLE) / 100.0, 2) AS worst_drawdown_dollars",
            "round(CAST(peak AS DOUBLE) / 100.0, 2) AS peak_cum_dollars",
        )
        .join(
            last.selectExpr(
                "round(CAST(dd AS DOUBLE) / 100.0, 2) AS current_drawdown_dollars"
            )
        )
        .drop("worst_dd_cents")
    )


def _oracle_drawdown() -> str:
    return """
WITH day AS (
  SELECT (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS di,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1
), cum AS (
  SELECT di,
    CAST(sum(y) OVER (ORDER BY di ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM day
), cur AS (
  SELECT di, cum,
    CAST(max(cum) OVER (ORDER BY di ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS peak
  FROM cum
), dd AS (SELECT di, cum, peak, peak - cum AS dd FROM cur),
worst AS (
  SELECT * FROM dd ORDER BY dd DESC, di ASC LIMIT 1
), lastrow AS (
  SELECT * FROM dd ORDER BY di DESC LIMIT 1
)
SELECT w.di AS trough_day_index,
  round(CAST(w.dd AS DOUBLE) / 100.0, 2) AS worst_drawdown_dollars,
  round(CAST(w.peak AS DOUBLE) / 100.0, 2) AS peak_cum_dollars,
  round(CAST(l.dd AS DOUBLE) / 100.0, 2) AS current_drawdown_dollars
FROM worst w, lastrow l
"""


# -------------------------------------------------------- feature-hash sweep
FH_SWEEP_DIMS = (256, 1024, 4096)


def ml_feature_hash_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing dimension sweep — the table that picks FH_DIM:
    for each candidate width, how many buckets the vocabulary actually
    occupies, the share of distinct tokens that collide (land in a
    bucket with another token), and the worst bucket's token count.
    The collision share is the accuracy-loss proxy the hashing-trick
    literature bounds; doubling D below the knee is free model quality,
    above it is wasted width.

    All-integer (md5-prefix folds, counts). Scale: the token
    VOCABULARY relation (distinct tokens — vocabulary-bounded, not
    corpus-bounded) is built once and each width is one D-bounded agg
    over it."""
    from .dedup import tokenized_docs_staging

    vocab = (
        tokenized_docs_staging(spark, sf_dir)
        .select(F.explode("toks").alias("w"))
        .distinct()
        .selectExpr("w", "md5(w) AS hx")
        .selectExpr(f"{dl.hex_prefix_uint(dl.SPARK, 'hx', 8)} AS h8")
    )
    outs = []
    for d_ in FH_SWEEP_DIMS:
        per = vocab.selectExpr(f"pmod(h8, {d_}) AS feat").groupBy("feat").agg(
            F.count(F.lit(1)).alias("n_tokens")
        )
        collide = dl.round_ratio(dl.SPARK, "colliding", "n_vocab")
        outs.append(
            per.agg(
                F.count(F.lit(1)).alias("buckets_used"),
                F.sum("n_tokens").alias("n_vocab"),
                F.sum(
                    F.when(F.col("n_tokens") > 1, F.col("n_tokens")).otherwise(0)
                ).alias("colliding"),
                F.max("n_tokens").alias("max_bucket_tokens"),
            ).selectExpr(
                f"CAST({d_} AS INT) AS dim",
                "n_vocab",
                "buckets_used",
                f"{collide} AS collision_share",
                "max_bucket_tokens",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("dim")


def _oracle_fh_tradeoff() -> str:
    d = dl.DUCK
    parts = []
    for d_ in FH_SWEEP_DIMS:
        collide = dl.round_ratio(d, "colliding", "n_vocab")
        parts.append(
            f"""
  SELECT CAST({d_} AS INT) AS dim, n_vocab, buckets_used,
    {collide} AS collision_share, max_bucket_tokens
  FROM (
    SELECT count(*) AS buckets_used,
      CAST(sum(n_tokens) AS BIGINT) AS n_vocab,
      CAST(sum(CASE WHEN n_tokens > 1 THEN n_tokens ELSE 0 END) AS BIGINT)
        AS colliding,
      max(n_tokens) AS max_bucket_tokens
    FROM (
      SELECT ({dl.hex_prefix_uint(d, 'hx', 8)}) % {d_} AS feat,
        count(*) AS n_tokens
      FROM (
        SELECT md5(w) AS hx FROM (
          SELECT DISTINCT {dl.unnest(d, dl.split_ws(d, 'text'))} AS w
          FROM documents
        )
      ) GROUP BY 1
    )
  )"""
        )
    union = "\n  UNION ALL\n".join(parts)
    return f"""
SELECT * FROM (
{union}
) ORDER BY dim
"""


# ---------------------------------------------------------------------- ITS
def events_interrupted_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series readout: fit OLS daily-revenue trends
    independently BEFORE and AFTER the calendar midpoint (the same
    derived split day the experiment readouts use) and report the
    level jump at the boundary and the slope change — the
    quasi-experimental estimate teams reach for when there IS no
    randomized control (launch day, pricing change, incident).
    Segmented regression in its two-fit form: pre yhat extrapolated to
    the split day vs post yhat at the split day is the level effect;
    b_post - b_pre is the trend effect.

    Exact arithmetic: per-segment OLS closed forms (n, St, Sy, Stt,
    Sty) are exact BIGINT sums over (day-index, cents) — the
    part_price_slope convention — folded to one row by conditional
    sums; slopes/intercepts/effects are shared IEEE expressions.
    Scale: one day-grain agg (calendar-bounded), one 2-segment fold."""
    e = load_table(spark, sf_dir, "events").select(
        F.expr("CAST(unix_timestamp(ts) DIV 86400 AS BIGINT)").alias("di"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    day = e.groupBy("di").agg(F.sum("cents").alias("y"))
    split = day.agg(
        F.expr("CAST((min(di) + max(di) + 1) DIV 2 AS BIGINT)").alias("sd")
    )
    seg = day.join(F.broadcast(split)).selectExpr(
        "CASE WHEN di < sd THEN 'pre' ELSE 'post' END AS seg",
        "di - sd AS t",  # centered at the split so intercept = level AT the split
        "y",
        "sd",
    )
    one = seg.groupBy().agg(
        F.max("sd").alias("sd"),
        *[
            F.sum(F.when(F.col("seg") == sg, F.expr(ex))).alias(f"{nm}_{sg}")
            for sg in ("pre", "post")
            for nm, ex in (
                ("n", "1"),
                ("st", "t"),
                ("sy", "y"),
                ("stt", "t * t"),
                ("sty", "t * y"),
            )
        ],
    )

    def slope(sg: str) -> str:
        return (
            f"((CAST(n_{sg} AS DOUBLE) * sty_{sg} - CAST(st_{sg} AS DOUBLE) * sy_{sg}) "
            f"/ (CAST(n_{sg} AS DOUBLE) * stt_{sg} - CAST(st_{sg} AS DOUBLE) * st_{sg}))"
        )

    def icept(sg: str) -> str:
        return (
            f"((CAST(sy_{sg} AS DOUBLE) - {slope(sg)} * st_{sg}) / n_{sg})"
        )

    return one.selectExpr(
        "sd AS split_day_index",
        "n_pre",
        "n_post",
        f"round({slope('pre')} / 100, 4) AS slope_pre",
        f"round({slope('post')} / 100, 4) AS slope_post",
        f"round(({slope('post')} - {slope('pre')}) / 100, 4) AS slope_change",
        f"round(({icept('post')} - {icept('pre')}) / 100, 2) AS level_jump_dollars",
    )


def _oracle_its() -> str:
    def slope(sg: str) -> str:
        return (
            f"((CAST(n_{sg} AS DOUBLE) * sty_{sg} - CAST(st_{sg} AS DOUBLE) * sy_{sg}) "
            f"/ (CAST(n_{sg} AS DOUBLE) * stt_{sg} - CAST(st_{sg} AS DOUBLE) * st_{sg}))"
        )

    def icept(sg: str) -> str:
        return f"((CAST(sy_{sg} AS DOUBLE) - {slope(sg)} * st_{sg}) / n_{sg})"

    cols = ",\n    ".join(
        f"CAST(sum(CASE WHEN seg = '{sg}' THEN {ex} END) AS BIGINT) AS {nm}_{sg}"
        for sg in ("pre", "post")
        for nm, ex in (
            ("n", "1"),
            ("st", "t"),
            ("sy", "y"),
            ("stt", "t * t"),
            ("sty", "t * y"),
        )
    )
    return f"""
WITH day AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS di,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1
), split AS (
  SELECT CAST((min(di) + max(di) + 1) // 2 AS BIGINT) AS sd FROM day
), seg AS (
  SELECT CASE WHEN di < sd THEN 'pre' ELSE 'post' END AS seg,
    di - sd AS t, y, sd
  FROM day, split
), one AS (
  SELECT max(sd) AS sd,
    {cols}
  FROM seg
)
SELECT sd AS split_day_index, n_pre, n_post,
  round({slope('pre')} / 100, 4) AS slope_pre,
  round({slope('post')} / 100, 4) AS slope_post,
  round(({slope('post')} - {slope('pre')}) / 100, 4) AS slope_change,
  round(({icept('post')} - {icept('pre')}) / 100, 2) AS level_jump_dollars
FROM one
"""


# --------------------------------------------------------------- ingest gaps
GAP_TOP = 15


def events_ingest_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-outage audit — per event type, the gaps in the hourly
    event timeline (hours with traffic on both sides but none inside):
    the dropped-batch / dead-producer detector a feed SLO runs before
    anyone trusts downstream counts. Reports the GAP_TOP widest
    outages (type, start hour, end hour, width) with a deterministic
    tiebreak; a healthy feed's widest gap is its known quiet period,
    anything wider is the incident.

    Scale: one (type, hour) hash agg — calendar x type bounded — then
    a lag window PARTITIONED BY TYPE over that bounded grain (never a
    data-wide sort); top-k is TakeOrdered. All-integer hour
    arithmetic."""
    e = load_table(spark, sf_dir, "events")
    th = (
        e.selectExpr(
            "event_type",
            "CAST(unix_timestamp(ts) DIV 3600 AS BIGINT) AS hi",
        )
        .groupBy("event_type", "hi")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lag = F.lag("hi").over(W.partitionBy("event_type").orderBy("hi"))
    gaps = (
        th.select("event_type", F.col("hi").alias("next_hi"), lag.alias("prev_hi"))
        .filter(F.col("prev_hi").isNotNull())
        .filter(F.col("next_hi") - F.col("prev_hi") > 1)
        .selectExpr(
            "event_type",
            "prev_hi + 1 AS gap_start_hour",
            "next_hi - 1 AS gap_end_hour",
            "next_hi - prev_hi - 1 AS gap_hours",
        )
    )
    return gaps.orderBy(
        F.desc("gap_hours"), F.asc("event_type"), F.asc("gap_start_hour")
    ).limit(GAP_TOP)


def _oracle_ingest_gaps() -> str:
    return f"""
WITH th AS (
  SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS hi,
    count(*) AS c
  FROM events GROUP BY 1, 2
), k AS (
  SELECT event_type, hi AS next_hi,
    lag(hi) OVER (PARTITION BY event_type ORDER BY hi) AS prev_hi
  FROM th
)
SELECT event_type, prev_hi + 1 AS gap_start_hour,
  next_hi - 1 AS gap_end_hour,
  next_hi - prev_hi - 1 AS gap_hours
FROM k WHERE prev_hi IS NOT NULL AND next_hi - prev_hi > 1
ORDER BY gap_hours DESC, event_type ASC, gap_start_hour ASC
LIMIT {GAP_TOP}
"""


# ------------------------------------------------------------- Holt-Winters
HW_PERIOD = 7   # weekly seasonality
HW_H = 7        # forecast horizon (one full season)
HW_ALPHA = "0.3"
HW_BETA = "0.1"
HW_GAMMA = "0.2"


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly seasonality) per
    event type — the final rung of the smoothing ladder after
    events_ewma_forecast (level) and events_holt_forecast (level +
    trend): L_t = a*(x_t - S_{t-m}) + (1-a)*(L+B), B_t = b*(L_t - L) +
    (1-b)*B, S_t = g*(x_t - L_t) + (1-g)*S_{t-m}, m = 7. Seeds are the
    textbook simple-init: L = mean of the first week (written as ONE
    left-parenthesized sum so both engines add in the same order),
    B = 0, S_i = x_i - L. Forecast at h = 7 adds back the matching
    season: L + h*B + S_t.

    Float discipline is the events_holt_forecast convention: signed
    recurrences run the IDENTICAL IEEE double expression in sequence
    order on both engines (Spark: array fold with a (l, b, s[7])
    struct accumulator that rotates the season ring; DuckDB: recursive
    CTE carrying the same ring as a list), and only OUTPUTS are
    floor-quantized to 4dp. Plan: one (type, day) hash agg, one
    type-keyed calendar-bounded array, one map-side fold."""
    e = load_table(spark, sf_dir, "events")
    m = HW_PERIOD
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    arr = (
        daily.groupBy("event_type")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(day, c))), "
                "p -> CAST(p.c AS DOUBLE))"
            ).alias("cs")
        )
        .where(F.expr(f"size(cs) >= {m + 1}"))
    )
    # explicit left-assoc seed sum: ((((((x1+x2)+x3)+x4)+x5)+x6)+x7)
    terms = [f"element_at(cs, {i})" for i in range(1, m + 1)]
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    seed_l = f"({acc} / {m}.0)"
    seed_s = ", ".join(f"element_at(cs, {i}) - {seed_l}" for i in range(1, m + 1))
    a, b, g = HW_ALPHA, HW_BETA, HW_GAMMA
    lnew = f"({a} * (x - element_at(acc.s, 1)) + (1.0 - {a}) * (acc.l + acc.b))"
    bnew = f"({b} * ({lnew} - acc.l) + (1.0 - {b}) * acc.b)"
    snew = f"({g} * (x - {lnew}) + (1.0 - {g}) * element_at(acc.s, 1))"
    fold = (
        f"aggregate(slice(cs, {m + 1}, size(cs) - {m}), "
        f"named_struct('l', CAST({seed_l} AS DOUBLE), 'b', CAST(0.0 AS DOUBLE), "
        f"'s', array({seed_s})), "
        f"(acc, x) -> named_struct('l', {lnew}, 'b', {bnew}, "
        f"'s', concat(slice(acc.s, 2, {m - 1}), array({snew}))))"
    )
    q4 = "CAST(CAST(floor(({v}) * 10000) AS BIGINT) AS DOUBLE) / CAST(10000 AS DOUBLE)"
    return arr.select(
        "event_type",
        F.expr("CAST(size(cs) AS BIGINT)").alias("n_days"),
        F.expr(q4.format(v=f"{fold}.l")).alias("level"),
        F.expr(q4.format(v=f"{fold}.b")).alias("trend"),
        F.expr(q4.format(v=f"element_at({fold}.s, {m})")).alias("season_last"),
        F.expr(
            q4.format(v=f"{fold}.l + {HW_H} * {fold}.b + element_at({fold}.s, {m})")
        ).alias(f"forecast_{HW_H}d"),
    ).orderBy("event_type")


def _oracle_holt_winters() -> str:
    m = HW_PERIOD
    a, b, g = HW_ALPHA, HW_BETA, HW_GAMMA
    # seeds from the pivoted first week, same left-assoc sum text
    terms = [f"x{i}" for i in range(1, m + 1)]
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    seed_l = f"({acc} / {m}.0)"
    seed_s = ", ".join(f"x{i} - {seed_l}" for i in range(1, m + 1))
    piv = ",\n    ".join(
        f"max(CASE WHEN i = {i} THEN c END) AS x{i}" for i in range(1, m + 1)
    )
    lnew = f"({a} * (s.c - h.s[1]) + (1.0 - {a}) * (h.l + h.b))"
    bnew = f"({b} * ({lnew} - h.l) + (1.0 - {b}) * h.b)"
    snew = f"({g} * (s.c - {lnew}) + (1.0 - {g}) * h.s[1])"
    q4 = "CAST(CAST(floor(({v}) * 10000) AS BIGINT) AS DOUBLE) / CAST(10000 AS DOUBLE)"
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
), series AS (
  SELECT event_type, CAST(c AS DOUBLE) AS c,
    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
    count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
), seeds AS (
  SELECT event_type,
    {piv}
  FROM series WHERE i <= {m} GROUP BY event_type
  HAVING count(*) = {m}
), hw AS (
  SELECT s.event_type, CAST({m} AS BIGINT) AS i,
    CAST({seed_l} AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
    [{seed_s}] AS s
  FROM seeds s
  JOIN (SELECT DISTINCT event_type FROM series WHERE n >= {m + 1}) ok
    USING (event_type)
  UNION ALL
  SELECT h.event_type, h.i + 1,
    {lnew},
    {bnew},
    list_append(h.s[2:{m}], {snew})
  FROM hw h JOIN series s ON s.event_type = h.event_type AND s.i = h.i + 1
), fin AS (
  SELECT hw.event_type, hw.l, hw.b, hw.s
  FROM hw
  JOIN (SELECT event_type, max(i) AS mi FROM hw GROUP BY 1) last
    ON last.event_type = hw.event_type AND last.mi = hw.i
), nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM series GROUP BY 1
)
SELECT f.event_type AS event_type, nd.n_days AS n_days,
  {q4.format(v="f.l")} AS level,
  {q4.format(v="f.b")} AS trend,
  {q4.format(v=f"f.s[{m}]")} AS season_last,
  {q4.format(v=f"f.l + {HW_H} * f.b + f.s[{m}]")} AS forecast_{HW_H}d
FROM fin f JOIN nd USING (event_type)
ORDER BY event_type
"""



QUERIES = {
    "events_stickiness_dau_mau": events_stickiness_dau_mau,
    "stats_kendall_tau": stats_kendall_tau,
    "ml_feature_hashing": ml_feature_hashing,
    "sample_neyman_allocation": sample_neyman_allocation,
    "events_uplift_by_tier": events_uplift_by_tier,
    "events_markov_stationary": events_markov_stationary,
    "events_diff_in_diff": events_diff_in_diff,
    "layout_partition_skew": layout_partition_skew,
    "events_watermark_lateness": events_watermark_lateness,
    "orders_ar_aging": orders_ar_aging,
    "lineitem_discount_bands": lineitem_discount_bands,
    "events_ab_srm_check": events_ab_srm_check,
    "ml_pr_auc": ml_pr_auc,
    "supplier_otif_scorecard": supplier_otif_scorecard,
    "orders_monthly_yoy": orders_monthly_yoy,
    "events_velocity_flags": events_velocity_flags,
    "events_churn_sensitivity": events_churn_sensitivity,
    "parts_supplier_hhi": parts_supplier_hhi,
    "orders_basket_size_dist": orders_basket_size_dist,
    "stats_welch_ttest": stats_welch_ttest,
    "layout_pruning_advisor": layout_pruning_advisor,
    "events_holt_winters": events_holt_winters,
    "events_interrupted_time_series": events_interrupted_time_series,
    "events_ingest_gap_audit": events_ingest_gap_audit,
    "orders_revenue_drawdown": orders_revenue_drawdown,
    "ml_feature_hash_tradeoff": ml_feature_hash_tradeoff,
    "events_session_depth_dist": events_session_depth_dist,
    "stats_skew_kurtosis": stats_skew_kurtosis,
    "docs_length_lognormal": docs_length_lognormal,
}

ORACLES = {
    "events_stickiness_dau_mau": _oracle_stickiness(),
    "stats_kendall_tau": _oracle_kendall(),
    "ml_feature_hashing": _oracle_feature_hashing(),
    "sample_neyman_allocation": _oracle_neyman(),
    "events_uplift_by_tier": _oracle_uplift(),
    "events_markov_stationary": _oracle_markov_stationary(),
    "events_diff_in_diff": _oracle_did(),
    "layout_partition_skew": _oracle_partition_skew(),
    "events_watermark_lateness": _oracle_lateness(),
    "orders_ar_aging": _oracle_ar_aging(),
    "lineitem_discount_bands": _oracle_discount_bands(),
    "events_ab_srm_check": _oracle_srm(),
    "ml_pr_auc": _oracle_pr_auc(),
    "supplier_otif_scorecard": _oracle_otif(),
    "orders_monthly_yoy": _oracle_monthly_yoy(),
    "events_velocity_flags": _oracle_velocity(),
    "events_churn_sensitivity": _oracle_churn(),
    "parts_supplier_hhi": _oracle_hhi(),
    "orders_basket_size_dist": _oracle_basket_size(),
    "stats_welch_ttest": _oracle_welch(),
    "layout_pruning_advisor": _oracle_pruning_advisor(),
    "events_holt_winters": _oracle_holt_winters(),
    "events_interrupted_time_series": _oracle_its(),
    "events_ingest_gap_audit": _oracle_ingest_gaps(),
    "orders_revenue_drawdown": _oracle_drawdown(),
    "ml_feature_hash_tradeoff": _oracle_fh_tradeoff(),
    "events_session_depth_dist": _oracle_session_depth(),
    "stats_skew_kurtosis": _oracle_skew_kurt(),
    "docs_length_lognormal": _oracle_lognormal(),
}
