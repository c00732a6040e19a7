"""Second-tier analytics / pipeline operators added in round 4:

- gaps-and-islands sessionization over calendar days (streak analysis),
- deterministic per-key reservoir-style sampling (two-phase top-k, skew-proof),
- boilerplate chunk detection over the documents corpus (the C4 "repeated
  paragraph" removal step, done on fixed token shingles),
- per-group pareto frontier (skyline) via a running-max window,
- hash-assigned A/B experiment readout with exact-integer moment math.

All five are pure DataFrame/window/agg compositions (no UDFs), each with a
DuckDB oracle. Float determinism follows the repo convention: sums are taken
over exact cents (BIGINT); doubles only appear in final divisions of exact
integers, which IEEE-match across engines, and displayed ratios are rounded.

Reference tie-in: the reference's only analytic shape is the windowed
hashtag count (proc:131-140) — these queries extend the same
"key -> window/agg -> readout" pattern to the shapes a training-data
pipeline actually runs (streaks, samples, boilerplate, frontiers, A/B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..functions import dialect as dl
from ..sources.loaders import fan_out_small, load_table


# ---------------------------------------------------------------- gaps/islands
def events_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity-streak analysis (gaps-and-islands): distinct active
    calendar days per user, islands found by the row_number anchor trick
    (day - rank is constant within a run of consecutive days).

    Scale: the distinct is a keyed hash agg on (user_id, day) — cardinality
    is bounded by users x days, orders of magnitude below the event count;
    the window partitions by user_id over that reduced set, so no single
    task ever sees more than one user's days. Survives 100 TB of events
    because everything after the first agg is per-user-days sized.
    """
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    isl = days.select("user_id", "d", F.date_sub(F.col("d"), rn).alias("anchor"))
    per_island = isl.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return per_island.groupBy("user_id").agg(
        F.sum("len").alias("active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("max_streak"),
    )


def _oracle_gaps_islands() -> str:
    return """
WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
num AS (SELECT user_id, d,
         row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn FROM days),
per_island AS (
  SELECT user_id, d - CAST(rn AS INT) AS anchor, count(*) AS len
  FROM num GROUP BY user_id, d - CAST(rn AS INT)
)
SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
  count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS max_streak
FROM per_island GROUP BY user_id
"""


# ------------------------------------------------------------ reservoir sample
RESERVOIR_K = 5


def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-key sample: rank docs within each language by
    md5(text) (uniform, content-keyed — retries and re-partitioning cannot
    change membership, unlike rand()) and keep the first RESERVOIR_K.

    Two-phase top-k so a skewed key cannot serialize: phase 1 ranks within
    (lang, hash-bucket) — 16 parallel sub-streams per language — and keeps
    k per bucket; phase 2 re-ranks the <= 16k survivors per language. The
    global top-k by a total order is always contained in the union of
    per-bucket top-k's, so the result equals the single-window form the
    oracle uses, while the biggest window any task evaluates is one
    bucket's share of one language.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5("text")
    bucket = F.expr(dl.md5_prefix_nibble(dl.SPARK, "text"))
    w1 = W.partitionBy("lang", "bucket").orderBy("h", "doc_id")
    phase1 = (
        docs.select("lang", "doc_id", h.alias("h"), bucket.alias("bucket"))
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= RESERVOIR_K)
    )
    w2 = W.partitionBy("lang").orderBy("h", "doc_id")
    return (
        phase1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("lang", "doc_id", "rk")
    )


def _oracle_reservoir() -> str:
    return f"""
SELECT lang, doc_id, CAST(rk AS INT) AS rk FROM (
  SELECT lang, doc_id,
    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
  FROM documents
) WHERE rk <= {RESERVOIR_K}
"""


# ------------------------------------------------------------ boilerplate det.
BP_CHUNK = 8  # tokens per shingle (non-overlapping)
BP_MIN_DOCS = 3  # a chunk in >= this many distinct docs is boilerplate


def docs_boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection — the "same paragraph in many pages" C4/RefinedWeb
    cleanup signal: cut each doc into non-overlapping BP_CHUNK-token shingles
    (full shingles only) and report chunks appearing in >= BP_MIN_DOCS
    distinct docs, keyed by md5 so the 100 TB shuffle moves 32-char digests,
    not chunk text.

    Plan: tokenize-once projection -> map-side posexplode of slice starts
    (no shuffle) -> one hash agg on the digest (partial count_distinct via
    the (digest, doc_id) pre-agg Catalyst plans for count(DISTINCT)). The
    digest key is uniform by construction, so no salting is needed even
    when one boilerplate chunk is everywhere — the agg is two-level.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(
        "doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("n"))
    starts = f"sequence(1, greatest(n, 1), {BP_CHUNK})"
    chunks = tokd.select(
        "doc_id",
        F.explode(F.expr(starts)).alias("s"),
        F.col("toks"),
        F.col("n"),
    ).select(
        "doc_id",
        F.array_join(F.slice("toks", F.col("s"), F.lit(BP_CHUNK)), " ").alias("ct"),
        (F.least(F.col("s") + (BP_CHUNK - 1), F.col("n")) - F.col("s") + 1).alias(
            "ctoks"
        ),
    )
    return (
        chunks.filter(F.col("ctoks") == BP_CHUNK)
        .groupBy(F.md5("ct").alias("chunk_md5"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= BP_MIN_DOCS)
    )


def _oracle_boilerplate() -> str:
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM tokd
), chunks AS (
  SELECT doc_id,
    array_to_string(toks[s:s + {BP_CHUNK - 1}], ' ') AS ct,
    least(s + {BP_CHUNK - 1}, n) - s + 1 AS ctoks
  FROM (SELECT doc_id, toks, n,
          unnest(generate_series(1, greatest(n, 1), {BP_CHUNK})) AS s
        FROM sized)
)
SELECT md5(ct) AS chunk_md5, count(DISTINCT doc_id) AS n_docs,
  count(*) AS n_occurrences
FROM chunks WHERE ctoks = {BP_CHUNK}
GROUP BY md5(ct) HAVING count(DISTINCT doc_id) >= {BP_MIN_DOCS}
"""


# ------------------------------------------------------------------- skyline
def part_skyline_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand pareto frontier (skyline): parts where no cheaper part of
    the same brand has >= size — "best size you can get at each price
    point". Single running-max window per brand (sort by price, keep rows
    that raise the size high-water mark) — the O(n log n) skyline for two
    criteria, vs the naive O(n^2) self-join. Ties are ordered
    (price, partkey) so both engines agree row-for-row.

    Scale: partitioned by brand, so the sort parallelizes across brands;
    within one giant brand the window is a single ordered scan (no
    quadratic anything).
    """
    part = load_table(spark, sf_dir, "part")
    w = (
        W.partitionBy("p_brand")
        .orderBy("p_retailprice", "p_partkey")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev_max = F.max("p_size").over(w)
    return (
        part.withColumn("prev_max", prev_max)
        .filter(F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max")))
        .select("p_brand", "p_partkey", "p_retailprice", "p_size")
    )


def _oracle_skyline() -> str:
    return """
SELECT p_brand, p_partkey, p_retailprice, p_size FROM (
  SELECT p_brand, p_partkey, p_retailprice, p_size,
    max(p_size) OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM part
) WHERE prev_max IS NULL OR p_size > prev_max
"""


# ------------------------------------------------------------------ A/B lift
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash-assigned 50/50 (first md5 nibble
    of user_id — sticky, engine-portable, no rand()), then per event_type:
    group sizes, mean value, lift, and a Welch t statistic.

    Float determinism: values are quantized to exact cents; the per-group
    sums s1 (cents) and s2 (cents^2, ~2.4e9/row -> BIGINT-safe past 1e9
    rows per (type, variant) group) are exact BIGINTs. The variance term
    s1^2 is NOT BIGINT-safe (|s1| > ~3e9 cents wraps), so s1 is cast to
    DOUBLE before squaring — op-for-op identical to the oracle's
    CAST(s1 AS DOUBLE) * s1, so both engines run the same IEEE ops on the
    same exact integer inputs and produce bit-identical doubles; displayed
    ratios are rounded to 4 places. Event types present in only one
    variant, or with a single-row variant (where (n-1)=0 division
    semantics differ across engines), are excluded: the readout requires
    n >= 2 on BOTH sides, mirrored in the oracle's inner join + filter.
    Scale: one hash agg keyed by (event_type, variant), then an in-group
    pivot of exactly 2 rows per type — nothing downstream of the first agg
    exceeds #event_types rows.
    """
    e = load_table(spark, sf_dir, "events")
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    g = (
        e.select(
            "event_type",
            F.when(nib < 8, "A").otherwise("B").alias("variant"),
            cents.alias("cents"),
        )
        .groupBy("event_type", "variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
    )
    both = (
        g.groupBy("event_type")
        .pivot("variant", ["A", "B"])
        .agg(
            F.first("n").alias("n"), F.first("s1").alias("s1"), F.first("s2").alias("s2")
        )
    )
    mean = lambda s, n: F.col(s) / (F.col(n) * F.lit(100.0))  # noqa: E731
    # sample variance of cents/100: (s2 - s1^2/n) / (n-1) / 100^2.
    # s1 goes through DOUBLE before squaring (BIGINT*BIGINT wraps past
    # |s1| ~ 3e9 cents) — the exact shape of the oracle's
    # CAST(s1 AS DOUBLE) * s1 / n, so the doubles stay bit-identical.
    var = lambda s1, s2, n: (  # noqa: E731
        (F.col(s2) - F.col(s1).cast("double") * F.col(s1) / F.col(n))
        / (F.col(n) - 1)
        / F.lit(10000.0)
    )
    ma, mb = mean("A_s1", "A_n"), mean("B_s1", "B_n")
    va, vb = var("A_s1", "A_s2", "A_n"), var("B_s1", "B_s2", "B_n")
    t = (mb - ma) / F.sqrt(va / F.col("A_n") + vb / F.col("B_n"))
    # both variants present with n >= 2 each (NULL-side pivot rows and the
    # (n-1)=0 division have engine-divergent semantics; the oracle's inner
    # join + n filter is the same predicate)
    both = both.filter((F.col("A_n") >= 2) & (F.col("B_n") >= 2))
    return both.select(
        "event_type",
        F.col("A_n").alias("n_a"),
        F.col("B_n").alias("n_b"),
        F.round(ma, 4).alias("mean_a"),
        F.round(mb, 4).alias("mean_b"),
        F.round((mb - ma) / ma * 100, 4).alias("lift_pct"),
        F.round(t, 4).alias("t_stat"),
    )


def _oracle_ab_lift() -> str:
    nib = dl.md5_prefix_nibble(dl.DUCK, "CAST(user_id AS VARCHAR)")
    return f"""
WITH g AS (
  SELECT event_type,
    CASE WHEN {nib} < 8 THEN 'A' ELSE 'B' END AS variant,
    count(*) AS n,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s1,
    CAST(sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s2
  FROM events GROUP BY 1, 2
), ab AS (
  SELECT a.event_type,
    a.n AS n_a, a.s1 AS s1_a, a.s2 AS s2_a,
    b.n AS n_b, b.s1 AS s1_b, b.s2 AS s2_b
  FROM (SELECT * FROM g WHERE variant = 'A') a
  JOIN (SELECT * FROM g WHERE variant = 'B') b USING (event_type)
  WHERE a.n >= 2 AND b.n >= 2
)
SELECT event_type, n_a, n_b,
  round(s1_a / (n_a * 100.0), 4) AS mean_a,
  round(s1_b / (n_b * 100.0), 4) AS mean_b,
  round((s1_b / (n_b * 100.0) - s1_a / (n_a * 100.0)) / (s1_a / (n_a * 100.0)) * 100, 4) AS lift_pct,
  round((s1_b / (n_b * 100.0) - s1_a / (n_a * 100.0))
    / sqrt(((s2_a - CAST(s1_a AS DOUBLE) * s1_a / n_a) / (n_a - 1) / 10000.0) / n_a
         + ((s2_b - CAST(s1_b AS DOUBLE) * s1_b / n_b) / (n_b - 1) / 10000.0) / n_b), 4) AS t_stat
FROM ab
"""


# ------------------------------------------------------------- corr matrix
CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (CORR_COLS[i], CORR_COLS[j])
    for i in range(len(CORR_COLS))
    for j in range(i + 1, len(CORR_COLS))
]


def _corr_expr_sql(a: str, b: str) -> str:
    """Pearson r from the five exact DECIMAL(38,0) cent moments, evaluated
    in DOUBLE with one shared literal formula — both engines convert the
    SAME exact integers and run the SAME IEEE expression, so the doubles
    are bit-identical (no reliance on either engine's native corr())."""
    n, sa, sb = "CAST(n AS DOUBLE)", f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
    ssa, ssb = f"CAST(ss_{a} AS DOUBLE)", f"CAST(ss_{b} AS DOUBLE)"
    sp = f"CAST(sp_{a}__{b} AS DOUBLE)"
    return (
        f"round(({n} * {sp} - {sa} * {sb}) / "
        f"sqrt(({n} * {ssa} - {sa} * {sa}) * ({n} * {ssb} - {sb} * {sb})), 6)"
    )


def stats_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation over lineitem's numeric measures — the
    feature-redundancy profile a feature-engineering pass runs before
    model training (drop near-collinear features, sanity-check generated
    columns).

    Exactness: values are converted to exact cents (BIGINT per row — the
    squares/products max at ~1e14, far inside BIGINT), summed in
    DECIMAL(38,0) (the ml_embedding_dim_variance convention), and only the
    final r is computed in DOUBLE from the exact moments via one shared
    formula (see _corr_expr_sql). One aggregation pass computes all 14
    moments map-side-partial; the 6 output rows come from a single stack()
    over that one row — the corpus is scanned ONCE, not per pair. At
    100 TB the plan is the same one-pass moment sketch; only the final
    6-row readout is driver-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        *[
            F.expr(f"CAST(round({c} * 100) AS BIGINT)").alias(c)
            for c in CORR_COLS
        ]
    )
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for c in CORR_COLS:
        aggs.append(F.sum(F.col(c).cast("decimal(38,0)")).alias(f"s_{c}"))
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast("decimal(38,0)")).alias(f"ss_{c}")
        )
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)")).alias(f"sp_{a}__{b}")
        )
    g = cents.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', {_corr_expr_sql(a, b)}" for a, b in _CORR_PAIRS
    )
    return g.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr(
            f"stack({len(_CORR_PAIRS)}, {stack_args}) AS (col_a, col_b, corr)"
        ),
    ).select("col_a", "col_b", "n_rows", "corr")


def _oracle_corr_matrix() -> str:
    cent = {c: f"CAST(round({c} * 100) AS BIGINT)" for c in CORR_COLS}
    moment_cols = ["CAST(count(*) AS DECIMAL(38,0)) AS n"]
    for c in CORR_COLS:
        moment_cols.append(f"CAST(sum(CAST({cent[c]} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_{c}")
        moment_cols.append(
            f"CAST(sum(CAST({cent[c]} * {cent[c]} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss_{c}"
        )
    for a, b in _CORR_PAIRS:
        moment_cols.append(
            f"CAST(sum(CAST({cent[a]} * {cent[b]} AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sp_{a}__{b}"
        )
    rows = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, CAST(n AS BIGINT) AS n_rows, "
        f"{_corr_expr_sql(a, b)} AS corr FROM g"
        for a, b in _CORR_PAIRS
    )
    return f"""
WITH g AS (
  SELECT {', '.join(moment_cols)} FROM lineitem
)
{rows}
"""


# --------------------------------------------------------- quantile binning
QUANTILE_BINS = 10


def ml_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (NTILE) discretization of the event value distribution —
    the feature-bucketing step before hashing/embedding numeric features,
    with per-bin support, bounds, and exact-cents mean.

    The exact global NTILE is a profiling/eval shape: it forces a global
    order (one-task window), fine for a readout. The production path at
    100 TB uses approximate boundaries (see percentiles_approx) and a
    map-side CASE to assign bins — same output schema, sketch-derived
    cuts. Determinism: ties broken by event_id, means summed in exact
    cents, so both engines bin and aggregate identically."""
    e = load_table(spark, sf_dir, "events")
    w = W.orderBy("value", "event_id")
    b = e.select(
        "value",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.ntile(QUANTILE_BINS).over(w).cast("bigint").alias("value_bin"),
    )
    return (
        b.groupBy("value_bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
            F.round(
                F.sum(F.col("cents").cast("decimal(38,0)")).cast("double")
                / (F.count(F.lit(1)) * 100.0),
                4,
            ).alias("mean_value"),
        )
    )


def _oracle_quantile_binning() -> str:
    return f"""
WITH b AS (
  SELECT value, CAST(round(value * 100) AS BIGINT) AS cents,
    ntile({QUANTILE_BINS}) OVER (ORDER BY value, event_id) AS value_bin
  FROM events
)
SELECT value_bin, count(*) AS n, min(value) AS lo, max(value) AS hi,
  round(CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) / (count(*) * 100.0), 4)
    AS mean_value
FROM b GROUP BY value_bin
"""


def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per event_type between the A/B
    variants (same sticky md5-nibble assignment as events_ab_test_lift) —
    completes the experiment-readout family: Welch t compares means,
    chi-square compares categorical mixes, KS compares the whole value
    DISTRIBUTION (a treatment that moves the tail but not the mean is
    invisible to t and loud here).

    Exact arithmetic end-to-end: values quantize to cents; the ECDF gap
    at each distinct value is the integer |cumA*nB - cumB*nA| (cross-
    multiplied, no division until display), maxed per type, and
    D = max_gap / (nA*nB) is one exact integer-ratio round. The
    asymptotic statistic lambda = D_exact * sqrt(nA*nB/(nA+nB)) is a
    single IEEE expression over exact integers — identical in both
    engines. cum*n stays BIGINT-exact to ~3e9 rows per (type, variant);
    past that, promote to DECIMAL(38,0) (the repo convention).

    Plan: one hash agg keyed (event_type, variant, cents), one per-type
    ordered cumsum over DISTINCT VALUE rows (value-domain-sized, never
    event-sized), one max agg. Types missing a variant are excluded (the
    test is undefined), mirrored in the oracle's HAVING."""
    e = load_table(spark, sf_dir, "events")
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    vals = e.select(
        "event_type",
        F.when(nib < 8, "A").otherwise("B").alias("variant"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    per_val = vals.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("cb"),
    )
    wt = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wn = W.partitionBy("event_type")
    cum = per_val.select(
        "event_type",
        F.sum("ca").over(wt).alias("cum_a"),
        F.sum("cb").over(wt).alias("cum_b"),
        F.sum("ca").over(wn).alias("n_a"),
        F.sum("cb").over(wn).alias("n_b"),
    )
    agg = (
        cum.groupBy("event_type", "n_a", "n_b")
        .agg(
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            ).alias("max_gap")
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    d = dl.SPARK
    lam = (
        "(CAST(max_gap AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))"
        " * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
        " / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))"
    )
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr(dl.round_ratio(d, "max_gap", "(n_a * n_b)")).alias("ks_d"),
        F.expr(f"round({lam}, 4)").alias("ks_lambda"),
    )


def _oracle_ks() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(user_id AS VARCHAR)")
    lam = (
        "(CAST(max_gap AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))"
        " * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
        " / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))"
    )
    return f"""
WITH vals AS (
  SELECT event_type,
    CASE WHEN ({nib}) < 8 THEN 'A' ELSE 'B' END AS variant,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), per_val AS (
  SELECT event_type, cents,
    sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS ca,
    sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS cb
  FROM vals GROUP BY event_type, cents
), cum AS (
  SELECT event_type,
    CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY cents
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
    CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY cents
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b,
    CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS n_a,
    CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS n_b
  FROM per_val
), agg AS (
  SELECT event_type, n_a, n_b,
    max(abs(cum_a * n_b - cum_b * n_a)) AS max_gap
  FROM cum GROUP BY event_type, n_a, n_b
  HAVING n_a > 0 AND n_b > 0
)
SELECT event_type, n_a, n_b,
  {dl.round_ratio(d, 'max_gap', '(n_a * n_b)')} AS ks_d,
  round({lam}, 4) AS ks_lambda
FROM agg
"""


def stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) per event_type between
    the A/B variants (same sticky md5-nibble assignment as
    events_ab_test_lift / stats_ks_test) — the nonparametric location test
    that closes the experiment-readout family: Welch t assumes normal-ish
    means, KS reads the whole distribution, U asks the robust question
    "do A's values tend to be larger?" without distribution assumptions.

    Exact arithmetic: values quantize to cents; tie groups get their
    AVERAGE rank, carried as the exact integer r2 = 2*avg_rank =
    2*cum_before + cnt + 1 (never a fraction), so twice the rank-sum
    (r2a) and twice U (u2_a = r2a - n_a*(n_a+1)) stay BIGINT-exact. The
    tie-corrected normal z uses one shared IEEE formula over the exact
    integers (u2_a, n_a, n_b, tie term T = sum(cnt^3 - cnt)) — identical
    in both engines, the ks_lambda convention. r2a is bounded by
    2*n_a*n, inside BIGINT to ~2e9 rows per (type, variant); past that,
    promote to DECIMAL(38,0) (repo convention). Degenerate slices
    (variance 0: every value identical) return z = 0.0 via the repo's
    CASE-guard convention rather than an engine-specific inf/NaN.

    Plan: one hash agg keyed (event_type, cents), one per-type cumsum
    window over DISTINCT-VALUE rows (value-domain-sized, never
    event-sized), one final agg — the stats_ks_test shape."""
    e = load_table(spark, sf_dir, "events")
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    vals = e.select(
        "event_type",
        F.when(nib < 8, "A").otherwise("B").alias("variant"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    per_val = vals.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0)).alias("cb"),
    )
    wt = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    ranked = per_val.select(
        "event_type",
        "ca",
        "cb",
        (F.col("ca") + F.col("cb")).alias("cnt"),
        F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(wt), F.lit(0)).alias(
            "cum_before"
        ),
    )
    agg = (
        ranked.groupBy("event_type")
        .agg(
            F.sum(
                F.col("ca") * (2 * F.col("cum_before") + F.col("cnt") + 1)
            ).alias("r2a"),
            F.sum("ca").alias("n_a"),
            F.sum("cb").alias("n_b"),
            F.sum(
                F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
            ).alias("tsum"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .withColumn("u2_a", F.col("r2a") - F.col("n_a") * (F.col("n_a") + 1))
    )
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("CAST(u2_a AS DOUBLE) / 2.0").alias("u_a"),
        F.expr(_MW_Z_EXPR).alias("z_mw"),
    )


# Shared tie-corrected z expression over the exact integers
# (u2_a, n_a, n_b, tsum) — one IEEE formula, both engines. With
# na = CAST(n_a), nb = CAST(n_b), n = na + nb:
#   var(U) = na*nb/12 * ((n + 1) - tsum / (n*(n-1)))
#   z = (U - na*nb/2) / sqrt(var) = (u2_a - na*nb) / (2*sqrt(var))
_MW_Z_EXPR = (
    "CASE WHEN (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) < 2 THEN 0.0 "
    "WHEN (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) * "
    "((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) - "
    " CAST(tsum AS DOUBLE) / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * "
    " (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))) <= 0.0 THEN 0.0 "
    "ELSE round((CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / "
    "(2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) * "
    "((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0) - "
    " CAST(tsum AS DOUBLE) / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * "
    " (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1.0))))), 4) END"
)


def _oracle_mannwhitney() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(user_id AS VARCHAR)")
    return f"""
WITH vals AS (
  SELECT event_type,
    CASE WHEN ({nib}) < 8 THEN 'A' ELSE 'B' END AS variant,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), per_val AS (
  SELECT event_type, cents,
    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM vals GROUP BY event_type, cents
), ranked AS (
  SELECT event_type, ca, cb, ca + cb AS cnt,
    CAST(coalesce(sum(ca + cb) OVER (PARTITION BY event_type ORDER BY cents
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before
  FROM per_val
), agg AS (
  SELECT event_type,
    CAST(sum(ca * (2 * cum_before + cnt + 1)) AS BIGINT) AS r2a,
    CAST(sum(ca) AS BIGINT) AS n_a,
    CAST(sum(cb) AS BIGINT) AS n_b,
    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
  FROM ranked GROUP BY event_type
  HAVING sum(ca) > 0 AND sum(cb) > 0
), u AS (
  SELECT *, r2a - n_a * (n_a + 1) AS u2_a FROM agg
)
SELECT event_type, n_a, n_b,
  CAST(u2_a AS DOUBLE) / 2.0 AS u_a,
  {_MW_Z_EXPR} AS z_mw
FROM u
"""


# --------------------------------------------------------- change point
CP_SCALE = 10**6    # fixed-point scale for the split-score ranking


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection per event_type over the daily count
    series — one step of binary segmentation (the classic offline
    change-detection scheme): the best split t maximizes the weighted
    mean shift |mean(days <= t) - mean(days > t)|, reported with both
    segment means. Complements trends_burst_detection (local, trailing
    baseline) with a GLOBAL structural-break readout.

    Determinism: the split score is ranked in fixed-point — score_fp =
    floor(|S_t*(n-t) - (S_n-S_t)*t| * CP_SCALE / (t*(n-t))) is pure
    BIGINT (cross-multiplied mean difference; the same integers in both
    engines), ties broken by earliest day. Days with zero events produce
    no row (the burst-detection convention, documented there); the split
    index t counts OBSERVED days. |S_t*(n-t)|*CP_SCALE stays in BIGINT
    up to ~9e12 events-per-type x days products; past that, drop
    CP_SCALE to 1e3 or promote (repo convention).

    Plan: one (type, day) hash agg (day-grain, event-count-sized scan),
    two per-type windows over DAY-sized rows, one row_number pick —
    everything after the first agg is days-per-type sized, so at 100 TB
    the cost is the scan + one shuffle keyed by event_type."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wall = W.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "day",
        F.row_number().over(W.partitionBy("event_type").orderBy("day")).alias("t"),
        F.sum("c").over(wcum).alias("s_t"),
        F.sum("c").over(wall).alias("s_n"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).filter((F.col("t") >= 1) & (F.col("t") <= F.col("n") - 1))
    d = dl.SPARK
    diff = "abs(s_t * (n - t) - (s_n - s_t) * t)"
    scored = cum.withColumn(
        "score_fp",
        F.expr(dl.int_div(d, f"({diff}) * {CP_SCALE}", "(t * (n - t))")),
    )
    pick = W.partitionBy("event_type").orderBy(F.desc("score_fp"), F.asc("day"))
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            F.col("t").cast("bigint").alias("days_before"),
            F.col("n").alias("n_days"),
            F.expr(dl.round_ratio(d, "s_t", "t")).alias("mean_before"),
            F.expr(dl.round_ratio(d, "(s_n - s_t)", "(n - t)")).alias("mean_after"),
            F.expr(f"CAST(score_fp AS DOUBLE) / {CP_SCALE}.0").alias("shift_score"),
        )
    )


def _oracle_changepoint() -> str:
    d = dl.DUCK
    diff = "abs(s_t * (n - t) - (s_n - s_t) * t)"
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, day,
    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS t,
    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_t,
    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s_n,
    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM daily
), scored AS (
  SELECT *, {dl.int_div(d, f'({diff}) * {CP_SCALE}', '(t * (n - t))')} AS score_fp
  FROM cum WHERE t >= 1 AND t <= n - 1
), pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
    ORDER BY score_fp DESC, day ASC) AS rn
  FROM scored
)
SELECT event_type, day AS split_day, t AS days_before, n AS n_days,
  {dl.round_ratio(d, 's_t', 't')} AS mean_before,
  {dl.round_ratio(d, '(s_n - s_t)', '(n - t)')} AS mean_after,
  CAST(score_fp AS DOUBLE) / {CP_SCALE}.0 AS shift_score
FROM pick WHERE rn = 1
"""


BOOT_B = 32     # bootstrap replicates (explode factor — map-side only)


def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsampling-bootstrap confidence interval for the mean event value
    per event_type: BOOT_B deterministic half-subsamples (event row joins
    replicate b iff BIT b-1 of md5(event_id) is set — md5 bits are
    independent uniform coin flips, so ONE hash per row serves all 32
    replicates; hashing (event_id, b) per replicate would cost B md5
    evaluations per row for the same statistics), one mean per
    replicate, CI = the 2nd smallest / 2nd largest replicate mean (an
    empirical ~94% interval at B=32 with pure integer ranks — no float
    percentile interpolation to drift between engines). This is the
    one-pass, shuffle-light way to put error bars on any
    streaming/pipeline metric at scale (the Poisson-bootstrap family:
    Kleiner et al.'s bag of little bootstraps is the same shape with
    per-bag reweighting).

    Plan: ONE event scan exploded x BOOT_B map-side (no shuffle
    amplification: the (type, b) hash agg combines partials before the
    exchange, so the shuffle carries |types| x B rows), plus the
    full-sample agg riding the same scan pattern. Replicate means are
    round_ratio doubles of exact integers; ranking ties break by
    replicate id, so the picked bounds are engine-identical."""
    e = load_table(spark, sf_dir, "events")
    d = dl.SPARK
    # bit (b-1) of the 128-bit md5, addressed nibble-wise: hex char
    # ((b-1) DIV 4) + 1, bit (b-1) % 4 inside it
    nib = dl.hex_nibble(d, "substr(h, CAST(((b - 1) DIV 4) + 1 AS INT), 1)")
    bitmask = (
        "(CASE (b - 1) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 "
        "ELSE 8 END)"
    )
    # fan_out_small (r14): the xBOOT_B explode + nibble filter + partial
    # agg ran as ONE task on the single-row-group fixture; the floor
    # shuffles only the slim 3-column projection (one md5 per row).
    rep = (
        fan_out_small(
            e.select(
                "event_type",
                F.expr("md5(CAST(event_id AS STRING))").alias("h"),
                F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            ),
            spark,
        )
        .withColumn("b", F.explode(F.expr(f"sequence(1, {BOOT_B})")))
        .filter(F.expr(f"(({nib}) DIV {bitmask}) % 2 = 1"))
        .groupBy("event_type", "b")
        .agg(F.count(F.lit(1)).alias("n_b"), F.sum("cents").alias("s_b"))
        .withColumn("mean_b", F.expr(dl.round_ratio(d, "s_b", "n_b")))
    )
    w_lo = W.partitionBy("event_type").orderBy(F.asc("mean_b"), F.asc("b"))
    w_hi = W.partitionBy("event_type").orderBy(F.desc("mean_b"), F.asc("b"))
    picked = (
        rep.select(
            "event_type",
            "mean_b",
            F.row_number().over(w_lo).alias("r_lo"),
            F.row_number().over(w_hi).alias("r_hi"),
        )
        .filter((F.col("r_lo") == 2) | (F.col("r_hi") == 2))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("r_lo") == 2, F.col("mean_b"))).alias("ci_lo"),
            F.max(F.when(F.col("r_hi") == 2, F.col("mean_b"))).alias("ci_hi"),
        )
    )
    full = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            dl.round_ratio(d, "sum(CAST(round(value * 100) AS BIGINT))", "count(*)")
        ).alias("mean_value"),
    )
    return full.join(picked, "event_type").select(
        "event_type", "n_events", "mean_value", "ci_lo", "ci_hi"
    )


def _oracle_bootstrap() -> str:
    d = dl.DUCK
    nib = dl.hex_nibble(d, "substr(h, CAST(((b - 1) // 4) + 1 AS INT), 1)")
    bitmask = (
        "(CASE (b - 1) % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 "
        "ELSE 8 END)"
    )
    return f"""
WITH rep AS (
  SELECT event_type, b,
    CAST(count(*) AS BIGINT) AS n_b,
    CAST(sum(cents) AS BIGINT) AS s_b
  FROM (
    SELECT event_type, md5(CAST(event_id AS VARCHAR)) AS h,
      CAST(round(value * 100) AS BIGINT) AS cents,
      unnest(generate_series(1, {BOOT_B})) AS b
    FROM events
  )
  WHERE (({nib}) // {bitmask}) % 2 = 1
  GROUP BY event_type, b
), means AS (
  SELECT event_type, b, {dl.round_ratio(d, 's_b', 'n_b')} AS mean_b FROM rep
), ranked AS (
  SELECT event_type, mean_b,
    row_number() OVER (PARTITION BY event_type ORDER BY mean_b ASC, b ASC) AS r_lo,
    row_number() OVER (PARTITION BY event_type ORDER BY mean_b DESC, b ASC) AS r_hi
  FROM means
), picked AS (
  SELECT event_type,
    min(CASE WHEN r_lo = 2 THEN mean_b END) AS ci_lo,
    max(CASE WHEN r_hi = 2 THEN mean_b END) AS ci_hi
  FROM ranked WHERE r_lo = 2 OR r_hi = 2 GROUP BY event_type
), full_agg AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
    {dl.round_ratio(d, 'sum(CAST(round(value * 100) AS BIGINT))', 'count(*)')}
      AS mean_value
  FROM events GROUP BY event_type
)
SELECT event_type, n_events, mean_value, ci_lo, ci_hi
FROM full_agg JOIN picked USING (event_type)
"""


SEAS_TOP = 3        # anomalous days reported per event_type
SEAS_SCALE = 10**4  # fixed-point deviation score


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal baseline + top deviating days per event_type
    — one step of an STL-style decomposition, the shape behind
    'weekends look different' dashboards and seasonality-aware anomaly
    detection (complements events_anomaly_mad, which is season-blind,
    and events_changepoint, which finds one global break).

    Day-of-week is computed portably as days-since-1970-01-05 (a Monday)
    mod 7 — Spark's dayofweek() is 1=Sunday while DuckDB's is 0=Sunday,
    so neither builtin crosses engines. The deviation score is the
    cross-multiplied residual |observed*n_dow - sum_dow| scaled by
    SEAS_SCALE and floor-divided by n_dow — pure BIGINT ranking, ties to
    the earliest day.

    Plan: one (type, day) hash agg (event-scan sized), one (type, dow)
    agg over day-sized rows, a broadcast-sized join back (|types| x 7
    rows), one per-type row_number pick. Everything after the first agg
    is day-domain sized at any corpus scale."""
    e = load_table(spark, sf_dir, "events")
    d = dl.SPARK
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    daily = daily.withColumn(
        "dow", F.expr("CAST(datediff(day, DATE '1970-01-05') % 7 AS INT)")
    )
    dow_base = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_dow"), F.sum("c").alias("sum_dow")
    )
    scored = (
        daily.join(F.broadcast(dow_base), ["event_type", "dow"])
        .withColumn(
            "score_fp",
            F.expr(
                dl.int_div(
                    d, f"abs(c * n_dow - sum_dow) * {SEAS_SCALE}", "n_dow"
                )
            ),
        )
    )
    pick = W.partitionBy("event_type").orderBy(F.desc("score_fp"), F.asc("day"))
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") <= SEAS_TOP)
        .select(
            "event_type",
            "day",
            "dow",
            F.col("c").alias("observed"),
            F.expr(dl.round_ratio(d, "sum_dow", "n_dow")).alias("expected"),
            F.expr(f"CAST(score_fp AS DOUBLE) / {SEAS_SCALE}.0").alias("deviation"),
            F.col("rn").cast("int").alias("rnk"),
        )
    )


def _oracle_seasonal() -> str:
    d = dl.DUCK
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), dowd AS (
  SELECT *, CAST((day - DATE '1970-01-05') % 7 AS INT) AS dow FROM daily
), dow_base AS (
  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_dow,
    CAST(sum(c) AS BIGINT) AS sum_dow
  FROM dowd GROUP BY 1, 2
), scored AS (
  SELECT dd.event_type, dd.day, dd.dow, dd.c, b.n_dow, b.sum_dow,
    {dl.int_div(d, f'abs(dd.c * b.n_dow - b.sum_dow) * {SEAS_SCALE}', 'b.n_dow')}
      AS score_fp
  FROM dowd dd JOIN dow_base b USING (event_type, dow)
), pick AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
    ORDER BY score_fp DESC, day ASC) AS rn
  FROM scored
)
SELECT event_type, day, dow, c AS observed,
  {dl.round_ratio(d, 'sum_dow', 'n_dow')} AS expected,
  CAST(score_fp AS DOUBLE) / {SEAS_SCALE}.0 AS deviation,
  CAST(rn AS INT) AS rnk
FROM pick WHERE rn <= {SEAS_TOP}
"""


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate for view -> purchase conversion:
    per user, duration = days from first 'view' to first subsequent
    'purchase' (observed) or to the corpus horizon (right-censored); the
    KM curve S(t) = prod_{s<=t}(1 - d_s/n_s) over event times — the
    time-to-event surface (retention curves, conversion-lag SLAs,
    churn) that mean/percentile lag stats get WRONG under censoring
    (dropping censored users biases conversion fast).

    Determinism: risk sets and event counts are exact integers from one
    cumulative window; the hazard is a round_ratio rational. S(t) is
    exp(cumsum(ln(1 - d/n))) — ln/exp over identical doubles (the
    textstats_zipf_fit precedent for transcendental parity), with the
    d = n terminal step CASE-guarded to exactly 0.0 in both engines
    (ln(0) is an engine-specific -inf/error). At 100 TB everything
    after the two per-user aggs is duration-domain sized.

    Plan: two user-keyed conditional aggs (first view; first purchase
    at-or-after it via one equi-join + post-filter), a 1-row broadcast
    horizon (whitelisted scalar pattern), one duration-grain agg, one
    ordered window over duration rows."""
    e = load_table(spark, sf_dir, "events")
    d = dl.SPARK
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d_view"))
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d_p"))
        .join(views, "user_id")
        .filter(F.col("d_p") >= F.col("d_view"))
        .groupBy("user_id")
        .agg(F.min("d_p").alias("d_purchase"))
    )
    horizon = e.agg(F.max(F.to_date("ts")).alias("d_max")).withColumn(
        "j", F.lit(1)
    )
    per_user = (
        views.join(purch, "user_id", "left")
        .withColumn("j", F.lit(1))
        .join(F.broadcast(horizon), "j")
        .select(
            F.when(
                F.col("d_purchase").isNotNull(),
                F.datediff("d_purchase", "d_view"),
            )
            .otherwise(F.datediff("d_max", "d_view"))
            .cast("bigint")
            .alias("duration"),
            F.col("d_purchase").isNotNull().alias("observed"),
        )
    )
    grain = per_user.groupBy("duration").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d_events"),
        F.sum(F.when(F.col("observed"), 0).otherwise(1)).alias("n_censored"),
    )
    # risk set at t = everyone whose duration is >= t: a reverse
    # cumulative sum over the duration-grain rows (single-partition
    # window is fine — the relation is duration-domain sized)
    risked = grain.withColumn(
        "n_risk",
        F.expr(
            "SUM(d_events + n_censored) OVER (ORDER BY duration "
            "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
        ),
    )
    lnterm = (
        "CASE WHEN d_events = n_risk THEN NULL "
        "ELSE ln(1.0 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)) END"
    )
    survived = risked.withColumn("lnv", F.expr(lnterm)).withColumn(
        "surv",
        F.expr(
            "CASE WHEN SUM(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END) "
            "OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) > 0 THEN 0.0 "
            "ELSE round(exp(SUM(coalesce(lnv, 0.0)) "
            "OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)), 4) END"
        ),
    )
    return (
        survived.filter(F.col("d_events") > 0)
        .select(
            "duration",
            "n_risk",
            "d_events",
            "n_censored",
            F.expr(dl.round_ratio(d, "d_events", "n_risk")).alias("hazard"),
            F.col("surv").alias("survival"),
        )
    )


def _oracle_survival_km() -> str:
    d = dl.DUCK
    lnterm = (
        "CASE WHEN d_events = n_risk THEN NULL "
        "ELSE ln(1.0 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)) END"
    )
    return f"""
WITH views AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS d_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), purch AS (
  SELECT e.user_id, min(CAST(e.ts AS DATE)) AS d_purchase
  FROM events e JOIN views v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS DATE) >= v.d_view
  GROUP BY e.user_id
), horizon AS (
  SELECT max(CAST(ts AS DATE)) AS d_max FROM events
), per_user AS (
  SELECT
    CAST(CASE WHEN p.d_purchase IS NOT NULL
      THEN p.d_purchase - v.d_view
      ELSE (SELECT d_max FROM horizon) - v.d_view END AS BIGINT) AS duration,
    p.d_purchase IS NOT NULL AS observed
  FROM views v LEFT JOIN purch p USING (user_id)
), grain AS (
  SELECT duration,
    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
    CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
  FROM per_user GROUP BY duration
), risked AS (
  SELECT duration, d_events, n_censored,
    CAST(sum(d_events + n_censored) OVER (ORDER BY duration
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
  FROM grain
), survived AS (
  SELECT *,
    CASE WHEN sum(CASE WHEN d_events = n_risk THEN 1 ELSE 0 END)
      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING) > 0 THEN 0.0
    ELSE round(exp(sum(coalesce({lnterm}, 0.0))
      OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)), 4) END AS surv
  FROM risked
)
SELECT duration, n_risk, d_events, n_censored,
  {dl.round_ratio(d, 'd_events', 'n_risk')} AS hazard,
  surv AS survival
FROM survived WHERE d_events > 0
"""


# ---------------------------------------------------------------- funnel
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel (view -> click -> purchase): a user advances a
    step only with an event STRICTLY AFTER their previous step's first
    qualifying event — the product-analytics conversion readout
    (sequence_detect counts ordered triples; this measures the classic
    per-step drop-off + time-to-convert).

    Plan: three user-keyed hash aggs chained by user-keyed equi-joins
    (step k's relation is "users who reached k", shrinking every step) —
    no windows over raw events, no per-user arrays, so the state per
    task is user-grain at every stage. Time-to-convert is EXACT integer
    seconds summed as BIGINT, divided once (round_ratio) — no float
    accumulation. 100 TB: same plan, every join keyed on user_id
    (AQE-coalesced); the funnel relations are user-sized, orders of
    magnitude under the event count."""
    e = load_table(spark, sf_dir, "events")
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    d = dl.SPARK
    n1 = t1.agg(F.count(F.lit(1)).alias("n_view"))
    n2 = t2.agg(
        F.count(F.lit(1)).alias("n_click"),
        F.sum(
            F.unix_timestamp("t2") - F.unix_timestamp("t1")
        ).alias("secs_to_click"),
    )
    n3 = t3.agg(F.count(F.lit(1)).alias("n_purchase"))
    return (
        n1.crossJoin(n2)
        .crossJoin(n3)
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            F.expr(dl.round_ratio(d, "n_click", "n_view")).alias("conv_view_click"),
            F.expr(dl.round_ratio(d, "n_purchase", "n_click")).alias(
                "conv_click_purchase"
            ),
            F.expr(
                dl.round_ratio(d, "secs_to_click", "(n_click * 3600)")
            ).alias("avg_hours_to_click"),
        )
    )


def _oracle_funnel() -> str:
    d = dl.DUCK
    return f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, t1.t1, min(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1, 2
), t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
), a1 AS (SELECT count(*) AS n_view FROM t1),
a2 AS (
  SELECT count(*) AS n_click,
    -- epoch_us // 1e6 = Spark unix_timestamp's floor-to-second, exactly
    -- (epoch() returns a DOUBLE; integer microseconds cannot drift)
    sum(epoch_us(t2) // 1000000 - epoch_us(t1) // 1000000) AS secs_to_click
  FROM t2
), a3 AS (SELECT count(*) AS n_purchase FROM t3)
SELECT n_view, n_click, n_purchase,
  {dl.round_ratio(d, 'n_click', 'n_view')} AS conv_view_click,
  {dl.round_ratio(d, 'n_purchase', 'n_click')} AS conv_click_purchase,
  {dl.round_ratio(d, 'secs_to_click', '(n_click * 3600)')} AS avg_hours_to_click
FROM a1, a2, a3
"""


# ---------------------------------------------------------------- EWMA
EWMA_NUM = 3      # alpha = 3/10 as an exact rational
EWMA_DEN = 10
EWMA_SCALE = 10_000  # fixed-point scale for the smoothed level


def events_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential smoothing (EWMA level) over the per-type daily count
    series, FIXED-POINT: level_t = (3*10^4*x_t + 7*level_{t-1}) DIV 10,
    seeded with the first day — every step is BIGINT, so the fold is
    bit-identical across engines and partitionings (the same argument as
    the IRLS/k-means fixed-point ops), and the one-step-ahead forecast
    is an exact rational displayed via one final division.

    Plan: one (type, day) hash agg reduces events to day grain, one
    type-keyed agg collects each type's day-ordered count ARRAY (bounded
    by the calendar, ~90 here — the same bounded-state argument as
    seasonal decompose), and the fold is a map-side ``aggregate`` over
    that array. 100 TB: cost = the day-grain agg; series length grows
    with the calendar, not the data."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    arr = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))), p -> p.c)"
        ).alias("cs")
    )
    level = (
        f"aggregate(slice(cs, 2, size(cs) - 1), "
        f"CAST(element_at(cs, 1) * {EWMA_SCALE} AS BIGINT), "
        f"(acc, x) -> ({EWMA_NUM} * x * {EWMA_SCALE} + {EWMA_DEN - EWMA_NUM} * acc) DIV {EWMA_DEN})"
    )
    return arr.select(
        "event_type",
        F.expr("CAST(size(cs) AS BIGINT)").alias("n_days"),
        F.expr("element_at(cs, size(cs))").alias("last_count"),
        F.expr(f"CAST({level} AS DOUBLE) / {EWMA_SCALE}.0").alias("forecast_next"),
    ).orderBy("event_type")


def _oracle_ewma() -> str:
    # DuckDB list_reduce seeds from the FIRST list element, so the scaled
    # seed is prepended and the fold runs over the raw tail — the same
    # recurrence as Spark's explicit-init aggregate.
    fold = (
        f"list_reduce(list_prepend(cs[1] * {EWMA_SCALE}, cs[2:]), "
        f"(acc, x) -> ({EWMA_NUM} * x * {EWMA_SCALE} + {EWMA_DEN - EWMA_NUM} * acc) // {EWMA_DEN})"
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), arr AS (
  SELECT event_type, array_agg(c ORDER BY day) AS cs FROM daily GROUP BY 1
)
SELECT event_type, CAST(len(cs) AS BIGINT) AS n_days,
  cs[len(cs)] AS last_count,
  CAST({fold} AS DOUBLE) / {EWMA_SCALE}.0 AS forecast_next
FROM arr ORDER BY event_type
"""


# ---------------------------------------------------------------- Holt trend
HOLT_H = 7  # forecast horizon (days)


def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per event type —
    the next step up from events_ewma_forecast (level only): level and
    trend evolve as L_t = 0.3*x_t + 0.7*(L+B), B_t = 0.1*(L_t - L) +
    0.9*B, seeded L=x2, B=x2-x1; the h-step forecast is L + h*B. The
    trend term is what makes a steadily growing/decaying series
    forecastable (EWMA lags any ramp by construction).

    Plan: identical to EWMA — one (type, day) hash agg, one type-keyed
    day-ordered array (calendar-bounded), one map-side fold. Float
    discipline: the recurrence needs SIGNED division (a declining trend
    makes B negative, where BIGINT DIV truncates in Spark but // floors
    in DuckDB), so instead of fixed point the fold runs the SAME IEEE
    double expression in sequence order on both engines (the
    psi/readability convention) and only the OUTPUTS are floor-quantized
    to 4dp (floor is floor for negatives too, unlike round)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    arr = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))), p -> CAST(p.c AS DOUBLE))"
        ).alias("cs")
        # a 1-day series has no trend seed: the oracle's i=2 seed join
        # drops it, and Spark's slice(cs, 3, -1) would throw
    ).where(F.expr("size(cs) >= 2"))
    lnew = "(0.3 * x + 0.7 * (acc.l + acc.b))"
    fold = (
        f"aggregate(slice(cs, 3, size(cs) - 2), "
        f"named_struct('l', element_at(cs, 2), 'b', element_at(cs, 2) - element_at(cs, 1)), "
        f"(acc, x) -> named_struct('l', {lnew}, "
        f"'b', 0.1 * ({lnew} - acc.l) + 0.9 * acc.b))"
    )
    # divide as DOUBLE/DOUBLE: both engines parse a bare 10000.0 literal
    # as DECIMAL, and BIGINT / DECIMAL is DECIMAL — a dtype-gate mismatch
    q4 = "CAST(CAST(floor(({v}) * 10000) AS BIGINT) AS DOUBLE) / CAST(10000 AS DOUBLE)"
    return arr.select(
        "event_type",
        F.expr("CAST(size(cs) AS BIGINT)").alias("n_days"),
        F.expr("CAST(element_at(cs, size(cs)) AS BIGINT)").alias("last_count"),
        F.expr(q4.format(v=f"{fold}.l")).alias("level"),
        F.expr(q4.format(v=f"{fold}.b")).alias("trend"),
        F.expr(q4.format(v=f"{fold}.l + {HOLT_H} * {fold}.b")).alias(
            f"forecast_{HOLT_H}d"
        ),
    ).orderBy("event_type")


def _oracle_holt() -> str:
    # DuckDB's list_reduce cannot carry a (level, trend) accumulator, so
    # the oracle runs the identical double recurrence as a recursive CTE
    # over the day-ranked series — same sequential order, same IEEE ops.
    lnew = "(0.3 * s.c + 0.7 * (h.l + h.b))"
    # CAST ... AS DOUBLE before dividing: DuckDB types BIGINT / 10000.0
    # as DECIMAL (Spark as DOUBLE), and the gate compares dtypes
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
), hw AS (
  SELECT s2.event_type, CAST(2 AS BIGINT) AS i, s2.c AS l, s2.c - s1.c AS b
  FROM series s1 JOIN series s2
    ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
  UNION ALL
  SELECT h.event_type, h.i + 1,
    {lnew},
    0.1 * ({lnew} - h.l) + 0.9 * h.b
  FROM hw h JOIN series s ON s.event_type = h.event_type AND s.i = h.i + 1
), fin AS (
  SELECT event_type, l, b FROM (
    SELECT h.*, row_number() OVER (PARTITION BY event_type ORDER BY i DESC) AS rn
    FROM hw h
  ) WHERE rn = 1
), meta AS (
  SELECT event_type, CAST(max(i) AS BIGINT) AS n_days,
    CAST(max(CASE WHEN i = n THEN c END) AS BIGINT) AS last_count
  FROM series GROUP BY 1
)
SELECT m.event_type, m.n_days, m.last_count,
  {q4.format(v='f.l')} AS level,
  {q4.format(v='f.b')} AS trend,
  {q4.format(v=f'f.l + {HOLT_H} * f.b')} AS forecast_{HOLT_H}d
FROM meta m JOIN fin f USING (event_type) ORDER BY m.event_type
"""


# ---------------------------------------------------------------- CLV cohorts
def customers_clv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: cohort = month of the customer's
    first order; for every (cohort, age-in-months) cell emit active
    customers, exact-cents revenue, and the running cumulative revenue —
    the LTV curve marketing reads next to events_retention_cohorts'
    activity matrix.

    Plan: one customer-keyed agg finds cohorts, one broadcast-free
    customer-keyed equi-join tags every order, one (cohort, age) hash agg
    reduces to the matrix grain, and the cumulative window runs over
    MATRIX-sized rows (cohorts x ages, hundreds) — nothing after the
    first agg is order-scale. Revenue is BIGINT cents end-to-end."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("om"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    # r15 (§2.4 share the exchange): cohort = min(om) PER CUSTOMER is a
    # window over the same key the old agg + self-join shuffled twice
    # (orders into the agg, orders + the agg output into an SMJ). One
    # hash exchange of orders feeds the window min; values identical.
    wcoh = W.partitionBy("o_custkey")
    tagged = o.select(
        "o_custkey",
        F.min("om").over(wcoh).alias("cohort"),
        "om",
        "cents",
    ).select(
        "o_custkey",
        "cohort",
        F.expr("CAST(months_between(om, cohort) AS BIGINT)").alias("age"),
        "cents",
    )
    cell = tagged.groupBy("cohort", "age").agg(
        F.count_distinct("o_custkey").alias("n_active"),
        F.sum("cents").alias("rev_cents"),
    )
    wcum = (
        W.partitionBy("cohort").orderBy("age").rowsBetween(W.unboundedPreceding, 0)
    )
    return cell.select(
        "cohort",
        "age",
        "n_active",
        "rev_cents",
        F.sum("rev_cents").over(wcum).alias("cum_rev_cents"),
    ).orderBy("cohort", "age")


def _oracle_clv() -> str:
    return """
WITH o AS (
  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS om,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), cohort AS (
  SELECT o_custkey, min(om) AS cohort FROM o GROUP BY 1
), tagged AS (
  SELECT o.o_custkey, c.cohort,
    CAST(datediff('month', c.cohort, o.om) AS BIGINT) AS age, o.cents
  FROM o JOIN cohort c USING (o_custkey)
), cell AS (
  SELECT cohort, age, count(DISTINCT o_custkey) AS n_active,
    CAST(sum(cents) AS BIGINT) AS rev_cents
  FROM tagged GROUP BY 1, 2
)
SELECT cohort, age, n_active, rev_cents,
  CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
FROM cell ORDER BY cohort, age
"""


# ---------------------------------------------------------------- ABC / Gini
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification: parts ranked by exact-cents
    revenue; class A = the prefix covering 80% of revenue, B = next 15%,
    C = tail — the classic warehouse segmentation. The 80/95 thresholds
    compare INTEGERS (100 * running_cents vs threshold * total_cents) so
    the class boundary cannot flap on float rounding.

    Plan: lineitem reduces to PART grain first (the only data-sized
    shuffle); the running-total window sorts the part-grain relation
    globally — exact-Pareto semantics as the oracle target (the same
    honest global-sort note as customers_rfm_segments; at 100 TB the
    production form cuts classes at approx_percentile boundaries). Emits
    the class-level readout: part count, revenue, revenue share."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias("cents")
    )
    wrun = W.orderBy(F.desc("cents"), F.asc("l_partkey")).rowsBetween(
        W.unboundedPreceding, 0
    )
    wall = W.partitionBy()
    classed = per_part.select(
        "l_partkey",
        "cents",
        F.sum("cents").over(wrun).alias("run"),
        F.sum("cents").over(wall).alias("total"),
    ).select(
        "l_partkey",
        "cents",
        F.when(F.col("run") * 100 <= F.col("total") * 80, "A")
        .when(F.col("run") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    total = per_part.agg(F.sum("cents").alias("t"))
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("rev_cents"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "abc_class",
            "n_parts",
            "rev_cents",
            F.expr(dl.round_ratio(dl.SPARK, "rev_cents", "t")).alias("rev_share"),
        )
        .orderBy("abc_class")
    )


def _oracle_abc() -> str:
    d = dl.DUCK
    return f"""
WITH per_part AS (
  SELECT l_partkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1
), classed AS (
  SELECT l_partkey, cents,
    CASE
      WHEN sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
             ROWS UNBOUNDED PRECEDING) * 100 <= sum(cents) OVER () * 80 THEN 'A'
      WHEN sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
             ROWS UNBOUNDED PRECEDING) * 100 <= sum(cents) OVER () * 95 THEN 'B'
      ELSE 'C'
    END AS abc_class
  FROM per_part
), tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM per_part)
SELECT abc_class, count(*) AS n_parts, CAST(sum(cents) AS BIGINT) AS rev_cents,
  {dl.round_ratio(d, 'sum(cents)', 't')} AS rev_share
FROM classed CROSS JOIN tot
GROUP BY abc_class, t ORDER BY abc_class
"""


GINI_SCALE = 10**4


def events_power_users_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration of activity across users — the exact Gini
    coefficient of per-user event counts, plus the top-1% activity
    share. Gini via the rank formula G = (2 * sum(i * x_i) / (n * sum x))
    - (n + 1) / n over counts sorted ASCENDING with user_id tie-break —
    every term is BIGINT (the quotient is formed from exact integer
    numerator/denominator and divided ONCE, rounded to 4), so both
    engines agree bit-for-bit.

    Plan: events reduce to user grain (the only data-sized shuffle);
    the rank window runs over user-grain rows. At 100 TB: user grain is
    orders of magnitude under event count; for a truly unsortable key
    space the production form estimates G from a GK quantile sketch of
    the count distribution."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    ranked = per_user.select(
        "c",
        F.row_number().over(W.orderBy(F.asc("c"), F.asc("user_id"))).alias("i"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nn"),
    )
    agg = ranked.agg(
        F.sum(F.col("i").cast("bigint") * F.col("c")).alias("ix"),
        F.sum("c").alias("sx"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            # bigint on BOTH sides of the comparison: i is an IntegerType
            # row_number, and int*int (non-ANSI) wraps past ~21.4M users —
            # the ix term above already casts for the same reason
            F.when(
                F.col("i").cast("bigint") * 100 > F.lit(99) * F.col("nn"), F.col("c")
            ).otherwise(0)
        ).alias("top1_events"),
    )
    d = dl.SPARK
    # G = (2*ix - (n+1)*sx) / (n*sx), rounded via integer round_ratio on
    # the non-negative numerator (2*ix >= (n+1)*sx for ascending ranks)
    return agg.select(
        "n",
        F.col("sx").alias("total_events"),
        F.expr(dl.round_ratio(d, "(2 * ix - (n + 1) * sx)", "(n * sx)")).alias("gini"),
        F.expr(dl.round_ratio(d, "top1_events", "sx")).alias("top1pct_share"),
    )


def _oracle_gini() -> str:
    d = dl.DUCK
    return f"""
WITH per_user AS (
  SELECT user_id, count(*) AS c FROM events GROUP BY 1
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c ASC, user_id ASC) AS i,
    count(*) OVER () AS nn
  FROM per_user
), agg AS (
  SELECT CAST(sum(i * c) AS BIGINT) AS ix, CAST(sum(c) AS BIGINT) AS sx,
    count(*) AS n,
    CAST(sum(CASE WHEN i * 100 > 99 * nn THEN c ELSE 0 END) AS BIGINT) AS top1_events
  FROM ranked
)
SELECT n, sx AS total_events,
  {dl.round_ratio(d, '(2 * ix - (n + 1) * sx)', '(n * sx)')} AS gini,
  {dl.round_ratio(d, 'top1_events', 'sx')} AS top1pct_share
FROM agg
"""


# ---------------------------------------------------------------- entropy
ENT_SCALE = 10**6   # fixed-point quantization of per-term c*ln(c)
# histogram bucket = floor(entropy * 100): the synthetic corpus's near-
# uniform mixes span ~1.51-1.61 nats, so 0.01-nat buckets discriminate
ENT_BUCKET = 100


def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity readout: Shannon entropy of each user's
    event-type mix, histogrammed over the user base — the standard
    engagement-breadth feature (a user who only ever fires 'view' scores
    0; a uniform 5-type mix scores ln 5).

    Entropy via H = ln(t) - (1/t) * sum c*ln(c) over per-(user, type)
    counts: two keyed hash aggs (events -> (user, type) -> user), no
    window anywhere — survives any scale. Float discipline: each
    c*ln(c) term is QUANTIZED to 1e-6 fixed point before the per-user
    sum (a raw double sum's partial-agg order is engine-dependent), so
    both engines add identical integers; the final H is one shared
    IEEE expression over exact ints."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    u = per.groupBy("user_id").agg(
        F.sum("c").alias("t"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.expr(
                f"CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * {ENT_SCALE}) AS BIGINT)"
            )
        ).alias("clc_q"),
    )
    scored = u.select(
        "k",
        "t",
        F.expr(
            f"ln(CAST(t AS DOUBLE)) - CAST(clc_q AS DOUBLE) / {ENT_SCALE} / CAST(t AS DOUBLE)"
        ).alias("ent"),
    )
    return (
        scored.groupBy(
            F.expr(f"CAST(floor(ent * {ENT_BUCKET}) AS BIGINT)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("t").alias("n_events"),
            F.expr(dl.round_ratio(dl.SPARK, "sum(k)", "count(*)")).alias("avg_types"),
            F.expr(
                dl.round_ratio(
                    dl.SPARK,
                    f"sum(CAST(floor(ent * {ENT_SCALE}) AS BIGINT))",
                    f"(count(*) * {ENT_SCALE})",
                )
            ).alias("mean_entropy"),
        )
        .orderBy("bucket")
    )


def _oracle_user_entropy() -> str:
    d = dl.DUCK
    return f"""
WITH per AS (
  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
), u AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS t, count(*) AS k,
    CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * {ENT_SCALE}) AS BIGINT)) AS BIGINT) AS clc_q
  FROM per GROUP BY 1
), scored AS (
  SELECT k, t,
    ln(CAST(t AS DOUBLE)) - CAST(clc_q AS DOUBLE) / {ENT_SCALE} / CAST(t AS DOUBLE) AS ent
  FROM u
)
SELECT CAST(floor(ent * {ENT_BUCKET}) AS BIGINT) AS bucket,
  count(*) AS n_users, CAST(sum(t) AS BIGINT) AS n_events,
  {dl.round_ratio(d, 'sum(k)', 'count(*)')} AS avg_types,
  {dl.round_ratio(d, 'sum(CAST(floor(ent * ' + str(ENT_SCALE) + ') AS BIGINT))', f'(count(*) * {ENT_SCALE})')} AS mean_entropy
FROM scored GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- PSI drift
PSI_BIN_W = 25.0    # fixed-width value bins (value spans ~0..490 -> ~20 bins)
PSI_BINS = 20       # Laplace smoothing denominator constant
PSI_SCALE = 10**9   # fixed-point quantization of each PSI term


def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: for every calendar day,
    PSI of the event-value distribution against the whole-corpus baseline
    — the standard go/no-go drift gate in front of a model retrain or a
    training-data refresh (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25
    shifted).

    PSI = sum_b (p_b - q_b) * ln(p_b / q_b) over fixed-width value bins,
    Laplace-smoothed so empty cells are defined. Plan: one (day, bin)
    hash agg and one (bin) hash agg; the day x bin grid is
    days x ~{PSI_BINS} rows (resolution-bounded), built by a broadcast
    cross join and left-joined to the daily counts — no window, no
    data-sized sort at any scale. Each term is quantized to 1e-9 fixed
    point before summing (identical-integer addition in both engines)."""
    e = load_table(spark, sf_dir, "events")
    binned = e.select(
        F.expr("CAST(ts AS DATE)").alias("day"),
        F.expr(f"CAST(floor(value / {PSI_BIN_W}) AS BIGINT)").alias("b"),
    )
    daily = binned.groupBy("day", "b").agg(F.count(F.lit(1)).alias("c"))
    corpus = binned.groupBy("b").agg(F.count(F.lit(1)).alias("cq"))
    n_all = binned.agg(F.count(F.lit(1)).alias("nq"))
    day_tot = binned.groupBy("day").agg(F.count(F.lit(1)).alias("nd"))
    grid = (
        day_tot.crossJoin(F.broadcast(corpus))
        .join(daily, ["day", "b"], "left")
        .crossJoin(F.broadcast(n_all))
        .select(
            "day",
            "nd",
            F.expr(
                # p = (c+1)/(nd+B), q = (cq+1)/(nq+B); term = (p-q)*ln(p/q)
                f"CAST(floor(("
                f"  (CAST(coalesce(c, 0) + 1 AS DOUBLE) / (nd + {PSI_BINS})"
                f"   - CAST(cq + 1 AS DOUBLE) / (nq + {PSI_BINS}))"
                f"  * ln((CAST(coalesce(c, 0) + 1 AS DOUBLE) / (nd + {PSI_BINS}))"
                f"       / (CAST(cq + 1 AS DOUBLE) / (nq + {PSI_BINS})))"
                f") * {PSI_SCALE}) AS BIGINT)"
            ).alias("term_q"),
        )
    )
    return (
        grid.groupBy("day")
        .agg(
            F.any_value("nd").alias("n_events"),
            F.round(F.sum("term_q") / F.lit(float(PSI_SCALE)), 6).alias("psi"),
        )
        .orderBy("day")
    )


def _oracle_psi() -> str:
    return f"""
WITH binned AS (
  SELECT CAST(ts AS DATE) AS day, CAST(floor(value / {PSI_BIN_W}) AS BIGINT) AS b
  FROM events
), daily AS (
  SELECT day, b, count(*) AS c FROM binned GROUP BY 1, 2
), corpus AS (
  SELECT b, count(*) AS cq FROM binned GROUP BY 1
), n_all AS (SELECT count(*) AS nq FROM binned),
day_tot AS (SELECT day, count(*) AS nd FROM binned GROUP BY 1),
grid AS (
  SELECT dt.day, dt.nd,
    CAST(floor((
      (CAST(coalesce(d.c, 0) + 1 AS DOUBLE) / (dt.nd + {PSI_BINS})
       - CAST(co.cq + 1 AS DOUBLE) / (na.nq + {PSI_BINS}))
      * ln((CAST(coalesce(d.c, 0) + 1 AS DOUBLE) / (dt.nd + {PSI_BINS}))
           / (CAST(co.cq + 1 AS DOUBLE) / (na.nq + {PSI_BINS})))
    ) * {PSI_SCALE}) AS BIGINT) AS term_q
  FROM day_tot dt CROSS JOIN corpus co CROSS JOIN n_all na
  LEFT JOIN daily d ON d.day = dt.day AND d.b = co.b
)
SELECT day, CAST(any_value(nd) AS BIGINT) AS n_events,
  round(CAST(sum(term_q) AS DOUBLE) / {PSI_SCALE}.0, 6) AS psi
FROM grid GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- gap fill
def orders_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a complete daily spine per order priority
    with missing days FORWARD-FILLED from the last observed day
    (last_value IGNORE NULLS) — the canonical as-of densification step
    before feature windows or forecasting, and the repair a reporting
    pipeline runs on sparse daily aggregates.

    Plan: orders reduce to (priority, day) grain; the spine is
    sequence(min_day, max_day) exploded from a 1-row scalar agg and
    cross-joined with the 5 priorities (broadcast both ways — the spine
    is calendar-sized, never data-sized); the fill window partitions by
    priority over calendar days, so no task ever holds more than one
    priority's ~2.4k days regardless of order count. Readout is the
    per-priority fill summary (exact integers only)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pr"),
        F.expr("CAST(o_orderdate AS DATE)").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents"),
    )
    rng = o.agg(
        F.expr("MIN(CAST(o_orderdate AS DATE))").alias("d0"),
        F.expr("MAX(CAST(o_orderdate AS DATE))").alias("d1"),
    )
    spine = rng.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    prs = o.select(F.col("o_orderpriority").alias("pr")).distinct()
    grid = F.broadcast(spine).crossJoin(F.broadcast(prs))
    j = grid.join(daily, ["pr", "day"], "left")
    w = (
        W.partitionBy("pr")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = j.select(
        "pr",
        "day",
        "cents",
        F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
    )
    return (
        filled.groupBy("pr")
        .agg(
            F.count(F.lit(1)).alias("days_total"),
            F.count("cents").alias("days_observed"),
            F.sum(
                F.when(F.col("cents").isNull() & F.col("filled_cents").isNotNull(), 1).otherwise(0)
            ).alias("days_filled"),
            F.sum("cents").alias("observed_cents"),
            F.sum("filled_cents").alias("filled_total_cents"),
        )
        .orderBy("pr")
    )


def _oracle_gap_fill() -> str:
    return """
WITH daily AS (
  SELECT o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS day,
    count(*) AS cnt, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
), rng AS (
  SELECT min(CAST(o_orderdate AS DATE)) AS d0, max(CAST(o_orderdate AS DATE)) AS d1
  FROM orders
), spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM rng
), prs AS (SELECT DISTINCT o_orderpriority AS pr FROM orders),
grid AS (SELECT pr, day FROM spine CROSS JOIN prs),
filled AS (
  SELECT g.pr, g.day, d.cents,
    last_value(d.cents IGNORE NULLS) OVER (
      PARTITION BY g.pr ORDER BY g.day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
  FROM grid g LEFT JOIN daily d ON d.pr = g.pr AND d.day = g.day
)
SELECT pr, count(*) AS days_total, count(cents) AS days_observed,
  CAST(sum(CASE WHEN cents IS NULL AND filled_cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS days_filled,
  CAST(sum(cents) AS BIGINT) AS observed_cents,
  CAST(sum(filled_cents) AS BIGINT) AS filled_total_cents
FROM filled GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- bot heuristic
BOT_MIN_EVENTS = 20   # users below this gap count are 'lowactivity'
BOT_CV_Q = 10**4      # fixed-point scale of the coefficient of variation
BOT_CV_THRESHOLD = 2500  # cv_q below this (cv < 0.25) flags 'botlike'


def events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-likeness heuristic from inter-event timing regularity: real
    users fire events in bursts (high variance of inter-event gaps);
    scripted traffic is metronomic (coefficient of variation near 0).
    The standard abuse/governance pre-filter a training pipeline runs
    before user-generated text enters a corpus.

    Per user: consecutive event gaps in whole seconds (one lag window
    partitioned BY USER — no task ever holds more than one user's
    events), then gap variance from exact BIGINT sufficient statistics
    (n*sum(x^2) - sum(x)^2 — seconds keep x^2 ~ 1e13, far inside BIGINT
    at any horizon), cv = stddev/mean quantized to 1e-4 fixed point from
    one shared IEEE expression. Verdict classes: 'botlike' (cv < 0.25
    over >= 20 gaps), 'human' (>= 20 gaps, higher cv), 'lowactivity'.
    Readout = per-class user counts + mean cv + event mass."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select(
            "user_id",
            "ts",
            F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("sec"),
            "event_id",
        )
        .withColumn("gap", F.col("sec") - F.lag("sec").over(w))
        .filter(F.col("gap").isNotNull())
    )
    per_user = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap").alias("s"),
        F.sum(F.expr("gap * gap")).alias("ss"),
    )
    # cv^2 = (n*ss - s*s) / s^2  (mean > 0 because gaps >= 0 and a user
    # with all-zero gaps has s = 0 -> guarded to cv_q NULL -> botlike)
    cv_q = (
        f"CASE WHEN s = 0 THEN 0 ELSE "
        f"CAST(floor(sqrt(CAST(n * ss - s * s AS DOUBLE)) / s * {BOT_CV_Q}) AS BIGINT) END"
    )
    scored = per_user.select(
        "n",
        F.expr(cv_q).alias("cv_q"),
    ).select(
        "n",
        "cv_q",
        F.when(F.col("n") < BOT_MIN_EVENTS, "lowactivity")
        .when(F.col("cv_q") < BOT_CV_THRESHOLD, "botlike")
        .otherwise("human")
        .alias("verdict"),
        # CV-decile histogram bucket: the verdict alone collapses a
        # bot-free corpus to one row; the bucket shows the regularity
        # DISTRIBUTION the threshold cuts into
        F.expr(f"cv_q DIV {BOT_CV_Q // 10}").alias("cv_bucket"),
    )
    return (
        scored.groupBy("verdict", "cv_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n").alias("n_gaps"),
            F.expr(
                dl.round_ratio(dl.SPARK, "sum(cv_q)", f"(count(*) * {BOT_CV_Q})")
            ).alias("mean_cv"),
        )
        .orderBy("verdict", "cv_bucket")
    )


def _oracle_bot() -> str:
    d = dl.DUCK
    cv_q = (
        f"CASE WHEN s = 0 THEN 0 ELSE "
        f"CAST(floor(sqrt(CAST(n * ss - s * s AS DOUBLE)) / s * {BOT_CV_Q}) AS BIGINT) END"
    )
    return f"""
WITH gaps AS (
  -- floor(epoch(ts)): DuckDB's epoch() keeps the fractional second and a
  -- bare BIGINT cast would round-half-even, while Spark's unix_timestamp
  -- truncates — floor matches the truncation on both engines
  SELECT user_id,
    CAST(floor(epoch(ts)) AS BIGINT)
      - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), g AS (SELECT user_id, gap FROM gaps WHERE gap IS NOT NULL),
per_user AS (
  SELECT user_id, count(*) AS n, CAST(sum(gap) AS BIGINT) AS s,
    CAST(sum(gap * gap) AS BIGINT) AS ss
  FROM g GROUP BY 1
), scored AS (
  SELECT n, {cv_q} AS cv_q,
    CASE WHEN n < {BOT_MIN_EVENTS} THEN 'lowactivity'
         WHEN {cv_q} < {BOT_CV_THRESHOLD} THEN 'botlike'
         ELSE 'human' END AS verdict,
    ({cv_q}) // {BOT_CV_Q // 10} AS cv_bucket
  FROM per_user
)
SELECT verdict, CAST(cv_bucket AS BIGINT) AS cv_bucket,
  count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_gaps,
  {dl.round_ratio(d, 'sum(cv_q)', f'(count(*) * {BOT_CV_Q})')} AS mean_cv
FROM scored GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------- ABC drift
def part_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmentation drift: ABC class of every part computed independently
    on the FIRST and SECOND half of the shipping horizon, read out as the
    class-transition matrix (how many parts moved A->B, C->A, entered,
    left). The longitudinal complement of part_abc_classification — the
    question a category manager actually asks is not "what are the
    classes" but "which parts MOVED".

    Plan: one scan reduces lineitem to (half, part) grain (the only
    data-sized shuffle; the half split point is an exact integer-midpoint
    date riding a 1-row broadcast); per-half classification reuses the
    exact cumulative-share rule over part-grain windows PARTITIONED BY
    half (same honest global-sort note as the base query — the
    bucket-cut production form of part_abc_classification_prod applies
    identically per half); the transition matrix is a part-keyed
    full-outer self-join, absent halves classed 'N'. <= 16 output rows."""
    li = load_table(spark, sf_dir, "lineitem")
    rng = li.agg(
        F.expr("MIN(CAST(l_shipdate AS DATE))").alias("d0"),
        F.expr("MAX(CAST(l_shipdate AS DATE))").alias("d1"),
        # integer floor-division for the midpoint: a double /2 then CAST
        # truncates in Spark but rounds half-even in DuckDB on odd spans
    ).select(F.expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))").alias("mid"))
    per = (
        li.crossJoin(F.broadcast(rng))
        .select(
            F.when(F.expr("CAST(l_shipdate AS DATE) <= mid"), 1).otherwise(2).alias("half"),
            "l_partkey",
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c"),
        )
        .groupBy("half", "l_partkey")
        .agg(F.sum("c").alias("cents"))
    )
    wrun = (
        W.partitionBy("half")
        .orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wall = W.partitionBy("half")
    classed = per.select(
        "half",
        "l_partkey",
        "cents",
        F.when(
            F.sum("cents").over(wrun) * 100 <= F.sum("cents").over(wall) * 80, "A"
        )
        .when(F.sum("cents").over(wrun) * 100 <= F.sum("cents").over(wall) * 95, "B")
        .otherwise("C")
        .alias("cls"),
    )
    h1 = classed.filter(F.col("half") == 1).select(
        "l_partkey", F.col("cls").alias("from_class")
    )
    h2 = classed.filter(F.col("half") == 2).select(
        "l_partkey", F.col("cls").alias("to_class"), F.col("cents").alias("cents_h2")
    )
    return (
        h1.join(h2, "l_partkey", "full_outer")
        .select(
            F.coalesce("from_class", F.lit("N")).alias("from_class"),
            F.coalesce("to_class", F.lit("N")).alias("to_class"),
            F.coalesce("cents_h2", F.lit(0)).alias("cents_h2"),
        )
        .groupBy("from_class", "to_class")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("cents_h2").alias("rev_cents_h2"))
        .orderBy("from_class", "to_class")
    )


def _oracle_abc_migration() -> str:
    return """
WITH rng AS (
  SELECT min(CAST(l_shipdate AS DATE)) AS d0, max(CAST(l_shipdate AS DATE)) AS d1
  FROM lineitem
), midp AS (
  SELECT d0 + CAST(datediff('day', d0, d1) // 2 AS INT) AS mid FROM rng
), per AS (
  SELECT CASE WHEN CAST(l_shipdate AS DATE) <= (SELECT mid FROM midp) THEN 1 ELSE 2 END AS half,
    l_partkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
  FROM lineitem GROUP BY 1, 2
), classed AS (
  SELECT half, l_partkey, cents,
    CASE
      WHEN sum(cents) OVER (PARTITION BY half ORDER BY cents DESC, l_partkey ASC
             ROWS UNBOUNDED PRECEDING) * 100 <= sum(cents) OVER (PARTITION BY half) * 80 THEN 'A'
      WHEN sum(cents) OVER (PARTITION BY half ORDER BY cents DESC, l_partkey ASC
             ROWS UNBOUNDED PRECEDING) * 100 <= sum(cents) OVER (PARTITION BY half) * 95 THEN 'B'
      ELSE 'C'
    END AS cls
  FROM per
)
SELECT coalesce(h1.from_class, 'N') AS from_class,
  coalesce(h2.to_class, 'N') AS to_class,
  count(*) AS n_parts,
  CAST(sum(coalesce(h2.cents_h2, 0)) AS BIGINT) AS rev_cents_h2
FROM (SELECT l_partkey, cls AS from_class FROM classed WHERE half = 1) h1
FULL OUTER JOIN (SELECT l_partkey, cls AS to_class, cents AS cents_h2
                 FROM classed WHERE half = 2) h2
  USING (l_partkey)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ------------------------------------------------- production twins (r8)
# The exact ABC/Gini readouts above are the ORACLE targets; their docstrings
# promise sketch/bucket-based production forms for the 100 TB case where
# even part/user grain is hundreds of millions of rows and a global-sort
# window funnels them through one task. These are those forms — benched as
# named lines (registry.all_bench_only), accuracy-pinned against the
# exact twins in tests/test_prod_twins.py, and NOT oracle-gated (the
# sketch outputs are engine-specific by construction).

# geometric revenue bucket: floor(ln(cents) * 50) -> ~2% value resolution,
# ln(1e9)/0.02 ~ 1040 buckets max regardless of corpus size
ABC_LOG_SCALE = 50


def part_abc_classification_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION form of part_abc_classification: no global sort over the
    part grain. Parts hash-agg to (part, cents) as before; parts then
    hash-agg again into ~1k GEOMETRIC revenue buckets (2% value
    resolution); the cumulative-revenue 80/95 cuts run over the
    bucket-grain relation (resolution-bounded, never data-bounded); each
    part is classed by a BROADCAST join on its bucket id — entirely
    map-side after the part-grain agg. Class boundaries land on bucket
    edges instead of exact part ranks, so shares are within one bucket's
    revenue mass (~2% of total, pinned in tests/test_prod_twins.py) of
    the exact twin."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias("cents")
    )
    bucketed = per_part.withColumn(
        "b", F.floor(F.log(F.col("cents").cast("double")) * ABC_LOG_SCALE)
    )
    buckets = bucketed.groupBy("b").agg(F.sum("cents").alias("rev"))
    wrun = W.orderBy(F.desc("b")).rowsBetween(W.unboundedPreceding, 0)
    classed_buckets = buckets.select(
        "b",
        F.when(
            F.sum("rev").over(wrun) * 100 <= F.sum("rev").over(W.partitionBy()) * 80,
            "A",
        )
        .when(
            F.sum("rev").over(wrun) * 100 <= F.sum("rev").over(W.partitionBy()) * 95,
            "B",
        )
        .otherwise("C")
        .alias("abc_class"),
    )
    total = per_part.agg(F.sum("cents").alias("t"))
    return (
        bucketed.join(F.broadcast(classed_buckets), "b")
        .groupBy("abc_class")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum("cents").alias("rev_cents"))
        .crossJoin(F.broadcast(total))
        .select(
            "abc_class",
            "n_parts",
            "rev_cents",
            F.expr(dl.round_ratio(dl.SPARK, "rev_cents", "t")).alias("rev_share"),
        )
        .orderBy("abc_class")
    )


GINI_GRID_M = 200  # percentile-grid resolution for the sketch Gini
GINI_GRID_ACC = 10000


def events_power_users_gini_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION form of events_power_users_gini: Gini from a
    Greenwald-Khanna quantile sketch instead of a global rank window.
    One per-user hash agg (the only data-sized shuffle), then ONE
    approx_percentile agg produces a GINI_GRID_M-point equi-probability
    quantile grid; the grid is an array in a single row, and the discrete
    Gini rank formula applied to those M values estimates G (the M
    quantiles are an equi-probability sample of the count distribution).
    The top-1% share is the grid's upper-tail mass. No window touches the
    user grain at any scale. Accuracy vs the exact twin is pinned in
    tests/test_prod_twins.py."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    m = GINI_GRID_M
    ps = ", ".join(f"{i / m}" for i in range(1, m + 1))
    agg = per_user.agg(
        F.expr(f"approx_percentile(c, array({ps}), {GINI_GRID_ACC})").alias("q"),
        F.sum("c").alias("sx"),
        F.count(F.lit(1)).alias("n"),
    )
    # rank-formula Gini over the M grid values; top-1% share from the top
    # 1% of grid points (M/100 values at the upper tail)
    tail = m // 100
    return agg.select(
        "n",
        F.col("sx").alias("total_events"),
        F.round(
            F.expr(
                f"2 * aggregate(zip_with(q, sequence(1, {m}), (x, i) -> x * CAST(i AS DOUBLE)), 0D, (a, x) -> a + x)"
                f" / ({m} * aggregate(q, 0D, (a, x) -> a + CAST(x AS DOUBLE)))"
                f" - CAST({m + 1} AS DOUBLE) / {m}"
            ),
            4,
        ).alias("gini"),
        F.round(
            F.expr(
                f"aggregate(slice(q, {m - tail + 1}, {tail}), 0D, (a, x) -> a + CAST(x AS DOUBLE))"
                f" / {tail} * (CAST(n AS DOUBLE) / 100) / CAST(sx AS DOUBLE)"
            ),
            4,
        ).alias("top1pct_share"),
    )


# ---------------------------------------------------------------- ACF
ACF_MAX_LAG = 6


def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the per-type HOURLY event-count series at
    lags 1..ACF_MAX_LAG — the diagnostic behind seasonality/periodicity
    detection (a daily cycle shows as a bump at lag 24; short-memory decay
    feeds ARIMA order choice). Complements events_seasonal_decompose
    (which ASSUMES a period; ACF is how you find one).

    The series is DENSIFIED first (hour spine per type via sequence +
    left join, zero-filled): lag-k on present-hours-only would correlate
    non-adjacent hours and silently bias r_k toward the busy regions.

    Float discipline: r_k = sum(dev_t*dev_{t+k}) / sum(dev_t^2) with
    dev_t = n*c_t - S (n = spine hours, S = total events) — all BIGINT
    exact (the n^2 factor cancels in the ratio), so both engines sum
    identical integers in any order; the signed final ratio goes through
    the sign-split round_ratio convention. Exactness bound: the dev^2 sum
    needs n*(n*c_max)^2 <= 2^63 — holds to ~1e5 hourly events on a
    decade-long spine; past that the production form quantizes per-term
    doubles (the PSI pattern).

    Scale: one (type, hour) hash agg, a calendar-bounded spine explode,
    one window partitioned BY TYPE over hour-grain rows (never
    data-sized), one type-grain agg. The 6 lead columns ride a single
    window pass."""
    d = dl.SPARK
    e = load_table(spark, sf_dir, "events")
    cnt = e.groupBy(
        "event_type", F.expr("unix_timestamp(ts) DIV 3600").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    rng = cnt.groupBy("event_type").agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    spine = rng.select(
        "event_type", F.explode(F.expr(dl.seq(d, "mn", "mx"))).alias("h")
    )
    dense = spine.join(cnt, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("c", F.lit(0)).alias("c")
    )
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("s")
    )
    dev = dense.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "h",
        "n",
        (F.col("n") * F.col("c") - F.col("s")).alias("dev"),
    )
    w = W.partitionBy("event_type").orderBy("h")
    lags = list(range(1, ACF_MAX_LAG + 1))
    led = dev.select(
        "event_type",
        "n",
        "dev",
        *[F.lead("dev", k).over(w).alias(f"l{k}") for k in lags],
    )
    per = led.groupBy("event_type", "n").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
        *[F.sum(F.col("dev") * F.col(f"l{k}")).alias(f"num{k}") for k in lags],
    )
    stack = (
        f"stack({len(lags)}, "
        + ", ".join(f"{k}, num{k}" for k in lags)
        + ") AS (lag, num)"
    )
    rows = per.select("event_type", F.col("n").alias("n_hours"), "den", F.expr(stack))
    rr_pos = dl.round_ratio(d, "num", "den")
    rr_neg = dl.round_ratio(d, "(-num)", "den")
    acf = (
        f"CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN num >= 0 THEN {rr_pos} ELSE -{rr_neg} END"
    )
    return rows.select(
        "event_type", "lag", "n_hours", F.expr(acf).alias("acf")
    ).orderBy("event_type", "lag")


def _oracle_acf() -> str:
    d = dl.DUCK
    lags = list(range(1, ACF_MAX_LAG + 1))
    lead_cols = ", ".join(f"lead(dev, {k}) OVER w AS l{k}" for k in lags)
    num_aggs = ", ".join(f"sum(dev * l{k}) AS num{k}" for k in lags)
    unioned = "\nUNION ALL ".join(
        f"SELECT event_type, {k} AS lag, n, den, num{k} AS num FROM per" for k in lags
    )
    rr_pos = dl.round_ratio(d, "num", "den")
    rr_neg = dl.round_ratio(d, "(-num)", "den")
    return f"""
WITH cnt AS (
  SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS h, count(*) AS c
  FROM events GROUP BY 1, 2
), rng AS (
  SELECT event_type, min(h) AS mn, max(h) AS mx FROM cnt GROUP BY 1
), spine AS (
  SELECT event_type, unnest({dl.seq(d, 'mn', 'mx')}) AS h FROM rng
), dense AS (
  SELECT s.event_type, s.h, coalesce(c.c, 0) AS c
  FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type AND c.h = s.h
), st AS (
  SELECT event_type, count(*) AS n, sum(c) AS s FROM dense GROUP BY 1
), dev_t AS (
  SELECT d.event_type, d.h, st.n, (st.n * d.c - st.s) AS dev
  FROM dense d JOIN st ON st.event_type = d.event_type
), led AS (
  SELECT event_type, n, dev, {lead_cols}
  FROM dev_t WINDOW w AS (PARTITION BY event_type ORDER BY h)
), per AS (
  SELECT event_type, n, sum(dev * dev) AS den, {num_aggs}
  FROM led GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_hours,
  CASE WHEN den = 0 THEN CAST(NULL AS DOUBLE)
       WHEN num >= 0 THEN {rr_pos} ELSE -{rr_neg} END AS acf
FROM ({unioned})
ORDER BY 1, 2
"""


# ---------------------------------------------------------------- backlog sweep
def orders_backlog_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time by SWEEP-LINE: each order is an
    interval [o_orderdate, last l_shipdate], decomposed into a +1 delta at
    the start and a -1 the day AFTER the last shipment; the running sum of
    date-grain deltas is the number of concurrently open orders. Readout
    per month: orders opened/closed, end-of-month and peak backlog.

    Scale: the naive form is a range join (every order x every date it
    spans — O(N * avg_duration) rows); the sweep emits exactly 2 deltas
    per order, aggregates them to DATE grain (calendar-bounded, like
    events_rolling_dau), and only the date-grain rows ride the cumulative
    window — the standard interval-stabbing reduction. The cumulative sum
    is over exact BIGINT deltas, so there is no float drift anywhere.

    Orders with NO line items (the synthetic data has some; strict TPC-H
    does not) have no shipment timeline and are excluded by the inner
    join — mirrored in the oracle."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.expr("CAST(o_orderdate AS DATE)").alias("start_d")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.expr("CAST(l_shipdate AS DATE)")).alias("ship_d"))
    )
    iv = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "start_d", F.expr("date_add(ship_d, 1)").alias("end_d")
    )
    deltas = iv.select(
        F.col("start_d").alias("d"),
        F.lit(1).alias("delta"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    ).union(
        iv.select(F.col("end_d"), F.lit(-1), F.lit(0), F.lit(1))
    )
    daily = deltas.groupBy("d").agg(
        F.sum("delta").alias("net"),
        F.sum("opened").alias("n_opened"),
        F.sum("closed").alias("n_closed"),
    )
    run = daily.withColumn("backlog", F.sum("net").over(W.orderBy("d")))
    return (
        run.groupBy(F.date_format("d", "yyyy-MM").alias("month"))
        .agg(
            F.sum("n_opened").alias("n_opened"),
            F.sum("n_closed").alias("n_closed"),
            F.max_by("backlog", "d").alias("eom_backlog"),
            F.max("backlog").alias("peak_backlog"),
        )
        .orderBy("month")
    )


def _oracle_backlog() -> str:
    return """
WITH iv AS (
  SELECT CAST(o.o_orderdate AS DATE) AS start_d,
    CAST(max(CAST(l.l_shipdate AS DATE)) + INTERVAL 1 DAY AS DATE) AS end_d
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, 1
), deltas AS (
  SELECT start_d AS d, 1 AS delta, 1 AS opened, 0 AS closed FROM iv
  UNION ALL
  SELECT end_d, -1, 0, 1 FROM iv
), daily AS (
  SELECT d, sum(delta) AS net, sum(opened) AS n_opened, sum(closed) AS n_closed
  FROM deltas GROUP BY 1
), run AS (
  SELECT d, n_opened, n_closed, sum(net) OVER (ORDER BY d) AS backlog FROM daily
)
SELECT strftime(d, '%Y-%m') AS month,
  CAST(sum(n_opened) AS BIGINT) AS n_opened,
  CAST(sum(n_closed) AS BIGINT) AS n_closed,
  CAST(max_by(backlog, d) AS BIGINT) AS eom_backlog,
  CAST(max(backlog) AS BIGINT) AS peak_backlog
FROM run GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- BH / FDR
FDR_ALPHA_NUM = 5          # alpha = FDR_ALPHA_NUM / 100 = 0.05
FDR_P_SCALE = 1_000_000    # p quantized to 1e-6 before ranking


def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a FAMILY of hypothesis
    tests — the multiple-testing layer every metrics platform needs on
    top of its per-metric tests (run one Welch test per event type and
    ~5% of null metrics "significant" by chance; BH caps the expected
    false-discovery rate instead). Family here: per event type, weekend
    vs weekday value shift (day-of-week from epoch days, engine-portable
    — dayofweek() numbering differs across engines). Welch z uses the
    exact-cents moment machinery of events_ab_test_lift; the two-sided
    p-value maps z through the logistic approximation to the normal CDF
    (p = 2/(1+exp(1.702|z|)), max abs error ~0.01 — neither engine ships
    erf, and the BH DECISION only needs p's order, which the
    approximation preserves exactly since it is monotone in |z|).

    Float discipline: p is quantized to 1e-6 before the rank window, and
    the BH comparison p_(i) <= alpha*i/m is evaluated in scaled integers
    (p_q * m <= alpha_scaled * i) — the step function cannot flip on a
    float ulp. Rejection set: ranks <= max{i: p_(i) <= alpha*i/m}.

    Scale: one (type, daypart) hash agg; everything downstream — pivot,
    rank window, BH cut — is family-sized (#event_types rows), never
    data-sized."""
    e = load_table(spark, sf_dir, "events")
    dow = F.expr("((unix_timestamp(ts) DIV 86400) + 4) % 7")  # 0=Sunday
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    g = (
        e.select(
            "event_type",
            F.when(dow.isin(0, 6), "weekend").otherwise("weekday").alias("part"),
            cents.alias("cents"),
        )
        .groupBy("event_type", "part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
    )
    both = (
        g.groupBy("event_type")
        .pivot("part", ["weekday", "weekend"])
        .agg(
            F.first("n").alias("n"), F.first("s1").alias("s1"), F.first("s2").alias("s2")
        )
        .filter((F.col("weekday_n") >= 2) & (F.col("weekend_n") >= 2))
    )
    mean = lambda s, n: F.col(s) / (F.col(n) * F.lit(100.0))  # noqa: E731
    var = lambda s1, s2, n: (  # noqa: E731
        (F.col(s2) - F.col(s1).cast("double") * F.col(s1) / F.col(n))
        / (F.col(n) - 1)
        / F.lit(10000.0)
    )
    z = (mean("weekend_s1", "weekend_n") - mean("weekday_s1", "weekday_n")) / F.sqrt(
        var("weekday_s1", "weekday_s2", "weekday_n") / F.col("weekday_n")
        + var("weekend_s1", "weekend_s2", "weekend_n") / F.col("weekend_n")
    )
    scored = both.select(
        "event_type",
        F.col("weekday_n").alias("n_weekday"),
        F.col("weekend_n").alias("n_weekend"),
        z.alias("z"),
    ).withColumn(
        "p_q",
        F.expr(
            f"CAST(round(2.0 / (1.0 + exp(1.702 * abs(z))) * {FDR_P_SCALE}) AS BIGINT)"
        ),
    )
    wf = W.orderBy("p_q", "event_type")  # family-sized window (#event_types)
    ranked = scored.select(
        "event_type",
        "n_weekday",
        "n_weekend",
        F.round("z", 4).alias("z"),
        (F.col("p_q") / F.lit(float(FDR_P_SCALE))).alias("p_approx"),
        F.row_number().over(wf).alias("p_rank"),
        F.count(F.lit(1)).over(
            W.orderBy("p_q").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("m_tests"),
        F.col("p_q").alias("p_q"),
    )
    flag_rank = F.when(
        F.col("p_q") * F.col("m_tests")
        <= F.lit(FDR_ALPHA_NUM * FDR_P_SCALE // 100) * F.col("p_rank"),
        F.col("p_rank"),
    )
    cut = ranked.withColumn(
        "cut",
        F.max(flag_rank).over(
            W.orderBy("p_q").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ),
    )
    bh_thresh = dl.round_ratio(
        dl.SPARK, f"(p_rank * {FDR_ALPHA_NUM})", "(m_tests * 100)", 6
    )
    return (
        cut.select(
            "event_type",
            "n_weekday",
            "n_weekend",
            "z",
            "p_approx",
            "p_rank",
            "m_tests",
            F.expr(bh_thresh).alias("bh_threshold"),
            F.when(F.col("p_rank") <= F.coalesce(F.col("cut"), F.lit(0)), 1)
            .otherwise(0)
            .alias("rejected"),
        )
        .orderBy("p_rank")
    )


def _oracle_fdr() -> str:
    d = dl.DUCK
    alpha_scaled = FDR_ALPHA_NUM * FDR_P_SCALE // 100
    bh_thresh = dl.round_ratio(d, f"(p_rank * {FDR_ALPHA_NUM})", "(m_tests * 100)", 6)
    return f"""
WITH g AS (
  SELECT event_type,
    CASE WHEN (((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7) IN (0, 6)
         THEN 'weekend' ELSE 'weekday' END AS part,
    count(*) AS n,
    sum(CAST(round(value * 100) AS BIGINT)) AS s1,
    sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS s2
  FROM events GROUP BY 1, 2
), wide AS (
  SELECT event_type,
    max(CASE WHEN part = 'weekday' THEN n END) AS wd_n,
    max(CASE WHEN part = 'weekday' THEN s1 END) AS wd_s1,
    max(CASE WHEN part = 'weekday' THEN s2 END) AS wd_s2,
    max(CASE WHEN part = 'weekend' THEN n END) AS we_n,
    max(CASE WHEN part = 'weekend' THEN s1 END) AS we_s1,
    max(CASE WHEN part = 'weekend' THEN s2 END) AS we_s2
  FROM g GROUP BY 1
  HAVING wd_n >= 2 AND we_n >= 2
), scored AS (
  SELECT event_type, wd_n, we_n,
    (we_s1 / (we_n * 100.0) - wd_s1 / (wd_n * 100.0))
      / sqrt(((wd_s2 - CAST(wd_s1 AS DOUBLE) * wd_s1 / wd_n) / (wd_n - 1) / 10000.0) / wd_n
           + ((we_s2 - CAST(we_s1 AS DOUBLE) * we_s1 / we_n) / (we_n - 1) / 10000.0) / we_n)
      AS z
  FROM wide
), quant AS (
  SELECT event_type, wd_n, we_n, z,
    CAST(round(2.0 / (1.0 + exp(1.702 * abs(z))) * {FDR_P_SCALE}) AS BIGINT) AS p_q
  FROM scored
), ranked AS (
  SELECT event_type, wd_n, we_n, z, p_q,
    row_number() OVER (ORDER BY p_q, event_type) AS p_rank,
    count(*) OVER () AS m_tests
  FROM quant
), cutoff AS (
  SELECT *, max(CASE WHEN p_q * m_tests <= {alpha_scaled} * p_rank
                     THEN p_rank END) OVER () AS cut
  FROM ranked
)
SELECT event_type, CAST(wd_n AS BIGINT) AS n_weekday, CAST(we_n AS BIGINT) AS n_weekend,
  round(z, 4) AS z, CAST(p_q AS DOUBLE) / {FDR_P_SCALE} AS p_approx,
  CAST(p_rank AS INT) AS p_rank, CAST(m_tests AS BIGINT) AS m_tests,
  {bh_thresh} AS bh_threshold,
  CAST(CASE WHEN p_rank <= coalesce(cut, 0) THEN 1 ELSE 0 END AS INT) AS rejected
FROM cutoff ORDER BY p_rank
"""


# ---------------------------------------------------------------- Cramér's V
CRAMER_Q = 1_000_000  # per-cell chi2 terms quantized to 1e-6 before summing


def _cramer_pair_spark(df: DataFrame, a: str, b: str) -> DataFrame:
    obs = df.groupBy(a, b).agg(F.count(F.lit(1)).alias("o"))
    ra = obs.groupBy(a).agg(F.sum("o").alias("rt"))
    cb = obs.groupBy(b).agg(F.sum("o").alias("ct"))
    nn = obs.groupBy().agg(
        F.sum("o").alias("n"),
        F.count_distinct(a).alias("r"),
        F.count_distinct(b).alias("c"),
    )
    term = (
        f"CAST(round((CAST(o * n - rt * ct AS DOUBLE) * (o * n - rt * ct)) "
        f"/ (CAST(n AS DOUBLE) * rt * ct) * {CRAMER_Q}) AS BIGINT)"
    )
    cells = (
        obs.join(F.broadcast(ra), a)
        .join(F.broadcast(cb), b)
        .crossJoin(F.broadcast(nn))
        .withColumn("t", F.expr(term))
    )
    agg = cells.groupBy("n", "r", "c").agg(F.sum("t").alias("chi2_q"))
    return agg.select(
        F.lit(a).alias("var_a"),
        F.lit(b).alias("var_b"),
        F.col("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("int").alias("dof"),
        F.round(F.col("chi2_q") / F.lit(float(CRAMER_Q)), 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_q")
                / F.lit(float(CRAMER_Q))
                / (F.col("n") * (F.least("r", "c") - 1))
            ),
            4,
        ).alias("cramers_v"),
    )


def stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix over the events categorical
    dimensions — the effect-size layer docs_chi2_lang_source's single
    chi-square test lacks (chi2 grows with n, so at 100 TB EVERY pair is
    "significant"; V in [0,1] is what tells you which association
    matters). Pairs: event type x day-of-week, event type x value bin,
    day-of-week x value bin (dow from epoch days — portable numbering).

    Float discipline: per-cell terms (O*n - rt*ct)^2 / (n*rt*ct) are
    formed by the identical double op sequence on exact integers in both
    engines and quantized to 1e-6 BEFORE the sum (per-term fixed point —
    the PSI pattern); chi2 and V are displayed rounds of those exact
    quantized sums. Exactness bound: O*n stays in BIGINT to ~3e9 rows;
    the double products are exact while n*rt*ct < 2^53.

    Scale: each pair is one contingency hash agg whose output is bounded
    by the CATEGORY-space product (types x 7 x ~20 bins), then
    marginal/total broadcasts — nothing downstream of the first agg is
    data-sized; the three pair analyses are independent branches of one
    union plan."""
    e = load_table(spark, sf_dir, "events")
    dow = F.expr("((unix_timestamp(ts) DIV 86400) + 4) % 7")
    vb = F.expr("CAST(least(floor(value / 50.0), 9) AS BIGINT)")
    base = e.select(
        F.col("event_type").alias("etype"),
        dow.cast("string").alias("dow"),
        vb.cast("string").alias("vbin"),
    )
    out = (
        _cramer_pair_spark(base, "etype", "dow")
        .union(_cramer_pair_spark(base, "etype", "vbin"))
        .union(_cramer_pair_spark(base, "dow", "vbin"))
    )
    return out.orderBy("var_a", "var_b")


def _oracle_cramers() -> str:
    dow = "CAST((((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7) AS VARCHAR)"
    vb = "CAST(CAST(least(floor(value / 50.0), 9) AS BIGINT) AS VARCHAR)"
    term = (
        f"CAST(round((CAST(o * n - rt * ct AS DOUBLE) * (o * n - rt * ct)) "
        f"/ (CAST(n AS DOUBLE) * rt * ct) * {CRAMER_Q}) AS BIGINT)"
    )

    def pair(a: str, b: str) -> str:
        return f"""
SELECT '{a}' AS var_a, '{b}' AS var_b, n, CAST((r - 1) * (c - 1) AS INT) AS dof,
  round(chi2_q / {CRAMER_Q}.0, 4) AS chi2,
  round(sqrt(chi2_q / {CRAMER_Q}.0 / (n * (least(r, c) - 1))), 4) AS cramers_v
FROM (
  SELECT n, r, c, sum(t) AS chi2_q FROM (
    SELECT o.o, ra.rt, cb.ct, nn.n, nn.r, nn.c, {term} AS t
    FROM (SELECT {a} AS va, {b} AS vb_, count(*) AS o FROM base GROUP BY 1, 2) o
    JOIN (SELECT {a} AS va, count(*) AS rt FROM base GROUP BY 1) ra ON ra.va = o.va
    JOIN (SELECT {b} AS vb_, count(*) AS ct FROM base GROUP BY 1) cb ON cb.vb_ = o.vb_
    CROSS JOIN (SELECT count(*) AS n, count(DISTINCT {a}) AS r,
                count(DISTINCT {b}) AS c FROM base) nn
  ) GROUP BY 1, 2, 3
)"""

    return f"""
WITH base AS (
  SELECT event_type AS etype, {dow} AS dow, {vb} AS vbin FROM events
)
{pair('etype', 'dow')}
UNION ALL {pair('etype', 'vbin')}
UNION ALL {pair('dow', 'vbin')}
ORDER BY var_a, var_b
"""


# ---------------------------------------------------------------- backtest
BACKTEST_H = 7  # rolling-origin horizon: one-step-ahead errors, last H days


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the EWMA forecaster (events_ewma_forecast
    above): for each of the last BACKTEST_H days, refit the smoothing fold
    on the strict prefix and score the one-step-ahead error — the
    "measure the forecaster, don't just run it" readout (MAE / MAPE /
    signed bias per type) that decides whether the forecast is shippable.

    Everything stays in the forecaster's own fixed point: level is BIGINT
    at scale 10^4, so err_fp = actual*SCALE - level is EXACT, |err| sums
    are exact, and MAPE quantizes each per-term ratio to integer ppm
    before summing (per-term fixed-point-before-SUM, the repo's float
    rule). The H prefix folds are H slices of the same bounded
    calendar-length array — O(H * n_days) map-side work per type, zero
    extra shuffles over the ewma op itself. Series semantics match the
    forecaster exactly (present days only), so this evaluates the
    deployed recurrence, not a variant."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    arr = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, c))), p -> p.c)"
        ).alias("cs")
    )
    # level after folding the first (n - h) days, scaled by EWMA_SCALE
    lvl = (
        f"aggregate(slice(cs, 2, size(cs) - h - 1), "
        f"CAST(element_at(cs, 1) * {EWMA_SCALE} AS BIGINT), "
        f"(acc, x) -> ({EWMA_NUM} * x * {EWMA_SCALE} "
        f"+ {EWMA_DEN - EWMA_NUM} * acc) DIV {EWMA_DEN})"
    )
    err = f"(element_at(cs, size(cs) - h + 1) * {EWMA_SCALE} - ({lvl}))"
    ppm = f"((2 * abs({err}) * 1000000 + element_at(cs, size(cs) - h + 1) * {EWMA_SCALE}) DIV (2 * element_at(cs, size(cs) - h + 1) * {EWMA_SCALE}))"
    folded = arr.select(
        "event_type",
        F.expr("CAST(size(cs) AS BIGINT)").alias("n_days"),
        F.expr(f"CAST(least({BACKTEST_H}, size(cs) - 1) AS INT)").alias("horizon"),
        F.expr(
            f"transform(sequence(1, least({BACKTEST_H}, size(cs) - 1)), h -> {err})"
        ).alias("errs"),
        F.expr(
            f"transform(sequence(1, least({BACKTEST_H}, size(cs) - 1)), h -> {ppm})"
        ).alias("ppms"),
    ).filter(F.col("horizon") >= 1)
    sum_abs = "aggregate(errs, CAST(0 AS BIGINT), (a, x) -> a + abs(x))"
    sum_err = "aggregate(errs, CAST(0 AS BIGINT), (a, x) -> a + x)"
    sum_ppm = "aggregate(ppms, CAST(0 AS BIGINT), (a, x) -> a + x)"
    d = dl.SPARK
    mae = dl.round_ratio(d, sum_abs, f"(horizon * {EWMA_SCALE})")
    mape = dl.round_ratio(d, sum_ppm, "(horizon * 1000000)")
    bias = (
        f"CASE WHEN {sum_err} >= 0 THEN "
        f"{dl.round_ratio(d, sum_err, f'(horizon * {EWMA_SCALE})')} "
        f"ELSE -{dl.round_ratio(d, f'(-({sum_err}))', f'(horizon * {EWMA_SCALE})')} END"
    )
    return folded.select(
        "event_type",
        "n_days",
        "horizon",
        F.expr(mae).alias("mae"),
        F.expr(mape).alias("mape"),
        F.expr(bias).alias("bias"),
    ).orderBy("event_type")


def _oracle_backtest() -> str:
    d = dl.DUCK
    lvl = (
        f"list_reduce(list_prepend(cs[1] * {EWMA_SCALE}, cs[2:len(cs) - h]), "
        f"(acc, x) -> ({EWMA_NUM} * x * {EWMA_SCALE} "
        f"+ {EWMA_DEN - EWMA_NUM} * acc) // {EWMA_DEN})"
    )
    err = f"(cs[len(cs) - h + 1] * {EWMA_SCALE} - ({lvl}))"
    ppm = f"((2 * abs({err}) * 1000000 + cs[len(cs) - h + 1] * {EWMA_SCALE}) // (2 * cs[len(cs) - h + 1] * {EWMA_SCALE}))"
    sum_abs = "CAST(list_sum(list_transform(errs, x -> abs(x))) AS BIGINT)"
    sum_err = "CAST(list_sum(errs) AS BIGINT)"
    sum_ppm = "CAST(list_sum(ppms) AS BIGINT)"
    mae = dl.round_ratio(d, sum_abs, f"(horizon * {EWMA_SCALE})")
    mape = dl.round_ratio(d, sum_ppm, "(horizon * 1000000)")
    bias = (
        f"CASE WHEN {sum_err} >= 0 THEN "
        f"{dl.round_ratio(d, sum_err, f'(horizon * {EWMA_SCALE})')} "
        f"ELSE -{dl.round_ratio(d, f'(-({sum_err}))', f'(horizon * {EWMA_SCALE})')} END"
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), arr AS (
  SELECT event_type, array_agg(c ORDER BY day) AS cs FROM daily GROUP BY 1
), folded AS (
  SELECT event_type, CAST(len(cs) AS BIGINT) AS n_days,
    CAST(least({BACKTEST_H}, len(cs) - 1) AS INT) AS horizon,
    list_transform(generate_series(1, least({BACKTEST_H}, len(cs) - 1)),
                   h -> {err}) AS errs,
    list_transform(generate_series(1, least({BACKTEST_H}, len(cs) - 1)),
                   h -> {ppm}) AS ppms
  FROM arr
)
SELECT event_type, n_days, horizon,
  {mae} AS mae, {mape} AS mape, {bias} AS bias
FROM folded WHERE horizon >= 1 ORDER BY event_type
"""


# ---------------------------------------------------------------- permutation
PERM_REPS = 64
PERM_GROUP_A = "click"
PERM_GROUP_B = "purchase"


def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (permutation-style) test of the mean-value difference
    between two event types, with SEEDED relabeling: replicate r assigns
    each row to pseudo-group A' when the first md5 nibble of
    (event_id|r) < 8 — a Bernoulli(1/2) relabeling, the standard
    large-sample approximation to label permutation (group sizes float
    around the observed split instead of being held exactly fixed;
    document over a thousand rows the two are indistinguishable). The
    keyed hash replaces an RNG for the same reason events_dp_counts
    seeds its Laplace draws: replayable, retry-stable, engine-exact.
    p = (1 + #{|diff_r| >= |diff_obs|}) / (R + 1), the add-one rule that
    keeps p valid (Phipson & Smyth 2010).

    Float discipline: all sums are exact integer cents; each replicate's
    mean difference and the observed one are formed by the identical
    division/subtraction op sequence on those exact integers, so the
    comparison |diff_r| >= |diff_obs| sees bit-identical doubles in both
    engines (no quantization needed for a comparison of identically
    constructed values).

    Scale: the replicate explode is a map-side xR fan-out that partial-
    aggregates to R rows before the shuffle — total shuffle volume is
    R + 1 tiny rows regardless of data size; compute is one R-way pass
    over the filtered pair of groups (embarrassingly parallel)."""
    d = dl.SPARK
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(PERM_GROUP_A, PERM_GROUP_B)
    )
    # fan_out_small (r14): the replicate relabeling below computes R md5s
    # per row — on the single-row-group local fixture that whole fan-out
    # ran as ONE task. The floor shuffles only the 3-column slim base.
    base = fan_out_small(
        e.select(
            "event_type",
            F.col("event_id").cast("string").alias("eid"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        ),
        spark,
    )
    obs = base.groupBy().agg(
        F.sum(F.when(F.col("event_type") == PERM_GROUP_A, F.col("cents"))).alias("sa"),
        F.count(F.when(F.col("event_type") == PERM_GROUP_A, F.lit(1))).alias("na"),
        F.sum(F.when(F.col("event_type") == PERM_GROUP_B, F.col("cents"))).alias("sb"),
        F.count(F.when(F.col("event_type") == PERM_GROUP_B, F.lit(1))).alias("nb"),
    )
    nib = dl.md5_prefix_nibble(d, "concat(eid, '|', CAST(r AS STRING))")
    reps = (
        base.select(
            "eid",
            "cents",
            F.explode(F.expr(f"sequence(0, {PERM_REPS - 1})")).alias("r"),
        )
        .withColumn("to_a", F.expr(f"({nib}) < 8"))
        .groupBy("r")
        .agg(
            F.sum(F.when(F.col("to_a"), F.col("cents"))).alias("sa_r"),
            F.count(F.when(F.col("to_a"), F.lit(1))).alias("na_r"),
            F.sum(F.when(~F.col("to_a"), F.col("cents"))).alias("sb_r"),
            F.count(F.when(~F.col("to_a"), F.lit(1))).alias("nb_r"),
        )
    )
    # identical op shape in both engines: mean diff in dollars from exact
    # cent sums
    diff = lambda sa, na, sb, nb: (  # noqa: E731
        F.col(sa) / (F.col(na) * F.lit(100.0)) - F.col(sb) / (F.col(nb) * F.lit(100.0))
    )
    joined = reps.crossJoin(F.broadcast(obs))  # 1-row scalar side
    extreme = joined.groupBy().agg(
        F.sum(
            F.when(
                F.abs(diff("sa_r", "na_r", "sb_r", "nb_r"))
                >= F.abs(diff("sa", "na", "sb", "nb")),
                1,
            ).otherwise(0)
        ).alias("n_extreme"),
        F.first("sa").alias("sa"),
        F.first("na").alias("na"),
        F.first("sb").alias("sb"),
        F.first("nb").alias("nb"),
    )
    p_perm = dl.round_ratio(d, "(1 + n_extreme)", f"({PERM_REPS} + 1)", 4)
    return extreme.select(
        F.lit(PERM_GROUP_A).alias("group_a"),
        F.lit(PERM_GROUP_B).alias("group_b"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(diff("sa", "na", "sb", "nb"), 4).alias("obs_diff"),
        F.lit(PERM_REPS).alias("n_reps"),
        "n_extreme",
        F.expr(p_perm).alias("p_perm"),
    )


def _oracle_permutation() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "concat(eid, '|', CAST(r AS VARCHAR))")
    p_perm = dl.round_ratio(d, "(1 + n_extreme)", f"({PERM_REPS} + 1)", 4)
    return f"""
WITH base AS (
  SELECT event_type, CAST(event_id AS VARCHAR) AS eid,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('{PERM_GROUP_A}', '{PERM_GROUP_B}')
), obs AS (
  SELECT
    sum(CASE WHEN event_type = '{PERM_GROUP_A}' THEN cents END) AS sa,
    count(CASE WHEN event_type = '{PERM_GROUP_A}' THEN 1 END) AS na,
    sum(CASE WHEN event_type = '{PERM_GROUP_B}' THEN cents END) AS sb,
    count(CASE WHEN event_type = '{PERM_GROUP_B}' THEN 1 END) AS nb
  FROM base
), reps AS (
  SELECT r,
    sum(CASE WHEN to_a THEN cents END) AS sa_r,
    count(CASE WHEN to_a THEN 1 END) AS na_r,
    sum(CASE WHEN NOT to_a THEN cents END) AS sb_r,
    count(CASE WHEN NOT to_a THEN 1 END) AS nb_r
  FROM (
    SELECT cents, r, ({nib}) < 8 AS to_a
    FROM base, unnest(generate_series(0, {PERM_REPS - 1})) AS t(r)
  ) GROUP BY r
), extreme AS (
  SELECT
    sum(CASE WHEN abs(sa_r / (na_r * 100.0) - sb_r / (nb_r * 100.0))
              >= abs(sa / (na * 100.0) - sb / (nb * 100.0))
         THEN 1 ELSE 0 END) AS n_extreme,
    any_value(sa) AS sa, any_value(na) AS na,
    any_value(sb) AS sb, any_value(nb) AS nb
  FROM reps CROSS JOIN obs
)
SELECT '{PERM_GROUP_A}' AS group_a, '{PERM_GROUP_B}' AS group_b,
  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
  round(sa / (na * 100.0) - sb / (nb * 100.0), 4) AS obs_diff,
  CAST({PERM_REPS} AS INT) AS n_reps,
  CAST(n_extreme AS BIGINT) AS n_extreme,
  {p_perm} AS p_perm
FROM extreme
"""


# ---------------------------------------------------------------- ANOVA
ANOVA_DOW = "((unix_timestamp(ts) DIV 86400) + 4) % 7"
ANOVA_DOW_DUCK = "(((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7)"


def _anova_readout(k: str, n: str, s1: str, s2: str, t: str) -> tuple[str, str]:
    """Shared IEEE readout from the five exact per-type BIGINTs: F and
    eta-squared of the between/within sum-of-squares decomposition.
    Identical expression text in both engines (the ks_lambda convention);
    ssb/ssw derive from integers only."""
    s1d = f"CAST({s1} AS DOUBLE)"
    ssb = f"(CAST({t} AS DOUBLE) - {s1d} * {s1d} / {n})"
    ssw = f"(CAST({s2} AS DOUBLE) - CAST({t} AS DOUBLE))"
    sst = f"(CAST({s2} AS DOUBLE) - {s1d} * {s1d} / {n})"
    f_ = f"(({ssb} / ({k} - 1)) / ({ssw} / ({n} - {k})))"
    guard = f"{k} < 2 OR {n} <= {k} OR {ssw} <= 0"
    return (
        f"CASE WHEN {guard} THEN 0.0 ELSE round({f_}, 4) END AS f_stat",
        f"CASE WHEN {sst} <= 0 THEN 0.0 ELSE round({ssb} / {sst}, 4) END AS eta_sq",
    )


def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across day-of-week groups, per
    event_type — the k-group generalization of the A/B mean test
    (events_ab_test_lift): does the day of week move the mean at all?
    F = (SSB/(k-1)) / (SSW/(N-k)), eta-squared = SSB/SS_total.

    Exact arithmetic: values quantize to cents; per-(type, dow) n/s1/s2
    are exact BIGINTs. The one rational the decomposition needs,
    sum over groups of s1_g^2/n_g, is quantized per group by HALF-UP
    integer division (t_g = (2*s1^2 + n) DIV (2*n), exact in both
    engines) and summed as BIGINT, so no float ever enters a SUM. The
    final F/eta are one shared IEEE expression over the five exact
    integers. Overflow bound: s1_g^2 fits BIGINT to ~3e9 group-cents
    (~30M $1 events per (type, dow)); past that promote to
    DECIMAL(38,0) (repo convention, see stats_mannwhitney).

    Scale: one (type, dow) hash agg (35 cells), one type-grain agg.
    Nothing downstream of the first agg is data-sized."""
    e = load_table(spark, sf_dir, "events")
    g = (
        e.select(
            "event_type",
            F.expr(ANOVA_DOW).alias("dow"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("ng"),
            F.sum("cents").alias("s1g"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2g"),
        )
        .withColumn(
            "tg", F.expr("(2 * s1g * s1g + ng) DIV (2 * ng)")
        )
    )
    agg = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s1g").alias("s1"),
        F.sum("s2g").alias("s2"),
        F.sum("tg").alias("t"),
    )
    return agg.selectExpr(
        "event_type",
        "CAST(k AS INT) AS k_groups",
        "n",
        *_anova_readout("k", "n", "s1", "s2", "t"),
    ).orderBy("event_type")


def _oracle_anova() -> str:
    return f"""
WITH g AS (
  SELECT event_type, {ANOVA_DOW_DUCK} AS dow,
    count(*) AS ng,
    sum(CAST(round(value * 100) AS BIGINT)) AS s1g,
    sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS s2g
  FROM events GROUP BY 1, 2
), gt AS (
  SELECT event_type, ng, s1g, s2g,
    ((2 * s1g * s1g + ng) // (2 * ng)) AS tg
  FROM g
), agg AS (
  SELECT event_type, count(*) AS k, sum(ng) AS n, sum(s1g) AS s1,
    sum(s2g) AS s2, sum(tg) AS t
  FROM gt GROUP BY 1
)
SELECT event_type, CAST(k AS INT) AS k_groups, CAST(n AS BIGINT) AS n,
  {', '.join(_anova_readout('k', 'n', 's1', 's2', 't'))}
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------- Spearman
def _spearman_rho(n: str, sx: str, sy: str, sxx: str, syy: str, sxy: str) -> str:
    """Pearson over tie-averaged DOUBLED ranks (r2 = 2*avg_rank, always an
    integer): rho = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2)).
    The doubling cancels. Products are formed in DOUBLE (n*Sxy overflows
    BIGINT at ~1e5 rows) — one shared IEEE expression over exact ints."""
    terms = {c: f"CAST({c} AS DOUBLE)" for c in (n, sx, sy, sxx, syy, sxy)}
    num = f"({terms[n]} * {terms[sxy]} - {terms[sx]} * {terms[sy]})"
    vx = f"({terms[n]} * {terms[sxx]} - {terms[sx]} * {terms[sx]})"
    vy = f"({terms[n]} * {terms[syy]} - {terms[sy]} * {terms[sy]})"
    return (
        f"CASE WHEN {vx} <= 0 OR {vy} <= 0 THEN 0.0 "
        f"ELSE round({num} / sqrt({vx} * {vy}), 4) END"
    )


def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and hour-of-day, per
    event_type — the robust monotone-association readout that completes
    the correlation family: stats_correlation_matrix is Pearson (linear,
    outlier-fragile), stats_cramers_v is categorical; Spearman asks "do
    larger values happen later in the day?" without distribution or
    linearity assumptions.

    Exact arithmetic: ranks are tie-averaged, carried as the exact
    integer r2 = 2*cum_before + cnt + 1 (the stats_mannwhitney doubled-
    rank convention, never a fraction). Rank maps are built on the VALUE
    DOMAIN (distinct cents per type) and the 24 hours, then joined to
    the (type, cents, hour) joint-count cells — so every sum is an exact
    BIGINT over cell-grain rows. Overflow: sum(cnt*r2x*r2y) ~ 4n^3 fits
    BIGINT to ~1.3M rows per type; past that promote to DECIMAL(38,0).

    Scale: one (type, cents, hour) hash agg; windows partition by type
    over the VALUE DOMAIN (never event-sized); two bounded equi-joins
    cell->rank-map; one type-grain final agg."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.expr("CAST((unix_timestamp(ts) DIV 3600) % 24 AS BIGINT)").alias("hod"),
    )
    # one events scan (r14): the rank maps derive EXACTLY from the joint
    # cells (per-(type,col) count = sum over the other axis of cell cnt),
    # so base is scanned once and the lazily-pinned value-domain cells
    # feed all three consumers — before, each rank map re-scanned events.
    joint = (
        base.groupBy("event_type", "cents", "hod")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    def rank_map(col: str):
        per = joint.groupBy("event_type", col).agg(F.sum("cnt").alias("c"))
        wt = (
            W.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        return per.select(
            "event_type",
            col,
            (
                2 * F.coalesce(F.sum("c").over(wt), F.lit(0)) + F.col("c") + 1
            ).alias(f"r2_{col}"),
        )
    withranks = joint.join(rank_map("cents"), ["event_type", "cents"]).join(
        rank_map("hod"), ["event_type", "hod"]
    )
    agg = withranks.groupBy("event_type").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("r2_cents")).alias("sx"),
        F.sum(F.col("cnt") * F.col("r2_hod")).alias("sy"),
        F.sum(F.col("cnt") * F.col("r2_cents") * F.col("r2_cents")).alias("sxx"),
        F.sum(F.col("cnt") * F.col("r2_hod") * F.col("r2_hod")).alias("syy"),
        F.sum(F.col("cnt") * F.col("r2_cents") * F.col("r2_hod")).alias("sxy"),
    )
    return agg.selectExpr(
        "event_type",
        "n",
        _spearman_rho("n", "sx", "sy", "sxx", "syy", "sxy") + " AS rho",
    ).orderBy("event_type")


def _oracle_spearman() -> str:
    return f"""
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
    ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24) AS hod
  FROM events
), joint AS (
  SELECT event_type, cents, hod, count(*) AS cnt FROM base GROUP BY 1, 2, 3
), rv AS (
  SELECT event_type, cents,
    2 * coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY cents
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2v
  FROM (SELECT event_type, cents, count(*) AS c FROM base GROUP BY 1, 2)
), rh AS (
  SELECT event_type, hod,
    2 * coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY hod
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2h
  FROM (SELECT event_type, hod, count(*) AS c FROM base GROUP BY 1, 2)
), agg AS (
  SELECT j.event_type, sum(cnt) AS n,
    sum(cnt * r2v) AS sx, sum(cnt * r2h) AS sy,
    sum(cnt * r2v * r2v) AS sxx, sum(cnt * r2h * r2h) AS syy,
    sum(cnt * r2v * r2h) AS sxy
  FROM joint j
  JOIN rv ON rv.event_type = j.event_type AND rv.cents = j.cents
  JOIN rh ON rh.event_type = j.event_type AND rh.hod = j.hod
  GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n,
  {_spearman_rho('n', 'sx', 'sy', 'sxx', 'syy', 'sxy')} AS rho
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------- Benford
def events_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of event values, per event_type: the
    observed leading-digit distribution of the integer cents vs the
    Benford expectation P(d) = log10(1 + 1/d), with per-digit chi-square
    contributions — the classic synthetic-data / fraud smell test (a
    generator that draws uniforms fails it loudly, which is itself a
    useful corpus fingerprint).

    Determinism: the leading digit comes from the DECIMAL STRING of the
    exact BIGINT cents (substring of CAST(cents AS STRING)) — never from
    floor(log10(double)), whose libm last-bit can differ across engines
    at powers of ten. Counts are exact; expected/contrib are one shared
    IEEE expression over (n, d) with ln() on integer-valued doubles.

    Scale: one (type, digit) hash agg (45 cells); the per-type total
    rides a 45-row window. Nothing downstream is data-sized."""
    e = load_table(spark, sf_dir, "events")
    obs = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .filter(F.col("cents") > 0)
        .withColumn("digit", F.expr("CAST(substring(CAST(cents AS STRING), 1, 1) AS INT)"))
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    w = W.partitionBy("event_type")
    exp_ = "(CAST(n AS DOUBLE) * ln(1.0 + 1.0 / digit) / ln(10.0))"
    return (
        obs.withColumn("n", F.sum("observed").over(w))
        .selectExpr(
            "event_type",
            "digit",
            "observed",
            f"round({exp_}, 4) AS expected",
            f"round((CAST(observed AS DOUBLE) - {exp_}) * (CAST(observed AS DOUBLE) - {exp_}) / {exp_}, 4) AS chi2_contrib",
        )
        .orderBy("event_type", "digit")
    )


def _oracle_benford() -> str:
    exp_ = "(CAST(n AS DOUBLE) * ln(1.0 + 1.0 / digit) / ln(10.0))"
    return f"""
WITH obs AS (
  SELECT event_type,
    CAST(substring(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
    count(*) AS observed
  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0
  GROUP BY 1, 2
), tot AS (
  SELECT event_type, digit, observed,
    sum(observed) OVER (PARTITION BY event_type) AS n
  FROM obs
)
SELECT event_type, digit, CAST(observed AS BIGINT) AS observed,
  round({exp_}, 4) AS expected,
  round((CAST(observed AS DOUBLE) - {exp_}) * (CAST(observed AS DOUBLE) - {exp_}) / {exp_}, 4) AS chi2_contrib
FROM tot ORDER BY event_type, digit
"""


# ---------------------------------------------------------------- mutual info
MI_Q = 10**12  # per-cell information terms quantized before the SUM


def _mi_pair_spark(df: DataFrame, a: str, b: str, weight: str | None = None) -> DataFrame:
    # weight: name of a pre-aggregated cell-count column (sum(cnt) == the
    # row count, exact BIGINT either way). Lazy localCheckpoint (r14):
    # obs has FOUR consumers (ra, cb, nn, mi) — without the pin the input
    # scan + contingency agg re-execute per consumer.
    o_agg = F.sum(weight) if weight else F.count(F.lit(1))
    obs = df.groupBy(a, b).agg(o_agg.alias("o")).localCheckpoint(eager=False)
    ra = obs.groupBy(a).agg(F.sum("o").alias("rt"))
    cb = obs.groupBy(b).agg(F.sum("o").alias("ct"))
    nn = obs.groupBy().agg(F.sum("o").alias("n"))
    mi_term = (
        f"CAST(floor((CAST(o AS DOUBLE) / n) * ln((CAST(o AS DOUBLE) * n) "
        f"/ (CAST(rt AS DOUBLE) * ct)) * {MI_Q}) AS BIGINT)"
    )
    h_term = (
        f"CAST(floor(-(CAST({{c}} AS DOUBLE) / n) * ln(CAST({{c}} AS DOUBLE) / n) "
        f"* {MI_Q}) AS BIGINT)"
    )
    mi = (
        obs.join(F.broadcast(ra), a)
        .join(F.broadcast(cb), b)
        .crossJoin(F.broadcast(nn))
        .withColumn("t", F.expr(mi_term))
        .groupBy("n")
        .agg(F.sum("t").alias("mi_q"))
    )
    ha = (
        ra.crossJoin(F.broadcast(nn))
        .selectExpr(f"{h_term.format(c='rt')} AS t")
        .groupBy()
        .agg(F.sum("t").alias("ha_q"))
    )
    hb = (
        cb.crossJoin(F.broadcast(nn))
        .selectExpr(f"{h_term.format(c='ct')} AS t")
        .groupBy()
        .agg(F.sum("t").alias("hb_q"))
    )
    out = mi.crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb))
    qd = f"{MI_Q}.0"
    return out.selectExpr(
        f"'{a}' AS var_a",
        f"'{b}' AS var_b",
        "n",
        f"round(mi_q / {qd} / ln(2.0), 4) AS mi_bits",
        f"round(ha_q / {qd} / ln(2.0), 4) AS h_a_bits",
        f"round(hb_q / {qd} / ln(2.0), 4) AS h_b_bits",
        f"CASE WHEN ha_q <= 0 OR hb_q <= 0 THEN 0.0 ELSE "
        f"round(CAST(mi_q AS DOUBLE) / sqrt(CAST(ha_q AS DOUBLE) * hb_q), 4) "
        f"END AS nmi",
    )


def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information matrix over the same categorical pairs as
    stats_cramers_v (event type x day-of-week x value bin) — the
    information-theoretic association measure feature-selection reads
    (Cover & Thomas): MI in bits, the marginal entropies, and the
    sqrt-normalized NMI in [0, 1]. Together with V this tells you not
    just THAT two dimensions associate but how many bits one buys you
    about the other.

    Float discipline: per-cell (p*ln(p/(px*py))) and per-marginal
    (-p*ln p) terms are the identical double op sequence over exact
    integers in both engines, floor-quantized to 1e-12 fixed point
    BEFORE the sums (the ENT_SCALE convention); displayed values are
    rounds of the exact quantized sums. MI can floor-quantize a hair
    below 0 for independent pairs — that is the defined statistic in
    both engines, not drift.

    Scale: the stats_cramers_v plan shape — one contingency hash agg per
    pair (category-space sized), marginal/total broadcasts, 1-row
    results; three independent branches of one union plan."""
    e = load_table(spark, sf_dir, "events")
    dow = F.expr("((unix_timestamp(ts) DIV 86400) + 4) % 7")
    vb = F.expr("CAST(least(floor(value / 50.0), 9) AS BIGINT)")
    base = e.select(
        F.col("event_type").alias("etype"),
        dow.cast("string").alias("dow"),
        vb.cast("string").alias("vbin"),
    )
    # one events scan (r14): the three pair branches each derive their
    # contingency table EXACTLY from the pinned 3-way category cells
    # (sum(cnt) over the dropped axis == the pair count) — before, every
    # branch (and every consumer inside it) re-scanned events.
    cells = (
        base.groupBy("etype", "dow", "vbin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    out = (
        _mi_pair_spark(cells, "etype", "dow", weight="cnt")
        .union(_mi_pair_spark(cells, "etype", "vbin", weight="cnt"))
        .union(_mi_pair_spark(cells, "dow", "vbin", weight="cnt"))
    )
    return out.orderBy("var_a", "var_b")


def _oracle_mutual_information() -> str:
    dow = "CAST((((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7) AS VARCHAR)"
    vb = "CAST(CAST(least(floor(value / 50.0), 9) AS BIGINT) AS VARCHAR)"
    mi_term = (
        f"CAST(floor((CAST(o AS DOUBLE) / n) * ln((CAST(o AS DOUBLE) * n) "
        f"/ (CAST(rt AS DOUBLE) * ct)) * {MI_Q}) AS BIGINT)"
    )

    def h_term(c: str) -> str:
        return (
            f"CAST(floor(-(CAST({c} AS DOUBLE) / n) * ln(CAST({c} AS DOUBLE) / n) "
            f"* {MI_Q}) AS BIGINT)"
        )

    qd = f"{MI_Q}.0"

    def pair(a: str, b: str) -> str:
        return f"""
SELECT '{a}' AS var_a, '{b}' AS var_b, n,
  round(mi_q / {qd} / ln(2.0), 4) AS mi_bits,
  round(ha_q / {qd} / ln(2.0), 4) AS h_a_bits,
  round(hb_q / {qd} / ln(2.0), 4) AS h_b_bits,
  CASE WHEN ha_q <= 0 OR hb_q <= 0 THEN 0.0 ELSE
    round(CAST(mi_q AS DOUBLE) / sqrt(CAST(ha_q AS DOUBLE) * hb_q), 4)
  END AS nmi
FROM (
  SELECT n, sum({mi_term}) AS mi_q FROM (
    SELECT o.o, ra.rt, cb.ct, nn.n
    FROM (SELECT {a} AS va, {b} AS vb_, count(*) AS o FROM base GROUP BY 1, 2) o
    JOIN (SELECT {a} AS va, count(*) AS rt FROM base GROUP BY 1) ra ON ra.va = o.va
    JOIN (SELECT {b} AS vb_, count(*) AS ct FROM base GROUP BY 1) cb ON cb.vb_ = o.vb_
    CROSS JOIN (SELECT count(*) AS n FROM base) nn
  ) GROUP BY n
) mi
CROSS JOIN (
  SELECT sum({h_term('rt')}) AS ha_q FROM (
    SELECT count(*) AS rt FROM base GROUP BY {a}
  ) CROSS JOIN (SELECT count(*) AS n FROM base)
) ha
CROSS JOIN (
  SELECT sum({h_term('ct')}) AS hb_q FROM (
    SELECT count(*) AS ct FROM base GROUP BY {b}
  ) CROSS JOIN (SELECT count(*) AS n FROM base)
) hb"""

    return f"""
WITH base AS (
  SELECT event_type AS etype, {dow} AS dow, {vb} AS vbin FROM events
)
{pair('etype', 'dow')}
UNION ALL {pair('etype', 'vbin')}
UNION ALL {pair('dow', 'vbin')}
ORDER BY var_a, var_b
"""


# ---------------------------------------------------------------- Hill tail
HILL_KMAX = 200  # order-statistics cap for the tail estimate
HILL_Q = 10**9   # per-cell ln terms quantized before the SUM


def events_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail index per event_type via the Hill estimator over the
    top k = min(HILL_KMAX, n DIV 10) order statistics:
    alpha = k / sum_{i<=k} ln(x_(i) / x_(k+1)) — the standard tail
    exponent readout (Hill 1975) that tells a capacity/abuse model
    whether the value distribution has finite variance (alpha > 2) or
    is Pareto-wild. Complements textstats_zipf_fit (rank-frequency) on
    the numeric-value axis.

    Tie discipline: order statistics are taken from the VALUE DOMAIN
    with cumulative counts, so engines never rank-break ties — a cell
    covering descending positions [cumb+1, cumb+cnt] contributes
    min(cumb+cnt, k) - cumb copies of ln(cents/x_(k+1)), and x_(k+1) is
    the unique cell spanning position k+1. Per-cell ln terms are
    floor-quantized to 1e-9 BEFORE the sum (ENT_SCALE convention).

    Scale: value-domain grain per type; windows partition by type; the
    per-type (k, x_k1) thresholds ride a type-grain broadcast join."""
    e = load_table(spark, sf_dir, "events")
    per = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .filter(F.col("cents") > 0)
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wt = (
        W.partitionBy("event_type")
        .orderBy(F.desc("cents"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cells = per.withColumn(
        "cumb", F.coalesce(F.sum("cnt").over(wt), F.lit(0))
    ).withColumn("n", F.sum("cnt").over(W.partitionBy("event_type")))
    kk = F.expr(f"least(CAST({HILL_KMAX} AS BIGINT), n DIV 10)")
    # lazy localCheckpoint (r14): thr AND agg both consume cells — without
    # the pin the events scan + both windows execute twice per run. The
    # pinned relation is value-domain grain (bounded), the §8 rule.
    cells = cells.withColumn("k", kk).localCheckpoint(eager=False)
    thr = cells.filter(
        (F.col("cumb") <= F.col("k")) & (F.col("cumb") + F.col("cnt") > F.col("k"))
    ).select("event_type", F.col("cents").alias("xk1"))
    term = (
        f"CAST(floor(CAST(least(cumb + cnt, k) - cumb AS DOUBLE) "
        f"* ln(CAST(cents AS DOUBLE) / xk1) * {HILL_Q}) AS BIGINT)"
    )
    agg = (
        cells.filter(F.col("cumb") < F.col("k"))
        .join(F.broadcast(thr), "event_type")
        .selectExpr("event_type", "n", "k", "xk1", f"{term} AS t")
        .groupBy("event_type", "n", "k", "xk1")
        .agg(F.sum("t").alias("s_q"))
    )
    return agg.selectExpr(
        "event_type",
        "n",
        "k",
        f"{dl.round_ratio(dl.SPARK, 'xk1', '100')} AS tail_threshold",
        f"CASE WHEN s_q <= 0 THEN 0.0 ELSE "
        f"round(CAST(k AS DOUBLE) * {HILL_Q} / s_q, 4) END AS hill_alpha",
    ).orderBy("event_type")


def _oracle_hill() -> str:
    term = (
        f"CAST(floor(CAST(least(cumb + cnt, k) - cumb AS DOUBLE) "
        f"* ln(CAST(cents AS DOUBLE) / xk1) * {HILL_Q}) AS BIGINT)"
    )
    return f"""
WITH per AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS cnt
  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0
  GROUP BY 1, 2
), cells AS (
  SELECT event_type, cents, cnt,
    coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
    sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM per
), kc AS (
  SELECT *, least(CAST({HILL_KMAX} AS BIGINT), n // 10) AS k FROM cells
), thr AS (
  SELECT event_type, cents AS xk1 FROM kc
  WHERE cumb <= k AND cumb + cnt > k
), agg AS (
  SELECT kc.event_type, n, k, xk1, sum({term}) AS s_q
  FROM kc JOIN thr ON thr.event_type = kc.event_type
  WHERE cumb < k
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
  {dl.round_ratio(dl.DUCK, 'xk1', '100')} AS tail_threshold,
  CASE WHEN s_q <= 0 THEN 0.0 ELSE
    round(CAST(k AS DOUBLE) * {HILL_Q} / s_q, 4) END AS hill_alpha
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------- Levene/BF
def stats_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene's test with group MEDIANS) for
    variance homogeneity of event value across day-of-week groups, per
    event_type — the assumption check for stats_anova_oneway (ANOVA's F
    assumes equal group variances; BF is the robust way to ask whether
    that premise even holds): an ANOVA F computed on the absolute
    deviations |x - median(group)|.

    Exact arithmetic: group medians come from value-domain cumulative
    counts — med2 = x_(floor((n+1)/2)) + x_(ceil((n+1)/2)) is 2*median
    as an exact BIGINT, so the per-row deviation |2*cents - med2| is an
    exact integer at 2x scale (scale cancels inside F). The F/eta
    readout is the stats_anova_oneway machinery verbatim (_anova_readout
    over exact group n/s1/s2 and the half-up-quantized s1^2/n sum).

    Scale: one (type, dow, cents) hash agg for medians (value-domain
    grain); the 35-row median map rides a broadcast join back onto the
    SAME value-domain cells (r14: deviations are constant within a
    (type, dow, cents) cell, so the per-group sums are the cnt-weighted
    cell sums — the former form re-scanned the events table a second
    time to fold row-grain deviations the cells already determine); then
    the ANOVA aggs (35 cells -> 5 rows). The cells relation feeds both
    the median window and the deviation agg, so it rides a lazy
    localCheckpoint — one events scan per run, value-domain rows
    pinned (the same grain the median shuffle already moves)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr(ANOVA_DOW).alias("dow"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    per = (
        base.groupBy("event_type", "dow", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    wt = (
        W.partitionBy("event_type", "dow")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cells = per.withColumn(
        "cumb", F.coalesce(F.sum("cnt").over(wt), F.lit(0))
    ).withColumn("ng", F.sum("cnt").over(W.partitionBy("event_type", "dow")))
    med = cells.groupBy("event_type", "dow").agg(
        F.min(
            F.when(
                F.col("cumb") + F.col("cnt") >= F.expr("(ng + 1) DIV 2"),
                F.col("cents"),
            )
        ).alias("m_lo"),
        F.min(
            F.when(
                F.col("cumb") + F.col("cnt") >= F.expr("(ng + 2) DIV 2"),
                F.col("cents"),
            )
        ).alias("m_hi"),
    )
    dev = per.join(F.broadcast(med), ["event_type", "dow"]).selectExpr(
        "event_type", "dow", "cnt", "abs(2 * cents - (m_lo + m_hi)) AS dv"
    )
    g = (
        dev.groupBy("event_type", "dow")
        .agg(
            F.sum("cnt").alias("ng"),
            F.sum(F.col("cnt") * F.col("dv")).alias("s1g"),
            F.sum(F.col("cnt") * F.col("dv") * F.col("dv")).alias("s2g"),
        )
        .withColumn("tg", F.expr("(2 * s1g * s1g + ng) DIV (2 * ng)"))
    )
    agg = g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("s1g").alias("s1"),
        F.sum("s2g").alias("s2"),
        F.sum("tg").alias("t"),
    )
    f_expr, eta_expr = _anova_readout("k", "n", "s1", "s2", "t")
    return agg.selectExpr(
        "event_type",
        "CAST(k AS INT) AS k_groups",
        "n",
        f_expr.replace(" AS f_stat", " AS bf_stat"),
        eta_expr,
    ).orderBy("event_type")


def _oracle_levene() -> str:
    f_expr, eta_expr = _anova_readout("k", "n", "s1", "s2", "t")
    return f"""
WITH base AS (
  SELECT event_type, {ANOVA_DOW_DUCK} AS dow,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), per AS (
  SELECT event_type, dow, cents, count(*) AS cnt FROM base GROUP BY 1, 2, 3
), cells AS (
  SELECT event_type, dow, cents, cnt,
    coalesce(sum(cnt) OVER (PARTITION BY event_type, dow ORDER BY cents
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
    sum(cnt) OVER (PARTITION BY event_type, dow) AS ng
  FROM per
), med AS (
  SELECT event_type, dow,
    min(CASE WHEN cumb + cnt >= ((ng + 1) // 2) THEN cents END) AS m_lo,
    min(CASE WHEN cumb + cnt >= ((ng + 2) // 2) THEN cents END) AS m_hi
  FROM cells GROUP BY 1, 2
), dev AS (
  SELECT b.event_type, b.dow, abs(2 * cents - (m_lo + m_hi)) AS dv
  FROM base b JOIN med ON med.event_type = b.event_type AND med.dow = b.dow
), g AS (
  SELECT event_type, dow, count(*) AS ng, sum(dv) AS s1g, sum(dv * dv) AS s2g,
    ((2 * sum(dv) * sum(dv) + count(*)) // (2 * count(*))) AS tg
  FROM dev GROUP BY 1, 2
), agg AS (
  SELECT event_type, count(*) AS k, sum(ng) AS n, sum(s1g) AS s1,
    sum(s2g) AS s2, sum(tg) AS t
  FROM g GROUP BY 1
)
SELECT event_type, CAST(k AS INT) AS k_groups, CAST(n AS BIGINT) AS n,
  {f_expr.replace(' AS f_stat', ' AS bf_stat')}, {eta_expr}
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------------------- WoW report
MA_WEEKS = 4  # trailing moving-average span


def orders_wow_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekly business readout: revenue per epoch week with
    week-over-week percentage change and a trailing 4-week moving
    average — the dashboard query every revenue pipeline ships (the
    reference's only analytic output is the windowed hashtag count;
    this is the same key->window->readout shape on the money axis).

    Exact arithmetic: weekly sums are BIGINT cents; WoW% is one shared
    IEEE division of exact integers (signed, so round_ratio's
    non-negative contract doesn't apply — the ks_lambda convention
    instead); the moving average is a half-up integer ratio.

    Scale: one week-grain hash agg; the windows run over the WEEK
    domain (calendar-bounded — decades fit in thousands of rows), the
    repo's time-series-grain convention (events_ewma_forecast)."""
    o = load_table(spark, sf_dir, "orders")
    wk = (
        o.select(
            F.expr("unix_timestamp(o_orderdate) DIV 604800").alias("wk"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("rev"))
    )
    w = W.orderBy("wk")
    wma = W.orderBy("wk").rowsBetween(-(MA_WEEKS - 1), 0)
    d = dl.SPARK
    return (
        wk.withColumn("prev", F.lag("rev").over(w))
        .withColumn("ma_sum", F.sum("rev").over(wma))
        .withColumn("ma_n", F.count(F.lit(1)).over(wma))
        .selectExpr(
            "wk",
            "n_orders",
            f"{dl.round_ratio(d, 'rev', '100')} AS revenue",
            "CASE WHEN prev IS NULL OR prev = 0 THEN NULL ELSE "
            "round((CAST(rev AS DOUBLE) - prev) / prev * 100, 4) END AS wow_pct",
            f"{dl.round_ratio(d, 'ma_sum', '(ma_n * 100)')} AS ma4_revenue",
        )
        .orderBy("wk")
    )


def _oracle_wow() -> str:
    d = dl.DUCK
    return f"""
WITH wk AS (
  SELECT (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 604800) AS wk,
    count(*) AS n_orders,
    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
), win AS (
  SELECT wk, n_orders, rev,
    lag(rev) OVER (ORDER BY wk) AS prev,
    sum(rev) OVER (ORDER BY wk ROWS BETWEEN {MA_WEEKS - 1} PRECEDING
      AND CURRENT ROW) AS ma_sum,
    count(*) OVER (ORDER BY wk ROWS BETWEEN {MA_WEEKS - 1} PRECEDING
      AND CURRENT ROW) AS ma_n
  FROM wk
)
SELECT wk, n_orders, {dl.round_ratio(d, 'rev', '100')} AS revenue,
  CASE WHEN prev IS NULL OR prev = 0 THEN NULL ELSE
    round((CAST(rev AS DOUBLE) - prev) / prev * 100, 4) END AS wow_pct,
  {dl.round_ratio(d, 'ma_sum', '(ma_n * 100)')} AS ma4_revenue
FROM win ORDER BY wk
"""


# ---------------------------------------------------------------- SLA pctiles
LEAD_PCTS = (50, 90, 99)  # the SLA ladder


def lineitem_leadtime_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time SLA ladder per return flag: EXACT p50 /
    p90 / p99 (plus max) of days between o_orderdate and l_shipdate —
    the fulfillment-latency readout an ops dashboard pins, done with
    exact order statistics (the "lower" convention: value at position
    ceil(q*n/100)) so the tail numbers are auditable, unlike
    interpolated approximations.

    Determinism: lead days are exact integers (epoch-day subtraction);
    each percentile is the unique value-domain cell spanning its
    position — pure BIGINT interval arithmetic (the stats_trimmed_means
    machinery), no per-row rank, no tie ambiguity.

    Scale: the lineitem ⋈ orders equi-join (the TPC-H co-partition
    shape, bucketable on orderkey), then a (flag, lead_day) hash agg —
    value-domain grain per flag (lead times are calendar-bounded);
    windows partition by flag over that domain. The exact form IS the
    production form here because the value domain is tiny; for
    unbounded-domain metrics the GK sketch applies
    (percentiles_approx)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    base = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_returnflag",
        F.expr(
            "unix_timestamp(l_shipdate) DIV 86400 - "
            "unix_timestamp(o_orderdate) DIV 86400"
        ).alias("ld"),
    )
    per = base.groupBy("l_returnflag", "ld").agg(F.count(F.lit(1)).alias("cnt"))
    wt = (
        W.partitionBy("l_returnflag")
        .orderBy("ld")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cells = per.withColumn(
        "cumb", F.coalesce(F.sum("cnt").over(wt), F.lit(0))
    ).withColumn("n", F.sum("cnt").over(W.partitionBy("l_returnflag")))
    aggs = [F.max("n").alias("n")]
    for q in LEAD_PCTS:
        aggs.append(
            F.min(
                F.when(
                    F.col("cumb") + F.col("cnt")
                    >= F.expr(f"({q} * n + 99) DIV 100"),
                    F.col("ld"),
                )
            ).alias(f"p{q}_days")
        )
    aggs.append(F.max("ld").alias("max_days"))
    return (
        cells.groupBy("l_returnflag").agg(*aggs).orderBy("l_returnflag")
    )


def _oracle_leadtime() -> str:
    pct_cols = ",\n  ".join(
        f"min(CASE WHEN cumb + cnt >= (({q} * n + 99) // 100) THEN ld END) "
        f"AS p{q}_days"
        for q in LEAD_PCTS
    )
    return f"""
WITH base AS (
  SELECT l_returnflag,
    (CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400)
      - (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS ld
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), per AS (
  SELECT l_returnflag, ld, count(*) AS cnt FROM base GROUP BY 1, 2
), cells AS (
  SELECT l_returnflag, ld, cnt,
    coalesce(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY ld
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
  FROM per
)
SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
  {pct_cols},
  max(ld) AS max_days
FROM cells GROUP BY 1 ORDER BY l_returnflag
"""


# ---------------------------------------------------------------- SLO burn
SLO_ERR_BUDGET_PCT = 1   # SLO: at most 1% error events
BURN_FAST_X10 = 144      # fast-window alert threshold, burn x10 (14.4)
BURN_SLOW_X10 = 60       # slow-window alert threshold, burn x10 (6.0)


def events_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate report (the Google SRE workbook
    alerting policy): per day, the 24h error-budget burn rate
    (error_rate / 1% budget) and how many of that day's hours ALSO
    exceeded the fast-window threshold — the page fires on fast AND
    slow together, which this report reconstructs after the fact. The
    streaming twin is the same two aggs under a sliding watermark
    window; batch form is the auditable backfill.

    Exact arithmetic: burn thresholds compare as pure integers
    (10 * 100 * errors >= threshold_x10 * n); displayed burns are
    half-up integer round_ratio of (100 * errors) / n.

    Scale: one (day, hour) hash agg, one day-grain re-agg — calendar
    bounded after the first agg."""
    e = load_table(spark, sf_dir, "events")
    hours = (
        e.select(
            F.expr("unix_timestamp(ts) DIV 86400").alias("day"),
            F.expr("(unix_timestamp(ts) DIV 3600) % 24").alias("hour"),
            (F.col("event_type") == "error").cast("long").alias("is_err"),
        )
        .groupBy("day", "hour")
        .agg(F.count(F.lit(1)).alias("n_h"), F.sum("is_err").alias("err_h"))
    )
    d = dl.SPARK
    days = (
        hours.groupBy("day")
        .agg(
            F.sum("n_h").alias("n"),
            F.sum("err_h").alias("err"),
            F.sum(
                (
                    F.lit(10 * 100) * F.col("err_h")
                    >= F.lit(BURN_FAST_X10) * F.col("n_h")
                ).cast("long")
            ).alias("fast_hours"),
        )
        .withColumn(
            "slow_alert",
            (
                F.lit(10 * 100) * F.col("err") >= F.lit(BURN_SLOW_X10) * F.col("n")
            ).cast("int"),
        )
    )
    return days.selectExpr(
        "day",
        "n AS n_events",
        "err AS n_errors",
        f"{dl.round_ratio(d, '(100 * err)', 'n')} AS burn_24h",
        "fast_hours",
        "slow_alert",
        "CAST(CASE WHEN slow_alert = 1 AND fast_hours > 0 THEN 1 ELSE 0 END "
        "AS INT) AS page",
    ).orderBy("day")


def _oracle_slo_burn() -> str:
    d = dl.DUCK
    return f"""
WITH hours AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day,
    ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24) AS hour,
    count(*) AS n_h,
    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS err_h
  FROM events GROUP BY 1, 2
), days AS (
  SELECT day, sum(n_h) AS n, sum(err_h) AS err,
    sum(CASE WHEN 1000 * err_h >= {BURN_FAST_X10} * n_h THEN 1 ELSE 0 END)
      AS fast_hours
  FROM hours GROUP BY 1
)
SELECT day, CAST(n AS BIGINT) AS n_events, CAST(err AS BIGINT) AS n_errors,
  {dl.round_ratio(d, '(100 * err)', 'n')} AS burn_24h,
  CAST(fast_hours AS BIGINT) AS fast_hours,
  CAST(CASE WHEN 1000 * err >= {BURN_SLOW_X10} * n THEN 1 ELSE 0 END AS INT)
    AS slow_alert,
  CAST(CASE WHEN 1000 * err >= {BURN_SLOW_X10} * n AND fast_hours > 0
    THEN 1 ELSE 0 END AS INT) AS page
FROM days ORDER BY day
"""


# ---------------------------------------------------------------- 2-prop z
PROP_SUCCESS_CENTS = 10_000  # "conversion" = event value >= $100


def stats_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test per event_type between the sticky md5-nibble
    A/B variants (the events_ab_test_lift assignment): success =
    value >= $100, z = (pa - pb) / sqrt(p_pool (1-p_pool) (1/na + 1/nb)).
    Completes the experiment-readout family on the RATE axis (t/Welch =
    means, KS = distribution, U = location, this = conversion rates —
    the metric most A/B dashboards actually ship).

    Exact arithmetic: na/xa/nb/xb are exact BIGINTs from one hash agg;
    rates are half-up integer round_ratio; z is one shared IEEE
    expression over the four integers (the ks_lambda convention), with
    the degenerate pooled-rate-0-or-1 slice returning 0.0 via the
    CASE-guard convention.

    Scale: one (type, variant) hash agg; 2-row pivot per type."""
    e = load_table(spark, sf_dir, "events")
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    base = e.select(
        "event_type",
        F.when(nib < 8, "A").otherwise("B").alias("variant"),
        (
            F.expr("CAST(round(value * 100) AS BIGINT)") >= PROP_SUCCESS_CENTS
        )
        .cast("long")
        .alias("s"),
    )
    g = base.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("s").alias("x")
    )
    piv = (
        g.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
            F.sum(F.when(F.col("variant") == "A", F.col("x"))).alias("xa"),
            F.sum(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
            F.sum(F.when(F.col("variant") == "B", F.col("x"))).alias("xb"),
        )
        .filter(F.col("na").isNotNull() & F.col("nb").isNotNull())
    )
    d = dl.SPARK
    pp = "(CAST(xa + xb AS DOUBLE) / (na + nb))"
    z = (
        f"((CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb) "
        f"/ sqrt({pp} * (1.0 - {pp}) * (1.0 / na + 1.0 / nb)))"
    )
    return piv.selectExpr(
        "event_type",
        "na",
        "xa",
        "nb",
        "xb",
        f"{dl.round_ratio(d, 'xa', 'na')} AS rate_a",
        f"{dl.round_ratio(d, 'xb', 'nb')} AS rate_b",
        f"CASE WHEN xa + xb = 0 OR xa + xb = na + nb THEN 0.0 "
        f"ELSE round({z}, 4) END AS z_stat",
    ).orderBy("event_type")


def _oracle_two_prop() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(user_id AS VARCHAR)")
    pp = "(CAST(xa + xb AS DOUBLE) / (na + nb))"
    z = (
        f"((CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb) "
        f"/ sqrt({pp} * (1.0 - {pp}) * (1.0 / na + 1.0 / nb)))"
    )
    return f"""
WITH base AS (
  SELECT event_type,
    CASE WHEN {nib} < 8 THEN 'A' ELSE 'B' END AS variant,
    CASE WHEN CAST(round(value * 100) AS BIGINT) >= {PROP_SUCCESS_CENTS}
      THEN 1 ELSE 0 END AS s
  FROM events
), g AS (
  SELECT event_type, variant, count(*) AS n, sum(s) AS x
  FROM base GROUP BY 1, 2
), piv AS (
  SELECT event_type,
    sum(CASE WHEN variant = 'A' THEN n END) AS na,
    sum(CASE WHEN variant = 'A' THEN x END) AS xa,
    sum(CASE WHEN variant = 'B' THEN n END) AS nb,
    sum(CASE WHEN variant = 'B' THEN x END) AS xb
  FROM g GROUP BY 1
  HAVING sum(CASE WHEN variant = 'A' THEN n END) IS NOT NULL
     AND sum(CASE WHEN variant = 'B' THEN n END) IS NOT NULL
)
SELECT event_type, CAST(na AS BIGINT) AS na, CAST(xa AS BIGINT) AS xa,
  CAST(nb AS BIGINT) AS nb, CAST(xb AS BIGINT) AS xb,
  {dl.round_ratio(d, 'xa', 'na')} AS rate_a,
  {dl.round_ratio(d, 'xb', 'nb')} AS rate_b,
  CASE WHEN xa + xb = 0 OR xa + xb = na + nb THEN 0.0
  ELSE round({z}, 4) END AS z_stat
FROM piv ORDER BY event_type
"""


# ---------------------------------------------------------------- growth acct
RESURRECT_GAP_DAYS = 7  # absence longer than this = "resurrected", not "returning"


def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting (the Social Capital framework): split each
    day's active users into NEW (first day ever), RESURRECTED (returning
    after > RESURRECT_GAP_DAYS of absence), and RETURNING — the
    product-health decomposition behind "is growth new users or
    retention". Exact set arithmetic on the (user, day) activity grain.

    Plan: one (user, day) distinct agg; first-seen day and the previous
    active day come from ONE window pass partitioned BY USER over that
    reduced grain (never event-sized, the events_gaps_islands
    discipline); then a day-grain re-agg. At 100 TB the user-day grain
    is the standard growth-accounting input and every step is keyed.

    Exact: all counts are integers; rates are half-up round_ratio."""
    e = load_table(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id", F.expr("unix_timestamp(ts) DIV 86400").alias("day")
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    marked = ud.select(
        "user_id",
        "day",
        F.min("day").over(W.partitionBy("user_id")).alias("first_day"),
        F.lag("day").over(w).alias("prev_day"),
    ).selectExpr(
        "day",
        "CASE WHEN day = first_day THEN 'new' "
        f"WHEN day - prev_day > {RESURRECT_GAP_DAYS} THEN 'resurrected' "
        "ELSE 'returning' END AS status",
    )
    d = dl.SPARK
    return (
        marked.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum((F.col("status") == "new").cast("long")).alias("n_new"),
            F.sum((F.col("status") == "returning").cast("long")).alias(
                "n_returning"
            ),
            F.sum((F.col("status") == "resurrected").cast("long")).alias(
                "n_resurrected"
            ),
        )
        .selectExpr(
            "day",
            "n_active",
            "n_new",
            "n_returning",
            "n_resurrected",
            f"{dl.round_ratio(d, 'n_returning', 'n_active')} AS returning_share",
        )
        .orderBy("day")
    )


def _oracle_growth() -> str:
    d = dl.DUCK
    return f"""
WITH ud AS (
  SELECT DISTINCT user_id,
    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day
  FROM events
), marked AS (
  SELECT day,
    CASE WHEN day = min(day) OVER (PARTITION BY user_id) THEN 'new'
      WHEN day - lag(day) OVER (PARTITION BY user_id ORDER BY day)
        > {RESURRECT_GAP_DAYS} THEN 'resurrected'
      ELSE 'returning' END AS status
  FROM ud
)
SELECT day, count(*) AS n_active,
  CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
  CAST(sum(CASE WHEN status = 'returning' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_returning,
  CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_resurrected,
  {dl.round_ratio(d, "sum(CASE WHEN status = 'returning' THEN 1 ELSE 0 END)", 'count(*)')}
    AS returning_share
FROM marked GROUP BY 1 ORDER BY day
"""


# ---------------------------------------------------------------- CUPED
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout (Deng et al. 2013):
    the experiment window is the data's second half; each user's
    FIRST-half spend is the pre-experiment covariate;
    y_adj = y - theta (x - mean x) with theta = cov(x,y)/var(x) pooled
    across variants. The op every mature experimentation platform runs
    before the t-test — same decision, tighter intervals. Output: per
    variant, the raw and CUPED-adjusted mean outcome, plus the pooled
    rho^2 (the variance fraction CUPED removes).

    Determinism: the mid-experiment split day derives from the data
    (min/max epoch day, half-open integer midpoint) on a 1-row
    broadcast; per-user x/y are exact cents sums; Sx/Sy/Sxy/Sxx/Syy are
    exact BIGINTs over the USER grain (overflow: sum of x*y products
    fits BIGINT to ~1e5-cent users x 1e9 users; past that promote to
    DECIMAL(38,0)); theta and the adjusted means are one shared IEEE
    expression over those integers (ks_lambda convention).

    Scale: one user-grain hash agg, a 1-row pooled-stats broadcast, a
    2-row variant agg. Nothing downstream of the first agg is
    data-sized."""
    e = load_table(spark, sf_dir, "events")
    nib = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(user_id AS STRING)"))
    days = e.select(F.expr("unix_timestamp(ts) DIV 86400").alias("day"))
    mid = days.groupBy().agg(
        F.expr("(min(day) + max(day) + 1) DIV 2").alias("mid")
    )
    base = e.select(
        "user_id",
        nib.alias("nb"),
        F.expr("unix_timestamp(ts) DIV 86400").alias("day"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    users = (
        base.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("nb") < 8, "A").otherwise("B")).alias("variant"),
            F.sum(F.when(F.col("day") < F.col("mid"), F.col("cents")).otherwise(0)).alias("x"),
            F.sum(F.when(F.col("day") >= F.col("mid"), F.col("cents")).otherwise(0)).alias("y"),
        )
    )
    pooled = users.groupBy().agg(
        F.count(F.lit(1)).alias("nt"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    cx = "(CAST(nt AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    vx = "(CAST(nt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    vy = "(CAST(nt AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    theta = f"(CASE WHEN {vx} <= 0 THEN 0.0 ELSE {cx} / {vx} END)"
    rho2 = (
        f"(CASE WHEN {vx} <= 0 OR {vy} <= 0 THEN 0.0 "
        f"ELSE {cx} / {vx} * ({cx} / {vy}) END)"
    )
    per_var = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("svx"),
        F.sum("y").alias("svy"),
    )
    out = per_var.crossJoin(F.broadcast(pooled))
    adj = (
        f"(CAST(svy AS DOUBLE) / n - {theta} * "
        f"(CAST(svx AS DOUBLE) / n - CAST(sx AS DOUBLE) / nt))"
    )
    return out.selectExpr(
        "variant",
        "n",
        "round(CAST(svy AS DOUBLE) / n / 100, 4) AS mean_spend",
        f"round({adj} / 100, 4) AS mean_spend_cuped",
        f"round({rho2}, 4) AS pooled_rho2",
    ).orderBy("variant")


def _oracle_cuped() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(user_id AS VARCHAR)")
    cx = "(CAST(nt AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
    vx = "(CAST(nt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    vy = "(CAST(nt AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)"
    theta = f"(CASE WHEN {vx} <= 0 THEN 0.0 ELSE {cx} / {vx} END)"
    rho2 = (
        f"(CASE WHEN {vx} <= 0 OR {vy} <= 0 THEN 0.0 "
        f"ELSE {cx} / {vx} * ({cx} / {vy}) END)"
    )
    adj = (
        f"(CAST(svy AS DOUBLE) / n - {theta} * "
        f"(CAST(svx AS DOUBLE) / n - CAST(sx AS DOUBLE) / nt))"
    )
    return f"""
WITH mid AS (
  SELECT (min(day) + max(day) + 1) // 2 AS mid FROM (
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day FROM events
  )
), users AS (
  SELECT user_id,
    max(CASE WHEN {nib} < 8 THEN 'A' ELSE 'B' END) AS variant,
    sum(CASE WHEN (CAST(floor(epoch(ts)) AS BIGINT) // 86400) < mid
      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
    sum(CASE WHEN (CAST(floor(epoch(ts)) AS BIGINT) // 86400) >= mid
      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
  FROM events CROSS JOIN mid
  GROUP BY user_id
), pooled AS (
  SELECT count(*) AS nt, sum(x) AS sx, sum(y) AS sy,
    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM users
), per_var AS (
  SELECT variant, count(*) AS n, sum(x) AS svx, sum(y) AS svy
  FROM users GROUP BY 1
)
SELECT variant, n,
  round(CAST(svy AS DOUBLE) / n / 100, 4) AS mean_spend,
  round({adj} / 100, 4) AS mean_spend_cuped,
  round({rho2}, 4) AS pooled_rho2
FROM per_var CROSS JOIN pooled ORDER BY variant
"""


# ---------------------------------------------------------------- AUC
AUC_POS_TYPE = "purchase"  # positive class for the value-score ROC


def ml_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC per day-of-week for the score "event value" against the
    label "is a purchase" — the rank-sum identity AUC = (R_pos -
    n_pos(n_pos+1)/2) / (n_pos n_neg) with tie-averaged ranks, i.e. the
    Mann-Whitney U normalized to [0, 1], reported with the accuracy-
    style Gini coefficient 2*AUC - 1. The standard model-eval readout
    (here scoring a trivially-observable feature, which is the point:
    the harness is the deliverable, the number profiles the data).

    Exact arithmetic: the value domain carries (pos, neg) counts per
    cell; tie-averaged DOUBLED ranks r2 = 2*cumb + cnt + 1 are exact
    integers (stats_mannwhitney convention), so 2*R_pos = sum(cp * r2)
    is exact and AUC = (2R_pos - 2*np*(np+1)/2) / (2*np*nn) is a
    non-negative integer ratio -> half-up round_ratio. Gini derives on
    the same 1e-4 grid (no re-rounding tie risk).

    Scale: one (dow, cents) hash agg; windows partition by dow over the
    value domain; 7-row output."""
    e = load_table(spark, sf_dir, "events")
    per = (
        e.select(
            F.expr(ANOVA_DOW).alias("dow"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            (F.col("event_type") == AUC_POS_TYPE).cast("long").alias("p"),
        )
        .groupBy("dow", "cents")
        .agg(F.sum("p").alias("cp"), F.sum(F.lit(1) - F.col("p")).alias("cn"))
    )
    wt = W.partitionBy("dow").orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    cells = per.withColumn(
        "cumb",
        F.coalesce(F.sum(F.col("cp") + F.col("cn")).over(wt), F.lit(0)),
    ).withColumn("r2", 2 * F.col("cumb") + F.col("cp") + F.col("cn") + 1)
    agg = (
        cells.groupBy("dow")
        .agg(
            F.sum("cp").alias("np"),
            F.sum("cn").alias("nn"),
            F.sum(F.col("cp") * F.col("r2")).alias("r2p"),
        )
        .filter((F.col("np") > 0) & (F.col("nn") > 0))
    )
    d = dl.SPARK
    auc = dl.round_ratio(d, "(r2p - np * (np + 1))", "(2 * np * nn)")
    return agg.selectExpr(
        "dow",
        "np AS n_pos",
        "nn AS n_neg",
        f"{auc} AS auc",
        f"round(2 * {auc} - 1, 4) AS gini",
    ).orderBy("dow")


def _oracle_auc() -> str:
    d = dl.DUCK
    auc = dl.round_ratio(d, "(r2p - np * (np + 1))", "(2 * np * nn)")
    return f"""
WITH per AS (
  SELECT {ANOVA_DOW_DUCK} AS dow,
    CAST(round(value * 100) AS BIGINT) AS cents,
    sum(CASE WHEN event_type = '{AUC_POS_TYPE}' THEN 1 ELSE 0 END) AS cp,
    sum(CASE WHEN event_type = '{AUC_POS_TYPE}' THEN 0 ELSE 1 END) AS cn
  FROM events GROUP BY 1, 2
), cells AS (
  SELECT dow, cp, cn,
    2 * coalesce(sum(cp + cn) OVER (PARTITION BY dow ORDER BY cents
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cp + cn + 1 AS r2
  FROM per
), agg AS (
  SELECT dow, sum(cp) AS np, sum(cn) AS nn, sum(cp * r2) AS r2p
  FROM cells GROUP BY 1
  HAVING sum(cp) > 0 AND sum(cn) > 0
)
SELECT dow, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
  {auc} AS auc,
  round(2 * {auc} - 1, 4) AS gini
FROM agg ORDER BY dow
"""


# ---------------------------------------------------------------- MDE
Z_ALPHA = "1.959964"  # two-sided 5%
Z_POWER = "0.841621"  # 80% power


def stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect per event_type for the running A/B
    design (the experiment-PLANNING readout that belongs next to the
    t/z/U tests): with the current group sizes and variances, the
    smallest true mean shift a 5%-two-sided / 80%-power test would
    detect — MDE = (z_a + z_b) * sqrt(va/na + vb/nb). The number a
    platform shows before anyone runs the experiment ("you can detect
    a $0.80 shift; your hoped-for $0.20 needs 16x the traffic").

    Exact arithmetic: per-variant n/s1/s2 are exact cents BIGINTs; the
    sample variances and the MDE are one shared IEEE expression over
    them (ks_lambda convention) with the textbook z constants as
    literal text in both engines. n >= 2 both sides, mirroring
    events_ab_test_lift's degenerate-slice contract.

    Scale: one (type, variant) hash agg; 2-row pivot per type."""
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
            F.sum(F.when(F.col("v") == "A", F.col("n"))).alias("na"),
            F.sum(F.when(F.col("v") == "A", F.col("s1"))).alias("s1a"),
            F.sum(F.when(F.col("v") == "A", F.col("s2"))).alias("s2a"),
            F.sum(F.when(F.col("v") == "B", F.col("n"))).alias("nb"),
            F.sum(F.when(F.col("v") == "B", F.col("s1"))).alias("s1b"),
            F.sum(F.when(F.col("v") == "B", F.col("s2"))).alias("s2b"),
        )
        .filter((F.col("na") >= 2) & (F.col("nb") >= 2))
    )
    def var(n: str, s1: str, s2: str) -> str:
        return (
            f"((CAST({n} AS DOUBLE) * {s2} - CAST({s1} AS DOUBLE) * {s1}) "
            f"/ (CAST({n} AS DOUBLE) * ({n} - 1)))"
        )
    mde = (
        f"(({Z_ALPHA} + {Z_POWER}) * sqrt({var('na', 's1a', 's2a')} / na "
        f"+ {var('nb', 's1b', 's2b')} / nb))"
    )
    return piv.selectExpr(
        "event_type",
        "na",
        "nb",
        "round(CAST(s1a AS DOUBLE) / na / 100, 4) AS mean_a",
        f"round({mde} / 100, 4) AS mde_dollars",
        f"CASE WHEN s1a = 0 THEN 0.0 ELSE "
        f"round({mde} / (CAST(s1a AS DOUBLE) / na) * 100, 4) END AS mde_pct",
    ).orderBy("event_type")


def _oracle_mde() -> str:
    d = dl.DUCK
    nib = dl.md5_prefix_nibble(d, "CAST(user_id AS VARCHAR)")

    def var(n: str, s1: str, s2: str) -> str:
        return (
            f"((CAST({n} AS DOUBLE) * {s2} - CAST({s1} AS DOUBLE) * {s1}) "
            f"/ (CAST({n} AS DOUBLE) * ({n} - 1)))"
        )

    mde = (
        f"(({Z_ALPHA} + {Z_POWER}) * sqrt({var('na', 's1a', 's2a')} / na "
        f"+ {var('nb', 's1b', 's2b')} / nb))"
    )
    return f"""
WITH g AS (
  SELECT event_type,
    CASE WHEN {nib} < 8 THEN 'A' ELSE 'B' END AS v,
    count(*) AS n,
    sum(CAST(round(value * 100) AS BIGINT)) AS s1,
    sum(CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)) AS s2
  FROM events GROUP BY 1, 2
), piv AS (
  SELECT event_type,
    sum(CASE WHEN v = 'A' THEN n END) AS na,
    sum(CASE WHEN v = 'A' THEN s1 END) AS s1a,
    sum(CASE WHEN v = 'A' THEN s2 END) AS s2a,
    sum(CASE WHEN v = 'B' THEN n END) AS nb,
    sum(CASE WHEN v = 'B' THEN s1 END) AS s1b,
    sum(CASE WHEN v = 'B' THEN s2 END) AS s2b
  FROM g GROUP BY 1
  HAVING sum(CASE WHEN v = 'A' THEN n END) >= 2
     AND sum(CASE WHEN v = 'B' THEN n END) >= 2
)
SELECT event_type, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
  round(CAST(s1a AS DOUBLE) / na / 100, 4) AS mean_a,
  round({mde} / 100, 4) AS mde_dollars,
  CASE WHEN s1a = 0 THEN 0.0 ELSE
    round({mde} / (CAST(s1a AS DOUBLE) / na) * 100, 4) END AS mde_pct
FROM piv ORDER BY event_type
"""


# ---------------------------------------------------------------- reorder gaps
REORDER_BUCKET_DAYS = 30  # interval histogram granularity


def orders_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase-time distribution: days between a customer's
    consecutive orders, bucketed into 30-day bands, with each band's
    share of all gaps — the repeat-purchase cadence readout CRM and
    inventory planning read (and the empirical input to "expected time
    to next order" models).

    Plan: one lag window partitioned BY CUSTOMER over (customer, day)
    rows (never order-file-sized partitions; per-customer order counts
    are bounded), then a band-grain hash agg; the total rides a window
    over the band domain. Exact integer day math; shares are half-up
    round_ratio."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("day")
    gaps = (
        o.select(
            "o_custkey",
            F.expr("unix_timestamp(o_orderdate) DIV 86400").alias("day"),
        )
        .withColumn("prev", F.lag("day").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            F.expr(f"(day - prev) DIV {REORDER_BUCKET_DAYS}").alias("band")
        )
    )
    d = dl.SPARK
    return (
        gaps.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_gaps"))
        .withColumn("total", F.sum("n_gaps").over(W.partitionBy()))
        .selectExpr(
            "band",
            f"band * {REORDER_BUCKET_DAYS} AS band_min_days",
            "n_gaps",
            f"{dl.round_ratio(d, 'n_gaps', 'total')} AS share",
        )
        .orderBy("band")
    )


def _oracle_reorder() -> str:
    d = dl.DUCK
    return f"""
WITH gaps AS (
  SELECT ((day - prev) // {REORDER_BUCKET_DAYS}) AS band FROM (
    SELECT day, lag(day) OVER (PARTITION BY o_custkey ORDER BY day) AS prev
    FROM (
      SELECT o_custkey,
        (CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400) AS day
      FROM orders
    )
  ) WHERE prev IS NOT NULL
), banded AS (
  SELECT band, count(*) AS n_gaps FROM gaps GROUP BY 1
)
SELECT band, band * {REORDER_BUCKET_DAYS} AS band_min_days, n_gaps,
  {dl.round_ratio(d, 'n_gaps', 'sum(n_gaps) OVER ()')} AS share
FROM banded ORDER BY band
"""


# ---------------------------------------------------------------- trimmed
TRIM_PCT = 10  # trim/winsorize fraction per tail, in percent


def stats_trimmed_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location estimates per event_type: the 10%-trimmed mean
    (drop the k = floor(n/10) smallest and largest rows) and the
    winsorized mean (clamp them to the surviving boundary values) next
    to the raw mean — the outlier-robust readout a metrics pipeline
    ships when value distributions have heavy tails.

    Exact arithmetic: everything happens on the VALUE DOMAIN — per
    (type, cents) counts with a cumulative-position window. A value
    cell covering global positions [cum_before+1, cum_before+cnt]
    contributes kept = overlap with [k+1, n-k] rows to the trimmed sum —
    pure BIGINT interval arithmetic, no per-row rank. Winsorized sum
    adds k copies of each boundary value (the min cell reaching past
    position k, the max cell starting before position n-k+1). Means are
    half-up integer round_ratio (numerators are non-negative cents).

    Scale: value-domain grain per type (bounded by the cents domain,
    never event-sized); windows partition by type; one final agg."""
    e = load_table(spark, sf_dir, "events")
    per = (
        e.select(
            "event_type",
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wt = (
        W.partitionBy("event_type").orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    )
    wn = W.partitionBy("event_type")
    cells = (
        per.withColumn("cum_before", F.coalesce(F.sum("cnt").over(wt), F.lit(0)))
        .withColumn("n", F.sum("cnt").over(wn))
        .withColumn("k", F.expr("n DIV " + str(100 // TRIM_PCT)))
        .withColumn(
            "kept",
            F.expr(
                "greatest(CAST(0 AS BIGINT), "
                "least(cum_before + cnt, n - k) - greatest(cum_before, k))"
            ),
        )
    )
    agg = cells.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(F.col("cnt") * F.col("cents")).alias("raw_sum"),
        F.sum(F.col("kept") * F.col("cents")).alias("trim_sum"),
        F.min(F.when(F.col("cum_before") + F.col("cnt") > F.col("k"), F.col("cents"))).alias("lo_val"),
        F.max(F.when(F.col("cum_before") < F.col("n") - F.col("k"), F.col("cents"))).alias("hi_val"),
    )
    d = dl.SPARK
    return agg.selectExpr(
        "event_type",
        "n",
        "k AS trimmed_each_side",
        f"{dl.round_ratio(d, 'raw_sum', '(n * 100)')} AS raw_mean",
        f"{dl.round_ratio(d, 'trim_sum', '((n - 2 * k) * 100)')} AS trimmed_mean",
        f"{dl.round_ratio(d, '(trim_sum + k * (lo_val + hi_val))', '(n * 100)')} AS winsor_mean",
    ).orderBy("event_type")


def _oracle_trimmed() -> str:
    d = dl.DUCK
    return f"""
WITH per AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS cnt
  FROM events GROUP BY 1, 2
), cells AS (
  SELECT event_type, cents, cnt,
    coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY cents
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
    sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM per
), kc AS (
  SELECT *, (n // {100 // TRIM_PCT}) AS k,
    greatest(CAST(0 AS BIGINT),
      least(cum_before + cnt, n - (n // {100 // TRIM_PCT}))
      - greatest(cum_before, (n // {100 // TRIM_PCT}))) AS kept
  FROM cells
), agg AS (
  SELECT event_type, max(n) AS n, max(k) AS k,
    sum(cnt * cents) AS raw_sum, sum(kept * cents) AS trim_sum,
    min(CASE WHEN cum_before + cnt > k THEN cents END) AS lo_val,
    max(CASE WHEN cum_before < n - k THEN cents END) AS hi_val
  FROM kc GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS trimmed_each_side,
  {dl.round_ratio(d, 'raw_sum', '(n * 100)')} AS raw_mean,
  {dl.round_ratio(d, 'trim_sum', '((n - 2 * k) * 100)')} AS trimmed_mean,
  {dl.round_ratio(d, '(trim_sum + k * (lo_val + hi_val))', '(n * 100)')} AS winsor_mean
FROM agg ORDER BY event_type
"""


QUERIES = {
    "part_abc_classification": part_abc_classification,
    "events_power_users_gini": events_power_users_gini,
    "events_funnel_conversion": events_funnel_conversion,
    "events_ewma_forecast": events_ewma_forecast,
    "customers_clv_cohorts": customers_clv_cohorts,
    "events_survival_km": events_survival_km,
    "stats_bootstrap_ci": stats_bootstrap_ci,
    "events_seasonal_decompose": events_seasonal_decompose,
    "stats_mannwhitney": stats_mannwhitney,
    "events_changepoint": events_changepoint,
    "events_gaps_islands": events_gaps_islands,
    "events_user_entropy": events_user_entropy,
    "events_psi_drift": events_psi_drift,
    "orders_gap_fill_forward": orders_gap_fill_forward,
    "events_bot_regularity": events_bot_regularity,
    "part_abc_migration": part_abc_migration,
    "events_holt_forecast": events_holt_forecast,
    "sample_reservoir_per_key": sample_reservoir_per_key,
    "docs_boilerplate_chunks": docs_boilerplate_chunks,
    "part_skyline_per_brand": part_skyline_per_brand,
    "events_ab_test_lift": events_ab_test_lift,
    "stats_correlation_matrix": stats_correlation_matrix,
    "ml_quantile_binning": ml_quantile_binning,
    "stats_ks_test": stats_ks_test,
    "events_acf": events_acf,
    "orders_backlog_sweep": orders_backlog_sweep,
    "stats_fdr_bh": stats_fdr_bh,
    "stats_permutation_test": stats_permutation_test,
    "events_forecast_backtest": events_forecast_backtest,
    "stats_cramers_v": stats_cramers_v,
    "stats_anova_oneway": stats_anova_oneway,
    "stats_spearman_rho": stats_spearman_rho,
    "events_benford_digits": events_benford_digits,
    "stats_trimmed_means": stats_trimmed_means,
    "stats_mutual_information": stats_mutual_information,
    "events_hill_tail_index": events_hill_tail_index,
    "stats_levene_bf": stats_levene_bf,
    "orders_wow_revenue": orders_wow_revenue,
    "lineitem_leadtime_percentiles": lineitem_leadtime_percentiles,
    "events_slo_burn": events_slo_burn,
    "stats_two_proportion_ztest": stats_two_proportion_ztest,
    "events_growth_accounting": events_growth_accounting,
    "events_cuped_adjustment": events_cuped_adjustment,
    "ml_auc_roc": ml_auc_roc,
    "stats_power_mde": stats_power_mde,
    "orders_reorder_intervals": orders_reorder_intervals,
}

ORACLES = {
    "part_abc_classification": _oracle_abc(),
    "events_power_users_gini": _oracle_gini(),
    "events_user_entropy": _oracle_user_entropy(),
    "events_psi_drift": _oracle_psi(),
    "orders_gap_fill_forward": _oracle_gap_fill(),
    "events_bot_regularity": _oracle_bot(),
    "part_abc_migration": _oracle_abc_migration(),
    "events_holt_forecast": _oracle_holt(),
    "events_funnel_conversion": _oracle_funnel(),
    "events_ewma_forecast": _oracle_ewma(),
    "customers_clv_cohorts": _oracle_clv(),
    "events_survival_km": _oracle_survival_km(),
    "stats_bootstrap_ci": _oracle_bootstrap(),
    "events_seasonal_decompose": _oracle_seasonal(),
    "stats_mannwhitney": _oracle_mannwhitney(),
    "events_changepoint": _oracle_changepoint(),
    "events_gaps_islands": _oracle_gaps_islands(),
    "sample_reservoir_per_key": _oracle_reservoir(),
    "docs_boilerplate_chunks": _oracle_boilerplate(),
    "part_skyline_per_brand": _oracle_skyline(),
    "events_ab_test_lift": _oracle_ab_lift(),
    "stats_correlation_matrix": _oracle_corr_matrix(),
    "ml_quantile_binning": _oracle_quantile_binning(),
    "stats_ks_test": _oracle_ks(),
    "events_acf": _oracle_acf(),
    "orders_backlog_sweep": _oracle_backlog(),
    "stats_fdr_bh": _oracle_fdr(),
    "stats_permutation_test": _oracle_permutation(),
    "events_forecast_backtest": _oracle_backtest(),
    "stats_cramers_v": _oracle_cramers(),
    "stats_anova_oneway": _oracle_anova(),
    "stats_spearman_rho": _oracle_spearman(),
    "events_benford_digits": _oracle_benford(),
    "stats_trimmed_means": _oracle_trimmed(),
    "stats_mutual_information": _oracle_mutual_information(),
    "events_hill_tail_index": _oracle_hill(),
    "stats_levene_bf": _oracle_levene(),
    "orders_wow_revenue": _oracle_wow(),
    "lineitem_leadtime_percentiles": _oracle_leadtime(),
    "events_slo_burn": _oracle_slo_burn(),
    "stats_two_proportion_ztest": _oracle_two_prop(),
    "events_growth_accounting": _oracle_growth(),
    "events_cuped_adjustment": _oracle_cuped(),
    "ml_auc_roc": _oracle_auc(),
    "stats_power_mde": _oracle_mde(),
    "orders_reorder_intervals": _oracle_reorder(),
}
