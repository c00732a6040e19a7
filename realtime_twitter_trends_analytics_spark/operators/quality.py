"""Data-quality / warehouse-governance operators (round 7):

- Deequ-style column profiling (`profile_documents`): per-column null /
  distinct / range stats from ONE scan, stacked to a row per column — the
  "profile before you train" step every corpus ingestion runs.
- Constraint validation (`quality_constraint_checks`): PK uniqueness, FK
  integrity, domain and range checks over the star schema, one row per
  check with violation counts — the Deequ/Great-Expectations check suite
  as declarative Spark plans.
- RFM segmentation (`customers_rfm_segments`): recency/frequency/monetary
  quintile scoring of customers — the classic retention-marketing readout.
- Readability scoring (`docs_readability`): Flesch-style formula from
  regex token/syllable counts, bucketed corpus histogram — a text-quality
  signal alongside textstats_quality's length/stopword ratios.

All pure DataFrame/SQL compositions (no UDFs), each with a DuckDB oracle.
Float outputs follow the repo convention: exact BIGINT counts everywhere,
doubles only in final divisions (dialect.round_ratio) or fixed IEEE
expressions rounded for display.

Reference tie-in: the reference pipeline trusts its feed blindly (no
validation pass — proc:89-117 parses and ships); these are the checks a
production deployment of the same pipeline puts in front of the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import dialect as dl
from ..sources.loaders import bucket_ranked, load_table, ntile


# ---------------------------------------------------------------- profiling
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the documents table — ONE full scan computes
    every stat as a wide aggregation row (Catalyst fuses all the
    conditional aggs into a single hash-agg pass), then the row is
    stacked to (column, stats) rows driver-free with ``inline``. At
    100 TB this is the only affordable shape: per-column jobs would scan
    the table once per column.

    n_distinct is EXACT here (the profile is also the oracle target);
    the production variant at 100 TB swaps approx_count_distinct into
    the same plan — one expression change, same single pass."""
    d = load_table(spark, sf_dir, "documents")
    agg = d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        # doc_id
        F.sum(F.when(F.col("doc_id").isNull(), 1).otherwise(0)).alias("id_null"),
        F.count_distinct("doc_id").alias("id_distinct"),
        F.min("doc_id").cast("double").alias("id_min"),
        F.max("doc_id").cast("double").alias("id_max"),
        # text
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("text_null"),
        F.count_distinct("text").alias("text_distinct"),
        F.min(F.length("text")).cast("double").alias("text_min"),
        F.max(F.length("text")).cast("double").alias("text_max"),
        # lang
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).alias("lang_null"),
        F.count_distinct("lang").alias("lang_distinct"),
        # source
        F.sum(F.when(F.col("source").isNull(), 1).otherwise(0)).alias("src_null"),
        F.count_distinct("source").alias("src_distinct"),
        # n_chars
        F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0)).alias("nc_null"),
        F.count_distinct("n_chars").alias("nc_distinct"),
        F.min("n_chars").cast("double").alias("nc_min"),
        F.max("n_chars").cast("double").alias("nc_max"),
    )
    stacked = agg.select(
        "n_rows",
        F.inline(
            F.expr(
                "array("
                "struct('doc_id' AS column, id_null AS n_null, id_distinct AS n_distinct, id_min AS min_val, id_max AS max_val),"
                "struct('text' AS column, text_null AS n_null, text_distinct AS n_distinct, text_min AS min_val, text_max AS max_val),"
                "struct('lang' AS column, lang_null AS n_null, lang_distinct AS n_distinct, CAST(NULL AS DOUBLE) AS min_val, CAST(NULL AS DOUBLE) AS max_val),"
                "struct('source' AS column, src_null AS n_null, src_distinct AS n_distinct, CAST(NULL AS DOUBLE) AS min_val, CAST(NULL AS DOUBLE) AS max_val),"
                "struct('n_chars' AS column, nc_null AS n_null, nc_distinct AS n_distinct, nc_min AS min_val, nc_max AS max_val))"
            )
        ),
    )
    return stacked.select(
        "column", "n_rows", "n_null", "n_distinct", "min_val", "max_val"
    ).orderBy("column")


def _oracle_profile() -> str:
    return """
WITH a AS (
  SELECT count(*) AS n_rows,
    sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS id_null,
    count(DISTINCT doc_id) AS id_distinct,
    CAST(min(doc_id) AS DOUBLE) AS id_min, CAST(max(doc_id) AS DOUBLE) AS id_max,
    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text_null,
    count(DISTINCT text) AS text_distinct,
    CAST(min(length(text)) AS DOUBLE) AS text_min,
    CAST(max(length(text)) AS DOUBLE) AS text_max,
    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS lang_null,
    count(DISTINCT lang) AS lang_distinct,
    sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS src_null,
    count(DISTINCT source) AS src_distinct,
    sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS nc_null,
    count(DISTINCT n_chars) AS nc_distinct,
    CAST(min(n_chars) AS DOUBLE) AS nc_min, CAST(max(n_chars) AS DOUBLE) AS nc_max
  FROM documents
)
SELECT 'doc_id' AS "column", n_rows, CAST(id_null AS BIGINT) AS n_null,
  id_distinct AS n_distinct, id_min AS min_val, id_max AS max_val FROM a
UNION ALL SELECT 'text', n_rows, CAST(text_null AS BIGINT), text_distinct, text_min, text_max FROM a
UNION ALL SELECT 'lang', n_rows, CAST(lang_null AS BIGINT), lang_distinct, NULL, NULL FROM a
UNION ALL SELECT 'source', n_rows, CAST(src_null AS BIGINT), src_distinct, NULL, NULL FROM a
UNION ALL SELECT 'n_chars', n_rows, CAST(nc_null AS BIGINT), nc_distinct, nc_min, nc_max FROM a
ORDER BY "column"
"""


# ---------------------------------------------------------------- constraints
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-check suite over the star schema, one result row per
    check: (check, violations, passed). Shapes, chosen per check for the
    100 TB plan:

    - scan checks (PK uniqueness, range, domain, null) are conditional
      aggs FUSED into one pass per table — adding a check to a table is
      free, it rides the same scan;
    - FK checks are LEFT ANTI joins: dimension side broadcast when it is
      a BROADCAST_TABLES member (part), shuffled equi-join otherwise
      (orders->customer, lineitem->orders, where both sides scale) — at
      100 TB AQE + the session's runtime bloom filter prune the probe
      side before the exchange.

    Everything lands in one unioned 8-row result (each leg is an
    aggregate, so the union is 8 single-row plans executed as one job)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def _row(name: str, cnt):
        return cnt.select(
            F.lit(name).alias("check"),
            F.col("v").cast("bigint").alias("violations"),
            (F.col("v") == 0).alias("passed"),
        )

    legs = []
    # one fused scan: PK duplicates + status domain + null custkey
    o_scan = o.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("pk_dups"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bad_status"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("null_cust"),
    )
    legs.append(_row("orders_pk_unique", o_scan.select(F.col("pk_dups").alias("v"))))
    legs.append(_row("orders_status_domain", o_scan.select(F.col("bad_status").alias("v"))))
    legs.append(_row("orders_custkey_not_null", o_scan.select(F.col("null_cust").alias("v"))))
    # one fused lineitem scan: quantity range + non-positive price + discount domain
    l_scan = li.agg(
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).alias("bad_qty"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias("bad_price"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("bad_disc"),
    )
    legs.append(_row("lineitem_qty_range", l_scan.select(F.col("bad_qty").alias("v"))))
    legs.append(_row("lineitem_price_positive", l_scan.select(F.col("bad_price").alias("v"))))
    legs.append(_row("lineitem_discount_range", l_scan.select(F.col("bad_disc").alias("v"))))
    # FK integrity: anti joins
    legs.append(
        _row(
            "orders_fk_customer",
            o.join(cust, o.o_custkey == cust.c_custkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
        )
    )
    legs.append(
        _row(
            "lineitem_fk_part",
            li.join(
                F.broadcast(part), li.l_partkey == part.p_partkey, "left_anti"
            ).agg(F.count(F.lit(1)).alias("v")),
        )
    )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("check")


def _oracle_constraints() -> str:
    return """
WITH o_scan AS (
  SELECT count(*) - count(DISTINCT o_orderkey) AS pk_dups,
    sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS bad_status,
    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust
  FROM orders
), l_scan AS (
  SELECT
    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS bad_qty,
    sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS bad_price,
    sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS bad_disc
  FROM lineitem
), fk_cust AS (
  SELECT count(*) AS v FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
), fk_part AS (
  SELECT count(*) AS v FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
)
SELECT "check", CAST(v AS BIGINT) AS violations, v = 0 AS passed FROM (
  SELECT 'orders_pk_unique' AS "check", pk_dups AS v FROM o_scan
  UNION ALL SELECT 'orders_status_domain', bad_status FROM o_scan
  UNION ALL SELECT 'orders_custkey_not_null', null_cust FROM o_scan
  UNION ALL SELECT 'lineitem_qty_range', bad_qty FROM l_scan
  UNION ALL SELECT 'lineitem_price_positive', bad_price FROM l_scan
  UNION ALL SELECT 'lineitem_discount_range', bad_disc FROM l_scan
  UNION ALL SELECT 'orders_fk_customer', v FROM fk_cust
  UNION ALL SELECT 'lineitem_fk_part', v FROM fk_part
) ORDER BY "check"
"""


# ---------------------------------------------------------------- RFM
RFM_TILES = 5


def customers_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (latest order date),
    frequency (order count), monetary (exact cents sum) -> ntile(5) score
    per dimension -> segment = 100*R + 10*F + M; readout = customers and
    average monetary per segment.

    Scale: the base agg reduces orders to CUSTOMER grain (orders of
    magnitude smaller) and is checkpointed, because the three chained
    ranks read it four times (three histograms and the final plan). Each
    ntile is computed from bucket_ranked's exact global row number,
    bucketed by a value-range key (epoch days, the order count itself,
    geometric cents buckets floor(ln(cents) * 50)), so no window sorts
    the whole customer grain in one task. Ties are broken by c_custkey
    so ntile assignment is total-order deterministic across engines."""
    o = load_table(spark, sf_dir, "orders")
    scored = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("cents"),
    ).localCheckpoint()
    for tile, key, bucket in (
        ("r", "last_order", F.datediff(F.col("last_order"), F.lit("1970-01-01"))),
        ("f", "freq", F.col("freq")),
        ("m", "cents", F.floor(F.log(F.col("cents")) * 50)),
    ):
        ranked, n, _ = bucket_ranked(
            scored, -bucket, [F.desc(key), F.asc("o_custkey")]
        )
        scored = ranked.withColumn(tile, ntile("_rn", n, RFM_TILES)).drop("_rn")
    return scored.groupBy(
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr(
            dl.round_ratio(dl.SPARK, "sum(cents)", f"(count(*) * 100)")
        ).alias("avg_monetary"),
    ).orderBy("segment")


def _oracle_rfm() -> str:
    d = dl.DUCK
    return f"""
WITH base AS (
  SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS freq,
    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), scored AS (
  SELECT o_custkey, cents,
    ntile({RFM_TILES}) OVER (ORDER BY last_order DESC, o_custkey ASC) * 100
    + ntile({RFM_TILES}) OVER (ORDER BY freq DESC, o_custkey ASC) * 10
    + ntile({RFM_TILES}) OVER (ORDER BY cents DESC, o_custkey ASC) AS segment
  FROM base
)
SELECT CAST(segment AS INT) AS segment, count(*) AS n_customers,
  {dl.round_ratio(d, 'sum(cents)', '(count(*) * 100)')} AS avg_monetary
FROM scored GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- k-anonymity
KANON_K = 5
KANON_VALUE_BIN = 50.0


def events_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (event_type,
    calendar day, value bin): how many equivalence classes and how many
    EVENTS sit in classes smaller than k — the re-identification risk
    readout a privacy review runs before events join a training corpus
    (a class of size 1 pins its row to an individual even with user_id
    dropped). One hash agg to class grain (bounded by the QI-space
    cardinality, never data-sized) + one 4-row verdict agg."""
    e = load_table(spark, sf_dir, "events")
    classes = e.groupBy(
        "event_type",
        F.expr("CAST(ts AS DATE)").alias("day"),
        F.expr(f"CAST(floor(value / {KANON_VALUE_BIN}) AS BIGINT)").alias("vb"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        classes.groupBy(
            F.when(F.col("n") >= KANON_K, F.lit("anonymous"))
            .otherwise(F.lit("at_risk"))
            .alias("verdict")
        )
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("n").alias("n_events"),
            F.min("n").alias("min_class_size"),
            F.max("n").alias("max_class_size"),
        )
        .orderBy("verdict")
    )


def _oracle_kanon() -> str:
    return f"""
WITH classes AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(floor(value / {KANON_VALUE_BIN}) AS BIGINT) AS vb, count(*) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT CASE WHEN n >= {KANON_K} THEN 'anonymous' ELSE 'at_risk' END AS verdict,
  count(*) AS n_classes, CAST(sum(n) AS BIGINT) AS n_events,
  CAST(min(n) AS BIGINT) AS min_class_size, CAST(max(n) AS BIGINT) AS max_class_size
FROM classes GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- DP counts
DP_EPSILON_INV = 2      # b = sensitivity/epsilon = 1/(1/2) = 2 (epsilon 0.5)
DP_HASH_CHARS = 13      # 52-bit uniform from md5 — exact in a double


def events_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-type daily counts via the Laplace
    mechanism, with SEEDED noise: u = a 52-bit uniform derived from
    md5(type||day), noise = -b*sign(u-.5)*ln(1-2|u-.5|) (the Laplace
    inverse CDF), b = 1/epsilon for the count query's unit sensitivity.
    Deriving u from a keyed hash instead of an RNG is what makes the
    mechanism REPLAYABLE (retry-stable releases, engine-exact oracle) —
    the release is still a fixed draw from the correct Laplace
    distribution per cell; a production release would rotate the salt
    per publication. Readout: per type, true vs noisy totals and the L1
    utility loss — the privacy/utility audit that accompanies any DP
    release. All map-side after one (type, day) hash agg."""
    d = dl.SPARK
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.expr("CAST(ts AS DATE)").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    u = (
        f"(CAST({dl.hex_prefix_uint(d, 'mhx', DP_HASH_CHARS)} AS DOUBLE) "
        f"/ CAST({16 ** DP_HASH_CHARS} AS DOUBLE))"
    )
    noise = (
        f"(-{DP_EPSILON_INV} * sign({u} - 0.5) "
        f"* ln(greatest(1.0 - 2.0 * abs({u} - 0.5), 1e-300)))"
    )
    noisy = daily.withColumn(
        "mhx", F.expr("md5(concat(event_type, '|', CAST(day AS STRING)))")
    ).withColumn(
        "noisy_c",
        F.expr(f"CAST(floor(CAST(c AS DOUBLE) + {noise}) AS BIGINT)"),
    )
    return (
        noisy.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("c").alias("true_total"),
            F.sum("noisy_c").alias("noisy_total"),
            F.sum(F.expr("abs(noisy_c - c)")).alias("l1_error"),
        )
        .orderBy("event_type")
    )


def _oracle_dp() -> str:
    d = dl.DUCK
    u = (
        f"(CAST({dl.hex_prefix_uint(d, 'mhx', DP_HASH_CHARS)} AS DOUBLE) "
        f"/ CAST({16 ** DP_HASH_CHARS} AS DOUBLE))"
    )
    noise = (
        f"(-{DP_EPSILON_INV} * sign({u} - 0.5) "
        f"* ln(greatest(1.0 - 2.0 * abs({u} - 0.5), 1e-300)))"
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
), noisy AS (
  SELECT event_type, c,
    CAST(floor(CAST(c AS DOUBLE) + {noise}) AS BIGINT) AS noisy_c
  FROM (SELECT *, md5(concat(event_type, '|', CAST(day AS VARCHAR))) AS mhx FROM daily)
)
SELECT event_type, count(*) AS n_days, CAST(sum(c) AS BIGINT) AS true_total,
  CAST(sum(noisy_c) AS BIGINT) AS noisy_total,
  CAST(sum(abs(noisy_c - c)) AS BIGINT) AS l1_error
FROM noisy GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- readability
# Synthetic docs carry no sentence punctuation, so a fixed 15-token window
# stands in for the sentence unit; the syllable proxy is vowel-group
# counting — the standard heuristic when no dictionary is shipped.
WORDS_PER_SENT = 15
FLESCH_SCALE = 10  # histogram bucket width


def docs_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability over the corpus: words = whitespace
    tokens, syllables ~ vowel groups ([aeiouy]+ runs), sentences =
    ceil(words / 15) (see module note), score = 206.835 - 1.015*w/s -
    84.6*syl/w; corpus readout = histogram over score buckets with mean
    ratios. Everything is one map-side projection (two regex/array
    expressions per doc) + one small hash agg — no shuffle wider than the
    bucket count at any scale. Counts are exact integers; the score is
    the same IEEE double expression in both engines, bucketed by floor —
    and the bucket boundary cannot flap because the inputs are integer
    ratios (no accumulated float sums)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "doc_id",
        F.expr(f"size({dl.split_ws(dl.SPARK, 'text')})").alias("words"),
        F.expr("size(regexp_extract_all(text, '[aeiouy]+', 0))").alias("syls"),
    ).where(
        # a zero-word doc (empty/whitespace-only) would make flesch NULL
        # (0/0) and land in a NULL bucket — whose sort position differs
        # between engines (Spark NULLS FIRST asc, DuckDB NULLS LAST), so
        # the readout excludes word-less docs in BOTH plans
        F.col("words") > 0
    ).select(
        "doc_id",
        "words",
        "syls",
        F.expr(f"CAST(ceil(CAST(words AS DOUBLE) / {WORDS_PER_SENT}) AS BIGINT)").alias(
            "sents"
        ),
    )
    scored = per.select(
        "doc_id",
        "words",
        "syls",
        "sents",
        F.expr(
            "206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE)) "
            "- 84.6 * (CAST(syls AS DOUBLE) / CAST(words AS DOUBLE))"
        ).alias("flesch"),
    )
    return (
        scored.groupBy(
            F.expr(f"CAST(floor(flesch / {FLESCH_SCALE}) AS BIGINT)").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").alias("total_words"),
            F.expr(dl.round_ratio(dl.SPARK, "sum(syls)", "sum(words)")).alias(
                "syl_per_word"
            ),
        )
        .orderBy("bucket")
    )


def _oracle_readability() -> str:
    d = dl.DUCK
    return f"""
WITH per AS (
  SELECT doc_id, len({dl.split_ws(d, 'text')}) AS words,
    len(regexp_extract_all(text, '[aeiouy]+')) AS syls
  FROM documents
), s AS (
  SELECT doc_id, words, syls,
    CAST(ceil(CAST(words AS DOUBLE) / {WORDS_PER_SENT}) AS BIGINT) AS sents
  FROM per WHERE words > 0
), scored AS (
  SELECT *, 206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sents AS DOUBLE))
    - 84.6 * (CAST(syls AS DOUBLE) / CAST(words AS DOUBLE)) AS flesch
  FROM s
)
SELECT CAST(floor(flesch / {FLESCH_SCALE}) AS BIGINT) AS bucket,
  count(*) AS n_docs, CAST(sum(words) AS BIGINT) AS total_words,
  {dl.round_ratio(d, 'sum(syls)', 'sum(words)')} AS syl_per_word
FROM scored GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- DP quantile
DPQ_BIN = 25.0
DPQ_MAX_BIN = 19
DPQ_EPS_NUM, DPQ_EPS_DEN = 1, 1  # epsilon = 1
DPQ_HASH_CHARS = 13              # 52-bit uniform (the dp_counts convention)


def events_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private MEDIAN per event type via the exponential
    mechanism over the value-bin domain — the quantile companion to
    events_dp_counts (Laplace handles counts; quantiles need a
    selection mechanism because their sensitivity is data-dependent).
    Utility of bin b is -|rank(b) - n/2| (how close the bin's upper
    edge sits to the true median); selection uses the Gumbel-max trick
    with SEEDED noise — g = -ln(-ln(u)) from a keyed 52-bit md5 uniform
    per (type, bin) — which is distributionally EXACTLY the exponential
    mechanism (softmax sampling == argmax of score + Gumbel), while
    keeping the release replayable and engine-exact, the same design
    argument as events_dp_counts' seeded Laplace. Utilities are kept in
    2-scaled exact integers (u2 = -|2*rank - n|); the score
    eps*u2/(2*2) and the Gumbel are formed by identical double op
    chains in both engines.

    Readout per type: n, the true median bin (exact), the DP-released
    bin, and the absolute bin error — the privacy/utility audit.

    Scale: one (type, bin) hash agg (domain-bounded, <= 20 bins/type),
    rank windows and argmax at bin grain, never data-sized."""
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window as W

    binned = e.groupBy(
        "event_type",
        F.expr(f"CAST(least(floor(value / {DPQ_BIN}), {DPQ_MAX_BIN}) AS BIGINT)").alias(
            "bin"
        ),
    ).agg(F.count(F.lit(1)).alias("c"))
    wtype = W.partitionBy("event_type").orderBy("bin")
    ranked = binned.withColumn("cum", F.sum("c").over(wtype)).withColumn(
        "n", F.sum("c").over(W.partitionBy("event_type"))
    )
    u = (
        f"((CAST({dl.hex_prefix_uint(dl.SPARK, 'mhx', DPQ_HASH_CHARS)} AS DOUBLE) + 0.5) "
        f"/ CAST({16 ** DPQ_HASH_CHARS} AS DOUBLE))"
    )
    scored = (
        ranked.withColumn("u2", -F.abs(2 * F.col("cum") - F.col("n")))
        .withColumn(
            "mhx",
            F.expr("md5(concat(event_type, '|', CAST(bin AS STRING), '|dpq'))"),
        )
        .withColumn(
            "score",
            F.expr(
                f"CAST(u2 AS DOUBLE) * {DPQ_EPS_NUM} / (4.0 * {DPQ_EPS_DEN}) "
                f"+ (-ln(-ln({u})))"
            ),
        )
    )
    pick = scored.withColumn(
        "rn", F.row_number().over(W.partitionBy("event_type").orderBy(F.desc("score"), F.asc("bin")))
    ).filter(F.col("rn") == 1)
    true_med = (
        ranked.filter(2 * F.col("cum") >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("bin").alias("true_median_bin"))
    )
    return (
        pick.select("event_type", F.col("n").alias("n_events"), F.col("bin").alias("dp_median_bin"))
        .join(true_med, "event_type")
        .select(
            "event_type",
            "n_events",
            "true_median_bin",
            "dp_median_bin",
            F.abs(F.col("dp_median_bin") - F.col("true_median_bin")).alias(
                "bin_abs_error"
            ),
        )
        .orderBy("event_type")
    )


def _oracle_dpq() -> str:
    d = dl.DUCK
    u = (
        f"((CAST({dl.hex_prefix_uint(d, 'mhx', DPQ_HASH_CHARS)} AS DOUBLE) + 0.5) "
        f"/ CAST({16 ** DPQ_HASH_CHARS} AS DOUBLE))"
    )
    return f"""
WITH binned AS (
  SELECT event_type,
    CAST(least(floor(value / {DPQ_BIN}), {DPQ_MAX_BIN}) AS BIGINT) AS bin,
    count(*) AS c
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, bin, c,
    sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
    sum(c) OVER (PARTITION BY event_type) AS n
  FROM binned
), scored AS (
  SELECT event_type, bin, n,
    CAST(-abs(2 * cum - n) AS DOUBLE) * {DPQ_EPS_NUM} / (4.0 * {DPQ_EPS_DEN})
      + (-ln(-ln({u}))) AS score
  FROM (SELECT *, md5(concat(event_type, '|', CAST(bin AS VARCHAR), '|dpq')) AS mhx
        FROM ranked)
), pick AS (
  SELECT event_type, n, bin FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type
      ORDER BY score DESC, bin ASC) AS rn
    FROM scored
  ) WHERE rn = 1
), true_med AS (
  SELECT event_type, min(bin) AS true_median_bin
  FROM ranked WHERE 2 * cum >= n GROUP BY 1
)
SELECT p.event_type, CAST(p.n AS BIGINT) AS n_events,
  t.true_median_bin, p.bin AS dp_median_bin,
  abs(p.bin - t.true_median_bin) AS bin_abs_error
FROM pick p JOIN true_med t ON t.event_type = p.event_type
ORDER BY p.event_type
"""


# ---------------------------------------------------------------- l-diversity
LDIV_L = 3


def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion check k-anonymity
    (events_k_anonymity above) cannot do: a class can hold >= k rows yet
    expose everyone in it if they all share ONE sensitive value
    (homogeneity attack, Machanavajjhela et al. 2007). Quasi-identifier
    grain here is (event_type, day); the sensitive attribute is the value
    bin. For each QI class, l = the number of DISTINCT sensitive values;
    classes with l < L leak the sensitive attribute for every member.
    Readout mirrors the k-anonymity verdict shape: class/event counts per
    verdict plus the min/max observed l.

    Scale: one distinct-pair hash agg (bounded by QI-space x bin-space
    cardinality) -> one class-grain agg -> one 2-row verdict agg; nothing
    downstream of the first agg is data-sized."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.expr("CAST(ts AS DATE)").alias("day"),
        F.expr(f"CAST(floor(value / {KANON_VALUE_BIN}) AS BIGINT)").alias("vb"),
    ).agg(F.count(F.lit(1)).alias("n"))
    classes = cells.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("l"), F.sum("n").alias("n_events")
    )
    return (
        classes.groupBy(
            F.when(F.col("l") >= LDIV_L, F.lit("diverse"))
            .otherwise(F.lit("homogeneous"))
            .alias("verdict")
        )
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("n_events").alias("n_events"),
            F.min("l").alias("min_l"),
            F.max("l").alias("max_l"),
        )
        .orderBy("verdict")
    )


def _oracle_ldiv() -> str:
    return f"""
WITH cells AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(floor(value / {KANON_VALUE_BIN}) AS BIGINT) AS vb, count(*) AS n
  FROM events GROUP BY 1, 2, 3
), classes AS (
  SELECT event_type, day, count(*) AS l, sum(n) AS n_events
  FROM cells GROUP BY 1, 2
)
SELECT CASE WHEN l >= {LDIV_L} THEN 'diverse' ELSE 'homogeneous' END AS verdict,
  count(*) AS n_classes, CAST(sum(n_events) AS BIGINT) AS n_events,
  CAST(min(l) AS BIGINT) AS min_l, CAST(max(l) AS BIGINT) AS max_l
FROM classes GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "profile_documents": profile_documents,
    "quality_constraint_checks": quality_constraint_checks,
    "customers_rfm_segments": customers_rfm_segments,
    "docs_readability": docs_readability,
    "events_k_anonymity": events_k_anonymity,
    "events_dp_counts": events_dp_counts,
    "events_l_diversity": events_l_diversity,
    "events_dp_quantile": events_dp_quantile,
}

ORACLES = {
    "profile_documents": _oracle_profile(),
    "quality_constraint_checks": _oracle_constraints(),
    "customers_rfm_segments": _oracle_rfm(),
    "docs_readability": _oracle_readability(),
    "events_k_anonymity": _oracle_kanon(),
    "events_dp_counts": _oracle_dp(),
    "events_l_diversity": _oracle_ldiv(),
    "events_dp_quantile": _oracle_dpq(),
}
