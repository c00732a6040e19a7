"""Similarity search over the embeddings table (north-star surface).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant is the 100 TB path (candidates come from a signed-random-projection
bucket equi-join, never an all-pairs product). Centroid aggregation shows
vector aggregation in long form (posexplode -> (label, dim) hash agg).

All arithmetic uses sequential left-to-right double folds (Spark
``aggregate`` / DuckDB ``list_sum``) over identical casts, so Spark and the
oracle produce bit-equal doubles before the final round(4).

Scale notes:
- dot/norm are JVM-side higher-order functions (no Python in the loop).
- brute force is a broadcast nested-loop of Q query vectors x N candidates:
  right for small Q; the LSH variant holds when Q ~ N.
- the per-query top-k uses a row_number window partitioned by query id —
  shuffle keyed by query id only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..audit import audit_plan
from ..functions import dialect as dl
from ..sources.loaders import driver_rows_df, fan_out_small, load_table
from ..staging import staged

N_QUERY_VECS = 10   # vec_id < 10 are the query set
TOP_K = 10
LSH_BITS = 6        # signed-random-projection bits per table -> 64 buckets
LSH_TABLES = 2      # independent tables; candidates = union of bucket hits
EMB_DIM = 64


def dot_sql(d: str, a: str, b: str) -> str:
    """Sequential double dot product of two float arrays (dual-dialect).

    Spark gets the compact ``zip_with`` form — bit-identical to the indexed
    transform-over-sequence form (same element order, same float->double
    casts, same left-to-right fold) but a ~64x smaller expression tree;
    the indexed form's 128 element_at calls dominated codegen compile time
    on every similarity query (same lesson as ml._dist2_sql)."""
    if d == dl.SPARK:
        return (
            f"aggregate(zip_with({a}, {b}, "
            f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"
        )
    prods = dl.transform(
        d,
        dl.seq(d, "1", str(EMB_DIM)),
        "i",
        f"CAST({dl.arr_element(d, a, 'i')} AS DOUBLE) * CAST({dl.arr_element(d, b, 'i')} AS DOUBLE)",
    )
    return dl.arr_sum_double(d, prods)


def norm_sql(d: str, a: str) -> str:
    return f"sqrt({dot_sql(d, a, a)})"


def cosine_sql(d: str, a: str, b: str) -> str:
    return f"({dot_sql(d, a, b)}) / (({norm_sql(d, a)}) * ({norm_sql(d, b)}))"


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-K for each of the first N_QUERY_VECS vectors against all
    others. Query side is broadcast; candidates stream through map-side.

    Norms are PRE-COMPUTED per side before the pair join (O(n·d)), so the
    per-pair work is one dot product — not dot + two norms (3x the array
    arithmetic, O(pairs·d) each). Same doubles, so the oracle still
    hash-matches whichever side computes them."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("qnorm"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        "label",
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("cnorm"),
    )
    # fan_out_small (r14): the broadcast-q × candidate cosine product runs
    # on the candidate scan's partitions — ONE task on the single-row-group
    # fixture (same dispatch as sim_knn_label_probe).
    c = fan_out_small(c, spark)
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("cand_id"))
    sim = pairs.withColumn(
        "cosine",
        F.expr(dot_sql(dl.SPARK, "qv", "cv")) / (F.col("qnorm") * F.col("cnorm")),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "cand_id", "label", F.round("cosine", 4).alias("cosine"), "rnk")
    )


def _oracle_bruteforce() -> str:
    cos = cosine_sql(dl.DUCK, "q.embedding", "c.embedding")
    return f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label, {cos} AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
)
SELECT query_id, cand_id, label, round(cosine, 4) AS cosine, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
  FROM pairs
) WHERE rnk <= {TOP_K}
"""


def _plane_component(table: int, b: int, j: int) -> float:
    """Hyperplane (table, b) component j: first md5 nibble of
    'hp{table}_{b}|{j}' centered to [-7.5, 7.5] — an engine-portable,
    deterministic stand-in for a Gaussian draw. Computed DRIVER-SIDE with
    hashlib (bit-identical to SQL md5) exactly once per constant."""
    import hashlib

    nib = int(hashlib.md5(f"hp{table}_{b}|{j}".encode()).hexdigest()[0], 16)
    return nib - 7.5


def lsh_bucket_sql(d: str, vec: str, table: int = 0, n_bits: int | None = None) -> str:
    """``n_bits``-bit signed-projection bucket id of ``vec`` for one table
    (default LSH_BITS — every gate query and oracle pins that constant).

    The hyperplanes are CONSTANTS: they are materialized driver-side
    (_plane_component) and inlined as literal arrays, so per row the
    engines do n_bits fused dot products over the vector — zero md5
    calls in the scan (the previous formulation hashed
    rows x dims x bits x tables times; constant-folding md5 inside a
    lambda is something neither engine does).

    Growing n_bits REFINES buckets: bit b contributes 2^b and the plane
    family is indexed by (table, b), so an (n+d)-bit bucket mod 2^n is
    the n-bit bucket. That property is what makes the maintained ANN
    index's rebucket maintenance job (streaming/ann_stream.py
    rebucket_ann_index — the 'more bits per code' density lever made
    executable) a pure refinement: identical vectors stay co-bucketed at
    any width."""
    bits = []
    for b in range(LSH_BITS if n_bits is None else n_bits):
        plane = ", ".join(f"{_plane_component(table, b, j):.1f}" for j in range(1, EMB_DIM + 1))
        if d == dl.SPARK:
            # zip_with form: bit-identical to the indexed form (see
            # dot_sql) at a fraction of the codegen cost per plane
            dot = (
                f"aggregate(zip_with({vec}, array({plane}), "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"
            )
        else:
            plane_arr = f"[{plane}]"
            prods = dl.transform(
                d,
                dl.seq(d, "1", str(EMB_DIM)),
                "j",
                f"CAST({dl.arr_element(d, vec, 'j')} AS DOUBLE) * "
                f"CAST({dl.arr_element(d, f'({plane_arr})', 'j')} AS DOUBLE)",
            )
            dot = dl.arr_sum_double(d, prods)
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {2**b} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket histogram of the signed-random-projection LSH, per table
    (sanity surface for the ANN index: bucket sizes bound candidate cost)."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_table = [
        emb.select(
            F.lit(t).alias("lsh_table"),
            F.expr(lsh_bucket_sql(dl.SPARK, "embedding", t)).alias("bucket"),
        )
        for t in range(LSH_TABLES)
    ]
    allb = per_table[0]
    for df in per_table[1:]:
        allb = allb.unionByName(df)
    return allb.groupBy("lsh_table", "bucket").agg(F.count(F.lit(1)).alias("n_vectors"))


def _oracle_lsh_buckets() -> str:
    selects = " UNION ALL ".join(
        f"SELECT {t} AS lsh_table, {lsh_bucket_sql(dl.DUCK, 'embedding', t)} AS bucket FROM embeddings"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH allb AS ({selects})
SELECT CAST(lsh_table AS INT) AS lsh_table, bucket, count(*) AS n_vectors
FROM allb GROUP BY 1, 2
"""


MMR_POOL = 20        # relevance pool per query entering the greedy stage
MMR_K = 5            # diversified results returned per query
MMR_SCALE = 10**6    # fixed-point quantization of cosine scores
# lambda = 0.7: score = 7*rel_q - 3*max_sim_q (x10 scale, pure BIGINT)
MMR_L_REL = 7
MMR_L_DIV = 3


def _quant_cos(d: str, cos_expr: str) -> str:
    """Quantize a cosine expression to BIGINT fixed-point: both engines
    compute the identical double (shared dialect template), so the floor
    is identical — and every downstream comparison is integer-exact."""
    return f"CAST(floor(({cos_expr}) * {MMR_SCALE}) AS BIGINT)"


def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval (Carbonell &
    Goldstein): per query, greedily pick MMR_K results maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-already-picked — the
    dedup-aware retrieval a RAG/few-shot training pipeline runs so its
    context windows don't fill with near-identical passages. Plain top-k
    returns clones; MMR penalizes each candidate by its closest already
    selected neighbor.

    Fully distributed (round-6 rewrite of the r5 driver-side greedy):
    the relevance scan (broadcast queries x corpus — at production scale
    the candidate pool comes from the ANN paths instead, which the
    structure permits) and the pool's pairwise similarities are DataFrame
    stages; the greedy selection is per-query-INDEPENDENT, so it runs on
    executors as a cogrouped Arrow ``applyInPandas`` keyed by query_id
    (rel rows cogrouped with pair rows — |pool| + |pool|^2 rows per
    group, constants). Zero driver state; the operator scales linearly
    with |Q|. All scores are floor-quantized to BIGINT before ANY
    comparison, so ranking, ties (cand_id asc), and the greedy path are
    integer-deterministic across engines; the oracle unrolls the same
    greedy as MATERIALIZED CTEs and hash-matches exactly.

    The broadcast crossJoin relevance scan is registered with the
    plan-hygiene dragnet (audit label ``mmr_pool`` — localCheckpoint
    truncates it out of the final plan) and adjudicated in
    AUDIT_CARTESIAN_OK like every other intended product."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("qnorm"),
    )
    # fan_out_small (r14): same single-row-group dispatch as
    # sim_topk_bruteforce — the relevance product runs on the candidate
    # scan's partitions.
    c = fan_out_small(emb, spark).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("cnorm"),
    )
    rel_cos = f"{dot_sql(dl.SPARK, 'qv', 'cv')} / (qnorm * cnorm)"
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            "cv",
            "cnorm",
            F.expr(_quant_cos(dl.SPARK, rel_cos)).alias("rel_q"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("rel_q"), F.asc("cand_id"))
    pool = audit_plan(
        "mmr_pool",
        scored.withColumn("rn", F.row_number().over(wq)).filter(
            F.col("rn") <= MMR_POOL
        ),
    ).localCheckpoint()  # pair self-join sides + the rel cogroup side
    pair_cos = f"{dot_sql(dl.SPARK, 'a_cv', 'b_cv')} / (a_cnorm * b_cnorm)"
    pairs = (
        pool.select(
            "query_id",
            F.col("cand_id").alias("a"),
            F.col("cv").alias("a_cv"),
            F.col("cnorm").alias("a_cnorm"),
        )
        .join(
            pool.select(
                "query_id",
                F.col("cand_id").alias("b"),
                F.col("cv").alias("b_cv"),
                F.col("cnorm").alias("b_cnorm"),
            ),
            "query_id",
        )
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id", "a", "b", F.expr(_quant_cos(dl.SPARK, pair_cos)).alias("sim_q")
        )
    )
    # distinct column names on the rel side (qid vs query_id) so the
    # cogroup's analysis can't confuse the two pool-derived lineages
    rel = pool.select(
        F.col("query_id").alias("qid"), "cand_id", "rel_q"
    )

    def greedy(rel_pdf, pair_pdf):
        # One query's pool (<= MMR_POOL rel rows) and its pairwise sims
        # (<= POOL^2 rows): pure int64 arithmetic, identical to the
        # oracle's unrolled CTE greedy. Per-group state is constant-sized.
        import pandas as pd

        if not len(rel_pdf):
            return pd.DataFrame(
                {"query_id": [], "cand_id": [], "step": [], "rel_q": []}
            )
        # left side uses qid (renamed to dodge cogroup lineage ambiguity)
        qid = int(rel_pdf["qid"].iloc[0])
        cands = sorted(
            zip(
                rel_pdf["cand_id"].astype("int64"),
                rel_pdf["rel_q"].astype("int64"),
            ),
            key=lambda t: (-t[1], t[0]),
        )
        sim = {
            (int(a), int(b)): int(s)
            for a, b, s in zip(pair_pdf["a"], pair_pdf["b"], pair_pdf["sim_q"])
        }
        rel_of = dict(cands)
        sel = [cands[0][0]]
        out = [(qid, cands[0][0], 1, rel_of[cands[0][0]])]
        for step in range(2, MMR_K + 1):
            best = None
            for cid, rq in cands:
                if cid in sel:
                    continue
                ms = max(sim[(cid, s)] for s in sel)
                key = (-(MMR_L_REL * rq - MMR_L_DIV * ms), cid)
                if best is None or key < best[0]:
                    best = (key, cid)
            if best is None:
                break  # pool smaller than MMR_K
            sel.append(best[1])
            out.append((qid, best[1], step, rel_of[best[1]]))
        return pd.DataFrame(
            out, columns=["query_id", "cand_id", "step", "rel_q"]
        )

    return (
        rel.groupby("qid")
        .cogroup(pairs.groupby("query_id"))
        .applyInPandas(
            greedy, "query_id bigint, cand_id bigint, step int, rel_q bigint"
        )
    )


def _oracle_mmr() -> str:
    d = dl.DUCK
    rel_cos = cosine_sql(d, "q.embedding", "c.embedding")
    pair_cos = cosine_sql(d, "ea.embedding", "eb.embedding")
    ctes = [
        f"""scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    {_quant_cos(d, rel_cos)} AS rel_q
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERY_VECS}
)""",
        f"""pool AS MATERIALIZED (
  SELECT query_id, cand_id, rel_q FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY rel_q DESC, cand_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {MMR_POOL}
)""",
        f"""pr AS MATERIALIZED (
  SELECT p1.query_id, p1.cand_id AS a, p2.cand_id AS b,
    {_quant_cos(d, pair_cos)} AS sim_q
  FROM pool p1
  JOIN pool p2 ON p1.query_id = p2.query_id AND p1.cand_id <> p2.cand_id
  JOIN embeddings ea ON ea.vec_id = p1.cand_id
  JOIN embeddings eb ON eb.vec_id = p2.cand_id
)""",
        """sel1 AS MATERIALIZED (
  SELECT query_id, cand_id, 1 AS step FROM (
    SELECT query_id, cand_id, row_number() OVER (
      PARTITION BY query_id ORDER BY rel_q DESC, cand_id ASC) AS rn
    FROM pool
  ) WHERE rn = 1
)""",
    ]
    for t in range(2, MMR_K + 1):
        prev = f"sel{t - 1}"
        ctes.append(
            f"""m{t} AS MATERIALIZED (
  SELECT p.query_id, p.cand_id, p.rel_q, max(pr.sim_q) AS ms
  FROM pool p
  JOIN pr ON pr.query_id = p.query_id AND pr.a = p.cand_id
  JOIN {prev} s ON s.query_id = pr.query_id AND s.cand_id = pr.b
  LEFT JOIN {prev} x ON x.query_id = p.query_id AND x.cand_id = p.cand_id
  WHERE x.cand_id IS NULL
  GROUP BY p.query_id, p.cand_id, p.rel_q
)""")
        ctes.append(
            f"""pick{t} AS MATERIALIZED (
  SELECT query_id, cand_id, {t} AS step FROM (
    SELECT query_id, cand_id, row_number() OVER (
      PARTITION BY query_id
      ORDER BY ({MMR_L_REL} * rel_q - {MMR_L_DIV} * ms) DESC, cand_id ASC) AS rn
    FROM m{t}
  ) WHERE rn = 1
)""")
        ctes.append(
            f"""sel{t} AS MATERIALIZED (
  SELECT query_id, cand_id, step FROM {prev}
  UNION ALL SELECT query_id, cand_id, step FROM pick{t}
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT s.query_id, s.cand_id, s.step, p.rel_q
FROM sel{MMR_K} s JOIN pool p USING (query_id, cand_id)
"""


ANN_LSH_TABLES = 4  # search path: more tables than the dedup path (LSH_TABLES=2)
# Hamming<=2 multiprobe: probe the query's own bucket, every 1-bit flip,
# and every 2-bit flip (1 + 6 + 15 = 22 probes/table). On 6-bit SRP codes
# the per-table hit probability for a cos~0.3 neighbor goes p^6 (~0.05)
# -> +6p^5q (~0.23 at Hamming-1) -> +15p^4q^2 (~0.45); 4 tables then give
# ~1-(1-0.45)^4 ~ 0.91 expected recall. Probes exist ONLY on the
# broadcast query side (|Q| x TABLES x 22 rows); the corpus side still
# explodes to TABLES rows, so the extra cost is just more matched pairs.
# Measured at sf0.1: recall@10 0.74 -> 0.96 for 1.3 s -> 2.2 s warm — the
# standard LSH recall/candidate trade, re-tuned in round 5.
def lsh_probe_masks(n_bits: int = LSH_BITS) -> list[int]:
    """Hamming<=2 multiprobe XOR masks for an ``n_bits`` bucket space:
    the identity, every 1-bit flip, every 2-bit flip — 1 + n + C(n,2)
    probes per table. Parametric for the rebucket maintenance path; the
    gate constant below is this function at LSH_BITS."""
    return (
        [0]
        + [2**b for b in range(n_bits)]
        + [2**a | 2**b for a in range(n_bits) for b in range(a + 1, n_bits)]
    )


LSH_PROBE_MASKS = lsh_probe_masks()


def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via multi-table, MULTI-PROBE LSH: candidates are vectors
    whose bucket matches any Hamming<=1 probe of the query's bucket in any
    of the ANN_LSH_TABLES tables (union of equi-joins on the probed bucket
    id, distinct pairs) — per-bucket products, never a full cross product.
    This is the 100 TB path; brute force is the oracle of record for
    recall measurements (bench ann_recall_at_10, floor-pinned in
    tests/test_ann_recall.py)."""
    sim = _lsh_ann_scored(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "cand_id", F.round("cosine", 4).alias("cosine"), "rnk")
    )


def _lsh_ann_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-probe LSH candidate generator + cosine scorer behind
    sim_lsh_ann, BEFORE any top-k cut: (query_id, cand_id, cosine) for
    every candidate surfaced by any probed bucket in any table;
    sim_lsh_ann cuts it at TOP_K."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id",
        "embedding",
        *[
            F.expr(lsh_bucket_sql(dl.SPARK, "embedding", t)).alias(f"bucket_{t}")
            for t in range(ANN_LSH_TABLES)
        ],
    ).cache()
    # ONE equi-join on (table, bucket) instead of a per-table union of
    # joins: the query side explodes to TABLES x PROBES keyed rows, the
    # candidate side to TABLES rows — same candidate set, 1 join + 1
    # distinct instead of 4 joins + 3 unions (each small stage carries
    # fixed scheduling/codegen overhead that dominated the old shape)
    # ONE parsed expression for the TABLES x PROBES fan-out (r14): the
    # former py4j comprehension (68 F.struct/F.lit/bitwiseXOR column
    # objects) cost ~0.9 s of DRIVER time per construction — more than
    # the query's whole execution; the single F.expr parse is ~60 ms
    # with an identical analyzed plan (§5: the driver should do almost
    # no work, and plan construction is part of the bench's timed cost)
    probe_entries = ", ".join(
        f"named_struct('t', {t}, 'bucket', (bucket_{t} ^ {m}))"
        for t in range(ANN_LSH_TABLES)
        for m in LSH_PROBE_MASKS
    )
    probes = bucketed.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.expr(f"explode(array({probe_entries}))").alias("p"),
    ).select("query_id", "qv", F.col("p.t").alias("t"), F.col("p.bucket").alias("bucket"))
    c = bucketed.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("bucket"))
                    for t in range(ANN_LSH_TABLES)
                ]
            )
        ).alias("p"),
    ).select("cand_id", "cv", F.col("p.t").alias("t"), F.col("p.bucket").alias("bucket"))
    # Vectors ride THROUGH the bucket equi-join (both explodes are
    # map-side), cosine is computed on the join output, and only then are
    # multi-table duplicate pairs collapsed — the dedup shuffle therefore
    # carries (query_id, cand_id, cosine) triples, not vectors, and the
    # old per-pair re-joins to fetch qv/cv (one of which re-shuffled the
    # whole corpus by cand_id) disappear. A pair can match in at most one
    # probe per table, so the duplicated cosine work is bounded by
    # ANN_LSH_TABLES and max() collapses bit-identical values.
    sim = (
        F.broadcast(probes)
        .join(c, ["t", "bucket"])
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(cosine_sql(dl.SPARK, "qv", "cv")).alias("cosine"),
        )
        .groupBy("query_id", "cand_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return sim


def _oracle_lsh_ann() -> str:
    cos = cosine_sql(dl.DUCK, "q.embedding", "c.embedding")
    buckets = ", ".join(
        f"{lsh_bucket_sql(dl.DUCK, 'embedding', t)} AS bucket_{t}"
        for t in range(ANN_LSH_TABLES)
    )
    masks = ", ".join(str(m) for m in LSH_PROBE_MASKS)
    # per table: candidate bucket equals the query bucket with <=1 bit
    # flipped — mirror of the exploded probe array on the Spark side
    match = " OR ".join(
        f"c.bucket_{t} = xor(q.bucket_{t}, m.m)" for t in range(ANN_LSH_TABLES)
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {buckets} FROM embeddings
), pairs AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM bucketed q, (SELECT unnest([{masks}]) AS m) m, bucketed c
  WHERE q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id AND ({match})
), scored AS (
  SELECT p.query_id, p.cand_id, {cos} AS cosine
  FROM pairs p
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings c ON c.vec_id = p.cand_id
)
SELECT query_id, cand_id, round(cosine, 4) AS cosine, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
  FROM scored
) WHERE rnk <= {TOP_K}
"""


def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid in long form: posexplode to (label, dim, value),
    hash-agg mean per (label, dim). Long form IS the scalable layout — the
    shuffle key (label, dim) is uniform, and no row ever holds a full
    centroid until the (tiny) final pivot a consumer might do."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.round(F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 4).alias("centroid_v"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


# DuckDB: parallel unnest of the list and its index sequence zips them.
ORACLE_CENTROIDS = """
WITH exploded AS (
  SELECT label,
    unnest(generate_series(0, len(embedding) - 1)) AS dim,
    unnest(embedding) AS v
  FROM embeddings
)
SELECT label, CAST(dim AS INT) AS dim,
  round(sum(CAST(v AS DOUBLE)) / count(*), 4) AS centroid_v,
  count(*) AS n_vectors
FROM exploded GROUP BY label, dim
"""


IVF_NPROBE = 3  # probe the 3 nearest cells (of K_CLUSTERS=8)


def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: rank the learned k-means cells by exact
    (BIGINT fixed-point) centroid distance per query and search the
    IVF_NPROBE nearest inverted lists — the recall knob every production
    IVF exposes (nprobe), applied to the same trained codebook as
    sim_ivf_kmeans_ann (which is the nprobe=1 latency path).

    Round-3 lesson: the earlier label-cell variant probed 1 of 10 *random*
    partitions (labels carry no geometry on these fixtures) — recall@10
    was 0.12, i.e. exactly the 1/10 a random cell gives. Probing P
    learned cells makes recall a monotone function of candidate coverage
    that the bench's ann_recall_at_10 now pins with a floor.

    Plan shape: K tiny centroids broadcast twice (query ranking +
    assignment); candidates reach the probe join by cell-id equi-join —
    per-cell products only, never all-pairs. Training cost is memoized in
    operators.ml (kmeans_centroids), so the codebook is trained once per
    process across the three queries that share it."""
    from .ml import (
        _quant_sql,
        kmeans_centroid_rows,
        nearest_centroid,
        nearest_centroid_probes,
        quantized_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = kmeans_centroid_rows(spark, sf_dir)
    qq = quantized_vectors(spark, sf_dir).filter(F.col("vec_id") < N_QUERY_VECS)
    # both the query-side cell ranking and the candidate-side cell
    # assignment ride the dispatched coarse quantizer (ml.nearest_centroid*
    # — map-side literal expressions at gate K, the broadcast centroid
    # relation past K_LITERAL_CEILING); at gate K the only exchange in
    # this query is the probe equi-join itself
    probe = nearest_centroid_probes(
        qq, rows, IVF_NPROBE, ["vec_id"], max_rows=N_QUERY_VECS
    ).select(F.col("vec_id").alias("query_id"), F.col("p.cl").alias("cell"))
    qv = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = nearest_centroid(
        emb, rows, ["vec_id"], qe_expr=_quant_sql(dl.SPARK, "embedding"),
        carry=["embedding"],
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("m.cl").alias("cell"),
    )
    pairs = (
        F.broadcast(probe.join(qv, "query_id"))
        .join(cand, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cosine", F.expr(cosine_sql(dl.SPARK, "qv", "cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "cell", "cand_id", F.round("cosine", 4).alias("cosine"), "rnk")
    )


def _oracle_ivf_ann() -> str:
    from .ml import KMEANS_ITERS, _dist2_sql, kmeans_oracle_ctes

    ctes, final = kmeans_oracle_ctes()
    cent_final = f"c{KMEANS_ITERS}"
    dist2 = _dist2_sql(dl.DUCK, "q.qe", "c.c")
    cos = cosine_sql(dl.DUCK, "qe2.embedding", "ce.embedding")
    return f"""
WITH {ctes},
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cluster AS cell, {dist2} AS d2,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist2}, c.cluster) AS arnk
    FROM q, {cent_final} c WHERE q.vec_id < {N_QUERY_VECS}
  ) WHERE arnk <= {IVF_NPROBE}
),
pairs AS (
  SELECT p.query_id, p.cell, cc.vec_id AS cand_id, {cos} AS cosine
  FROM probe p
  JOIN embeddings qe2 ON qe2.vec_id = p.query_id
  JOIN {final} cc ON cc.cluster = p.cell AND cc.vec_id <> p.query_id
  JOIN embeddings ce ON ce.vec_id = cc.vec_id
)
SELECT query_id, cell, cand_id, round(cosine, 4) AS cosine, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
  FROM pairs
) WHERE rnk <= {TOP_K}
"""


SEMDEDUP_THRESHOLD = 0.3


# The k-means cell ASSIGNMENT relation (vec_id, label, embedding, norm,
# cell) is the shared staging input of every learned-codebook query:
# dedup_semantic_cells, sim_ivf_kmeans_ann, sim_knn_label_probe_ivf. Same
# materialize-once pattern as dedup.dedup_minhash_pairs (one staged
# localCheckpoint per (application, sf_dir), distributed) — at 100 TB this
# IS the IVF index build: assign once, write (cell -> inverted list) to
# storage, point search AND SemDeDup at it.
def kmeans_cell_assignment(
    spark: SparkSession, sf_dir: str, k: int | None = None,
    force: "str | None" = None,
) -> DataFrame:
    """(vec_id, label, embedding, nrm, cell): every vector with its
    hoisted norm and learned-cell id (the dispatched coarse quantizer —
    ml.nearest_centroid: literal map-side argmin at gate K, broadcast
    centroid relation past K_LITERAL_CEILING; exact BIGINT distances
    either way), materialized once per (application, sf_dir, k, face).
    ``k=None`` trains at the gate constant K_CLUSTERS; the density probe
    passes ``ml.k_for_corpus(N)`` so occupancy stays bounded as N grows.
    ``force="relation"`` pins the join face below the ceiling — the
    oracle-gated dedup_semantic_cells_rel twin runs it so the relation
    face is VALUE-oracled, not just pytest-pinned."""
    from .ml import K_CLUSTERS

    # k=None trains at the gate constant, so it produces the IDENTICAL
    # assignment as an explicit k=K_CLUSTERS — normalize the staging key or
    # the _prod twins at bench SF (k_for_corpus -> K_CLUSTERS) would
    # re-materialize a duplicate eager staging table of the same relation
    return _kmeans_cell_assignment(
        spark, sf_dir, K_CLUSTERS if k is None else k, force
    )


@staged
def _kmeans_cell_assignment(
    spark: SparkSession, sf_dir: str, k: int, force: "str | None"
) -> DataFrame:
    from .ml import _literal_ceiling, _quant_sql, kmeans_centroid_rows, nearest_centroid

    emb = load_table(spark, sf_dir, "embeddings")
    rows = kmeans_centroid_rows(spark, sf_dir, k)
    out = nearest_centroid(
        emb, rows, ["vec_id"],
        qe_expr=_quant_sql(dl.SPARK, "embedding"),
        carry=["label", "embedding"], force=force,
    ).select(
        "vec_id",
        "label",
        "embedding",
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("nrm"),
        F.col("m.cl").alias("cell"),
    )
    # distinct audit label per face: the relation face's plan legitimately
    # carries the broadcast centroid product (whitelisted by label in
    # test_plan_hygiene.AUDIT_CARTESIAN_OK); the literal face must NOT
    label = (
        "semantic_cell_assignments_rel"
        if force == "relation" or len(rows) > _literal_ceiling()
        else "semantic_cell_assignments"
    )
    return audit_plan(label, out).localCheckpoint()


def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: assign every vector to its learned
    k-means cell (map-side literal-centroid expression — zero exchanges,
    see ml.centroid_argmin_sql), find within-cell pairs above
    SEMDEDUP_THRESHOLD cosine, and drop the higher vec_id of each pair.
    Returns the per-cell audit a curation run logs: cell size, dup pairs,
    vectors dropped.

    vs dedup_embedding_cosine: same goal (embedding near-dup), different
    blocking — LSH buckets are data-independent; SemDeDup blocks by
    LEARNED cluster, which concentrates semantically-close vectors into
    the same block (higher recall per candidate at production thresholds).
    Cost bound is O(sum cell^2) per the SemDeDup paper's within-cluster
    pairwise scan; cells are the same codebook the IVF queries share, so
    at 100 TB one k-means training serves search AND dedup. The self-join
    is a cell-id EQUI-join (per-cell products, never all-pairs); a skewed
    giant cell is the known failure mode — production raises K so
    cells stay bounded. The rule lives in ONE place (ml.k_for_corpus) and
    the defense is MEASURED, not just named: tools/density_probe.py runs
    this operator at 3x volume with derived K and the pair term returns to
    ~linear (SCALE_SMOKE.md)."""
    return _semantic_cells_report(spark, sf_dir, None)


def _semantic_cells_report(
    spark: SparkSession, sf_dir: str, k: int | None,
    force: "str | None" = None,
) -> DataFrame:
    """dedup_semantic_cells body, parametric in the cell count: k=None is
    the oracle-pinned gate constant (K_CLUSTERS); the density probe passes
    ml.k_for_corpus(N) so per-cell occupancy — hence the O(sum cell^2)
    pair term — stays bounded as the corpus grows. ``force`` pins the
    coarse-quantizer face (dedup_semantic_cells_rel)."""
    # EAGER materialization via the shared staging table: cells feeds both
    # self-join sides AND the sizes agg (3 consumers) — un-materialized,
    # the centroid-assignment scan executes once per consumer inside the
    # final job (the in-job union-fan-out hazard, see dedup_minhash_pairs;
    # 2.52s -> 2.00s at sf0.1 when first checkpointed). Now shared with
    # the IVF search/probe queries (kmeans_cell_assignment).
    cells = kmeans_cell_assignment(spark, sf_dir, k, force=force).select(
        "vec_id", "embedding", "nrm", "cell"
    )
    a = cells.select(
        "cell",
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("av"),
        F.col("nrm").alias("a_nrm"),
    )
    b = cells.select(
        "cell",
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("bv"),
        F.col("nrm").alias("b_nrm"),
    )
    # Parallelism salt (r14): with K join keys the pair stage runs at most
    # K tasks, and the per-pair cosine (interpreted HOF fold — the
    # engine-exact form; the unrolled element_at variant measured 3.5x
    # SLOWER) is the dominant cost, so at gate K=8 the stage used ~1/4 of
    # a local[32] box. When K < 2 x defaultParallelism, split each cell S
    # ways: the a-side carries a deterministic salt pmod(xxhash64(a_id),
    # S), the b-side replicates S ways, and the join keys on (cell, s) —
    # every (a, b) pair still matches exactly once (only at s =
    # salt(a_id)), so the result is row-identical (re-verified by the
    # oracle). The explicit repartition-by-number is load-bearing: the
    # pair shuffle is only ~KB-sized, so AQE coalescing otherwise packs
    # the salted keys back into 1-2 partitions and erases the win
    # (measured: salt alone 1.88 s, salt+repartition 0.58 s vs 1.75 s
    # unsalted at sf0.1). At production K (k_for_corpus: K >> cores)
    # S = 1 and the plan is byte-identical to the unsalted form — the
    # b-side replication never inflates a corpus-sized shuffle.
    from .ml import K_CLUSTERS

    k_eff = k if k is not None else K_CLUSTERS
    par = spark.sparkContext.defaultParallelism
    n_salt = max(1, -(-2 * par // max(1, k_eff)))  # ceil(2*par / K)
    if n_salt > 1:
        a = a.withColumn(
            "s", F.pmod(F.xxhash64("a_id"), F.lit(n_salt)).cast("int")
        ).repartition(k_eff * n_salt, "cell", "s")
        b = b.withColumn(
            "s", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
        ).repartition(k_eff * n_salt, "cell", "s")
        join_keys = ["cell", "s"]
    else:
        join_keys = ["cell"]
    pairs = (
        a.join(b, join_keys)
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "cell",
            "b_id",
            (
                F.expr(dot_sql(dl.SPARK, "av", "bv"))
                / (F.col("a_nrm") * F.col("b_nrm"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") > SEMDEDUP_THRESHOLD)
    )
    sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    stats = pairs.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("b_id").alias("n_dropped"),
    )
    return (
        sizes.join(stats, "cell", "left")
        .select(
            "cell",
            "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
    )


def dedup_semantic_cells_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production sizing face of dedup_semantic_cells (round 11,
    bench-only per the registry convention): K comes from the corpus
    through ml.k_for_corpus (K ~= N / TARGET_CELL_SIZE) instead of the
    oracle-pinned constant, so per-cell occupancy — hence the
    O(sum cell^2) pair term — is bounded at any N. At the bench SF the
    rule REPRODUCES the gate constant (2000/250 = K_CLUSTERS), so this
    face is row-identical to the oracle-gated query there (pinned in
    tests/test_density_rule.py); at 10x density it is the ~linear arm of
    the measured defense (SCALE_SMOKE.md: fixed-K wall x104.6 vs derived-K
    x9.9 for x10 data). N comes from the parquet footer
    (loaders.table_row_count — the CBO table-stats lookup, zero Spark
    jobs), not an eager full-scan count() per invocation (ADVICE r11)."""
    from ..sources.loaders import table_row_count
    from .ml import k_for_corpus

    return _semantic_cells_report(
        spark, sf_dir, k_for_corpus(table_row_count(sf_dir, "embeddings"))
    )


def _oracle_semdedup() -> str:
    from .ml import kmeans_oracle_ctes

    ctes, final = kmeans_oracle_ctes()
    cos = cosine_sql(dl.DUCK, "ea.embedding", "eb.embedding")
    return f"""
WITH {ctes},
cells AS (SELECT vec_id, cluster AS cell FROM {final}),
pairs AS (
  SELECT a.cell, b.vec_id AS b_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE {cos} > {SEMDEDUP_THRESHOLD}
),
sizes AS (SELECT cell, count(*) AS n_vectors FROM cells GROUP BY cell),
stats AS (SELECT cell, count(*) AS n_dup_pairs, count(DISTINCT b_id) AS n_dropped
          FROM pairs GROUP BY cell)
SELECT s.cell, s.n_vectors,
  coalesce(t.n_dup_pairs, 0) AS n_dup_pairs,
  coalesce(t.n_dropped, 0) AS n_dropped
FROM sizes s LEFT JOIN stats t ON s.cell = t.cell
"""


COSINE_DUP_THRESHOLD = 0.3


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — the last rung of the dedup ladder
    (exact -> MinHash -> SimHash -> n-gram Jaccard -> embedding cosine):
    pairs above COSINE_DUP_THRESHOLD among LSH-bucket candidates, i.e. the
    ANN candidate generation reused for dedup instead of search. Same
    O(sum bucket^2) bound; never all-pairs.

    Approximate BY DESIGN (a high-cosine pair hashed into disjoint buckets
    in every table is missed — recall governed by LSH_TABLES x LSH_BITS);
    the oracle mirrors the same candidate generation so the gate checks the
    implementation, while test_embedding_cosine_dedup_finds_planted
    verifies planted near-dups are found. The fixture embeddings are
    isotropic, so the threshold here sits at the top of the natural cosine
    range (~0.37 max) rather than a production 0.9."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, COSINE_DUP_THRESHOLD)


def embedding_cosine_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """Core of dedup_embedding_cosine over any (vec_id, embedding) frame.

    Unlike the ANN query-set path (10 queries -> tiny candidate set, norms
    inlined), this is ALL-pairs-above-threshold: every vector appears in
    ~bucket_size pairs, so norms are hoisted per vector (O(n*d)) and the
    per-pair work is one dot product — the brute-force trade-off, ~3x less
    array arithmetic on the pair stream."""
    bucketed = emb.select(
        "vec_id",
        "embedding",
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("nrm"),
        *[
            F.expr(lsh_bucket_sql(dl.SPARK, "embedding", t)).alias(f"bucket_{t}")
            for t in range(LSH_TABLES)
        ],
    ).cache()
    # r15 (§2.4): the per-table self-joins used to be LSH_TABLES separate
    # join subtrees unioned (2 exchanges each); including the table id in
    # the join key makes them ONE equi-join over the exploded (t, bucket)
    # relation — identical pair set (a union over t IS a join keyed on t).
    lbk = bucketed.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"bucket_{t}") for t in range(LSH_TABLES)])).alias(
            "t", "bk"
        ),
    )
    cand = (
        lbk.select(F.col("vec_id").alias("a"), "t", "bk")
        .join(lbk.select(F.col("vec_id").alias("b"), "t", "bk"), ["t", "bk"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    av = bucketed.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    bv = bucketed.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    return (
        cand.join(av, "a")
        .join(bv, "b")
        .withColumn(
            "cosine",
            F.round(F.expr(dot_sql(dl.SPARK, "va", "vb")) / (F.col("na") * F.col("nb")), 4),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def _oracle_embedding_cosine() -> str:
    cos = cosine_sql(dl.DUCK, "l.embedding", "r.embedding")
    buckets = ", ".join(
        f"{lsh_bucket_sql(dl.DUCK, 'embedding', t)} AS bucket_{t}" for t in range(LSH_TABLES)
    )
    match = " OR ".join(f"l.bucket_{t} = r.bucket_{t}" for t in range(LSH_TABLES))
    return f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {buckets} FROM embeddings
)
SELECT l.vec_id AS a, r.vec_id AS b, round({cos}, 4) AS cosine
FROM bucketed l JOIN bucketed r ON ({match}) AND l.vec_id < r.vec_id
WHERE round({cos}, 4) >= {COSINE_DUP_THRESHOLD}
"""


def ann_recall(spark: SparkSession, sf_dir: str) -> dict:
    """recall@TOP_K of every ANN path against the brute-force oracle of
    record, averaged over the query set. Reported in bench output and
    asserted as floors in tests/test_ann_recall.py (>=0.5 each after the
    round-4 fixes: multi-probe IVF, Hamming-1 multiprobe LSH, PQ exact
    rerank; ivf_kmeans >=0.7). Guards against silent candidate-generation
    regressions — round 3 shipped 0.12-recall paths precisely because only
    a loose floor was pinned."""
    def pairs(df):
        return {(r["query_id"], r["cand_id"]) for r in df.collect()}

    truth = pairs(sim_topk_bruteforce(spark, sf_dir))
    out = {}
    for name, fn in (
        ("lsh", sim_lsh_ann),
        ("ivf", sim_ivf_ann),
        ("ivf_kmeans", sim_ivf_kmeans_ann),
        ("pq_adc", sim_pq_adc_ann),
        ("ivfpq", sim_ivfpq_ann),
    ):
        got = pairs(fn(spark, sf_dir))
        out[name] = round(len(got & truth) / len(truth), 4)
    return out


# r6: nprobe 1 -> 3 (recall@10 0.79 -> 0.87; the r5 ask was >=0.85.
# Measured at sf0.1: nprobe=2 gave 0.83 — one cell short of the floor).
# Differs from sim_ivf_ann in the plan, not the depth: candidates come
# from the materialized kmeans_cell_assignment staging table (the
# precomputed-inverted-list path) instead of a map-side assignment scan.
IVFK_NPROBE = 3


def sim_ivf_kmeans_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN with a REAL k-means codebook (what sim_ivf_ann's docstring
    promises production does): cells come from the fixed-point Lloyd rounds
    in operators.ml, so the coarse quantizer is learned, not the label
    column. Cell assignment uses exact BIGINT distances (deterministic —
    no float argmin flapping); in-cell ranking is the same sequential
    double cosine as every other similarity op.

    Plan shape: ONE assignment pass over all vectors (the shared
    kmeans_cell_assignment staging table), then query rows (tiny)
    broadcast-joined to the probed cells' inverted lists on the cell id —
    per-cell products only, norms hoisted per side.

    nprobe=IVFK_NPROBE (2, round 6 — was 1 at recall@10 0.79; the r5 ask
    was >=0.85): the query side ranks cells by exact BIGINT centroid
    distance (centroid_topn_sql — a map-side literal expression, probes
    exist only on the broadcast query side) and searches its 2 nearest
    inverted lists. Candidate coverage doubles (2/K_CLUSTERS of the
    corpus per query), the candidate-side plan is unchanged. sim_ivf_ann
    remains the deeper nprobe=3 recall path."""
    return _ivf_kmeans_report(spark, sf_dir, None)


def sim_ivf_kmeans_ann_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELATION face of sim_ivf_kmeans_ann (round 13, VERDICT r12
    item 1): identical semantics, but the coarse quantizer — the
    query-side cell ranking AND the corpus-side cell assignment — is
    FORCED through the broadcast-join centroid relation
    (ml.nearest_centroid*, the K > K_LITERAL_CEILING dispatch target), so
    the scale-safe face is VALUE-ORACLED against the same DuckDB SQL as
    the literal face, not just pytest-pinned. At gate K the two faces are
    row-identical by the min(struct)/array_min tie-order argument in
    ml.nearest_centroid's docstring; this query makes the hash gate
    enforce it every round."""
    return _ivf_kmeans_report(spark, sf_dir, "relation")


def dedup_semantic_cells_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELATION face of dedup_semantic_cells (see
    sim_ivf_kmeans_ann_rel): SemDeDup's cell assignment forced through the
    broadcast-join coarse quantizer, oracle-gated against the identical
    SQL as the literal face."""
    return _semantic_cells_report(spark, sf_dir, None, force="relation")


def _ivf_kmeans_report(
    spark: SparkSession, sf_dir: str, force: "str | None"
) -> DataFrame:
    """sim_ivf_kmeans_ann body, parametric in the coarse-quantizer face
    (None = dispatch on K — literal at the gate constant; "relation" =
    the broadcast-join face, oracle-gated via sim_ivf_kmeans_ann_rel)."""
    from .ml import _quant_sql, kmeans_centroid_rows, nearest_centroid_probes

    asg = kmeans_cell_assignment(spark, sf_dir, force=force)
    rows = kmeans_centroid_rows(spark, sf_dir)
    qv = asg.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnorm"),
    )
    probe = nearest_centroid_probes(
        asg.filter(F.col("vec_id") < N_QUERY_VECS),
        rows, IVFK_NPROBE, ["vec_id"],
        qe_expr=_quant_sql(dl.SPARK, "embedding"), force=force,
        max_rows=N_QUERY_VECS,
    ).select(F.col("vec_id").alias("query_id"), F.col("p.cl").alias("cell"))
    cand = asg.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cnorm"),
        "cell",
    )
    pairs = (
        F.broadcast(probe.join(qv, "query_id"))
        .join(cand, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn(
            "cosine",
            F.expr(dot_sql(dl.SPARK, "qv", "cv")) / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "cell", "cand_id", F.round("cosine", 4).alias("cosine"), "rnk")
    )


def _oracle_ivf_kmeans() -> str:
    from .ml import KMEANS_ITERS, _dist2_sql, kmeans_oracle_ctes

    ctes, final = kmeans_oracle_ctes()
    cent_final = f"c{KMEANS_ITERS}"
    dist2 = _dist2_sql(dl.DUCK, "q.qe", "c.c")
    cos = cosine_sql(dl.DUCK, "qe2.embedding", "ce.embedding")
    return f"""
WITH {ctes},
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cluster AS cell,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist2}, c.cluster) AS arnk
    FROM q, {cent_final} c WHERE q.vec_id < {N_QUERY_VECS}
  ) WHERE arnk <= {IVFK_NPROBE}
),
pairs AS (
  SELECT p.query_id, p.cell, cc.vec_id AS cand_id, {cos} AS cosine
  FROM probe p
  JOIN embeddings qe2 ON qe2.vec_id = p.query_id
  JOIN {final} cc ON cc.cluster = p.cell AND cc.vec_id <> p.query_id
  JOIN embeddings ce ON ce.vec_id = cc.vec_id
)
SELECT query_id, cell, cand_id, round(cosine, 4) AS cosine, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
  FROM pairs
) WHERE rnk <= {TOP_K}
"""


PQ_RERANK = 200  # exact-cosine rerank pool per query (FAISS "refine"
# stage). r5: 100->200 — rerank cost is |Q| * pool = 2000 full-precision
# rows (trivial); with PQ_K=16 this moved recall@10 0.61 -> 0.85 at sf0.1
# (measured grid: 100/8=0.61, 200/8=0.75, 100/16=0.74, 200/16=0.85).


def sim_pq_adc_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with asymmetric distance computation (ADC) + exact
    rerank — the billion-vector shape: candidates are represented ONLY by
    their PQ_BLOCKS codes (8 small ints, not 64 floats); each query builds
    a (block, code) -> distance lookup table against the trained codebook,
    and a candidate's distance is the sum of 8 table lookups. The ADC
    order then selects a PQ_RERANK-candidate pool per query which is
    re-ranked by exact cosine — the standard refine stage: full-precision
    vectors are touched for |Q| * PQ_RERANK rows only (1000 here), never
    for the corpus scan. Round-3 lesson: raw 24-bit ADC order alone gave
    recall@10 = 0.29; the same codes as a *pool selector* recover most of
    it because the true neighbors rank well inside the top-100.

    Plan: LUT = query subvectors x codebook = |Q| * PQ_BLOCKS * PQ_K rows
    (640 here) — broadcast; the candidate side joins its codes to the LUT
    on (block, code) (equi, map-side); one hash agg keyed (query, cand)
    sums per-block distances; a per-query window takes the rerank pool;
    the pool equi-joins back to the embedding table for the exact scores.
    Exact BIGINT ADC + the shared sequential-double cosine -> the ranking
    is deterministic and the oracle hash-matches."""
    from .ml import PQ_BLOCKS, _pq_assign, pq_trained

    emb = load_table(spark, sf_dir, "embeddings")
    blocks, cent = pq_trained(spark, sf_dir)
    codes = _pq_assign(blocks, cent).select("vec_id", "block", "code")
    qlut = (
        blocks.filter(F.col("vec_id") < N_QUERY_VECS)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cent), "block")
        .select(
            "query_id", "block", "code",
            F.expr(
                "aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d2"),
        )
    )
    pairs = (
        codes.join(F.broadcast(qlut), ["block", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("d2").alias("adc_d2"), F.count(F.lit(1)).alias("n_blocks"))
    )
    w_adc = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("cand_id"))
    pool = (
        pairs.filter(F.col("n_blocks") == PQ_BLOCKS)
        .withColumn("adc_rnk", F.row_number().over(w_adc))
        .filter(F.col("adc_rnk") <= PQ_RERANK)
        .select("query_id", "cand_id", "adc_d2")
    )
    qv = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    rer = (
        pool.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .withColumn("cosine", F.expr(cosine_sql(dl.SPARK, "qv", "cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id", "cand_id", "adc_d2",
            F.round("cosine", 4).alias("cosine"), "rnk",
        )
    )


def _oracle_pq_adc() -> str:
    from .ml import PQ_BLOCKS, pq_oracle_ctes

    ctes, final, cbook = pq_oracle_ctes()
    rerank_cos = cosine_sql(dl.DUCK, "qe.embedding", "ce.embedding")
    lut_d2 = (
        "list_sum(list_transform(generate_series(1, len(qb.sub)), i -> "
        "(list_extract(qb.sub, i) - list_extract(c.c, i)) * "
        "(list_extract(qb.sub, i) - list_extract(c.c, i))))"
    )
    return f"""
WITH {ctes},
codes AS (SELECT vec_id, block, code FROM {final}),
qlut AS (
  SELECT qb.vec_id AS query_id, qb.block, c.code,
    CAST({lut_d2} AS BIGINT) AS d2
  FROM blocks qb JOIN {cbook} c ON c.block = qb.block
  WHERE qb.vec_id < {N_QUERY_VECS}
),
pairs AS (
  SELECT l.query_id, cd.vec_id AS cand_id,
    CAST(sum(l.d2) AS BIGINT) AS adc_d2, count(*) AS n_blocks
  FROM codes cd JOIN qlut l ON l.block = cd.block AND l.code = cd.code
  WHERE l.query_id <> cd.vec_id
  GROUP BY 1, 2
),
pool AS (
  SELECT query_id, cand_id, adc_d2 FROM (
    SELECT query_id, cand_id, adc_d2,
      row_number() OVER (PARTITION BY query_id ORDER BY adc_d2 ASC, cand_id ASC) AS adc_rnk
    FROM pairs WHERE n_blocks = {PQ_BLOCKS}
  ) WHERE adc_rnk <= {PQ_RERANK}
),
rer AS (
  SELECT p.query_id, p.cand_id, p.adc_d2, {rerank_cos} AS cosine
  FROM pool p
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ce ON ce.vec_id = p.cand_id
)
SELECT query_id, cand_id, adc_d2, round(cosine, 4) AS cosine, CAST(rnk AS INT) AS rnk FROM (
  SELECT *,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
  FROM rer
) WHERE rnk <= {TOP_K}
"""


IVFPQ_NPROBE = 3  # coarse cells probed per query (matches IVFK_NPROBE's
# measured recall point); candidates per query = nprobe x occupancy, so
# with K derived from N (ml.k_for_corpus) the ADC scan is CONSTANT per
# query — the corpus-independent serve cost SCALE.md promises.


def sim_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (round 11): the FAISS IndexIVFPQ composition — the
    billion-vector production shape this repo's ADC and IVF docstrings
    keep deferring to, now a first-class operator instead of prose.

    sim_pq_adc_ann scans EVERY candidate's codes per query (linear in N
    per query — fine at bench SF, the measured wall in SCALE_SMOKE.md's
    density section); sim_ivf_kmeans_ann bounds candidates by coarse cell
    but pays full-precision cosine per candidate. This composes both
    bounds: the query probes its IVFPQ_NPROBE nearest k-means cells
    (map-side literal centroid ranking, exact BIGINT), candidates are the
    probed cells' members ONLY, their distance is the 8-lookup ADC sum
    against the query's broadcast LUT, and the top-PQ_RERANK pool is
    re-ranked by exact cosine (the refine stage). Per query the scan
    touches nprobe/K of the corpus as 8-byte codes and PQ_RERANK rows of
    full vectors — with K ~ N/TARGET_CELL_SIZE both terms are constant.

    Plan: one vec-grain equi-join stamps each code row with its cell
    (both sides are the shared staging relations — codes from pq_trained,
    cells from kmeans_cell_assignment); the |Q| x nprobe probe relation
    and the |Q| x BLOCKS x PQ_K LUT broadcast; ADC is one hash agg keyed
    (query, cand); no full-precision vector moves before the rerank join.
    Exact BIGINT ADC + the shared sequential-double cosine -> the ranking
    is deterministic and the oracle hash-matches."""
    return _ivfpq_report(spark, sf_dir, None)


def _ivfpq_report(
    spark: SparkSession, sf_dir: str, k: int | None, adc_observation=None
) -> DataFrame:
    """sim_ivfpq_ann body, parametric in the coarse-cell count: k=None is
    the oracle-pinned gate constant; the _prod face and the density probe
    pass ml.k_for_corpus(N), which bounds candidates per query at
    nprobe x TARGET_CELL_SIZE independent of corpus size.

    ``adc_observation`` (round 12, VERDICT r11 item 1): a
    ``pyspark.sql.Observation`` attached to the rows ENTERING the ADC
    aggregate — the unit the derived-K defense is denominated in
    (candidate code rows per query = nprobe x occupancy x PQ_BLOCKS).
    The sandbox walls can hide the reduction in seconds (per-query fixed
    cost dominates at probe volume); the observed row count cannot. Free
    when None; when set, the count rides the job's existing pass
    (AggregatingAccumulator) — no second scan. See ivfpq_observed /
    tools/density_probe.py / tests/test_ivfpq_candidates.py."""
    from .ml import (
        PQ_BLOCKS,
        _pq_assign,
        _quant_sql,
        kmeans_centroid_rows,
        nearest_centroid_probes,
        pq_trained,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    asg = kmeans_cell_assignment(spark, sf_dir, k)
    rows = (
        kmeans_centroid_rows(spark, sf_dir)
        if k is None
        else kmeans_centroid_rows(spark, sf_dir, k)
    )
    blocks, cent = pq_trained(spark, sf_dir)
    codes = _pq_assign(blocks, cent).select("vec_id", "block", "code")
    cellcodes = codes.join(asg.select("vec_id", "cell"), "vec_id")
    qlut = (
        blocks.filter(F.col("vec_id") < N_QUERY_VECS)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cent), "block")
        .select(
            "query_id", "block", "code",
            F.expr(
                "aggregate(zip_with(sub, c, (x, y) -> (x - y) * (x - y)), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d2"),
        )
    )
    probe = nearest_centroid_probes(
        asg.filter(F.col("vec_id") < N_QUERY_VECS),
        rows, IVFPQ_NPROBE, ["vec_id"],
        qe_expr=_quant_sql(dl.SPARK, "embedding"),
        max_rows=N_QUERY_VECS,
    ).select(F.col("vec_id").alias("query_id"), F.col("p.cl").alias("cell"))
    adc_input = (
        cellcodes.join(F.broadcast(probe), "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(qlut), ["query_id", "block", "code"])
    )
    if adc_observation is not None:
        adc_input = adc_input.observe(
            adc_observation, F.count(F.lit(1)).alias("adc_candidate_rows")
        )
    adc = adc_input.groupBy(
        "query_id", "cell", F.col("vec_id").alias("cand_id")
    ).agg(F.sum("d2").alias("adc_d2"), F.count(F.lit(1)).alias("n_blocks"))
    w_adc = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("cand_id"))
    pool = (
        adc.filter(F.col("n_blocks") == PQ_BLOCKS)
        .withColumn("adc_rnk", F.row_number().over(w_adc))
        .filter(F.col("adc_rnk") <= PQ_RERANK)
        .select("query_id", "cell", "cand_id", "adc_d2")
    )
    qv = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    rer = (
        pool.join(F.broadcast(qv), "query_id")
        .join(cv, "cand_id")
        .withColumn("cosine", F.expr(cosine_sql(dl.SPARK, "qv", "cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id", "cell", "cand_id", "adc_d2",
            F.round("cosine", 4).alias("cosine"), "rnk",
        )
    )


def sim_ivfpq_ann_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production sizing face of sim_ivfpq_ann (round 11, bench-only per
    the registry convention): the coarse quantizer's K comes from
    ml.k_for_corpus, so ADC candidates per query are bounded at
    IVFPQ_NPROBE x TARGET_CELL_SIZE whatever the corpus size — the
    corpus-INDEPENDENT serve cost the IVF-PQ design exists to buy. At the
    bench SF the rule reproduces the gate constant, so this face is
    row-identical to the oracle-gated query there (pinned in
    tests/test_density_rule.py); the density probe measures the
    fixed-vs-derived walls at 10x density (SCALE_SMOKE.md). N comes from
    the parquet footer (loaders.table_row_count), not an eager count()."""
    from ..sources.loaders import table_row_count
    from .ml import k_for_corpus

    return _ivfpq_report(
        spark, sf_dir, k_for_corpus(table_row_count(sf_dir, "embeddings"))
    )


def ivfpq_observed(spark: SparkSession, sf_dir: str, k: int | None):
    """(report_df, Observation) — the IVF-PQ face with the ADC-input row
    counter attached (round 12, VERDICT r11 item 1). After any action on
    the report, ``obs.get["adc_candidate_rows"]`` is the EXACT number of
    candidate code rows the ADC aggregate consumed — the derived-K
    defense measured in the unit the sandbox cannot hide:
    sum over queries of sum over probed cells of (|cell| - [q in cell])
    x PQ_BLOCKS. Fixed K: occupancy ~ N/K grows linearly with the corpus,
    so the count does too. Derived K (ml.k_for_corpus): occupancy pinned
    ~TARGET_CELL_SIZE, count flat at |Q| x nprobe x TARGET_CELL_SIZE x
    PQ_BLOCKS whatever N is. tools/density_probe.py records both arms at
    x1/x3/x10; tests/test_ivfpq_candidates.py pins the count against the
    closed form AND the bound on the prod face."""
    from pyspark.sql import Observation

    obs = Observation("ivfpq_adc")
    return _ivfpq_report(spark, sf_dir, k, adc_observation=obs), obs


def _oracle_ivfpq() -> str:
    from .ml import (
        KMEANS_ITERS,
        PQ_BLOCKS,
        _dist2_sql,
        kmeans_oracle_ctes,
        pq_oracle_ctes,
    )

    km_ctes, km_final = kmeans_oracle_ctes(prefix="km_")
    pq_ctes, pq_final, cbook = pq_oracle_ctes()
    cell_dist2 = _dist2_sql(dl.DUCK, "q.qe", "c.c")
    rerank_cos = cosine_sql(dl.DUCK, "qe2.embedding", "ce.embedding")
    lut_d2 = (
        "list_sum(list_transform(generate_series(1, len(qb.sub)), i -> "
        "(list_extract(qb.sub, i) - list_extract(c.c, i)) * "
        "(list_extract(qb.sub, i) - list_extract(c.c, i))))"
    )
    return f"""
WITH {km_ctes},
{pq_ctes},
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cluster AS cell,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {cell_dist2}, c.cluster) AS arnk
    FROM km_q q, km_c{KMEANS_ITERS} c WHERE q.vec_id < {N_QUERY_VECS}
  ) WHERE arnk <= {IVFPQ_NPROBE}
),
qlut AS (
  SELECT qb.vec_id AS query_id, qb.block, c.code,
    CAST({lut_d2} AS BIGINT) AS d2
  FROM blocks qb JOIN {cbook} c ON c.block = qb.block
  WHERE qb.vec_id < {N_QUERY_VECS}
),
adc AS (
  SELECT p.query_id, p.cell, cd.vec_id AS cand_id,
    CAST(sum(l.d2) AS BIGINT) AS adc_d2, count(*) AS n_blocks
  FROM probe p
  JOIN {km_final} asg ON asg.cluster = p.cell AND asg.vec_id <> p.query_id
  JOIN (SELECT vec_id, block, code FROM {pq_final}) cd ON cd.vec_id = asg.vec_id
  JOIN qlut l ON l.query_id = p.query_id AND l.block = cd.block AND l.code = cd.code
  GROUP BY 1, 2, 3
),
pool AS (
  SELECT query_id, cell, cand_id, adc_d2 FROM (
    SELECT query_id, cell, cand_id, adc_d2,
      row_number() OVER (PARTITION BY query_id ORDER BY adc_d2 ASC, cand_id ASC) AS adc_rnk
    FROM adc WHERE n_blocks = {PQ_BLOCKS}
  ) WHERE adc_rnk <= {PQ_RERANK}
),
rer AS (
  SELECT p.query_id, p.cell, p.cand_id, p.adc_d2, {rerank_cos} AS cosine
  FROM pool p
  JOIN embeddings qe2 ON qe2.vec_id = p.query_id
  JOIN embeddings ce ON ce.vec_id = p.cand_id
)
SELECT query_id, cell, cand_id, adc_d2, round(cosine, 4) AS cosine, CAST(rnk AS INT) AS rnk FROM (
  SELECT *,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
  FROM rer
) WHERE rnk <= {TOP_K}
"""


KNN_EVAL_N = 50  # eval set: vec_id < KNN_EVAL_N
KNN_K = 10


def sim_knn_label_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label probe — the standard embedding-quality eval: classify
    each eval vector by majority label of its K nearest neighbors (drawn
    from the rest of the corpus) and report per-label accuracy. Says
    whether the embedding space clusters by label at all (the isotropic
    fixtures should score near chance — the probe proves the HARNESS, the
    number characterizes the data).

    Plan: broadcast eval set x candidate scan (the brute-force pattern),
    per-query top-K window, majority vote via min(struct(-cnt, label))
    (deterministic tie-break: smallest label wins), one final label agg.
    Norms are pre-computed per side (the sim_topk_bruteforce hoist), so
    per-pair work is one dot product — same doubles, oracle unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("qnorm"),
    )
    # fan_out_small (r14): the broadcast-q × candidate cosine product (the
    # whole query cost — |eval| dots per candidate row) runs on the
    # candidate scan's partitions, ONE task on the single-row-group
    # fixture. Fan the scan before the norm projection so norms and the
    # cross product both run at full width.
    c = fan_out_small(emb, spark).filter(F.col("vec_id") >= KNN_EVAL_N).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("cv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("cnorm"),
    )
    sim = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn(
            "cosine",
            F.expr(dot_sql(dl.SPARK, "qv", "cv")) / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    knn = sim.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= KNN_K)
    votes = knn.groupBy("query_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pred = (
        votes.groupBy("query_id", "true_label")
        .agg(F.min(F.struct(-F.col("cnt"), F.col("cand_label"))).alias("m"))
        .select(
            "query_id", "true_label", F.col("m.cand_label").alias("predicted_label")
        )
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                (F.col("predicted_label") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
    )


def _oracle_knn_probe() -> str:
    cos = cosine_sql(dl.DUCK, "q.embedding", "c.embedding")
    return f"""
WITH sim AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
    c.vec_id AS cand_id, c.label AS cand_label, {cos} AS cosine
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {KNN_EVAL_N} AND c.vec_id >= {KNN_EVAL_N}
), knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
    FROM sim
  ) WHERE rnk <= {KNN_K}
), votes AS (
  SELECT query_id, true_label, cand_label, count(*) AS cnt
  FROM knn GROUP BY 1, 2, 3
), pred AS (
  SELECT query_id, true_label, cand_label AS predicted_label FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cnt DESC, cand_label ASC) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT true_label, count(*) AS n_eval,
  CAST(sum(CASE WHEN predicted_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
    AS n_correct
FROM pred GROUP BY true_label
"""


def sim_knn_label_probe_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label probe fed by IVF candidates — the SERVING-path twin of
    ``sim_knn_label_probe`` (which stays broadcast brute force as the
    oracle-of-record eval). Candidates are restricted to each eval
    vector's IVF_NPROBE nearest learned cells (same memoized codebook as
    every IVF query), so full-precision cosines are computed for
    per-cell products only — at 100 TB this is the only shape that runs:
    the brute probe's |eval| × corpus scan becomes |eval| × (nprobe/K)
    × corpus, and the probe join stays a cell-id equi-join.

    Same vote and accuracy semantics as the brute probe; differences in
    n_correct between the two ARE the eval signal for how much ANN
    candidate truncation costs on this embedding space."""
    from .ml import kmeans_centroid_rows, nearest_centroid_probes, quantized_vectors

    rows = kmeans_centroid_rows(spark, sf_dir)
    qq = quantized_vectors(spark, sf_dir).filter(F.col("vec_id") < KNN_EVAL_N)
    probe = nearest_centroid_probes(
        qq, rows, IVF_NPROBE, ["vec_id"], max_rows=KNN_EVAL_N
    ).select(F.col("vec_id").alias("query_id"), F.col("p.cl").alias("cell"))
    asg = kmeans_cell_assignment(spark, sf_dir)
    q = asg.filter(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnorm"),
    )
    c = asg.filter(F.col("vec_id") >= KNN_EVAL_N).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cnorm"),
        "cell",
    )
    sim = (
        F.broadcast(probe.join(q, "query_id"))
        .join(c, "cell")
        .withColumn(
            "cosine",
            F.expr(dot_sql(dl.SPARK, "qv", "cv")) / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    knn = sim.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= KNN_K)
    votes = knn.groupBy("query_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pred = (
        votes.groupBy("query_id", "true_label")
        .agg(F.min(F.struct(-F.col("cnt"), F.col("cand_label"))).alias("m"))
        .select(
            "query_id", "true_label", F.col("m.cand_label").alias("predicted_label")
        )
    )
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(
            (F.col("predicted_label") == F.col("true_label")).cast("long")
        ).alias("n_correct"),
    )


def _oracle_knn_probe_ivf() -> str:
    from .ml import KMEANS_ITERS, _dist2_sql, kmeans_oracle_ctes

    ctes, final = kmeans_oracle_ctes()
    cent_final = f"c{KMEANS_ITERS}"
    dist2 = _dist2_sql(dl.DUCK, "q.qe", "c.c")
    cos = cosine_sql(dl.DUCK, "qe.embedding", "ce.embedding")
    return f"""
WITH {ctes},
probe AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cluster AS cell,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist2}, c.cluster) AS arnk
    FROM q, {cent_final} c WHERE q.vec_id < {KNN_EVAL_N}
  ) WHERE arnk <= {IVF_NPROBE}
),
sim AS (
  SELECT p.query_id, qe.label AS true_label,
    cc.vec_id AS cand_id, ce.label AS cand_label, {cos} AS cosine
  FROM probe p
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN {final} cc ON cc.cluster = p.cell AND cc.vec_id >= {KNN_EVAL_N}
  JOIN embeddings ce ON ce.vec_id = cc.vec_id
), knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
    FROM sim
  ) WHERE rnk <= {KNN_K}
), votes AS (
  SELECT query_id, true_label, cand_label, count(*) AS cnt
  FROM knn GROUP BY 1, 2, 3
), pred AS (
  SELECT query_id, true_label, cand_label AS predicted_label FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cnt DESC, cand_label ASC) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT true_label, count(*) AS n_eval,
  CAST(sum(CASE WHEN predicted_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
    AS n_correct
FROM pred GROUP BY true_label
"""


SEM_DECON_THRESHOLD = 0.3


def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination — the semantic complement of
    decontaminate_ngram_overlap (dedup.py): flag TRAIN vectors whose
    cosine to ANY eval vector exceeds the threshold, i.e. paraphrased /
    re-embedded eval leakage that token-overlap checks miss. Eval set =
    vec_id < KNN_EVAL_N (same deterministic split as the kNN probes);
    output is the per-train-vector contamination record (hit count, max
    eval cosine) a curation run joins against before sampling.

    Plan: the eval side is BROADCAST (eval benchmarks are tiny by
    construction — this is the one cross join whose small side is small by
    DESIGN, like sim_topk_bruteforce); the corpus streams map-side with
    hoisted norms, so the only shuffle is the final aggregate over the
    (rare) contaminated pairs. At 100 TB the same plan holds; if the eval
    suite outgrows broadcast, block both sides by IVF cell exactly as
    sim_knn_label_probe_ivf does."""
    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("qv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("qnorm"),
    )
    # fan_out_small (r14): the eval × train cosine scan runs on the train
    # side's partitions — ONE task on the single-row-group fixture.
    tr = fan_out_small(emb, spark).filter(F.col("vec_id") >= KNN_EVAL_N).select(
        F.col("vec_id").alias("train_id"),
        "label",
        F.col("embedding").alias("cv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("cnorm"),
    )
    hits = (
        F.broadcast(ev)
        .crossJoin(tr)
        .withColumn(
            "cosine",
            F.expr(dot_sql(dl.SPARK, "qv", "cv")) / (F.col("qnorm") * F.col("cnorm")),
        )
        .filter(F.col("cosine") > SEM_DECON_THRESHOLD)
    )
    return hits.groupBy("train_id", "label").agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        F.round(F.max("cosine"), 4).alias("max_eval_cosine"),
    )


def _oracle_decon_semantic() -> str:
    cos = cosine_sql(dl.DUCK, "q.embedding", "c.embedding")
    return f"""
WITH hits AS (
  SELECT c.vec_id AS train_id, c.label, {cos} AS cosine
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {KNN_EVAL_N} AND c.vec_id >= {KNN_EVAL_N}
    AND {cos} > {SEM_DECON_THRESHOLD}
)
SELECT train_id, label, count(*) AS n_eval_hits,
  round(max(cosine), 4) AS max_eval_cosine
FROM hits GROUP BY train_id, label
"""


def _int8_quant_sql(d: str, vec: str) -> str:
    """Symmetric per-vector int8 quantization (the embedding_quantize_int8
    convention: scale = max|x|/127, q_i = round(x_i/scale)) as an INT
    array expression — shared template, identical doubles, identical
    rounding, so the int8 vectors are bit-equal across engines."""
    if d == dl.SPARK:
        amax = (
            f"aggregate({vec}, CAST(0.0 AS DOUBLE), "
            f"(a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"
        )
        return (
            f"transform({vec}, x -> "
            f"CAST(round(CAST(x AS DOUBLE) / (({amax}) / 127.0)) AS INT))"
        )
    amax = f"coalesce(list_max(list_transform({vec}, x -> abs(CAST(x AS DOUBLE)))), 0.0)"
    return (
        f"list_transform({vec}, x -> "
        f"CAST(round(CAST(x AS DOUBLE) / (({amax}) / 127.0)) AS INT))"
    )


def _int8_dot_sql(d: str, a: str, b: str) -> str:
    """Exact BIGINT dot product of two int8 arrays (max |sum| =
    64 * 127^2 ~ 1e6 — nowhere near overflow)."""
    if d == dl.SPARK:
        return (
            f"aggregate(zip_with({a}, {b}, "
            f"(x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
            f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
    prods = dl.transform(
        d,
        dl.seq(d, "1", str(EMB_DIM)),
        "i",
        f"CAST({dl.arr_element(d, a, 'i')} AS BIGINT) * "
        f"CAST({dl.arr_element(d, b, 'i')} AS BIGINT)",
    )
    return dl.arr_sum_bigint(d, prods)


def sim_ann_int8_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality audit of int8-quantized similarity search: per
    query, the overlap between the float-cosine top-K and the top-K
    ranked by INT8-only cosine (integer dot products of the quantized
    vectors, normalized by the quantized self-norms — exactly what a
    production int8 index computes; the float vectors never enter the
    quantized ranking). This is the recall study every 4x-compression
    decision runs: embedding_quantize_int8 reports the per-element
    error, this reports what that error DOES to top-K retrieval.

    Determinism: both rankings quantize their score to 1e-6 fixed-point
    (the _quant_cos convention) with cand_id tie-breaks; the int8
    vectors themselves are bit-equal across engines (shared quantization
    template over identical doubles), so both engines rank identically
    and the recall integers hash-match exactly.

    Plan: ONE broadcast Q x N scan computes both scores per pair (the
    sim_topk_bruteforce shape — the float ranking is the eval side and
    needs exact top-K anyway); two query-partitioned row_number windows;
    one per-query agg. At scale the int8 side would come from the IVF/PQ
    candidate paths — the eval contract (join the two top-K sets, count
    hits) is unchanged."""
    # fan_out_small (r14): the int8 quantization + per-pair double dot
    # products (the whole query cost) run on the scan's partitions — ONE
    # task on the single-row-group fixture.
    emb = fan_out_small(load_table(spark, sf_dir, "embeddings"), spark)
    d = dl.SPARK
    base = emb.select(
        "vec_id",
        "embedding",
        F.expr(_int8_quant_sql(d, "embedding")).alias("v8"),
        F.expr(norm_sql(d, "embedding")).alias("nf"),
    ).withColumn("n8", F.expr(_int8_dot_sql(d, "v8", "v8")))
    q = base.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("v8").alias("q8"),
        F.col("nf").alias("qnf"),
        F.col("n8").alias("qn8"),
    )
    c = base.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("v8").alias("c8"),
        F.col("nf").alias("cnf"),
        F.col("n8").alias("cn8"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(
                _quant_cos(d, f"({dot_sql(d, 'qv', 'cv')}) / (qnf * cnf)")
            ).alias("cosf_fp"),
            F.expr(
                _quant_cos(
                    d,
                    f"CAST({_int8_dot_sql(d, 'q8', 'c8')} AS DOUBLE) / "
                    f"(sqrt(CAST(qn8 AS DOUBLE)) * sqrt(CAST(cn8 AS DOUBLE)))",
                )
            ).alias("cos8_fp"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("cosf_fp"), F.asc("cand_id"))
    w8 = W.partitionBy("query_id").orderBy(F.desc("cos8_fp"), F.asc("cand_id"))
    ranked = pairs.select(
        "query_id",
        F.row_number().over(wf).alias("rnk_f"),
        F.row_number().over(w8).alias("rnk_8"),
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("rnk_f") <= TOP_K) & (F.col("rnk_8") <= TOP_K), 1)
                .otherwise(0)
            ).alias("n_hits")
        )
        .select(
            "query_id",
            "n_hits",
            F.expr(dl.round_ratio(d, "n_hits", str(TOP_K))).alias("recall_int8"),
        )
    )


def _oracle_int8_eval() -> str:
    d = dl.DUCK
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, embedding,
    {_int8_quant_sql(d, 'embedding')} AS v8,
    {norm_sql(d, 'embedding')} AS nf
  FROM embeddings
), base8 AS MATERIALIZED (
  SELECT *, {_int8_dot_sql(d, 'v8', 'v8')} AS n8 FROM base
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    {_quant_cos(d, f"({dot_sql(d, 'q.embedding', 'c.embedding')}) / (q.nf * c.nf)")} AS cosf_fp,
    {_quant_cos(d, f"CAST({_int8_dot_sql(d, 'q.v8', 'c.v8')} AS DOUBLE) / (sqrt(CAST(q.n8 AS DOUBLE)) * sqrt(CAST(c.n8 AS DOUBLE)))")} AS cos8_fp
  FROM base8 q JOIN base8 c
    ON q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosf_fp DESC, cand_id ASC) AS rnk_f,
    row_number() OVER (PARTITION BY query_id ORDER BY cos8_fp DESC, cand_id ASC) AS rnk_8
  FROM pairs
)
SELECT query_id,
  CAST(sum(CASE WHEN rnk_f <= {TOP_K} AND rnk_8 <= {TOP_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
  {dl.round_ratio(d, 'sum(CASE WHEN rnk_f <= ' + str(TOP_K) + ' AND rnk_8 <= ' + str(TOP_K) + ' THEN 1 ELSE 0 END)', str(TOP_K))} AS recall_int8
FROM ranked GROUP BY query_id
"""


# ---------------------------------------------------------------- matryoshka
MAT_DIMS = 16  # truncation prefix (full vectors are 64-d)


def sim_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / dimension-truncation retrieval eval: per query, the
    top-K overlap between full-dimension cosine and cosine over only the
    FIRST MAT_DIMS components — the recall study behind every
    "store a 4x-shorter prefix, rerank with the tail" deployment
    (MRL-style truncation; same eval contract as sim_ann_int8_eval,
    which audits the quantization axis while this audits the dimension
    axis).

    Plan: the sim_topk_bruteforce shape — ONE broadcast Q x N scan
    computes both scores per pair (prefix norms hoisted per side, so
    per-pair work is two dots), two query-partitioned windows, one
    per-query agg. Both scores quantize to 1e-6 fixed-point with cand_id
    tie-breaks (the _quant_cos convention), so rankings and recall
    integers hash-match across engines. At scale the truncated side is
    the ANN index key (shorter vectors = denser buckets); the eval joins
    two top-K sets regardless of how candidates were produced."""
    d = dl.SPARK
    emb = load_table(spark, sf_dir, "embeddings")
    # fan_out_small (r14): the sliced-prefix norms + double dot products
    # per pair run on the scan's partitions — ONE task on the
    # single-row-group fixture (same dispatch as sim_ann_int8_eval).
    base = fan_out_small(emb, spark).select(
        "vec_id",
        "embedding",
        F.expr(f"slice(embedding, 1, {MAT_DIMS})").alias("vm"),
        F.expr(norm_sql(d, "embedding")).alias("nf"),
        F.expr(norm_sql(d, f"slice(embedding, 1, {MAT_DIMS})")).alias("nm"),
    )
    q = base.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("vm").alias("qm"),
        F.col("nf").alias("qnf"),
        F.col("nm").alias("qnm"),
    )
    c = base.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
        F.col("vm").alias("cm"),
        F.col("nf").alias("cnf"),
        F.col("nm").alias("cnm"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(
                _quant_cos(d, f"({dot_sql(d, 'qv', 'cv')}) / (qnf * cnf)")
            ).alias("cosf_fp"),
            F.expr(
                _quant_cos(d, f"({dot_sql(d, 'qm', 'cm')}) / (qnm * cnm)")
            ).alias("cosm_fp"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("cosf_fp"), F.asc("cand_id"))
    wm = W.partitionBy("query_id").orderBy(F.desc("cosm_fp"), F.asc("cand_id"))
    ranked = pairs.select(
        "query_id",
        F.row_number().over(wf).alias("rnk_f"),
        F.row_number().over(wm).alias("rnk_m"),
    )
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("rnk_f") <= TOP_K) & (F.col("rnk_m") <= TOP_K), 1)
                .otherwise(0)
            ).alias("n_hits")
        )
        .select(
            "query_id",
            "n_hits",
            F.expr(dl.round_ratio(d, "n_hits", str(TOP_K))).alias("recall_truncated"),
        )
    )


def _dot_dim_sql(d: str, a: str, b: str, n: int) -> str:
    """dot_sql with an explicit dimension (the module-level form bakes in
    EMB_DIM; the matryoshka prefix needs n = MAT_DIMS)."""
    if d == dl.SPARK:
        return dot_sql(d, a, b)  # zip_with is length-agnostic
    prods = dl.transform(
        d,
        dl.seq(d, "1", str(n)),
        "i",
        f"CAST({dl.arr_element(d, a, 'i')} AS DOUBLE) * CAST({dl.arr_element(d, b, 'i')} AS DOUBLE)",
    )
    return dl.arr_sum_double(d, prods)


def _oracle_matryoshka() -> str:
    d = dl.DUCK
    sl = dl.arr_slice(d, "embedding", "1", str(MAT_DIMS))
    nm = f"sqrt({_dot_dim_sql(d, sl, sl, MAT_DIMS)})"
    dot_m = _dot_dim_sql(d, "q.vm", "c.vm", MAT_DIMS)
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, embedding, {sl} AS vm,
    {norm_sql(d, 'embedding')} AS nf,
    {nm} AS nm
  FROM embeddings
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
    {_quant_cos(d, f"({dot_sql(d, 'q.embedding', 'c.embedding')}) / (q.nf * c.nf)")} AS cosf_fp,
    {_quant_cos(d, f"({dot_m}) / (q.nm * c.nm)")} AS cosm_fp
  FROM base q JOIN base c
    ON q.vec_id < {N_QUERY_VECS} AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cosf_fp DESC, cand_id ASC) AS rnk_f,
    row_number() OVER (PARTITION BY query_id ORDER BY cosm_fp DESC, cand_id ASC) AS rnk_m
  FROM pairs
)
SELECT query_id,
  CAST(sum(CASE WHEN rnk_f <= {TOP_K} AND rnk_m <= {TOP_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
  {dl.round_ratio(d, 'sum(CASE WHEN rnk_f <= ' + str(TOP_K) + ' AND rnk_m <= ' + str(TOP_K) + ' THEN 1 ELSE 0 END)', str(TOP_K))} AS recall_truncated
FROM ranked GROUP BY query_id
"""


# ---------------------------------------------------------------- k-center
KCENTER_K = 8


def sim_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point-first) diversity selection over the
    embedding corpus: start from vec 0, then repeatedly pick the vector
    FARTHEST from everything already selected (argmin of max cosine
    similarity to the selected set). The coreset-selection primitive
    behind diverse exemplar picking and dedup-aware subset curation —
    the Gonzalez 2-approximation of the k-center objective, complementing
    MMR (which diversifies a RELEVANCE pool; this diversifies the corpus
    itself).

    Plan: the running max-similarity column updates each round against
    ONLY the newest pick (a LITERAL array column — max over a set folds
    incrementally), so a round is one map-side projection + one global
    TakeOrdered(1); rounds are K-1, a constant; driver state is K picked
    vectors (the kmeans model-state pattern). Similarities are
    fixed-point quantized (the _quant_cos convention) with vec_id
    tie-break, so the greedy trajectory is engine-exact; the oracle
    unrolls the same K-1 picks against the full selected set (max is
    associative — identical values). Each round's frame is
    localCheckpointed (audited: kcenter_round) so pick t does not replay
    rounds 1..t-1.

    r14 overhead pass (the corpus is tiny next to the K-1 round constant,
    so DRIVER-side cost per round dominated the wall): (a) the newest
    pick rides as an F.array-of-F.lit literal column — the house
    literal-face pattern (ml.centroid_argmin_sql) — instead of a 1-row
    createDataFrame + broadcast + crossJoin, which paid py4j conversion,
    a broadcast exchange build, and a BroadcastNestedLoopJoin node per
    round (F.lit round-trips the exact collected doubles, so ms_q bits
    are unchanged); (b) localCheckpoint is LAZY — the pick's TakeOrdered
    action computes every partition anyway, so it materializes the
    checkpoint blocks as a side effect: one job per round instead of two.
    Measured at sf0.1 (N=2000): 26 -> 12 jobs, 4.34 -> 2.56 s warm
    min-of-3. Round t+1 still reads round t's checkpointed blocks, so
    lineage stays one round deep either way."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed = emb.filter(F.col("vec_id") == 0).collect()[0]
    picks = [(1, int(seed["vec_id"]), None)]

    def lit_vec(row_vec):
        # exact doubles: F.lit(float) ships the binary value, no parsing
        return F.array(*[F.lit(float(v)) for v in row_vec])

    qsim = _quant_cos(
        dl.SPARK, cosine_sql(dl.SPARK, "embedding", "nv")
    )
    cur = audit_plan(
        "kcenter_round",
        emb.withColumn("nv", lit_vec(seed["embedding"])).select(
            "vec_id", "embedding", F.expr(qsim).alias("ms_q")
        ),
    ).localCheckpoint(eager=False)
    for step in range(2, KCENTER_K + 1):
        chosen = {p[1] for p in picks}
        pick = (
            cur.filter(~F.col("vec_id").isin(*chosen))
            .orderBy(F.asc("ms_q"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        picks.append((step, int(pick["vec_id"]), int(pick["ms_q"])))
        if step < KCENTER_K:
            # per-round localCheckpoint, embeddings riding the frame: the
            # lazy alternative (K-deep projection lineage, replayed at
            # each pick) re-codegens the growing cosine chain and was
            # measured SLOWER (9.2 s vs 5.1 s warm at sf0.1); joining
            # embeddings back per round would add a shuffle per round.
            # Also measured and rejected: a 2-column (vec_id, ms_q) state
            # with embeddings checkpointed once — localCheckpoint erases
            # partitioning (Scan ExistingRDD reports unknown), so the
            # per-round re-join planned as a BroadcastHashJoin of the
            # CORPUS-SIZED state (fine at sf0.1, a broadcast bomb at
            # scale) and was no faster (4.6 vs 4.2 s warm) anyway.
            # Cost is ~constant jobs x K — amortizes at any corpus size.
            cur = audit_plan(
                "kcenter_round",
                cur.withColumn("nv", lit_vec(pick["embedding"])).select(
                    "vec_id",
                    "embedding",
                    F.greatest("ms_q", F.expr(qsim)).alias("ms_q"),
                ),
            ).localCheckpoint(eager=False)
    return driver_rows_df(
        spark,
        [
            (s, v, None if m is None else m / float(MMR_SCALE))
            for s, v, m in picks
        ],
        "step int, vec_id bigint, max_sim_at_pick double",
    ).orderBy("step")


def _oracle_kcenter() -> str:
    d = dl.DUCK
    qsim = _quant_cos(d, cosine_sql(d, "e.embedding", "s.embedding"))
    # MATERIALIZED everywhere: without it DuckDB inlines each CTE into its
    # consumers, and sel{t} referencing sel{t-1} (itself referenced twice
    # per round) re-expands the whole chain — the unrolled oracle went
    # exponential (~120 s at sf0.01; ~2 s materialized). Same lesson as
    # the MMR oracle.
    ctes = ["sel1 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS vec_id)"]
    rows = ["SELECT 1 AS step, CAST(0 AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS max_sim_at_pick"]
    for t in range(2, KCENTER_K + 1):
        prev = f"sel{t - 1}"
        ctes.append(
            f"""ms{t} AS MATERIALIZED (
  SELECT e.vec_id, max({qsim}) AS m
  FROM embeddings e
  JOIN embeddings s ON s.vec_id IN (SELECT vec_id FROM {prev})
  WHERE e.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY e.vec_id
), pick{t} AS MATERIALIZED (
  SELECT vec_id, m FROM ms{t} ORDER BY m ASC, vec_id ASC LIMIT 1
), sel{t} AS MATERIALIZED (
  SELECT vec_id FROM {prev} UNION ALL SELECT vec_id FROM pick{t}
)"""
        )
        rows.append(
            f"SELECT {t} AS step, vec_id, CAST(m AS DOUBLE) / {MMR_SCALE} AS max_sim_at_pick FROM pick{t}"
        )
    body = ",\n".join(ctes)
    union = "\nUNION ALL ".join(rows)
    return f"""
WITH {body}
SELECT CAST(step AS INT) AS step, vec_id, max_sim_at_pick FROM ({union})
ORDER BY step
"""


# ---------------------------------------------------------------- RRF fusion
RRF_K = 60        # standard reciprocal-rank-fusion constant
RRF_POOL = 50     # per-ranker pool depth fed into the fusion
RRF_TOP = 20


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a LEXICAL ranking
    (BM25 over the fixed textstats.BM25_QUERY term set, the corpus
    statistics pipeline textstats_bm25 ships) and a DENSE ranking
    (cosine of every vector against query vector 0 — doc_id and vec_id
    are 1:1 in this corpus) are each cut to a RRF_POOL-deep list, then
    fused: rrf = sum over lists of 1/(K + rank). The standard hybrid
    search join (Cormack et al.'s RRF), done as TWO bounded rankings +
    one POOL-sized full-outer join — fusion never touches corpus-sized
    relations.

    Scale: the lexical side is posting-list-bounded (terms are filtered
    BEFORE any agg, same plan as textstats_bm25); the dense side is the
    brute-force baseline (the ANN variants sim_lsh_ann / sim_ivf_*
    emit the same (id, rank) shape, but none is fused here); both rank
    windows partition by nothing over <=POOL rows only after per-ranker
    TakeOrdered cuts. Ranks are exact integers; the rrf double is the
    same two-term IEEE expression in both engines. Both rank windows
    order on 1e-6 FIXED-POINT scores (the _quant_cos convention, same as
    sim_matryoshka_eval): the bm25 float sum's partial-agg order is
    nondeterministic and the raw cosine is engine-shared but last-bit
    fragile — ranking on the quantized BIGINT keeps the RRF_POOL cutoff
    stable across engines and runs."""
    lex = _rrf_lex(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("qnorm"),
    )
    dense = (
        F.broadcast(q)
        .crossJoin(
            emb.filter(F.col("vec_id") != 0).select(
                F.col("vec_id").alias("doc_id"),
                F.col("embedding").alias("cv"),
                F.expr(norm_sql(dl.SPARK, "embedding")).alias("cnorm"),
            )
        )
        .withColumn(
            "cosine",
            F.expr(dot_sql(dl.SPARK, "qv", "cv")) / (F.col("qnorm") * F.col("cnorm")),
        )
        .withColumn("cos_q", F.expr(_quant_cos(dl.SPARK, "cosine")))
        .withColumn(
            "rank_dense_",
            F.row_number().over(W.orderBy(F.desc("cos_q"), F.asc("doc_id"))),
        )
        .filter(F.col("rank_dense_") <= RRF_POOL)
        .select("doc_id", F.col("rank_dense_").alias("rank_dense"))
    )
    return _rrf_fuse(lex, dense)


def _rrf_lex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lexical (BM25) ranking side of the RRF fusion: posting-list
    bounded scoring over the fixed BM25_QUERY term set, cut to a
    RRF_POOL-deep (doc_id, lex_rank) list."""
    from .dedup import tokenized_docs_staging
    from .textstats import BM25_B, BM25_K1, BM25_QUERY

    # r15 (§2.4): the lexical side tokenized documents TWICE per
    # execution — once for the posting explode, once for the avgdl stats
    # collect. Both now read the shared tokenize-once staging relation
    # (identical token arrays by construction — same split_ws template);
    # at 100 TB that is two fewer full corpus tokenizes per run, the same
    # trade batch-3 of r14 made for textstats_lm_score.
    tokd = tokenized_docs_staging(spark, sf_dir)
    toks = tokd.select(
        "doc_id", F.size("toks").alias("dl_"), F.explode("toks").alias("token")
    )
    qtok = toks.filter(F.col("token").isin(*BM25_QUERY))
    tf = qtok.groupBy("doc_id", "dl_", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        tokd.select(F.size("toks").alias("dl_"))
        .agg(F.sum("dl_").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()[0]
    )
    n_docs, avgdl_val = stats["c"], stats["s"] / stats["c"]
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl_") / F.lit(avgdl_val))
    )
    lex = (
        tf.join(F.broadcast(df_tbl), "token")
        .withColumn("term_score", idf * tf_part)
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("bm25"))
        .withColumn("bm25_q", F.expr(_quant_cos(dl.SPARK, "bm25")))
        .withColumn(
            "lex_rank",
            F.row_number().over(W.orderBy(F.desc("bm25_q"), F.asc("doc_id"))),
        )
        .filter(F.col("lex_rank") <= RRF_POOL)
        .select("doc_id", "lex_rank")
    )
    return lex


def _rrf_fuse(lex: DataFrame, dense: DataFrame) -> DataFrame:
    """Fuse a lexical (doc_id, lex_rank) list with a dense (doc_id,
    rank_dense) list: POOL-sized full-outer join + the reciprocal-rank
    sum. Missing ranks coalesce to a zero term, so a dense side that
    surfaces fewer than RRF_POOL ids fuses by the same rule."""
    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "rank_dense",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rank_dense")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("rrf"), F.asc("doc_id")))
        )
        .filter(F.col("rnk") <= RRF_TOP)
        .select("doc_id", "lex_rank", "rank_dense", F.round("rrf", 6).alias("rrf"), "rnk")
    )


def _oracle_rrf() -> str:
    from .textstats import BM25_B, BM25_K1, BM25_QUERY

    d = dl.DUCK
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    cos = cosine_sql(d, "q.embedding", "c.embedding")
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(d, 'text')} AS toks FROM documents
), tok AS (
  SELECT doc_id, len(toks) AS dl_, unnest(toks) AS token FROM tokd
), stats AS (
  SELECT sum(len(toks)) AS s, count(*) AS c FROM tokd
), tf AS (
  SELECT doc_id, dl_, token, count(*) AS tf FROM tok
  WHERE token IN ({terms}) GROUP BY 1, 2, 3
), dfr AS (
  SELECT token, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
    sum(ln((CAST((SELECT c FROM stats) AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
      * (tf * ({BM25_K1} + 1)) / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl_
        / (CAST((SELECT s FROM stats) AS DOUBLE) / (SELECT c FROM stats))))) AS bm25
  FROM tf JOIN dfr USING (token) GROUP BY 1
), lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id,
      row_number() OVER (ORDER BY {_quant_cos(d, 'bm25')} DESC, doc_id ASC) AS lex_rank
    FROM scored
  ) WHERE lex_rank <= {RRF_POOL}
), dense AS (
  SELECT doc_id, rank_dense FROM (
    SELECT c.vec_id AS doc_id,
      row_number() OVER (ORDER BY {_quant_cos(d, cos)} DESC, c.vec_id ASC) AS rank_dense
    FROM embeddings q JOIN embeddings c ON q.vec_id = 0 AND c.vec_id <> 0
  ) WHERE rank_dense <= {RRF_POOL}
), fused AS (
  SELECT coalesce(l.doc_id, de.doc_id) AS doc_id,
    CAST(l.lex_rank AS INT) AS lex_rank, CAST(de.rank_dense AS INT) AS rank_dense,
    coalesce(1.0 / ({RRF_K} + l.lex_rank), 0.0)
      + coalesce(1.0 / ({RRF_K} + de.rank_dense), 0.0) AS rrf
  FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id
)
SELECT doc_id, lex_rank, rank_dense, round(rrf, 6) AS rrf, CAST(rnk AS INT) AS rnk
FROM (
  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS rnk FROM fused
) WHERE rnk <= {RRF_TOP}
"""


# ------------------------------------------------------------ cluster labels
CLUSTER_KW_TOP = 5
CLUSTER_KW_MIN = 5          # minimum in-cluster occurrences for a keyword
CLUSTER_KW_SCALE = 10_000   # lift quantized to 1e-4 before ranking


def docs_cluster_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label each learned k-means cell with its most DISTINCTIVE tokens —
    the "what is this cluster about" readout an embedding-curation UI
    shows next to every cluster. Exploits the corpus contract that
    embeddings.vec_id IS documents.doc_id (the same 1:1 the RRF fusion
    uses): cell assignments come from the shared kmeans_cells staging
    relation, token stats from the documents table, distinctiveness =
    lift (in-cluster token share over corpus share), half-up quantized to
    1e-4 before the per-cell rank window; tokens below CLUSTER_KW_MIN
    in-cluster occurrences are noise-filtered.

    Scale: one doc-keyed equi-join (tokens x assignments), then
    everything lives at (cell, token) grain — vocabulary-bounded; the
    corpus token total rides a 1-row broadcast (scalar-aggregate
    pattern); rank windows partition by cell over vocab-sized rows.
    Overflow: c_cw * N * SCALE needs BIGINT — holds to ~3e14 corpus
    tokens per cluster-token pair product; past that pre-divide N."""
    d = dl.SPARK
    cells = kmeans_cell_assignment(spark, sf_dir).select("vec_id", "cell")
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(dl.split_ws(d, "text"))).alias("w")
    )
    j = toks.join(cells, toks.doc_id == cells.vec_id).select("cell", "w")
    cw = j.groupBy("cell", "w").agg(F.count(F.lit(1)).alias("c_cw"))
    ctot = cw.groupBy("cell").agg(F.sum("c_cw").alias("n_c"))
    wtot = cw.groupBy("w").agg(F.sum("c_cw").alias("c_w"))
    ntot = cw.groupBy().agg(F.sum("c_cw").alias("n_all"))
    scored = (
        cw.join(F.broadcast(ctot), "cell")
        .join(F.broadcast(wtot), "w")
        .crossJoin(F.broadcast(ntot))
        .filter(F.col("c_cw") >= CLUSTER_KW_MIN)
        .withColumn(
            "lift_q",
            F.expr(
                f"(2 * c_cw * n_all * {CLUSTER_KW_SCALE} + n_c * c_w) "
                f"DIV (2 * n_c * c_w)"
            ),
        )
    )
    from pyspark.sql.window import Window as WW

    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            WW.partitionBy("cell").orderBy(F.desc("lift_q"), F.asc("w"))
        ),
    ).filter(F.col("rank") <= CLUSTER_KW_TOP)
    return ranked.select(
        "cell",
        "rank",
        F.col("w").alias("token"),
        F.col("c_cw").alias("n_in_cluster"),
        (F.col("lift_q") / F.lit(float(CLUSTER_KW_SCALE))).alias("lift"),
    ).orderBy("cell", "rank")


def _oracle_cluster_keywords() -> str:
    from .ml import kmeans_oracle_ctes

    ctes, final = kmeans_oracle_ctes()
    return f"""
WITH {ctes}, cellmap AS (
  SELECT vec_id, cluster AS cell FROM {final}
), toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), j AS (
  SELECT c.cell, t.w FROM toks t JOIN cellmap c ON c.vec_id = t.doc_id
), cw AS (
  SELECT cell, w, count(*) AS c_cw FROM j GROUP BY 1, 2
), ctot AS (
  SELECT cell, sum(c_cw) AS n_c FROM cw GROUP BY 1
), wtot AS (
  SELECT w, sum(c_cw) AS c_w FROM cw GROUP BY 1
), ntot AS (
  SELECT sum(c_cw) AS n_all FROM cw
), scored AS (
  SELECT cw.cell, cw.w, cw.c_cw,
    (2 * cw.c_cw * n.n_all * {CLUSTER_KW_SCALE} + ct.n_c * wt.c_w)
      // (2 * ct.n_c * wt.c_w) AS lift_q
  FROM cw
  JOIN ctot ct ON ct.cell = cw.cell
  JOIN wtot wt ON wt.w = cw.w
  CROSS JOIN ntot n
  WHERE cw.c_cw >= {CLUSTER_KW_MIN}
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY lift_q DESC, w ASC)
    AS rank FROM scored
)
SELECT cell, CAST(rank AS INT) AS rank, w AS token,
  CAST(c_cw AS BIGINT) AS n_in_cluster,
  CAST(lift_q AS DOUBLE) / {CLUSTER_KW_SCALE} AS lift
FROM ranked WHERE rank <= {CLUSTER_KW_TOP}
ORDER BY cell, rank
"""


def ml_knn_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the kNN classifier (sim_knn_label_probe):
    bucket eval queries by the winning vote share (votes/K — the
    classifier's natural confidence score) and report the observed
    accuracy per bucket — the calibration readout (Guo et al. 2017,
    "expected vs observed") that decides whether the vote share can be
    used as a rejection threshold. A well-calibrated probe has
    accuracy ~ confidence per row; the displayed gap is the per-bucket
    calibration error.

    Same eval pipeline as sim_knn_label_probe (broadcast eval set x
    candidate scan, per-query top-K window, deterministic vote
    tie-break) — only the final readout differs, so the two queries'
    numbers are directly comparable. Exact integers throughout: vote
    counts, bucket keys, and n/correct; confidence/accuracy/gap are
    round_ratio / shared-IEEE readouts of those integers.

    Scale: the brute-force eval pattern (documented: production twin =
    feed the same readout from IVF candidates, sim_knn_label_probe_ivf's
    plan); everything after the top-K window is query-grain (|eval|
    rows) then vote-share-grain (<= K rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("qnorm"),
    )
    # fan_out_small (r14): the broadcast-q × candidate cosine product (the
    # whole query cost — |eval| dots per candidate row) runs on the
    # candidate scan's partitions, ONE task on the single-row-group
    # fixture. Fan the scan before the norm projection so norms and the
    # cross product both run at full width.
    c = fan_out_small(emb, spark).filter(F.col("vec_id") >= KNN_EVAL_N).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("cv"),
        F.expr(norm_sql(dl.SPARK, "embedding")).alias("cnorm"),
    )
    sim = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn(
            "cosine",
            F.expr(dot_sql(dl.SPARK, "qv", "cv")) / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    knn = sim.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= KNN_K)
    votes = knn.groupBy("query_id", "true_label", "cand_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pred = (
        votes.groupBy("query_id", "true_label")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("negc"), F.col("cand_label").alias("lbl")
                )
            ).alias("m")
        )
        .select(
            "query_id",
            (-F.col("m.negc")).cast("long").alias("votes_top"),
            (F.col("m.lbl") == F.col("true_label")).cast("long").alias("correct"),
        )
    )
    d = dl.SPARK
    return (
        pred.groupBy("votes_top")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("correct").alias("n_correct"),
        )
        .selectExpr(
            "votes_top",
            "n_queries",
            "n_correct",
            f"{dl.round_ratio(d, 'votes_top', str(KNN_K))} AS confidence",
            f"{dl.round_ratio(d, 'n_correct', 'n_queries')} AS accuracy",
            f"round({dl.round_ratio(d, 'n_correct', 'n_queries')} - "
            f"{dl.round_ratio(d, 'votes_top', str(KNN_K))}, 4) AS calib_gap",
        )
        .orderBy("votes_top")
    )


def _oracle_knn_calibration() -> str:
    d = dl.DUCK
    cos = cosine_sql(d, "q.embedding", "c.embedding")
    return f"""
WITH sim AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
    c.vec_id AS cand_id, c.label AS cand_label, {cos} AS cosine
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {KNN_EVAL_N} AND c.vec_id >= {KNN_EVAL_N}
), knn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, cand_id ASC) AS rnk
    FROM sim
  ) WHERE rnk <= {KNN_K}
), votes AS (
  SELECT query_id, true_label, cand_label, count(*) AS cnt
  FROM knn GROUP BY 1, 2, 3
), pred AS (
  SELECT query_id, CAST(cnt AS BIGINT) AS votes_top,
    CAST(CASE WHEN cand_label = true_label THEN 1 ELSE 0 END AS BIGINT) AS correct
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cnt DESC, cand_label ASC) AS vr
    FROM votes
  ) WHERE vr = 1
), buckets AS (
  SELECT votes_top, count(*) AS n_queries, sum(correct) AS n_correct
  FROM pred GROUP BY 1
)
SELECT votes_top, n_queries, CAST(n_correct AS BIGINT) AS n_correct,
  {dl.round_ratio(d, 'votes_top', str(KNN_K))} AS confidence,
  {dl.round_ratio(d, 'n_correct', 'n_queries')} AS accuracy,
  round({dl.round_ratio(d, 'n_correct', 'n_queries')} -
    {dl.round_ratio(d, 'votes_top', str(KNN_K))}, 4) AS calib_gap
FROM buckets ORDER BY votes_top
"""


BRIER_Q = 10**12  # per-bucket reliability-term quantization


def ml_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition for the kNN probe —
    the PROPER scoring rule behind ml_knn_calibration's reliability
    diagram: Brier = REL - RES + UNC, where reliability is the
    diagram's weighted squared gap, resolution is how much the
    confidence buckets actually separate outcomes, and uncertainty is
    the outcome variance no model can remove. One readout row that
    says not just "is it calibrated" (REL) but "is the confidence
    USEFUL" (RES vs UNC).

    Computed from the calibration query's own bucket relation (same
    pipeline, zero new scans). Exactness: the Brier numerator is ALL
    integer — sum of c_b*(v-K)^2 + (n_b-c_b)*v^2 over buckets, divided
    once by N*K^2 (half-up round_ratio); the per-bucket reliability
    terms (v*n_b - c_b*K)^2 / (n_b*K^2) quantize to 1e-12 before their
    sum; resolution derives from the exact decomposition identity
    RES = REL + UNC - Brier, so no third quantized pass exists to
    drift. Scale: a <=K+1-row agg on top of the calibration plan."""
    buckets = ml_knn_calibration(spark, sf_dir).select(
        "votes_top", "n_queries", "n_correct"
    )
    k = KNN_K
    rel_term = (
        f"CAST(round(CAST((votes_top * n_queries - n_correct * {k}) AS DOUBLE) "
        f"* (votes_top * n_queries - n_correct * {k}) "
        f"/ (CAST(n_queries AS DOUBLE) * {k * k}) * {BRIER_Q}) AS BIGINT)"
    )
    agg = buckets.selectExpr(
        "n_queries",
        "n_correct",
        f"n_correct * (votes_top - {k}) * (votes_top - {k}) "
        f"+ (n_queries - n_correct) * votes_top * votes_top AS bnum",
        f"{rel_term} AS relq",
    ).groupBy().agg(
        F.sum("n_queries").alias("n"),
        F.sum("n_correct").alias("c"),
        F.sum("bnum").alias("bnum"),
        F.sum("relq").alias("relq"),
    )
    brier = dl.round_ratio(dl.SPARK, "bnum", f"n * {k * k}")
    rel = f"(CAST(relq AS DOUBLE) / n / {BRIER_Q})"
    unc = "((CAST(c AS DOUBLE) / n) * (1.0 - CAST(c AS DOUBLE) / n))"
    return agg.selectExpr(
        "n AS n_queries",
        "c AS n_correct",
        f"{brier} AS brier",
        f"round({rel}, 4) AS reliability",
        f"round({rel} + {unc} - {brier}, 4) AS resolution",
        f"round({unc}, 4) AS uncertainty",
    )


def _oracle_brier() -> str:
    d = dl.DUCK
    k = KNN_K
    inner = _oracle_knn_calibration()
    rel_term = (
        f"CAST(round(CAST((votes_top * n_queries - n_correct * {k}) AS DOUBLE) "
        f"* (votes_top * n_queries - n_correct * {k}) "
        f"/ (CAST(n_queries AS DOUBLE) * {k * k}) * {BRIER_Q}) AS BIGINT)"
    )
    brier = dl.round_ratio(d, "bnum", f"n * {k * k}")
    rel = f"(CAST(relq AS DOUBLE) / n / {BRIER_Q})"
    unc = "((CAST(c AS DOUBLE) / n) * (1.0 - CAST(c AS DOUBLE) / n))"
    return f"""
WITH buckets AS (
  SELECT votes_top, n_queries, n_correct FROM ({inner}) cal
), agg AS (
  SELECT CAST(sum(n_queries) AS BIGINT) AS n,
    CAST(sum(n_correct) AS BIGINT) AS c,
    CAST(sum(n_correct * (votes_top - {k}) * (votes_top - {k})
      + (n_queries - n_correct) * votes_top * votes_top) AS BIGINT) AS bnum,
    CAST(sum({rel_term}) AS BIGINT) AS relq
  FROM buckets
)
SELECT n AS n_queries, c AS n_correct,
  {brier} AS brier,
  round({rel}, 4) AS reliability,
  round({rel} + {unc} - {brier}, 4) AS resolution,
  round({unc}, 4) AS uncertainty
FROM agg
"""



def sim_mmr_diversity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does MMR actually diversify? — the eval that closes the loop on
    sim_mmr_topk's promise: for each query, the mean pairwise
    intra-set cosine of the MMR-selected top-K versus the plain
    relevance top-K (sim_topk_bruteforce), plus how many picks the two
    sets share. MMR spends relevance to buy diversity; this is the
    receipt (lower intra-set cosine at partial overlap), reported per
    method as one auditable row.

    Determinism: pair cosines floor-quantize at MMR_SCALE (the
    _quant_cos convention) BEFORE the sums, so no float accumulation
    can order-drift; counts are exact. Scale: both selections are
    (queries x K)-bounded relations; the pair fan-out is K^2/2 per
    query — constants — joined back to vectors by id (equi-joins)."""
    # Each selection is consumed THREE times (both sides of its pair
    # self-join + the overlap join), and each embeds an expensive subplan
    # (the MMR cogroup / the brute-force scan+window) — un-materialized,
    # the final job executed the MMR greedy and the brute top-k twice
    # each (plan receipt: plans/r14/sim_mmr_diversity_eval_before.txt has
    # TWO FlatMapCoGroupsInPandas nodes). The selections are (queries x
    # MMR_K)-row relations, so the lazy checkpoint pins ~100 rows (r14).
    mmr = audit_plan(
        "mmr_eval_sel", sim_mmr_topk(spark, sf_dir).select("query_id", "cand_id")
    ).localCheckpoint(eager=False)
    # cut the relevance baseline to the SAME set size (MMR returns MMR_K
    # per query; unequal sizes would bias the intra-set cosine)
    brute = audit_plan(
        "mmr_eval_brute_sel",
        sim_topk_bruteforce(spark, sf_dir)
        .filter(F.col("rnk") <= MMR_K)
        .select("query_id", "cand_id"),
    ).localCheckpoint(eager=False)
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("v")
    )

    def intra(sel: DataFrame, method: str) -> DataFrame:
        withv = sel.join(emb, "cand_id")
        a = withv.selectExpr("query_id", "cand_id AS ia", "v AS va")
        b = withv.selectExpr("query_id", "cand_id AS ib", "v AS vb")
        qcos = _quant_cos(dl.SPARK, cosine_sql(dl.SPARK, "va", "vb"))
        pairs = a.join(b, "query_id").filter(F.col("ia") < F.col("ib")).selectExpr(
            "query_id", f"{qcos} AS qc"
        )
        per_q = pairs.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_pairs"), F.sum("qc").alias("sqc")
        )
        mean_cos = f"(CAST(sum_sqc AS DOUBLE) / sum_pairs / {MMR_SCALE})"
        return per_q.groupBy().agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("n_pairs").alias("sum_pairs"),
            F.sum("sqc").alias("sum_sqc"),
        ).selectExpr(
            f"'{method}' AS method",
            "n_queries",
            "sum_pairs",
            f"round({mean_cos}, 4) AS mean_intra_cosine",
        )

    overlap = (
        mmr.join(brute, ["query_id", "cand_id"])
        .groupBy()
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = intra(mmr, "mmr").unionByName(intra(brute, "relevance_topk"))
    return (
        out.join(F.broadcast(overlap))
        .selectExpr(
            "method", "n_queries", "sum_pairs", "mean_intra_cosine", "shared"
        )
        .orderBy("method")
    )


def _oracle_mmr_diversity() -> str:
    d = dl.DUCK
    mmr_inner = _oracle_mmr()
    brute_inner = _oracle_bruteforce()
    qcos = _quant_cos(d, cosine_sql(d, "ea.embedding", "eb.embedding"))
    parts = []
    for method, src in (("mmr", "mmr_sel"), ("relevance_topk", "brute_sel")):
        parts.append(
            f"""
  SELECT '{method}' AS method, count(DISTINCT p.query_id) AS n_queries,
    count(*) AS sum_pairs,
    round(CAST(sum(p.qc) AS DOUBLE) / count(*) / {MMR_SCALE}, 4)
      AS mean_intra_cosine
  FROM (
    SELECT a.query_id, {qcos} AS qc
    FROM {src} a JOIN {src} b
      ON a.query_id = b.query_id AND a.cand_id < b.cand_id
    JOIN embeddings ea ON ea.vec_id = a.cand_id
    JOIN embeddings eb ON eb.vec_id = b.cand_id
  ) p"""
        )
    union = "\n  UNION ALL\n".join(parts)
    return f"""
WITH mmr_sel AS (
  SELECT query_id, cand_id FROM ({mmr_inner}) m
), brute_sel AS (
  SELECT query_id, cand_id FROM ({brute_inner}) b WHERE rnk <= {MMR_K}
), ov AS (
  SELECT count(*) AS shared
  FROM mmr_sel JOIN brute_sel USING (query_id, cand_id)
), per AS (
{union}
)
SELECT method, n_queries, sum_pairs, mean_intra_cosine, shared
FROM per, ov ORDER BY method
"""



QUERIES = {
    "docs_cluster_keywords": docs_cluster_keywords,
    "retrieval_rrf_fusion": retrieval_rrf_fusion,
    "sim_matryoshka_eval": sim_matryoshka_eval,
    "sim_ann_int8_eval": sim_ann_int8_eval,
    "decontaminate_semantic": decontaminate_semantic,
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_mmr_topk": sim_mmr_topk,
    "sim_kcenter_select": sim_kcenter_select,
    "sim_ivf_kmeans_ann": sim_ivf_kmeans_ann,
    "sim_ivf_kmeans_ann_rel": sim_ivf_kmeans_ann_rel,
    "sim_pq_adc_ann": sim_pq_adc_ann,
    "sim_ivfpq_ann": sim_ivfpq_ann,
    "sim_knn_label_probe": sim_knn_label_probe,
    "sim_knn_label_probe_ivf": sim_knn_label_probe_ivf,
    "ml_calibration_brier": ml_calibration_brier,
    "sim_mmr_diversity_eval": sim_mmr_diversity_eval,
    "ml_knn_calibration": ml_knn_calibration,
    "sim_lsh_buckets": sim_lsh_buckets,
    "sim_lsh_ann": sim_lsh_ann,
    "sim_ivf_ann": sim_ivf_ann,
    "sim_label_centroids": sim_label_centroids,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_semantic_cells": dedup_semantic_cells,
    "dedup_semantic_cells_rel": dedup_semantic_cells_rel,
}

ORACLES = {
    "docs_cluster_keywords": _oracle_cluster_keywords(),
    "retrieval_rrf_fusion": _oracle_rrf(),
    "sim_matryoshka_eval": _oracle_matryoshka(),
    "sim_ann_int8_eval": _oracle_int8_eval(),
    "decontaminate_semantic": _oracle_decon_semantic(),
    "dedup_embedding_cosine": _oracle_embedding_cosine(),
    "dedup_semantic_cells": _oracle_semdedup(),
    "dedup_semantic_cells_rel": _oracle_semdedup(),
    "sim_ivf_kmeans_ann": _oracle_ivf_kmeans(),
    "sim_ivf_kmeans_ann_rel": _oracle_ivf_kmeans(),
    "sim_pq_adc_ann": _oracle_pq_adc(),
    "sim_ivfpq_ann": _oracle_ivfpq(),
    "sim_knn_label_probe": _oracle_knn_probe(),
    "sim_knn_label_probe_ivf": _oracle_knn_probe_ivf(),
    "ml_knn_calibration": _oracle_knn_calibration(),
    "ml_calibration_brier": _oracle_brier(),
    "sim_mmr_diversity_eval": _oracle_mmr_diversity(),
    "sim_topk_bruteforce": _oracle_bruteforce(),
    "sim_mmr_topk": _oracle_mmr(),
    "sim_kcenter_select": _oracle_kcenter(),
    "sim_lsh_buckets": _oracle_lsh_buckets(),
    "sim_lsh_ann": _oracle_lsh_ann(),
    "sim_ivf_ann": _oracle_ivf_ann(),
    "sim_label_centroids": ORACLE_CENTROIDS,
}
