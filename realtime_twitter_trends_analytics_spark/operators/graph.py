"""Graph analytics over corpora (north-star surface): token co-occurrence
degree statistics, triangle counting / clustering coefficient, and a
TextRank-style PageRank over the directed bigram-transition graph.

These extend the reference's token surface (tokenize proc:218, trend counts
proc:230-234) to the graph-shaped analyses a corpus pipeline runs: keyword
centrality (TextRank = PageRank on the bigram graph), community density
(clustering coefficient), hub detection (degree). The driver corpus has a
tiny shared vocabulary, so the graphs here are small-and-dense; the
formulations are the ones that hold when nodes are a web-scale vocabulary:

- Edge building explodes DISTINCT per-doc tokens, so per-doc fan-out is
  C(distinct_tokens_per_doc, 2) — bounded by ``COOC_DOC_TOKEN_CAP`` (the
  cap is applied to the sorted distinct-token array BEFORE the explode, so
  the bound holds before any shuffle), and tokens above the
  ``COOC_STOP_DF_NUM/DEN`` document-frequency cap are dropped by a
  broadcast anti-join (same pattern as dedup's HOT_SHINGLE_DF_CAP). Both
  caps are mirrored in the DuckDB oracle CTEs.
- Triangle counting uses DEGREE-ORDERED ORIENTATION: each undirected edge
  is directed from its lower-(degree, token) endpoint to the higher one,
  so every out-adjacency list is bounded by ~sqrt(2m) for heavy nodes and
  the wedge join is Sum(out_deg^2), not Sum(deg^2) — the standard trick
  that makes hub nodes survivable.
- PageRank runs in FIXED-POINT INTEGER arithmetic (scale 1e12): every
  rank, contribution, and damping step is BIGINT floor-division, so the
  result is bit-identical across engines and across partitionings — no
  float summation-order nondeterminism. Three unrolled iterations in one
  declarative plan (one shuffle per iteration, keyed by token).

All outputs are exact integers or ``dialect.round_ratio`` rationals — this
module has zero float-parity risk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..audit import audit_plan
from ..functions import dialect as dl
from ..sources.loaders import load_table
from ..staging import staged

# Undirected edge iff the pair co-occurs in >= 60% of documents (relative
# support — an absolute count would flip the graph between complete and
# empty as the corpus scales; integer arithmetic keeps it engine-exact).
COOC_SUPPORT_NUM = 6
COOC_SUPPORT_DEN = 10
# Per-doc distinct-token cap: one pathological 50k-distinct-token document
# would otherwise emit C(50k, 2) ≈ 1.25B pairs from a single row. Capping
# the sorted distinct-token array at 128 before the explode bounds per-doc
# fan-out at C(128, 2) = 8128 pairs. Deterministic (lexicographic prefix of
# the sorted array), mirrored in the oracle. Never binds on the test corpus
# (max per-doc distinct tokens = 31 = full vocab at sf0.01), so caps 128 and
# ∞ produce identical results there; at web scale it is the difference
# between a bounded explode and an OOM.
COOC_DOC_TOKEN_CAP = 128
# Stop-token document-frequency cap: the pair join's cost per token is
# df^2, so corpus-boilerplate tokens (df near 100%) dominate join cost
# while carrying no co-occurrence signal (they co-occur with everything).
# Tokens in > 90% of documents are dropped via broadcast anti-join (the
# stop set is tiny by construction: at most avg_doc_len/0.9 tokens can
# exceed 90% df). 90% cannot interact with the 60% edge-support threshold
# from below, and never binds on the test corpus (max token df = 80.4% of
# docs at sf0.01: caps 90% and ∞ are result-identical there).
COOC_STOP_DF_NUM = 9
COOC_STOP_DF_DEN = 10
DEGREE_TOP = 20
PAGERANK_TOP = 20
PR_SCALE = 10**12      # fixed-point scale; rescale upward if vocab >> 1e6
PR_ITERS = 3
PR_DAMP_NUM = 85       # damping 0.85 as an integer ratio
PR_DAMP_DEN = 100


# The co-occurrence edge relation is the staging input every graph query
# fans out from (degree stats, triangles via orientation, and tests).
# Materialize it once per (application, sf_dir) in the staging tier — same
# pattern as dedup's pair relation; the relation stays distributed.
@staged
def _cooc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected token co-occurrence edges (tok_a < tok_b, co-doc count w).

    Distinct-per-doc tokens, sorted and capped at COOC_DOC_TOKEN_CAP while
    still array-shaped (bounds the explode itself), stop tokens above the
    COOC_STOP_DF cap removed by broadcast anti-join, then self-join on
    doc_id and one agg shuffle on the (a, b) pair key. Every graph query
    fans out from this relation, so the RESULT is materialized once per
    (application, sf_dir).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    min_support = (COOC_SUPPORT_NUM * n_docs) // COOC_SUPPORT_DEN
    capped = dl.arr_slice(
        dl.SPARK,
        dl.arr_sort(dl.SPARK, dl.arr_distinct(dl.SPARK, "toks")),
        "1",
        str(COOC_DOC_TOKEN_CAP),
    )
    # EAGER materialization (localCheckpoint, r5 — was cache): the capped
    # token relation feeds the stop-list agg AND both sides of the pair
    # self-join (3 consumers); a lazy cache lets the branches race to
    # compute partitions before any is cached (the in-job union-fan-out
    # hazard, see dedup_minhash_pairs). With the edge/oriented relations
    # also checkpointed: triangle 2.39->1.87s, pagerank 3.12->2.51s at
    # sf0.1.
    # r14 note: switching this build to the shared tokenized staging
    # relation was MEASURED as a 1.43x regression (interleaved rebench) —
    # deserializing the checkpointed full-token arrays costs more than
    # re-tokenizing the (tiny, column-pruned) documents scan here, because
    # the capped-distinct slice keeps almost none of the tokens. Left on
    # the direct scan deliberately.
    tok = audit_plan(
        "graph_token_rel",
        docs.select(
            "doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")
        ).select("doc_id", F.explode(F.expr(capped)).alias("t")),
    ).localCheckpoint()
    stop = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") * COOC_STOP_DF_DEN > COOC_STOP_DF_NUM * n_docs)
        .select("t")
    )
    tok = tok.join(F.broadcast(stop), "t", "left_anti")
    pairs = (
        tok.alias("x")
        .join(tok.alias("y"), "doc_id")
        .filter(F.col("x.t") < F.col("y.t"))
        .groupBy(F.col("x.t").alias("tok_a"), F.col("y.t").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= min_support)
    )
    return audit_plan("graph_cooc_edges", pairs).localCheckpoint()


_ORACLE_EDGE_CTES = f"""
tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), tok_all AS (
  SELECT doc_id, unnest({dl.arr_slice(dl.DUCK, dl.arr_sort(dl.DUCK, dl.arr_distinct(dl.DUCK, 'toks')), '1', str(COOC_DOC_TOKEN_CAP))}) AS t
  FROM tokd
), stop AS (
  SELECT t FROM (SELECT t, count(*) AS df FROM tok_all GROUP BY t)
  WHERE df * {COOC_STOP_DF_DEN} > {COOC_STOP_DF_NUM} * (SELECT count(*) FROM documents)
), tok AS (
  SELECT doc_id, t FROM tok_all WHERE t NOT IN (SELECT t FROM stop)
), edges AS (
  SELECT x.t AS tok_a, y.t AS tok_b, count(*) AS w
  FROM tok x JOIN tok y ON x.doc_id = y.doc_id AND x.t < y.t
  GROUP BY 1, 2
  HAVING count(*) >=
    ({COOC_SUPPORT_NUM} * (SELECT count(*) FROM documents)) // {COOC_SUPPORT_DEN}
)"""


def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by co-occurrence degree (plus weighted degree).

    Both directions of each undirected edge are exploded, then one agg
    shuffle on the token key; top-k via TakeOrderedAndProject. Exact
    integers only."""
    edges = _cooc_edges(spark, sf_dir)
    both = edges.select(
        F.col("tok_a").alias("token"), "w"
    ).unionAll(edges.select(F.col("tok_b").alias("token"), "w"))
    return (
        both.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("degree"),
            F.sum("w").cast("bigint").alias("weighted_degree"),
        )
        .orderBy(F.desc("degree"), F.asc("token"))
        .limit(DEGREE_TOP)
    )


def _oracle_degree() -> str:
    return f"""
WITH {_ORACLE_EDGE_CTES}, both_dirs AS (
  SELECT tok_a AS token, w FROM edges
  UNION ALL
  SELECT tok_b AS token, w FROM edges
)
SELECT token, CAST(count(*) AS BIGINT) AS degree,
  CAST(sum(w) AS BIGINT) AS weighted_degree
FROM both_dirs GROUP BY token
ORDER BY degree DESC, token ASC
LIMIT {DEGREE_TOP}
"""


def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count + clustering coefficient, one summary row.

    Degree-ordered orientation: each edge is directed from its lower
    (degree, token) endpoint, so wedge enumeration joins two out-lists of
    the SAME node and the candidate count is Sum(out_deg^2) with out_deg
    bounded ~sqrt(2m) on hubs. Wedge closure is a semi-join back to the
    oriented edge list. The clustering coefficient 3*triangles/wedges is an
    integer-ratio round (no float drift)."""
    edges = _cooc_edges(spark, sf_dir)  # already checkpointed by the memo
    deg = (
        edges.select(F.col("tok_a").alias("token"))
        .unionAll(edges.select(F.col("tok_b").alias("token")))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("token").alias("tok_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("token").alias("tok_b"), F.col("deg").alias("deg_b"))
    ed = edges.join(F.broadcast(da), "tok_a").join(F.broadcast(db), "tok_b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("tok_a") < F.col("tok_b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("tok_a")).otherwise(F.col("tok_b")).alias("src"),
        F.when(a_first, F.col("tok_b")).otherwise(F.col("tok_a")).alias("dst"),
        F.when(a_first, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    )
    oriented = audit_plan("graph_oriented_edges", oriented).localCheckpoint()
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedge_ordered = (F.col("o1.dst_deg") < F.col("o2.dst_deg")) | (
        (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
        & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedges = (
        o1.join(o2, F.col("o1.src") == F.col("o2.src"))
        .filter(wedge_ordered)
        .select(F.col("o1.dst").alias("v"), F.col("o2.dst").alias("w"))
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    n_triangles = wedges.join(closing, ["v", "w"], "left_semi").count()
    n_edges = edges.count()
    summary = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("(CAST(deg AS BIGINT) * (deg - 1)) DIV 2")).alias("n_wedges"),
    )
    return summary.select(
        "n_nodes",
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.lit(n_triangles).cast("bigint").alias("n_triangles"),
        "n_wedges",
        F.expr(
            dl.round_ratio(dl.SPARK, str(3 * n_triangles), "n_wedges")
        ).alias("clustering_coeff"),
    )


def _oracle_triangles() -> str:
    cc = dl.round_ratio(dl.DUCK, "3 * (SELECT n FROM tri)", "w.n_wedges")
    return f"""
WITH {_ORACLE_EDGE_CTES}, deg AS (
  SELECT token, count(*) AS deg FROM (
    SELECT tok_a AS token FROM edges UNION ALL SELECT tok_b AS token FROM edges
  ) GROUP BY token
), oriented AS (
  SELECT
    CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.tok_a < e.tok_b)
         THEN e.tok_a ELSE e.tok_b END AS src,
    CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.tok_a < e.tok_b)
         THEN e.tok_b ELSE e.tok_a END AS dst,
    CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.tok_a < e.tok_b)
         THEN db.deg ELSE da.deg END AS dst_deg
  FROM edges e
  JOIN deg da ON da.token = e.tok_a
  JOIN deg db ON db.token = e.tok_b
), tri AS (
  SELECT count(*) AS n FROM oriented o1
  JOIN oriented o2 ON o1.src = o2.src
   AND ((o1.dst_deg < o2.dst_deg) OR (o1.dst_deg = o2.dst_deg AND o1.dst < o2.dst))
  WHERE EXISTS (
    SELECT 1 FROM oriented c WHERE c.src = o1.dst AND c.dst = o2.dst
  )
), w AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
    CAST(sum((CAST(deg AS BIGINT) * (deg - 1)) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT w.n_nodes,
  (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
  CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles,
  w.n_wedges,
  {cc} AS clustering_coeff
FROM w
"""


def graph_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword centrality: PageRank over the directed
    bigram-transition graph (edge w1 -> w2 weighted by corpus bigram count,
    self-loops dropped), PR_ITERS unrolled iterations, top-20 tokens.

    Fixed-point integer arithmetic throughout (PR_SCALE = 1e12): rank
    updates are BIGINT floor-divisions, so the result is bit-identical
    across engines AND across partitionings — float PageRank is
    summation-order nondeterministic, which would break both the oracle
    hash and Spark's own run-to-run determinism. Dangling mass (tokens
    with no out-bigram) is dropped, the standard simplification.

    Plan: the edge list is one explode + one agg, cached once; each
    iteration is one broadcast-ready join (ranks are |vocab| rows) + one
    agg shuffle keyed by destination token. At web-scale vocab the rank
    side outgrows broadcast and becomes a co-partitioned shuffle join on
    the token key — same plan shape, no rewrite."""
    from .textstats import bigram_instance_staging

    bg = bigram_instance_staging(spark, sf_dir)
    edges = (
        bg.select(
            F.col("w1").alias("src"),
            F.expr("split_part(bigram, ' ', 2)").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
    # checkpoint AFTER hash-partitioning on src: LogicalRDD preserves the
    # output partitioning, so every iteration's rank join on src reuses it
    # instead of re-shuffling the edge list (PR_ITERS exchanges saved) —
    # the pre-partitioned-iteration pattern a 1000-executor PageRank needs
    # anyway to keep the big side stationary across rounds.
    # lazy (r14): nodes.count() below is the first action over the edge
    # list and materializes the checkpoint in its own scan — the eager
    # form paid a separate build job per run
    edges = audit_plan(
        "graph_pr_edges",
        edges.join(F.broadcast(out_w), "src").repartition(F.col("src")),
    ).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("token"))
        .union(edges.select(F.col("dst").alias("token")))
        .distinct()  # distinct's hash partitioning on token is exactly what
        .cache()     # the per-iteration left join needs — keep it
    )
    n = nodes.count()
    base = dl.int_div(
        dl.SPARK, f"({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} DIV {n}))", str(PR_DAMP_DEN)
    )
    ranks = nodes.select("token", F.expr(f"{PR_SCALE} DIV {n}").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("token", "src"), "src")
            .select(
                F.col("dst").alias("token"),
                F.expr(dl.int_div(dl.SPARK, "(r * w)", "w_out")).alias("c"),
            )
            .groupBy("token")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = nodes.join(contrib, "token", "left").select(
            "token",
            F.expr(
                f"({base}) + "
                + dl.int_div(
                    dl.SPARK, f"({PR_DAMP_NUM} * coalesce(contrib, CAST(0 AS BIGINT)))", str(PR_DAMP_DEN)
                )
            ).alias("r"),
        )
    return (
        ranks.select(
            "token",
            F.col("r").cast("bigint").alias("rank_fp"),
            F.expr(dl.round_ratio(dl.SPARK, "r", str(PR_SCALE), 6)).alias("rank"),
        )
        .orderBy(F.desc("rank_fp"), F.asc("token"))
        .limit(PAGERANK_TOP)
    )


def _oracle_pagerank() -> str:
    from .dedup import shingles_sql

    d = dl.DUCK
    base = dl.int_div(
        d, f"({PR_DAMP_DEN - PR_DAMP_NUM} * ({PR_SCALE} // (SELECT n FROM nn)))", str(PR_DAMP_DEN)
    )
    contrib = dl.int_div(d, "(r.r * e.w)", "e.w_out")
    damp = dl.int_div(d, f"({PR_DAMP_NUM} * coalesce(c.contrib, CAST(0 AS BIGINT)))", str(PR_DAMP_DEN))
    iter_ctes = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iter_ctes.append(f"""c{k} AS (
  SELECT e.dst AS token, sum({contrib.replace('r.r', f'{prev}.r')}) AS contrib
  FROM edges e JOIN {prev} ON {prev}.token = e.src
  GROUP BY e.dst
), r{k} AS (
  SELECT nodes.token, ({base}) + {damp.replace('c.contrib', f'c{k}.contrib')} AS r
  FROM nodes LEFT JOIN c{k} ON c{k}.token = nodes.token
)""")
        prev = f"r{k}"
    rank = dl.round_ratio(d, "r", str(PR_SCALE), 6)
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(d, 'text')} AS toks FROM documents
), bg AS (
  SELECT unnest({shingles_sql(d, 'toks', 2)}) AS bigram FROM tokd
), edges_raw AS (
  SELECT string_split(bigram, ' ')[1] AS src, string_split(bigram, ' ')[2] AS dst,
    count(*) AS w
  FROM bg GROUP BY 1, 2
), edges AS (
  SELECT e.src, e.dst, e.w, o.w_out FROM (
    SELECT * FROM edges_raw WHERE src <> dst
  ) e JOIN (
    SELECT src, sum(w) AS w_out FROM edges_raw WHERE src <> dst GROUP BY src
  ) o ON o.src = e.src
), nodes AS (
  SELECT DISTINCT token FROM (
    SELECT src AS token FROM edges UNION SELECT dst AS token FROM edges
  )
), nn AS (
  SELECT count(*) AS n FROM nodes
), r0 AS (
  SELECT token, {PR_SCALE} // (SELECT n FROM nn) AS r FROM nodes
), {', '.join(iter_ctes)}
SELECT token, CAST(r AS BIGINT) AS rank_fp, {rank} AS rank
FROM r{PR_ITERS}
ORDER BY rank_fp DESC, token ASC
LIMIT {PAGERANK_TOP}
"""


LPA_ITERS = 3       # synchronous label-propagation rounds (both engines unroll 3)
LPA_SAMPLE = 5      # members shown per community in the summary


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) after LPA_ITERS synchronous rounds — the label loop
    shared by graph_lpa_communities (readout) and graph_modularity
    (quality score of the same labeling)."""
    edges = _cooc_edges(spark, sf_dir)
    und = audit_plan(
        "graph_lpa_und",
        edges.select(
            F.col("tok_a").alias("node"), F.col("tok_b").alias("nbr"), "w"
        ).union(
            edges.select(F.col("tok_b").alias("node"), F.col("tok_a").alias("nbr"), "w")
        ),
    ).localCheckpoint()
    labels = und.select("node").distinct().select("node", F.col("node").alias("label"))
    for _ in range(LPA_ITERS):
        scores = (
            und.join(
                labels.select(F.col("node").alias("nbr"), "label"), "nbr"
            )
            .groupBy("node", "label")
            .agg(F.sum("w").alias("s"))
        )
        labels = (
            scores.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("s")).alias("ns"), F.col("label").alias("l"))
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("label"))
        )
    return labels


def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al.) over the shared co-occurrence graph: every token starts as its
    own label; each round a node adopts the label with the greatest total
    edge weight among its neighbors, ties to the lexicographically
    smallest label. LPA_ITERS fixed rounds — deterministic (integer
    weights + total tie order), unlike the randomized-order classic, so
    both engines land on identical labels. Complements
    connected-components (dedup_clusters): LPA splits a connected graph
    into dense regions instead of whole components.

    On THIS corpus the min-support co-occurrence graph is small and dense,
    so LPA collapses it to one community — the documented dense-graph
    behavior of the algorithm, and the honest answer here (both engines
    agree bit-for-bit). Community RECOVERY is pinned separately by
    tests/test_graph.py's planted two-clique corpus, where the weak
    bridge must not merge the cliques.

    Plan: the symmetric edge list materializes ONCE (localCheckpoint —
    every round joins it; the per-round relations are vocab-sized label
    tables). Each round = one join keyed nbr + one (node, label) hash agg
    + one min(struct) argmax agg (map-side partials, no window sort) —
    all uniform token keys. Rounds are a fixed constant, so the plan is
    LPA_ITERS joins deep, never data-dependent."""
    labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr(
                f"array_join(slice(array_sort(collect_list(node)), 1, {LPA_SAMPLE}), ',')"
            ).alias("sample_members"),
        )
        .select(F.col("label").alias("community"), "n_tokens", "sample_members")
    )


def _lpa_label_ctes() -> str:
    """The LPA label-iteration CTE chain (ending at l{LPA_ITERS}), shared
    by the LPA and modularity oracles."""
    ctes = [
        """und AS MATERIALIZED (
  SELECT tok_a AS node, tok_b AS nbr, w FROM edges
  UNION ALL
  SELECT tok_b AS node, tok_a AS nbr, w FROM edges
)""",
        "l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM und)",
    ]
    for k in range(1, LPA_ITERS + 1):
        ctes.append(
            f"""s{k} AS MATERIALIZED (
  SELECT u.node, l.label, CAST(sum(u.w) AS BIGINT) AS s
  FROM und u JOIN l{k - 1} l ON l.node = u.nbr
  GROUP BY u.node, l.label
)"""
        )
        ctes.append(
            f"""l{k} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
      row_number() OVER (PARTITION BY node ORDER BY s DESC, label ASC) AS rn
    FROM s{k}
  ) WHERE rn = 1
)"""
        )
    return ",\n".join(ctes)


def _oracle_lpa() -> str:
    body = _lpa_label_ctes()
    return f"""
WITH {_ORACLE_EDGE_CTES},
{body}
SELECT label AS community, count(*) AS n_tokens,
  array_to_string(list_slice(list_sort(list(node)), 1, {LPA_SAMPLE}), ',')
    AS sample_members
FROM l{LPA_ITERS} GROUP BY label
"""


KCORE_ITERS = 3     # fixed peeling rounds, unrolled in both engines
KCORE_NUM = 4       # per-side threshold = 1 + floor(4/5 * average degree)
KCORE_DEN = 5


# r8 (VERDICT r7 item 3): the bipartite edge build was ~85% of
# graph_kcore's bench line — a one-time staging cost hiding inside a query
# number. Staged like _cooc_edges; registered as staging:kcore_edges so
# the kcore line prices the peel rounds only.
@staged
def kcore_edges_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer, supplier) bipartite interaction edges from
    lineitem x orders, materialized once per (application, sf_dir) — the
    persisted edge table a production graph pipeline builds at ingest."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    return audit_plan("kcore_edges", e0).localCheckpoint()


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-core extraction by iterative degree peeling (the k-core
    algorithm) over the customer-supplier bipartite interaction graph
    (distinct (o_custkey, l_suppkey) pairs from lineitem x orders) — the
    graph-density surface behind fraud rings, collusive-marketplace
    detection, and dense-subgraph mining, complementing LPA (dense
    regions by label flow) and connected components (reachability).

    Semantics: each side's threshold k is fixed UP FRONT from the initial
    graph (1 + floor(0.8 * initial average degree) per side, an integer
    ratio so both engines compute the identical k). KCORE_ITERS rounds
    then alternately drop nodes whose CURRENT degree is below their
    side's k and the edges they carried; a fixed round count keeps the
    plan data-independent (the classic run-to-fixpoint variant converges
    here in <= 3 rounds at sf0.001; larger graphs simply report the
    3-round peel, which is a valid upper bound on the true core).

    Plan: the edge list materializes once (localCheckpoint — thresholds
    and every round read it); each round is two node-sized hash aggs +
    two semi-shaped equi-joins keyed by the node id, then
    RE-MATERIALIZES (the next round has three consumers — the
    staging-tier lesson). The alternative of checkpointing only the
    node-sized keep-sets and leaving the edge chain lazy was measured
    SLOWER (4.5 s vs 3.0-3.2 s warm at sf0.1): each later round re-runs
    the full join chain once per consumer, and at 3 rounds x 3 consumers
    that re-derivation overtakes the edge-relation serialization it
    saves. Cost is dominated by the one-time edge build (lineitem x
    orders join + distinct, ~3 s of the ~3.2 s total). The scalar
    thresholds are collected once as driver model state and injected as
    literals (r15 — the 1-row broadcast side re-ran its count-distinct
    expand over the edges per action). At 100 TB: edges
    shuffle-partition by node id; the per-round keep-sets are node-sized
    (orders of magnitude below edge-sized); rounds are a constant."""
    e0 = kcore_edges_staging(spark, sf_dir)
    d = dl.SPARK
    # r15 (§2.4 remove passes): the thresholds used to ride a 1-row
    # broadcast side joined into every keep-set and both readout sides —
    # each per-ACTION broadcast build re-ran the count + two
    # count-DISTINCT expands over the full edge relation (~4 extra edge
    # passes per execution across the 3 round jobs + readout). They are
    # bounded driver model state (two BIGINTs from deterministic integer
    # arithmetic — the markov/bm25 scalar-collect discipline): collect
    # once, inject as literals. Values identical; oracle unchanged.
    th_row = e0.agg(
        F.expr(
            "1 + "
            + dl.int_div(d, f"(count(*) * {KCORE_NUM})", f"(count(DISTINCT c) * {KCORE_DEN})")
        ).alias("k_c"),
        F.expr(
            "1 + "
            + dl.int_div(d, f"(count(*) * {KCORE_NUM})", f"(count(DISTINCT s) * {KCORE_DEN})")
        ).alias("k_s"),
    ).collect()[0]
    k_c, k_s = int(th_row["k_c"]), int(th_row["k_s"])
    cur = e0
    for r in range(KCORE_ITERS):
        keep_c = (
            cur.groupBy("c")
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= F.lit(k_c))
            .select("c")
        )
        keep_s = (
            cur.groupBy("s")
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= F.lit(k_s))
            .select("s")
        )
        cur = cur.join(keep_c, "c").join(keep_s, "s")
        if r == 0:
            cur = audit_plan("kcore_round", cur)
        cur = cur.localCheckpoint()

    def _side(node_col: str, side: str, k_val: int) -> DataFrame:
        return (
            cur.groupBy(node_col)
            .agg(F.count(F.lit(1)).alias("dg"))
            .agg(
                F.count(F.lit(1)).alias("n_nodes"),
                F.coalesce(F.sum("dg"), F.lit(0)).alias("n_edges"),
                F.min("dg").alias("min_deg"),
                F.max("dg").alias("max_deg"),
            )
            .select(
                F.lit(side).alias("side"),
                F.lit(k_val).cast("bigint").alias("threshold"),
                "n_nodes",
                "n_edges",
                "min_deg",
                "max_deg",
            )
        )

    return _side("c", "customer", k_c).unionByName(
        _side("s", "supplier", k_s)
    )


def _oracle_kcore() -> str:
    d = dl.DUCK
    kc = "1 + " + dl.int_div(d, f"(count(*) * {KCORE_NUM})", f"(count(DISTINCT c) * {KCORE_DEN})")
    ks = "1 + " + dl.int_div(d, f"(count(*) * {KCORE_NUM})", f"(count(DISTINCT s) * {KCORE_DEN})")
    ctes = [
        """e0 AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
)""",
        f"th AS (SELECT CAST({kc} AS BIGINT) AS k_c, CAST({ks} AS BIGINT) AS k_s FROM e0)",
    ]
    prev = "e0"
    for r in range(1, KCORE_ITERS + 1):
        ctes.append(
            f"""c{r} AS (
  SELECT c FROM {prev} GROUP BY c HAVING count(*) >= (SELECT k_c FROM th)
), s{r} AS (
  SELECT s FROM {prev} GROUP BY s HAVING count(*) >= (SELECT k_s FROM th)
), e{r} AS MATERIALIZED (
  SELECT {prev}.* FROM {prev} JOIN c{r} USING (c) JOIN s{r} USING (s)
)"""
        )
        prev = f"e{r}"
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT 'customer' AS side, (SELECT k_c FROM th) AS threshold,
  CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(coalesce(sum(dg), 0) AS BIGINT) AS n_edges,
  CAST(min(dg) AS BIGINT) AS min_deg, CAST(max(dg) AS BIGINT) AS max_deg
FROM (SELECT c, count(*) AS dg FROM {prev} GROUP BY c)
UNION ALL
SELECT 'supplier' AS side, (SELECT k_s FROM th) AS threshold,
  CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(coalesce(sum(dg), 0) AS BIGINT) AS n_edges,
  CAST(min(dg) AS BIGINT) AS min_deg, CAST(max(dg) AS BIGINT) AS max_deg
FROM (SELECT s, count(*) AS dg FROM {prev} GROUP BY s)
"""


LINKPRED_TOP = 10
LINKPRED_SCALE = 10**6   # fixed-point Jaccard for deterministic ranking


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set link prediction over the co-occurrence graph: for
    every NON-edge pair, common-neighbor count and Jaccard similarity of
    the two neighborhoods (cn / (deg_a + deg_b - cn)) — the classic
    link-prediction baseline (Liben-Nowell & Kleinberg), top-LINKPRED_TOP
    by fixed-point Jaccard. On this near-complete corpus graph the
    candidate set is the handful of support-threshold misses — the
    planted test pins the ranking math on a sparse construction.

    Plan: the symmetric adjacency materializes once (three consumers:
    degrees + both wedge sides); common neighbors come from the WEDGE
    equi-join on the shared-neighbor key (the triangle-counting shape —
    Sum(deg²) work, NOT an all-pairs product); existing edges leave via
    one anti-join on the pair key; degrees ride vocab-sized broadcast
    joins. At web scale the wedge join takes the same two guards as
    triangles: degree-ordered orientation and a hub cap on the
    shared-neighbor key."""
    edges = _cooc_edges(spark, sf_dir)
    und = audit_plan(
        "linkpred_und",
        edges.select(F.col("tok_a").alias("node"), F.col("tok_b").alias("nbr")).union(
            edges.select(F.col("tok_b").alias("node"), F.col("tok_a").alias("nbr"))
        ),
    ).localCheckpoint()
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    cand = (
        und.alias("x")
        .join(und.alias("y"), "nbr")
        .filter(F.col("x.node") < F.col("y.node"))
        .groupBy(F.col("x.node").alias("tok_a"), F.col("y.node").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(edges.select("tok_a", "tok_b"), ["tok_a", "tok_b"], "left_anti")
    )
    d = dl.SPARK
    return (
        cand.join(
            F.broadcast(deg.select(F.col("node").alias("tok_a"), F.col("deg").alias("deg_a"))),
            "tok_a",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("tok_b"), F.col("deg").alias("deg_b"))),
            "tok_b",
        )
        .withColumn(
            "jac_fp",
            F.expr(
                dl.int_div(d, f"cn * {LINKPRED_SCALE}", "(deg_a + deg_b - cn)")
            ),
        )
        .orderBy(F.desc("jac_fp"), "tok_a", "tok_b")
        .limit(LINKPRED_TOP)
        .select(
            "tok_a",
            "tok_b",
            "cn",
            "deg_a",
            "deg_b",
            F.expr(dl.round_ratio(d, "cn", "(deg_a + deg_b - cn)")).alias("jaccard"),
        )
    )


def _oracle_link_prediction() -> str:
    d = dl.DUCK
    return f"""
WITH {_ORACLE_EDGE_CTES},
und AS MATERIALIZED (
  SELECT tok_a AS node, tok_b AS nbr FROM edges
  UNION ALL
  SELECT tok_b AS node, tok_a AS nbr FROM edges
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY node
), cand AS (
  SELECT x.node AS tok_a, y.node AS tok_b, CAST(count(*) AS BIGINT) AS cn
  FROM und x JOIN und y ON x.nbr = y.nbr AND x.node < y.node
  GROUP BY 1, 2
), nonedge AS (
  SELECT c.* FROM cand c
  LEFT JOIN edges e ON e.tok_a = c.tok_a AND e.tok_b = c.tok_b
  WHERE e.tok_a IS NULL
), scored AS (
  SELECT n.tok_a, n.tok_b, n.cn, da.deg AS deg_a, db.deg AS deg_b,
    {dl.int_div(d, f'n.cn * {LINKPRED_SCALE}', '(da.deg + db.deg - n.cn)')} AS jac_fp
  FROM nonedge n
  JOIN deg da ON da.node = n.tok_a
  JOIN deg db ON db.node = n.tok_b
)
SELECT tok_a, tok_b, cn, deg_a, deg_b,
  {dl.round_ratio(d, 'cn', '(deg_a + deg_b - cn)')} AS jaccard
FROM scored
ORDER BY jac_fp DESC, tok_a, tok_b
LIMIT {LINKPRED_TOP}
"""


# ---------------------------------------------------------------- BFS
BFS_ROUNDS = 4  # frontier expansions, unrolled identically in both engines


def graph_bfs_frontiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search from the LOWEST-degree token (tie-break:
    token asc) over the co-occurrence graph — seeding at the periphery,
    where the longest shortest-paths live (a max-degree hub reaches the
    whole dense core in one hop, which tests nothing), BFS_ROUNDS frontier
    expansions — the Pregel traversal primitive (reachability, "within
    N hops" audience queries) the eigenvector-style iterations
    (graph_pagerank_topk, graph_lpa_communities) don't cover. Output:
    one row per distance 0..BFS_ROUNDS with the frontier size and a
    min/max-token checksum, plus a dist = -1 row for nodes the search
    never reached (small-world check: on a connected cooc graph this
    empties fast).

    Plan: per round, one (frontier ⋈ adjacency) equi-join on the node
    key + one anti-join against the visited set — the synchronous BFS
    every vertex-centric framework runs; no per-round work exceeds
    frontier x degree. The visited relation is localCheckpointed each
    round (iterative-lineage discipline, the connected_components
    pattern). Rounds are FIXED and unrolled in the DuckDB oracle, so
    the gate verifies every frontier, not just convergence."""
    edges = _cooc_edges(spark, sf_dir)
    sym = edges.selectExpr("tok_a AS s", "tok_b AS d").union(
        edges.selectExpr("tok_b AS s", "tok_a AS d")
    )
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    seed = (
        deg.orderBy(F.asc("deg"), F.asc("s"))
        .limit(1)
        .select(F.col("s").alias("node"))
    )
    visited = seed.withColumn("dist", F.lit(0)).localCheckpoint()
    frontier = visited.select("node")
    for r in range(1, BFS_ROUNDS + 1):
        nxt = (
            sym.join(frontier.withColumnRenamed("node", "s"), "s")
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        nxt = nxt.withColumn("dist", F.lit(r)).localCheckpoint()
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt.select("node")
    reached = visited.groupBy("dist").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").alias("min_token"),
        F.max("node").alias("max_token"),
    )
    unreached = (
        deg.select(F.col("s").alias("node"))
        .join(visited, "node", "left_anti")
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_token"),
            F.max("node").alias("max_token"),
        )
        .filter(F.col("n_nodes") > 0)
        .select(F.lit(-1).alias("dist"), "n_nodes", "min_token", "max_token")
    )
    return reached.union(unreached).orderBy("dist")


def _oracle_bfs() -> str:
    levels = []
    prev_v = "v0"
    for r in range(1, BFS_ROUNDS + 1):
        prev_f = "seed" if r == 1 else f"f{r - 1}"
        levels.append(
            f"""f{r} AS (
  SELECT DISTINCT d AS node FROM sym JOIN {prev_f} p ON sym.s = p.node
  WHERE d NOT IN (SELECT node FROM {prev_v})
), v{r} AS (
  SELECT * FROM {prev_v} UNION ALL SELECT node, {r} AS dist FROM f{r}
)"""
        )
        prev_v = f"v{r}"
    return f"""
WITH {_ORACLE_EDGE_CTES}, sym AS (
  SELECT tok_a AS s, tok_b AS d FROM edges
  UNION ALL SELECT tok_b AS s, tok_a AS d FROM edges
), deg AS (
  SELECT s AS node, count(*) AS deg FROM sym GROUP BY 1
), seed AS (
  SELECT node FROM deg ORDER BY deg ASC, node ASC LIMIT 1
), v0 AS (
  SELECT node, 0 AS dist FROM seed
), {', '.join(levels)}
SELECT CAST(dist AS INT) AS dist, count(*) AS n_nodes,
  min(node) AS min_token, max(node) AS max_token
FROM {prev_v} GROUP BY dist
UNION ALL
SELECT -1, count(*), min(node), max(node) FROM (
  SELECT node FROM deg WHERE node NOT IN (SELECT node FROM {prev_v})
) HAVING count(*) > 0
ORDER BY dist
"""


def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-occurrence graph — the Pearson
    correlation of endpoint degrees over the (symmetrized) edge list
    (Newman 2002's r, computed on full endpoint degrees; the
    excess-degree variant shifts both axes by 1 and leaves Pearson r
    unchanged). r > 0 = hubs attach to hubs (social-graph shape),
    r < 0 = hubs attach to leaves (the star/stopword shape co-occurrence
    graphs usually show) — the one-number summary of whether the heavy
    keys of a graph join concentrate on each other, which is exactly
    what decides if a vertex-cut or salting strategy is needed at scale.

    Exact arithmetic: degrees are integer counts; the six correlation
    sums (n, sx, sy, sxy, sx2, sy2) are exact BIGINTs off one edge-grain
    agg; r is one shared IEEE expression with CAST-to-DOUBLE products
    (no BIGINT overflow at any graph size).

    Scale: two node-keyed equi-joins to attach endpoint degrees, one
    global agg. Reuses the memoized cooc-edge staging relation; the
    degree relation is vocabulary-sized."""
    edges = _cooc_edges(spark, sf_dir)
    und = edges.select(
        F.col("tok_a").alias("node"), F.col("tok_b").alias("nbr")
    ).union(edges.select(F.col("tok_b").alias("node"), F.col("tok_a").alias("nbr")))
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    xy = (
        und.join(deg, "node")
        .withColumnRenamed("deg", "x")
        .join(deg.select(F.col("node").alias("nbr"), F.col("deg").alias("y")), "nbr")
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    # r is undefined when either endpoint-degree variance is zero (a
    # degree-regular graph — observed live: the sf0.1 min-support cooc
    # graph is complete, every degree equal); define r = 0 there, and
    # guard BEFORE the division (ANSI mode makes 0/0 an error, not NaN)
    vx = "(CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)"
    vy = "(CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy)"
    r = (
        f"(CASE WHEN {vx} * {vy} <= 0 THEN CAST(0.0 AS DOUBLE) "
        f"ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
        f"/ sqrt({vx} * {vy}) END)"
    )
    return agg.selectExpr(
        "n AS n_directed_edges",
        f"{dl.round_ratio(dl.SPARK, 'sx', 'n')} AS mean_endpoint_degree",
        f"round({r}, 4) AS assortativity_r",
    )


def _oracle_assortativity() -> str:
    # r is undefined when either endpoint-degree variance is zero (a
    # degree-regular graph — observed live: the sf0.1 min-support cooc
    # graph is complete, every degree equal); define r = 0 there, and
    # guard BEFORE the division (ANSI mode makes 0/0 an error, not NaN)
    vx = "(CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)"
    vy = "(CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy)"
    r = (
        f"(CASE WHEN {vx} * {vy} <= 0 THEN CAST(0.0 AS DOUBLE) "
        f"ELSE (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
        f"/ sqrt({vx} * {vy}) END)"
    )
    ratio = dl.round_ratio(dl.DUCK, "sx", "n")
    return f"""
WITH {_ORACLE_EDGE_CTES},
und AS (
  SELECT tok_a AS node, tok_b AS nbr FROM edges
  UNION ALL
  SELECT tok_b AS node, tok_a AS nbr FROM edges
), deg AS (
  SELECT node, count(*) AS deg FROM und GROUP BY node
), xy AS (
  SELECT dx.deg AS x, dy.deg AS y
  FROM und u
  JOIN deg dx ON dx.node = u.node
  JOIN deg dy ON dy.node = u.nbr
), agg AS (
  SELECT count(*) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * y) AS BIGINT) AS sxy,
    CAST(sum(x * x) AS BIGINT) AS sx2, CAST(sum(y * y) AS BIGINT) AS sy2
  FROM xy
)
SELECT n AS n_directed_edges,
  {ratio} AS mean_endpoint_degree,
  round({r}, 4) AS assortativity_r
FROM agg
"""



def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA labeling — the one-number quality
    score of graph_lpa_communities' output (Q = intra-community edge
    share minus the share expected under the degree-preserving null
    model): the number a clustering pipeline publishes to decide
    whether the communities are real structure or degree artifacts.

    Closed integer form: Q = in_w/m - sum_c(deg_c^2)/(4*m^2) where m =
    total edge weight, in_w = weight of intra-community edges, deg_c =
    summed weighted degree per community — ALL exact BIGINT sums (no
    per-community float accumulation to order-perturb), combined in ONE
    shared IEEE expression and rounded (ks_lambda convention).

    Scale: two label equi-joins on the edge list + node-grain and
    community-grain aggs; the LPA loop itself is the shared
    _lpa_labels chain (vocab-sized relations, fixed rounds)."""
    labels = _lpa_labels(spark, sf_dir)
    edges = _cooc_edges(spark, sf_dir)
    # lazy localCheckpoint (r14): lab has THREE consumers (both e2 joins +
    # the n_comm count) and e2 has two (tot, wdeg's union) — without the
    # pins the whole LPA_ITERS join/agg lineage re-executes per consumer.
    # Both relations are vocab-bounded (node-grain / capped edge-grain).
    lab = labels.select("node", "label").localCheckpoint(eager=False)
    e2 = (
        edges.join(lab.withColumnRenamed("node", "tok_a").withColumnRenamed("label", "la"), "tok_a")
        .join(lab.withColumnRenamed("node", "tok_b").withColumnRenamed("label", "lb"), "tok_b")
    ).localCheckpoint(eager=False)
    tot = e2.agg(
        F.sum("w").alias("m"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("w")).otherwise(0)).alias(
            "in_w"
        ),
    )
    wdeg = (
        e2.select(F.col("la").alias("label"), "w")
        .union(e2.select(F.col("lb").alias("label"), "w"))
        .groupBy("label")
        .agg(F.sum("w").alias("deg_c"))
    )
    n_comm = lab.select("label").distinct().count()  # scalar model-state
    sq = wdeg.agg(F.sum(F.col("deg_c") * F.col("deg_c")).alias("sum_deg_sq"))
    q = (
        "(CAST(in_w AS DOUBLE) / m "
        "- CAST(sum_deg_sq AS DOUBLE) / (4.0 * CAST(m AS DOUBLE) * m))"
    )
    return (
        tot.join(F.broadcast(sq))
        .selectExpr(
            f"CAST({n_comm} AS BIGINT) AS n_communities",
            "m AS total_edge_weight",
            "in_w AS intra_weight",
            "sum_deg_sq",
            f"round({q}, 4) AS modularity_q",
        )
    )


def _oracle_modularity() -> str:
    body = _lpa_label_ctes()
    q = (
        "(CAST(in_w AS DOUBLE) / m "
        "- CAST(sum_deg_sq AS DOUBLE) / (4.0 * CAST(m AS DOUBLE) * m))"
    )
    return f"""
WITH {_ORACLE_EDGE_CTES},
{body},
e2 AS (
  SELECT e.w, la.label AS la, lb.label AS lb
  FROM edges e
  JOIN l{LPA_ITERS} la ON la.node = e.tok_a
  JOIN l{LPA_ITERS} lb ON lb.node = e.tok_b
), tot AS (
  SELECT CAST(sum(w) AS BIGINT) AS m,
    CAST(sum(CASE WHEN la = lb THEN w ELSE 0 END) AS BIGINT) AS in_w
  FROM e2
), wdeg AS (
  SELECT label, CAST(sum(w) AS BIGINT) AS deg_c FROM (
    SELECT la AS label, w FROM e2
    UNION ALL
    SELECT lb AS label, w FROM e2
  ) GROUP BY label
), sq AS (
  SELECT CAST(sum(deg_c * deg_c) AS BIGINT) AS sum_deg_sq,
    count(*) AS n_comm_deg
  FROM wdeg
), ncomm AS (
  SELECT count(DISTINCT label) AS n_communities FROM l{LPA_ITERS}
)
SELECT CAST(n_communities AS BIGINT) AS n_communities,
  m AS total_edge_weight, in_w AS intra_weight, sum_deg_sq,
  round({q}, 4) AS modularity_q
FROM tot, sq, ncomm
"""



RICH_CLUB_PCT = 10  # the "rich" set = top decile by degree


def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the co-occurrence graph — do the
    highest-degree nodes preferentially connect to EACH OTHER?
    phi = actual edges among the top-decile-by-degree nodes / possible
    edges among them, reported against the whole graph's density (the
    null expectation): phi >> density is the rich-club (hub oligarchy —
    the structure that makes hub-keyed joins hot TOGETHER, not just
    individually; assortativity r is the correlation view, this is the
    subgraph-density view of the same risk).

    The degree cut is found on the DEGREE-VALUE DOMAIN (cumulative
    counts over distinct degree values, bounded), never a node sort:
    the threshold is the smallest degree d where |{deg >= d}| <=
    RICH_CLUB_PCT% of nodes — all integer comparisons, ties resolved
    identically in both engines by the cum definition. Scale: degree
    agg (vocab-sized), value-domain window, one edge semi-join against
    the rich set."""
    edges = _cooc_edges(spark, sf_dir)
    und = edges.select(
        F.col("tok_a").alias("node")
    ).union(edges.select(F.col("tok_b").alias("node")))
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    from pyspark.sql.window import Window as W

    dd = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("c"))
    wge = W.orderBy(F.desc("deg")).rowsBetween(W.unboundedPreceding, 0)
    nn = deg.count()  # scalar model-state (node count)
    cut_rel = (
        dd.select("deg", F.sum("c").over(wge).alias("n_ge"))
        .filter(F.col("n_ge") * 100 <= nn * RICH_CLUB_PCT)
        .agg(F.min("deg").alias("cut"))
    )
    rich = deg.join(F.broadcast(cut_rel)).filter(
        F.col("deg") >= F.col("cut")
    ).select("node", "cut")
    e_rich = (
        edges.join(rich.selectExpr("node AS tok_a"), "tok_a")
        .join(rich.selectExpr("node AS tok_b"), "tok_b")
        .agg(F.count(F.lit(1)).alias("e_r"))
    )
    sizes = rich.agg(F.count(F.lit(1)).alias("n_r"), F.max("cut").alias("cut"))
    tot = edges.agg(F.count(F.lit(1)).alias("e_all"))
    # a small or degree-regular graph can leave the decile cut empty or
    # a single node (no degree value has <=10% of nodes at-or-above it);
    # phi is undefined below 2 members — report 0 and a -1 cut there
    phi = dl.round_ratio(dl.SPARK, "2 * e_r", "n_r * (n_r - 1)")
    dens = dl.round_ratio(dl.SPARK, "2 * e_all", f"{nn} * ({nn} - 1)")
    return (
        sizes.join(F.broadcast(e_rich))
        .join(F.broadcast(tot))
        .selectExpr(
            f"CAST({nn} AS BIGINT) AS n_nodes",
            "n_r AS n_rich",
            "coalesce(cut, -1) AS degree_cut",
            "e_r AS rich_edges",
            f"CASE WHEN n_r >= 2 THEN {phi} ELSE CAST(0.0 AS DOUBLE) END "
            "AS rich_club_phi",
            f"{dens} AS graph_density",
        )
    )


def _oracle_rich_club() -> str:
    phi = dl.round_ratio(dl.DUCK, "2 * e_r", "n_r * (n_r - 1)")
    dens = dl.round_ratio(dl.DUCK, "2 * e_all", "nn * (nn - 1)")
    return f"""
WITH {_ORACLE_EDGE_CTES},
und AS (
  SELECT tok_a AS node FROM edges
  UNION ALL
  SELECT tok_b AS node FROM edges
), deg AS (
  SELECT node, count(*) AS deg FROM und GROUP BY node
), nn_t AS (SELECT count(*) AS nn FROM deg),
dd AS (
  SELECT deg, count(*) AS c FROM deg GROUP BY deg
), cum AS (
  SELECT deg,
    CAST(sum(c) OVER (ORDER BY deg DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
      AS n_ge
  FROM dd
), cut_t AS (
  SELECT min(deg) AS cut FROM cum, nn_t
  WHERE n_ge * 100 <= nn * {RICH_CLUB_PCT}
), rich AS (
  SELECT node FROM deg, cut_t WHERE deg >= cut
), er_t AS (
  SELECT count(*) AS e_r FROM edges
  WHERE tok_a IN (SELECT node FROM rich)
    AND tok_b IN (SELECT node FROM rich)
), tot AS (SELECT count(*) AS e_all FROM edges)
SELECT CAST(nn AS BIGINT) AS n_nodes,
  (SELECT count(*) FROM rich) AS n_rich,
  coalesce(cut, -1) AS degree_cut,
  CAST(e_r AS BIGINT) AS rich_edges,
  (SELECT CASE WHEN n_r >= 2 THEN {phi} ELSE CAST(0.0 AS DOUBLE) END
     FROM er_t, (SELECT count(*) AS n_r FROM rich)) AS rich_club_phi,
  {dens} AS graph_density
FROM nn_t, cut_t, er_t, tot
"""



QUERIES = {
    "graph_link_prediction": graph_link_prediction,
    "graph_degree_stats": graph_degree_stats,
    "graph_triangle_stats": graph_triangle_stats,
    "graph_pagerank_topk": graph_pagerank_topk,
    "graph_lpa_communities": graph_lpa_communities,
    "graph_kcore": graph_kcore,
    "graph_bfs_frontiers": graph_bfs_frontiers,
    "graph_degree_assortativity": graph_degree_assortativity,
    "graph_modularity": graph_modularity,
    "graph_rich_club": graph_rich_club,
}

ORACLES = {
    "graph_link_prediction": _oracle_link_prediction(),
    "graph_degree_stats": _oracle_degree(),
    "graph_triangle_stats": _oracle_triangles(),
    "graph_pagerank_topk": _oracle_pagerank(),
    "graph_lpa_communities": _oracle_lpa(),
    "graph_kcore": _oracle_kcore(),
    "graph_bfs_frontiers": _oracle_bfs(),
    "graph_degree_assortativity": _oracle_assortativity(),
    "graph_modularity": _oracle_modularity(),
    "graph_rich_club": _oracle_rich_club(),
}
