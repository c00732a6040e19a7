"""Deduplication operators over the documents table (north-star surface).

The reference's only dedup is exact dropDuplicates on the output key
(proc:115). A 100 TB training-data pipeline needs the full ladder:

- exact dedup: content-hash groupBy (one shuffle on a uniform 128-bit key —
  skew-free by construction)
- MinHash near-dedup: shingle -> K salted-md5 min-hashes -> banded LSH
  self-join -> estimated-Jaccard filter. Candidate generation is the banded
  join (bucket sizes stay small), NOT an all-pairs product — the only
  formulation that survives 100 TB.
- SimHash: K-bit signature from per-token salted hash bits; equal-signature
  buckets are near-dup groups. One agg + one self-join on the signature.
- n-gram Jaccard: exact pairwise similarity via shingle-equijoin +
  |A∩B| / (|A|+|B|-|A∩B|) — the verifier for the approximate methods.

Hashing is md5-based (identical hex output in Spark and DuckDB), so every
operator here is generated from ONE dual-dialect template (functions/dialect)
and hash-matches its oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..audit import audit_plan
from ..functions import dialect as dl
from ..sources.loaders import fan_out_small, load_table
from ..staging import staged

SHINGLE = 3            # tokens per shingle
MINHASH_K = 8          # minhash functions (salted md5 mins)
BANDS = 4              # LSH bands of ROWS_PER_BAND hashes each
ROWS_PER_BAND = MINHASH_K // BANDS
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 16
# Exact-Jaccard hot-shingle guard: shingles appearing in more than this many
# documents are excluded from BOTH the intersection join and the union sizes.
# The shingle-equijoin's cost is sum over shingles of df^2 — one stop-shingle
# in 1% of a 100 TB corpus is a quadratic blowup on a single join key. The
# excluded shingles carry ~no signal for near-dup detection (they are corpus
# boilerplate by definition), and the cap is applied identically in the
# DuckDB oracle so the metric stays exactly comparable.
# Cap choice: on the test corpus the result set is IDENTICAL for caps 10 and
# 50 at sf0.01 and sf0.1 (boilerplate shingles sit at df 11-25 and dominate
# join cost: df>10 carries 63% of sum(df^2) at sf0.1), while cap 5 starts
# dropping signal shingles (union shrinks -> inflated jaccard -> false
# positives). 10 is the tightest setting that preserves results.
HOT_SHINGLE_DF_CAP = 10


def shingles_sql(d: str, toks_col: str, n_tokens: int = SHINGLE) -> str:
    """Array of ``n_tokens``-token shingles from a PRE-SPLIT token-array
    column (dual-dialect). Tokenize once in an upstream projection/CTE: an
    inline ``split(text)`` would be re-evaluated inside the transform
    lambda for every shingle position — O(tokens^2) work per row, measured
    4x slower at sf0.1."""
    n = dl.arr_size(d, toks_col)
    body = dl.arr_join(d, dl.arr_slice(d, toks_col, "i", str(n_tokens)), " ")
    return dl.transform(d, dl.seq(d, "1", f"{n} - {n_tokens - 1}"), "i", body)


def shingle_rel(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) relation: distinct 3-gram shingles per document, with
    the tokenize-once projection barrier. Takes an arbitrary docs slice
    (the incremental probe shingles its daily batch through this); the
    full-corpus path goes through shingle_rel_staging below."""
    return docs.select("doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")).select(
        "doc_id",
        F.explode(F.expr(dl.arr_distinct(dl.SPARK, shingles_sql(dl.SPARK, "toks")))).alias("sh"),
    )


# The tokenize-once corpus relation (r8, VERDICT r7 item 4): the shingle
# builds here, bigram_instance_staging (textstats) and
# dsir_instance_staging (cleaning) each re-ran the whitespace-split over
# documents — at 100 TB that is three full tokenize passes where a real
# pipeline materializes tokens once at ingest. One localCheckpoint per
# (application, sf_dir); registered as the FIRST staging line so its build
# cost is a named number and every consumer line prices only its own work.
@staged
def tokenized_docs_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, toks) — documents tokenized once, shared by
    every token-consuming staging build."""
    # fan_out_small (r14): the local fixture is one row group, so the
    # tokenize — and every shingle/bigram/dsir build stacked on this
    # checkpoint — otherwise runs as ONE task; identity at scale
    docs = fan_out_small(load_table(spark, sf_dir, "documents"), spark)
    return audit_plan(
        "tokenized_docs",
        docs.select(
            "doc_id", "lang", "source", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")
        ),
    ).localCheckpoint()


# The UNCAPPED distinct-shingle relation sh_all is read by TWO builds (the
# hot-list cap below and the minhash signature agg) — before r8 each
# re-derived it from raw text. Materialized once in the staging tier.
@staged
def shingle_rel_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh, mh32) distinct shingles for the full corpus, built
    from the tokenized-docs staging relation and materialized once per
    (application, sf_dir). mh32 (the 31-bit shingle hash the K minhash
    permutations map over) is computed HERE so the checkpoint
    materializes it exactly once per row — left lazy, Catalyst's project
    collapse inlines the md5+fold into every one of the K min() aggs
    (measured: 3.2 s vs 0.9 s for the signature build at sf0.1). Column
    pruning drops it for the consumers that only read (doc_id, sh)."""
    tokd = tokenized_docs_staging(spark, sf_dir)
    rel = tokd.select(
        "doc_id",
        F.explode(F.expr(dl.arr_distinct(dl.SPARK, shingles_sql(dl.SPARK, "toks")))).alias("sh"),
    ).select(
        "doc_id", "sh", F.md5("sh").alias("mhx")
    ).select(
        "doc_id", "sh", F.expr(_minhash_src_sql(dl.SPARK)).alias("mh32")
    )
    return audit_plan("dedup_shingle_rel", rel).localCheckpoint()


# Like the pair relation below: the df-capped distinct-shingle relation
# (the "non-boilerplate shingle vocabulary") is the shared staging input of
# the exact-overlap verifiers (dedup_ngram_jaccard, dedup_containment). At
# 100 TB it is the tokenize-and-shingle-once materialization every dedup
# stage reads; in-process: one localCheckpoint per (application, sf_dir),
# distributed, never collected.
def capped_shingle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY df-capped shingle plan (pre-materialization; plan-shape
    tests assert on this form): the df-per-shingle agg is map-side-partial
    on a uniform key; the hot list (df > cap) is tiny by construction ->
    broadcast anti-join, so the big shingle relation shuffles only for the
    one count agg. Capping df bounds every downstream self-join bucket at
    CAP^2 regardless of corpus size."""
    sh_all = shingle_rel_staging(spark, sf_dir).select("doc_id", "sh")
    hot = (
        sh_all.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > HOT_SHINGLE_DF_CAP)
        .select("sh")
    )
    return sh_all.join(F.broadcast(hot), "sh", "left_anti")


@staged
def capped_shingle_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) distinct shingles with document-frequency >
    HOT_SHINGLE_DF_CAP shingles removed, materialized once per
    (application, sf_dir) — see capped_shingle_plan for the plan shape."""
    return audit_plan(
        "dedup_capped_shingles", capped_shingle_plan(spark, sf_dir)
    ).localCheckpoint()


def _oracle_shingle_ctes(src: str = "documents") -> str:
    """The matching DuckDB CTE pair (tokd -> sh). ``src`` lets composed
    oracles (corpus_pipeline_neardup) shingle a filtered relation instead
    of the whole table."""
    return f"""tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM {src}
), sh AS (
  SELECT DISTINCT doc_id, unnest({shingles_sql(dl.DUCK, 'toks')}) AS sh FROM tokd
)"""


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime), the permutation modulus
# Fixed (a, b) pairs for the K affine permutations h_k = (a*h + b) mod P —
# arbitrary primes below 2^31, so a*h < 2^62 stays inside BIGINT.
MINHASH_AB = [
    (1610612741, 805306457),
    (402653189, 1572869),
    (201326611, 98317),
    (100663319, 393241),
    (50331653, 786433),
    (25165843, 196613),
    (12582917, 49157),
    (6291469, 24593),
]
assert len(MINHASH_AB) >= MINHASH_K


def _minhash_src_sql(d: str) -> str:
    """31-bit uniform hash of the md5-hex column ``mhx`` (already computed
    from the shingle) -> column source for the K affine permutations."""
    return f"(({dl.hex_prefix_uint(d, 'mhx', 15)}) % {MINHASH_P})"


def _minhash_agg_sql(d: str, k: int) -> str:
    """Min of the k-th affine permutation over the per-row hash column
    ``mh32`` -> BIGINT hash column h{k}.

    r8 rewrite: the previous scheme ran min(md5('mh{k}|' || sh)) — K md5
    evaluations per (doc, shingle) row. The standard production MinHash
    implementation hashes each shingle ONCE and derives the K permutations
    as affine maps (a_k*h + b_k) mod P of that value (Broder's min-wise
    family): 1/K-th the hash cost per row, integer mins instead of
    32-char-string mins through the agg, and the same uniform-permutation
    semantics. Both engines evaluate the identical template, so oracle
    parity is unchanged by construction."""
    a, b = MINHASH_AB[k]
    return f"min(({a} * mh32 + {b}) % {MINHASH_P})"


def _oracle_sig_ctes() -> str:
    """DuckDB CTE pair (sigsrc -> sig) building the K-column signature
    relation from the ``sh`` CTE — shared by the signature, banded-pair,
    and incremental-probe oracles."""
    aggs = ", ".join(f"{_minhash_agg_sql(dl.DUCK, k)} AS h{k}" for k in range(MINHASH_K))
    return f"""sigsrc AS (
  SELECT doc_id, {_minhash_src_sql(dl.DUCK)} AS mh32
  FROM (SELECT doc_id, md5(sh) AS mhx FROM sh)
), sig AS (
  SELECT doc_id, {aggs} FROM sigsrc GROUP BY doc_id
)"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def minhash_signatures_for(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{K-1}) signatures for an ARBITRARY (doc_id, text)
    slice — the generic form of minhash_signatures used by the streaming
    ingest path, where the batch is a micro-batch DataFrame rather than a
    corpus directory. Same template as the staged build: tokenize-once
    projection, distinct shingles, one md5 per shingle, K affine
    permutations folded into the groupBy mins."""
    src = (
        shingle_rel(docs)
        .select("doc_id", F.md5("sh").alias("mhx"))
        .select("doc_id", F.expr(_minhash_src_sql(dl.SPARK)).alias("mh32"))
    )
    aggs = [F.expr(_minhash_agg_sql(dl.SPARK, k)).alias(f"h{k}") for k in range(MINHASH_K)]
    return src.groupBy("doc_id").agg(*aggs)


def banded_rel(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band rows from a signature
    relation — the 3-column narrow shape that rides every banded shuffle
    (the wide K-hash rows re-join on doc_id only for surviving
    candidates). Shared by the batch self-join, the incremental probe,
    and the streaming ingest index."""
    hash_cols = [f"h{k}" for k in range(MINHASH_K)]
    band_keys = F.array(
        *[
            F.md5(F.concat_ws("|", *hash_cols[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]))
            for b in range(BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band_id", "band_key"))


def signature_match_count(prefix_a: str = "a", prefix_b: str = "b") -> F.Column:
    """sum over K of [a_hk == b_hk] — the estimated-Jaccard numerator for
    a candidate pair whose two signatures were re-joined side by side."""
    return sum(
        F.when(F.col(f"{prefix_a}_h{k}") == F.col(f"{prefix_b}_h{k}"), 1).otherwise(0)
        for k in range(MINHASH_K)
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by full-content hash; reports each group's
    canonical keeper (min doc_id) and size, only for real dup groups."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id, count(*) AS group_size
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + K minhash columns h0..h{K-1} (distinct-shingle explode, one
    groupBy — partial aggregation makes the min() map-side cheap). Reads
    the staged shingle relation (r8): the hot-list cap build reads the
    same sh_all, so deriving it twice from raw text was a full duplicated
    tokenize+shingle pass. The per-row md5 runs ONCE; the K hashes are
    affine permutations of it (see _minhash_agg_sql)."""
    src = shingle_rel_staging(spark, sf_dir).select("doc_id", "mh32")
    aggs = [F.expr(_minhash_agg_sql(dl.SPARK, k)).alias(f"h{k}") for k in range(MINHASH_K)]
    return src.groupBy("doc_id").agg(*aggs)


# Signature relation is consumed by TWO independent builds (the banded
# pair self-join and the round-7 incremental probe): materialize once per
# (application, sf_dir) — the persisted signature table of a production
# corpus (computed at ingest, joined forever after).
@staged
def minhash_signatures_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audit_plan(
        "minhash_signatures_staging", minhash_signatures(spark, sf_dir)
    ).localCheckpoint()


def _oracle_signatures() -> str:
    return f"""
WITH {_oracle_shingle_ctes()}, {_oracle_sig_ctes()}
SELECT doc_id, {", ".join(f"h{k}" for k in range(MINHASH_K))} FROM sig
"""


# The thresholded pair relation is a STAGING table: three registered
# queries consume it (dedup_minhash_pairs itself, the connected-component
# canonicalizer, the survivor summarizer). At 100 TB you'd materialize it
# once to parquet and point every consumer at it; in-process we model the
# same thing with a localCheckpoint staged per (application, sf_dir).
# Unlike the k-means codebook (driver rows), the pair relation is
# corpus-sized, so it stays DISTRIBUTED — the staging entry is a
# checkpointed DataFrame, never collected rows.
@staged
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs with estimated Jaccard >= threshold.

    One pass: explode each signature into (band_id, band_key) rows — the
    band key is md5 over that band's ROWS_PER_BAND hashes — then ONE
    self-join on (band_id, band_key). Joining on (band_id, key) instead of
    unioning BANDS separate joins means a single shuffle of n x BANDS small
    rows and a single join stage. At scale the band join is the whole
    trick: candidates ~ O(sum bucket^2), never O(n^2).

    The band self-join shuffles ONLY (doc_id, band_id, band_key) — the K
    signature columns are re-joined on doc_id for the (much smaller) set
    of distinct surviving pairs, so the wide rows never ride the banded
    shuffle (~2x less shuffle volume than carrying them through).

    sig is EAGERLY materialized (localCheckpoint, not cache): three plan
    branches read it (banded, sa, sb) inside the one job that executes
    the final plan, and a lazily-populated cache lets those branches race
    to compute signature partitions concurrently before any is cached —
    the same union-fan-out hazard fixed in connected_components, in
    in-job form. Measured at sf0.1: 2.44s -> 2.08s.

    The RESULT is materialized once per (application, sf_dir) and shared
    by the cluster/survivor consumers — the staging-table pattern (see
    the note above)."""
    sig = minhash_signatures_staging(spark, sf_dir)
    hash_cols = [f"h{k}" for k in range(MINHASH_K)]
    banded = banded_rel(sig)
    left = banded.select(F.col("doc_id").alias("a"), "band_id", "band_key")
    right = banded.select(F.col("doc_id").alias("b"), "band_id", "band_key")
    cand = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("a"), *[F.col(h).alias(f"a_{h}") for h in hash_cols])
    sb = sig.select(F.col("doc_id").alias("b"), *[F.col(h).alias(f"b_{h}") for h in hash_cols])
    matches = signature_match_count("a", "b")
    out = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", matches.alias("n_matches"))
        .withColumn("est_jaccard", F.round(F.col("n_matches") / F.lit(MINHASH_K), 4))
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .select("a", "b", "est_jaccard")
    )
    return audit_plan("minhash_pairs_staging", out).localCheckpoint()


def _oracle_pairs_ctes(src: str = "documents") -> str:
    """CTE chain ending in ``dup_pairs(a, b)`` — the thresholded MinHash
    near-dup pairs, shared by the pairs oracle, the clusters oracle, and
    (with src='kept') the composed corpus_pipeline_neardup oracle."""
    hash_cols = [f"h{k}" for k in range(MINHASH_K)]
    band_selects = []
    for b in range(BANDS):
        cols = hash_cols[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]
        band_key = f"md5(concat_ws('|', {', '.join(cols)}))"
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {band_key} AS band_key FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    match_expr = " + ".join(
        f"(CASE WHEN sa.{h} = sb.{h} THEN 1 ELSE 0 END)" for h in hash_cols
    )
    return f"""{_oracle_shingle_ctes(src)}, {_oracle_sig_ctes()}, banded AS ({bands}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc_id < r.doc_id
), pairs AS (
  SELECT a, b, {match_expr} AS n_matches
  FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b
), dup_pairs AS (
  SELECT a, b, round(n_matches / {MINHASH_K}.0, 4) AS est_jaccard
  FROM pairs WHERE round(n_matches / {MINHASH_K}.0, 4) >= {JACCARD_THRESHOLD}
)"""


def _oracle_minhash_pairs() -> str:
    return f"""
WITH {_oracle_pairs_ctes()}
SELECT a, b, est_jaccard FROM dup_pairs
"""


# ---------------------------------------------------------------------------
# Connected components over the near-dup pair graph
# ---------------------------------------------------------------------------

def connected_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """Min-label propagation over an undirected edge list (a, b) ->
    (node, cluster_id) where cluster_id = min doc_id of the component.

    This is the step every dedup pipeline needs after pair generation:
    near-dup PAIRS are not dedupable units, their transitive CLUSTERS are
    (keep one doc per cluster). Iterative DataFrame algorithm, the
    standard label-propagation shape (GraphX/GraphFrames do the same under
    the hood): each round, every node takes min(own label, neighbors'
    labels); converges in O(component diameter) rounds — near-dup clusters
    are shallow (dups of a common source), so a handful of rounds.

    Scale notes: each round is ONE shuffle join on node id + a hash agg;
    ``localCheckpoint`` truncates the growing lineage each round (an
    iterative plan replayed from parquet would otherwise recompute all
    prior rounds on every action); the driver-side loop-with-convergence-
    check is control flow, not data flow — the per-round convergence
    probe is one aggregate scalar (sum of labels, monotone decreasing),
    not a collect of rows."""
    # materialize the PAIR PIPELINE first, then the undirected edge list.
    # Two distinct re-execution hazards: (1) without materializing `und`,
    # every propagation round re-executes the upstream pipeline; (2) —
    # the round-4 8.3 s bug — without materializing `edges` FIRST, the
    # single job that builds `und` executes the un-materialized pair plan
    # once per union branch (sym references edges twice, und references
    # sym twice => up to 4 executions of MinHash banding + the band
    # self-join inside one job; Spark unions do not dedup common
    # subplans). Measured at sf0.1: und-build 6.1 s -> 0.5 s with the
    # edge checkpoint; dedup_clusters 8.3 s -> ~4 s end-to-end.
    edges = audit_plan("cc_edges", edges.select("a", "b")).localCheckpoint()
    # Self-loops (node, node) fold the "least(own label, neighbor min)"
    # step into the propagation join itself: min over {labels of b :
    # (a,b) in und} with a~a present IS the new label, so each round is
    # exactly one join + one hash agg.
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    und = audit_plan(
        "cc_und",
        sym.union(sym.select("a", F.col("a").alias("b")).distinct()),
    ).localCheckpoint()
    # per-round parallelism: AQE's partition coalescing already sizes the
    # tiny round shuffles down (measured: explicit repartition-by-edge-count
    # adds a shuffle and buys nothing) — rely on it.
    labels = (
        und.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint()
    prev_sum = None
    converged = False
    for i in range(max_iters):
        # convergence test without a join OR a second job: labels only
        # ever decrease (least of old and neighbor min), so the scalar
        # sum(label) is strictly monotone and stalls exactly at the fixed
        # point. observe() piggybacks the sum on the SAME job that
        # materializes the round's localCheckpoint — round 3 ran a
        # separate agg job per round; at ~5 rounds the per-job scheduling
        # overhead was a measurable slice of dedup_clusters' bench time.
        obs = Observation(f"cc_round_{i}")
        new_labels = audit_plan(
            "cc_round",
            und.join(labels, und["b"] == labels["node"])
            .groupBy(und["a"].alias("node"))
            .agg(F.min("label").alias("label"))
            .observe(obs, F.sum("label").alias("s")),
        ).localCheckpoint()
        new_sum = obs.get["s"]
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # silent truncation would return WRONG labels (a chain component
        # longer than max_iters splits into several reported clusters) and
        # a dedup pipeline would quietly keep duplicates — fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "component diameter exceeds max_iters — raise it for this graph"
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components of the MinHash pair graph,
    summarized per cluster (keeper = min doc_id = the cluster id, size,
    member list). The output a dedup pipeline acts on: keep keeper_doc_id,
    drop the other members."""
    pairs = dedup_minhash_pairs(spark, sf_dir)
    cc = connected_components(pairs)
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.array_join(F.array_sort(F.collect_list("node")), ",").alias("members"),
        )
        .select(
            F.col("cluster_id").alias("keeper_doc_id"), "cluster_size", "members"
        )
    )


def _oracle_dedup_clusters() -> str:
    """Transitive closure by recursive CTE (UNION dedups, so it
    terminates), then cluster = min over reachable nodes."""
    return f"""
WITH RECURSIVE {_oracle_pairs_ctes()}, e AS (
  SELECT a, b FROM dup_pairs UNION ALL SELECT b, a FROM dup_pairs
), reach AS (
  SELECT a AS src, b AS dst FROM e
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN e ON r.dst = e.a
), labeled AS (
  SELECT src AS node, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
)
SELECT cluster_id AS keeper_doc_id, count(*) AS cluster_size,
  array_to_string(list_sort(list(node)), ',') AS members
FROM labeled GROUP BY cluster_id
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_bit_sql(d: str, b: int) -> str:
    """+1/-1 vote of the (pre-hashed) token on bit b: parity of nibble b of
    its md5 ('h' column). ONE md5 per token feeds all SIMHASH_BITS votes —
    16x less hashing than per-bit salts, same independent-bit family (md5
    nibbles are independent)."""
    nib = dl.hex_nibble(d, f"substr(h, {b + 1}, 1)")
    return f"(CASE WHEN ({nib}) % 2 = 1 THEN 1 ELSE -1 END)"


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMHASH_BITS-bit signature per doc: sum token votes per bit, take the
    sign, pack to one BIGINT. One explode + one groupBy."""
    # fan_out_small (r14): explode + md5 + the 64-bit-vote map-side
    # partial agg all ran as ONE task on the single-row-group fixture.
    docs = fan_out_small(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    tok = docs.select(
        "doc_id", F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("tok")
    ).select("doc_id", F.md5("tok").alias("h"))
    votes = [
        F.sum(F.expr(_simhash_bit_sql(dl.SPARK, b))).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    packed = sum(
        F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", packed.cast("bigint").alias("simhash"))


def _oracle_simhash_core() -> str:
    votes = ",\n    ".join(
        f"sum({_simhash_bit_sql(dl.DUCK, b)}) AS v{b}" for b in range(SIMHASH_BITS)
    )
    packed = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h FROM documents
), agg AS (
  SELECT doc_id, {votes} FROM tok GROUP BY doc_id
)
SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM agg
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs sharing an identical SimHash signature (Hamming distance 0
    buckets): groups with keeper + size."""
    sig = simhash_docs(spark, sf_dir)
    return (
        sig.groupBy("simhash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )


def _oracle_dedup_simhash() -> str:
    return f"""
WITH sig AS ({_oracle_simhash_core()})
SELECT simhash, min(doc_id) AS keeper_doc_id, count(*) AS group_size
FROM sig GROUP BY simhash HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard
# ---------------------------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over candidate pairs that share >= 1 shingle.
    shingle-equijoin -> per-pair intersection count -> sizes via broadcast
    of the per-doc shingle counts. Pairs with jaccard >= threshold.

    Hot shingles (document frequency > HOT_SHINGLE_DF_CAP) are dropped
    before the self-join via a broadcast anti-join against the (tiny) hot
    list — the join cost is sum(df^2) per shingle, so capping df bounds the
    worst bucket at CAP^2 regardless of corpus size. Sizes are computed
    from the SAME filtered set, so the reported metric is exact Jaccard
    over the non-boilerplate shingle vocabulary."""
    sh = capped_shingle_staging(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # shuffle_hash, not sort-merge: the join output feeds straight into a
    # hash agg, so the SMJ sorts buy nothing, and the hot-shingle cap bounds
    # every hash bucket (<= CAP rows per key) so the build side cannot blow
    # up on a skewed key. ~1.7x faster than SMJ on this stage at sf0.1.
    inter = (
        sh.alias("l")
        .hint("shuffle_hash")
        .join(sh.alias("r"), (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "size_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "size_b"), "b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 4),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a", "b", "n_inter", "jaccard")
    )


def _oracle_ngram_jaccard() -> str:
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), sh_all AS (
  SELECT DISTINCT doc_id, unnest({shingles_sql(dl.DUCK, 'toks')}) AS sh FROM tokd
), hot AS (
  SELECT sh FROM sh_all GROUP BY sh HAVING count(*) > {HOT_SHINGLE_DF_CAP}
), sh AS (
  SELECT * FROM sh_all WHERE sh NOT IN (SELECT sh FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
  FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_inter,
  round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4) >= {JACCARD_THRESHOLD}
"""


CONTAINMENT_PCT = 80  # keep pairs where n_inter * 100 >= 80 * min(size)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment: C(a in b) = |A inter B| / |A|.
    Jaccard misses subset duplication (a 40-line doc pasted inside a
    400-line doc scores ~0.1 Jaccard but 1.0 containment) — this is the
    near-dup test quote-inclusion / boilerplate-wrapping slips through.

    Same capped shingle relation and shuffle_hash pair join as
    dedup_ngram_jaccard (df <= HOT_SHINGLE_DF_CAP bounds every hash
    bucket); the gate is INTEGER (n_inter * 100 >= PCT * min(size)) so the
    keep/drop boundary cannot flap on float rounding."""
    sh = capped_shingle_staging(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("l")
        .hint("shuffle_hash")
        .join(sh.alias("r"), (F.col("l.sh") == F.col("r.sh")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "size_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "size_b"), "b")
        .filter(
            F.col("n_inter") * 100 >= CONTAINMENT_PCT * F.least("size_a", "size_b")
        )
        .select(
            "a",
            "b",
            "n_inter",
            F.expr(dl.round_ratio(dl.SPARK, "n_inter", "size_a")).alias("containment_a"),
            F.expr(dl.round_ratio(dl.SPARK, "n_inter", "size_b")).alias("containment_b"),
        )
    )


def _oracle_containment() -> str:
    ca = dl.round_ratio(dl.DUCK, "n_inter", "sa.n_sh")
    cb = dl.round_ratio(dl.DUCK, "n_inter", "sb.n_sh")
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), sh_all AS (
  SELECT DISTINCT doc_id, unnest({shingles_sql(dl.DUCK, 'toks')}) AS sh FROM tokd
), hot AS (
  SELECT sh FROM sh_all GROUP BY sh HAVING count(*) > {HOT_SHINGLE_DF_CAP}
), sh AS (
  SELECT * FROM sh_all WHERE sh NOT IN (SELECT sh FROM hot)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
  FROM sh l JOIN sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT a, b, n_inter, {ca} AS containment_a, {cb} AS containment_b
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE n_inter * 100 >= {CONTAINMENT_PCT} * least(sa.n_sh, sb.n_sh)
"""


def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test n-gram contamination check (decontamination): for every
    test-split document, the fraction of its 3-gram shingles that also
    appear anywhere in the train split. The split is the same deterministic
    md5-nibble assignment as ``dataset_split_assign`` (bucket 0 = test).

    Scale design: the train side is reduced to DISTINCT shingles before the
    join, so each test (doc, shingle) row matches at most one train row —
    the join is linear in test shingles with no df^2 blowup, and needs no
    hot-shingle cap. The distinct is one shuffle on a uniform md5-ish key;
    at 100 TB the train-shingle set is the big object, and it partitions
    uniformly by construction. The split flag is computed INSIDE the
    pre-explode projection (one md5 per document) — a join against a
    per-doc flags table would make the 'small' side corpus-sized, which
    is broadcast-OOM at scale and a needless shuffle otherwise."""
    bucket = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(doc_id AS STRING)"))
    # r14: read the SHARED distinct-shingle staging relation (identical
    # tokenize + arr_distinct(shingles) rows, checkpointed + fanned once
    # per app x sf_dir) — sh has two consumers (train_sh, test_sh), each
    # of which re-executed the single-task shingle build before. The
    # is_test flag is still one md5 per (doc, shingle) row computed
    # map-side off the checkpoint, never a joined flags table.
    sh = shingle_rel_staging(spark, sf_dir).select(
        "doc_id", (bucket == 0).alias("is_test"), "sh"
    )
    train_sh = sh.filter(~F.col("is_test")).select("sh").distinct()
    test_sh = sh.filter(F.col("is_test")).select("doc_id", "sh")
    hits = test_sh.join(train_sh.withColumn("hit", F.lit(1)), "sh", "left")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.expr(
                dl.round_ratio(dl.SPARK, "n_overlap", "n_shingles")
            ).alias("contamination"),
        )
    )


def _oracle_decontaminate() -> str:
    b = dl.md5_prefix_nibble(dl.DUCK, "CAST(doc_id AS VARCHAR)")
    return f"""
WITH {_oracle_shingle_ctes()}, flags AS (
  SELECT doc_id, ({b}) = 0 AS is_test FROM documents
), train_sh AS (
  SELECT DISTINCT sh.sh FROM sh JOIN flags USING (doc_id) WHERE NOT is_test
), test_sh AS (
  SELECT sh.doc_id, sh.sh FROM sh JOIN flags USING (doc_id) WHERE is_test
)
SELECT t.doc_id, count(*) AS n_shingles,
  CAST(sum(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
  {dl.round_ratio(dl.DUCK, "sum(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END)", "count(*)")} AS contamination
FROM test_sh t LEFT JOIN train_sh tr ON t.sh = tr.sh
GROUP BY t.doc_id
"""


SPAN_SHINGLE = 8        # tokens per positional shingle (overlapping, step 1)
SPAN_HOT_DF_CAP = 10    # same df-cap rationale as HOT_SHINGLE_DF_CAP


def dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate SPANS between document pairs — the
    granularity suffix-array dedup works at (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): doc-level near-dup
    misses a long verbatim quote inside otherwise-distinct documents;
    this reports, per document pair, the maximal common token spans of
    length >= SPAN_SHINGLE, so a curation pass can cut the span, not the
    document.

    Spark-first formulation instead of a distributed suffix array:
    (1) positional overlapping SPAN_SHINGLE-token shingles (doc_id, pos,
        md5) — one projection + explode;
    (2) df-capped shingle equi-join => matched position pairs (a, b,
        a_pos, b_pos); the cap bounds the worst join bucket at CAP^2
        exactly like dedup_ngram_jaccard, and drops corpus boilerplate
        that dedup at pair granularity should not count anyway;
    (3) maximal-run merge: matches of one contiguous common substring lie
        on one DIAGONAL (a_pos - b_pos constant) at consecutive a_pos, so
        a gaps-islands pass per (a, b, diag) — lag + running sum, the
        events_gaps_islands shape — merges them into (start_a, start_b,
        span_tokens = run_length + SPAN_SHINGLE - 1) spans with no
        self-join.
    Output: per pair, span count, longest span, total duplicated tokens
    (sum over disjoint-diagonal spans). Everything shuffles on uniform
    md5 / (a, b, diag) keys; nothing is ever all-pairs."""
    # fan_out_small (r14): the positional-shingle md5 build (the dominant
    # map work, materialized by the checkpoint below) ran as ONE task on
    # the single-row-group fixture.
    docs = fan_out_small(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    sh = (
        docs.select("doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                # guard: Spark's sequence(1, n) with n < 1 generates a
                # DESCENDING sequence (DuckDB's generate_series is empty)
                # — short docs must yield zero shingles in both engines
                F.expr(
                    f"CASE WHEN size(toks) >= {SPAN_SHINGLE} THEN "
                    f"transform(sequence(1, size(toks) - {SPAN_SHINGLE - 1}), "
                    f"i -> md5(array_join(slice(toks, i, {SPAN_SHINGLE}), ' '))) "
                    f"ELSE array() END"
                )
            ).alias("pos", "h"),
        )
    )
    sh = audit_plan("span_shingles", sh).localCheckpoint()
    # hot-agg job + shc job both read it: build once
    hot = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SPAN_HOT_DF_CAP)
        .select("h")
    )
    shc = audit_plan(
        "span_capped_shingles", sh.join(F.broadcast(hot), "h", "left_anti")
    ).localCheckpoint()
    l = shc.select(F.col("doc_id").alias("a"), F.col("pos").alias("a_pos"), "h")
    r = shc.select(F.col("doc_id").alias("b"), F.col("pos").alias("b_pos"), "h")
    matches = (
        l.join(r, "h")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "a_pos", (F.col("a_pos") - F.col("b_pos")).alias("diag"))
        # no distinct: h is a function of (doc, pos) and b_pos = a_pos -
        # diag, so (a, b, diag, a_pos) cannot repeat — and even a repeat
        # would fold into the same run (diff 0 <= 1) without changing the
        # min/max span arithmetic. Dropping it saves a full shuffle.
    )
    w = W.partitionBy("a", "b", "diag").orderBy("a_pos")
    runs = (
        matches.withColumn(
            "new_run",
            F.when(
                F.col("a_pos") - F.lag("a_pos").over(w) <= 1, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "run_id",
            F.sum("new_run").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("a", "b", "diag", "run_id")
        .agg(
            (F.max("a_pos") - F.min("a_pos") + F.lit(SPAN_SHINGLE)).alias(
                "span_tokens"
            )
        )
    )
    return runs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("span_tokens").cast("bigint").alias("longest_span_tokens"),
        F.sum("span_tokens").cast("bigint").alias("dup_tokens"),
    )


def _oracle_dup_spans() -> str:
    d = dl.DUCK
    toks = dl.split_ws(d, "text")
    return f"""
WITH tokd AS (
  SELECT doc_id, {toks} AS toks FROM documents
), sh AS (
  SELECT doc_id, i AS pos,
    md5(array_to_string(toks[i : i + {SPAN_SHINGLE - 1}], ' ')) AS h
  FROM tokd, unnest(generate_series(1, len(toks) - {SPAN_SHINGLE - 1})) AS t(i)
), hot AS (
  SELECT h FROM sh GROUP BY h HAVING count(*) > {SPAN_HOT_DF_CAP}
), shc AS (
  SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot)
), matches AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.pos AS a_pos,
    l.pos - r.pos AS diag
  FROM shc l JOIN shc r ON l.h = r.h AND l.doc_id < r.doc_id
), runs0 AS (
  SELECT a, b, diag, a_pos,
    CASE WHEN a_pos - lag(a_pos) OVER (PARTITION BY a, b, diag ORDER BY a_pos) <= 1
         THEN 0 ELSE 1 END AS new_run
  FROM matches
), runs1 AS (
  SELECT a, b, diag, a_pos,
    sum(new_run) OVER (PARTITION BY a, b, diag ORDER BY a_pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM runs0
), runs AS (
  SELECT a, b, diag, run_id,
    max(a_pos) - min(a_pos) + {SPAN_SHINGLE} AS span_tokens
  FROM runs1 GROUP BY a, b, diag, run_id
)
SELECT a, b, count(*) AS n_spans,
  CAST(max(span_tokens) AS BIGINT) AS longest_span_tokens,
  CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
FROM runs GROUP BY a, b
"""


BLOOM_BITS_LOG2 = 20  # 2^20-bit filter = 16384 BIGINT words (128 KiB)


def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination: the SAME exact result as
    ``decontaminate_ngram_overlap`` (same oracle), via the physical
    strategy a 100 TB corpus needs — the eval set's shingles are folded
    into a Bloom filter that rides along as a broadcast-tiny bitmap, and
    the (huge) train side is membership-tested MAP-SIDE before anything
    shuffles. Spark 4 doesn't SQL-register ``bloom_filter_agg``, so the
    filter is built declaratively: two xxhash64 probes per shingle, bit
    positions grouped into (word, BIGINT bits) rows with ``bit_or`` — a
    <= 2^14-row relation REGARDLESS of corpus size, the defining Bloom
    property.

    Exactness despite the sketch: Bloom has no false negatives, so every
    train shingle that truly appears in the test set survives the
    prefilter; false positives are train-only shingles that then match no
    test row in the confirming equi-join — they cost a little work, never
    a wrong answer. At the test corpus scale the FP rate is ~(2n/M)^2 per
    probe pair; at 100 TB you size BLOOM_BITS_LOG2 to the eval set (which
    is small by definition — that asymmetry is why decontamination blooms
    so well).

    Plan: test-shingle DISTINCT (small), bitmap agg (16K groups), then the
    train scan with two broadcast-hash-joins on word index + bit tests —
    all before the only train-side shuffle (the DISTINCT over the tiny
    surviving set). The confirming join + per-doc agg are identical to the
    exact operator's."""
    bucket = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(doc_id AS STRING)"))
    # r14: the SHARED distinct-shingle staging relation replaces the
    # inline single-task shingle build (three consumers here: bits,
    # surviving_train, hits — each re-executed it before).
    sh = shingle_rel_staging(spark, sf_dir).select(
        "doc_id", (bucket == 0).alias("is_test"), "sh"
    )
    m = 1 << BLOOM_BITS_LOG2
    p1 = f"pmod(xxhash64(sh), {m})"
    p2 = f"pmod(xxhash64(sh, 'decontam2'), {m})"
    test_sh = sh.filter(F.col("is_test")).select("doc_id", "sh")
    bits = (
        test_sh.select(F.explode(F.array(F.expr(p1), F.expr(p2))).alias("pos"))
        .groupBy(F.expr("CAST(pos DIV 64 AS INT)").alias("w"))
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))").alias("bits"))
    )
    b1 = bits.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    b2 = bits.select(F.col("w").alias("w2"), F.col("bits").alias("bits2"))
    surviving_train = (
        sh.filter(~F.col("is_test"))
        .select("sh", F.expr(p1).alias("p1"), F.expr(p2).alias("p2"))
        .withColumn("w1", F.expr("CAST(p1 DIV 64 AS INT)"))
        .withColumn("w2", F.expr("CAST(p2 DIV 64 AS INT)"))
        # inner joins: a word with no set bits has no bitmap row — the
        # shingle is definitely not in the test set and drops map-side
        .join(F.broadcast(b1), "w1")
        .filter(F.expr("(bits1 >> CAST(p1 % 64 AS INT)) & 1 = 1"))
        .join(F.broadcast(b2), "w2")
        .filter(F.expr("(bits2 >> CAST(p2 % 64 AS INT)) & 1 = 1"))
        .select("sh")
        .distinct()
    )
    hits = test_sh.join(surviving_train.withColumn("hit", F.lit(1)), "sh", "left")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.expr(
                dl.round_ratio(dl.SPARK, "n_overlap", "n_shingles")
            ).alias("contamination"),
        )
    )


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION applied to the corpus: greedy keep-lowest-id over
    the MinHash near-dup pairs (a doc is dropped iff it has a qualifying
    partner with a smaller doc_id), summarized per language — docs in,
    docs dropped, docs and tokens surviving.

    Greedy local-minimum keep is the standard single-pass rule (equivalent
    to keep-first-seen per LSH bucket); it differs from full
    connected-component canonicalization (``dedup_clusters``) only on
    chains where a doc's every partner is itself dropped — at scale it
    avoids the iterative CC entirely. The dropped set is derived with one
    DISTINCT on pair.b and applied with one left join on the uniform
    doc_id key; no broadcast of anything corpus-sized."""
    pairs = dedup_minhash_pairs(spark, sf_dir)
    dropped = pairs.select(F.col("b").alias("doc_id")).distinct().withColumn(
        "is_dropped", F.lit(1)
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("n_tok")
    )
    flagged = docs.join(dropped, "doc_id", "left").select(
        "lang", "n_tok", F.coalesce("is_dropped", F.lit(0)).alias("is_dropped")
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dropped").cast("bigint").alias("n_dropped"),
        (F.count(F.lit(1)) - F.sum("is_dropped")).cast("bigint").alias("n_kept"),
        F.sum(
            F.when(F.col("is_dropped") == 0, F.col("n_tok")).otherwise(F.lit(0))
        ).cast("bigint").alias("kept_tokens"),
    )


def _oracle_survivors() -> str:
    n = f"len({dl.split_ws(dl.DUCK, 'text')})"
    return f"""
WITH {_oracle_pairs_ctes()}, dropped AS (
  SELECT DISTINCT b AS doc_id FROM dup_pairs
), flagged AS (
  SELECT d.lang, {n} AS n_tok,
    CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dropped
  FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
)
SELECT lang, count(*) AS n_docs,
  CAST(sum(is_dropped) AS BIGINT) AS n_dropped,
  CAST(count(*) - sum(is_dropped) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN is_dropped = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
FROM flagged GROUP BY lang
"""


FUZZY_TITLE_LEN = 40
FUZZY_BLOCK_PREFIX = 8
FUZZY_LEN_BUCKET = 64
FUZZY_MAX_DIST = 12


def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-title matching: candidate pairs come from an equi-join
    on (prefix block, length bucket), then exact levenshtein filters within
    blocks — the standard record-linkage shape. Edit distance is quadratic
    per comparison, so the blocking key must bound block sizes; prefix +
    length bucketing does (near-identical titles share both). At 100 TB
    the equi-join shuffles on the block key like any other join; a hot
    block would get the same df-cap treatment as hot shingles."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.substring("text", 1, FUZZY_TITLE_LEN).alias("title"),
        F.substring("text", 1, FUZZY_BLOCK_PREFIX).alias("blk"),
        # floor, not cast: DuckDB CAST(double AS INT) rounds half-up while
        # Spark's cast truncates — floor() agrees in both engines
        F.floor(F.length("text") / FUZZY_LEN_BUCKET).cast("int").alias("lb"),
    )
    return (
        t.alias("a")
        .join(
            t.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            F.levenshtein("a.title", "b.title").alias("title_dist"),
        )
        .filter(F.col("title_dist") <= FUZZY_MAX_DIST)
    )


def _oracle_fuzzy_blocked() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, substr(text, 1, {FUZZY_TITLE_LEN}) AS title,
    substr(text, 1, {FUZZY_BLOCK_PREFIX}) AS blk,
    CAST(floor(length(text) / {FUZZY_LEN_BUCKET}) AS INT) AS lb
  FROM documents
)
SELECT a.doc_id AS a, b.doc_id AS b,
  CAST(levenshtein(a.title, b.title) AS INT) AS title_dist
FROM t a JOIN t b ON a.blk = b.blk AND a.lb = b.lb AND a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= {FUZZY_MAX_DIST}
"""


def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured QUALITY of the MinHash/banded-LSH dedup path — the dedup
    analogue of similarity.ann_recall: precision and recall of the
    thresholded MinHash pairs against the exact n-gram-Jaccard verifier
    on the same corpus, as one auditable row. A curation run publishes
    exactly this next to its dedup output; a banding/threshold change
    that silently craters recall shows up HERE, not in production.

    Both sides are the already-registered operators (shared staging
    relations — the eval adds one full-outer join on the (a, b) pair key
    plus a single-row agg). Precision/recall are exact integer-ratio
    rounds; zero denominators report 0.0 identically in both engines.
    Note the measured asymmetry: MinHash estimates Jaccard over the FULL
    shingle set while the verifier computes it over the df-capped set, so
    neither containment of the other is guaranteed — which is precisely
    why the number is worth publishing."""
    exact = dedup_ngram_jaccard(spark, sf_dir).select(
        "a", "b", F.lit(1).alias("in_e")
    )
    cand = dedup_minhash_pairs(spark, sf_dir).select(
        "a", "b", F.lit(1).alias("in_m")
    )
    d = dl.SPARK
    return (
        exact.join(cand, ["a", "b"], "full")
        .agg(
            F.sum(F.coalesce("in_e", F.lit(0))).alias("n_exact"),
            F.sum(F.coalesce("in_m", F.lit(0))).alias("n_candidates"),
            F.sum(
                F.when(
                    F.col("in_e").isNotNull() & F.col("in_m").isNotNull(), 1
                ).otherwise(0)
            ).alias("n_hit"),
        )
        .select(
            "n_exact",
            "n_candidates",
            "n_hit",
            F.expr(
                f"CASE WHEN n_candidates = 0 THEN 0.0 "
                f"ELSE {dl.round_ratio(d, 'n_hit', 'n_candidates')} END"
            ).alias("precision"),
            F.expr(
                f"CASE WHEN n_exact = 0 THEN 0.0 "
                f"ELSE {dl.round_ratio(d, 'n_hit', 'n_exact')} END"
            ).alias("recall"),
        )
    )


def _oracle_minhash_eval() -> str:
    d = dl.DUCK
    return f"""
WITH {_oracle_pairs_ctes()},
jx_hot AS (
  SELECT sh FROM sh GROUP BY sh HAVING count(*) > {HOT_SHINGLE_DF_CAP}
), jx_sh AS (
  SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM jx_hot)
), jx_sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM jx_sh GROUP BY doc_id
), jx_inter AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_inter
  FROM jx_sh l JOIN jx_sh r ON l.sh = r.sh AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), exact_pairs AS (
  SELECT a, b
  FROM jx_inter
  JOIN jx_sizes sa ON sa.doc_id = a
  JOIN jx_sizes sb ON sb.doc_id = b
  WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 4)
    >= {JACCARD_THRESHOLD}
), j AS (
  SELECT coalesce(e.in_e, 0) AS in_e, coalesce(m.in_m, 0) AS in_m
  FROM (SELECT a, b, 1 AS in_e FROM exact_pairs) e
  FULL JOIN (SELECT a, b, 1 AS in_m FROM dup_pairs) m USING (a, b)
), agg AS (
  SELECT CAST(sum(in_e) AS BIGINT) AS n_exact,
    CAST(sum(in_m) AS BIGINT) AS n_candidates,
    CAST(sum(in_e * in_m) AS BIGINT) AS n_hit
  FROM j
)
SELECT n_exact, n_candidates, n_hit,
  CASE WHEN n_candidates = 0 THEN 0.0
    ELSE {dl.round_ratio(d, 'n_hit', 'n_candidates')} END AS precision,
  CASE WHEN n_exact = 0 THEN 0.0
    ELSE {dl.round_ratio(d, 'n_hit', 'n_exact')} END AS recall
FROM agg
"""


def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: instead of dropping near-duplicates, down-weight every
    member of a duplicate cluster by 1/cluster_size so the cluster
    contributes one document's worth of sampling mass — the alternative
    several curation stacks prefer to hard removal (duplicates carry
    signal about importance; deleting them distorts the distribution,
    see e.g. the soft-dedup discussion around DataComp-LM/FineWeb).

    Composition, not new machinery: the MinHash pair staging relation and
    the label-propagation components are the SAME shared pieces
    dedup_clusters uses (memoized per app x sf_dir); this adds one
    cluster-size agg, one node-keyed re-join, and one left join onto the
    corpus on the uniform doc_id key. Singleton docs never enter the
    component join at all — they fall through the left join at weight 1.
    The weight is an exact integer-ratio round (dialect.round_ratio), so
    the boundary cannot diverge between engines."""
    pairs = dedup_minhash_pairs(spark, sf_dir)
    cc = connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    member = cc.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"), "cluster_size"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.expr(dl.split_ws(dl.SPARK, "text"))).cast("bigint").alias("n_tok"),
    )
    return (
        docs.join(member, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_tok",
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
        )
        .withColumn(
            "soft_weight",
            F.expr(dl.round_ratio(dl.SPARK, "1", "cluster_size")),
        )
    )


def _oracle_soft_weights() -> str:
    d = dl.DUCK
    n = f"len({dl.split_ws(d, 'text')})"
    return f"""
WITH RECURSIVE {_oracle_pairs_ctes()}, e AS (
  SELECT a, b FROM dup_pairs UNION ALL SELECT b, a FROM dup_pairs
), reach AS (
  SELECT a AS src, b AS dst FROM e
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN e ON r.dst = e.a
), labeled AS (
  SELECT src AS node, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
), sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM labeled GROUP BY cluster_id
), member AS (
  SELECT l.node AS doc_id, s.cluster_size
  FROM labeled l JOIN sizes s USING (cluster_id)
)
SELECT d.doc_id, d.lang, {n} AS n_tok,
  CAST(coalesce(m.cluster_size, 1) AS BIGINT) AS cluster_size,
  {dl.round_ratio(d, '1', 'CAST(coalesce(m.cluster_size, 1) AS BIGINT)')} AS soft_weight
FROM documents d LEFT JOIN member m ON d.doc_id = m.doc_id
"""


# ---------------------------------------------------------------- incremental
INC_FOLD = 10  # doc_id % INC_FOLD == 0 is the "new batch"; rest = corpus


def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the DAILY path of a 100 TB corpus: a new
    batch of documents (doc_id % 10 == 0 here) PROBES the existing
    corpus's banded MinHash index instead of re-running the full
    self-join. Per new doc: candidate count, the best corpus match by
    estimated Jaccard, and the keep/drop verdict.

    At scale the corpus side is a PERSISTED index table
    (doc_id, band_id, band_key) written once when each shard was
    ingested (write-once / join-many — the IVF-index argument applied
    to dedup); the increment computes only ITS OWN signatures and the
    equi-join shuffles increment-sized band keys against it, so daily
    cost is O(increment + matched buckets), never O(corpus). Candidate
    verification re-joins the K signature columns for the (much
    smaller) candidate set only — the dedup_minhash_pairs shape with an
    asymmetric probe. New docs with NO candidate bucket hit ride a left
    join (emitted as is_dup = false, n_candidates = 0)."""
    sig = minhash_signatures_staging(spark, sf_dir)
    hash_cols = [f"h{k}" for k in range(MINHASH_K)]
    banded = banded_rel(sig)
    corpus_idx = banded.filter(F.col("doc_id") % INC_FOLD != 0).select(
        F.col("doc_id").alias("c"), "band_id", "band_key"
    )
    probe = banded.filter(F.col("doc_id") % INC_FOLD == 0).select(
        F.col("doc_id").alias("n"), "band_id", "band_key"
    )
    cand = probe.join(corpus_idx, ["band_id", "band_key"]).select("n", "c").distinct()
    sa = sig.select(F.col("doc_id").alias("n"), *[F.col(h).alias(f"a_{h}") for h in hash_cols])
    sb = sig.select(F.col("doc_id").alias("c"), *[F.col(h).alias(f"b_{h}") for h in hash_cols])
    matches = signature_match_count("a", "b")
    scored = (
        cand.join(sa, "n")
        .join(sb, "c")
        .select("n", "c", matches.alias("m"))
        .withColumn("est_jaccard", F.round(F.col("m") / F.lit(MINHASH_K), 4))
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("n").orderBy(F.desc("est_jaccard"), F.asc("c"))
        ),
    )
    per_new = scored.groupBy("n").agg(F.count(F.lit(1)).alias("n_candidates"))
    new_docs = sig.filter(F.col("doc_id") % INC_FOLD == 0).select(
        F.col("doc_id").alias("n")
    )
    return (
        new_docs.join(per_new, "n", "left")
        .join(
            best.filter(F.col("rn") == 1).select("n", "c", "est_jaccard"), "n", "left"
        )
        .select(
            F.col("n").alias("new_doc_id"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.col("c").alias("best_match"),
            F.col("est_jaccard").alias("best_est_jaccard"),
            F.coalesce(
                F.col("est_jaccard") >= JACCARD_THRESHOLD, F.lit(False)
            ).alias("is_dup"),
        )
        .orderBy("new_doc_id")
    )


def _oracle_incremental() -> str:
    hash_cols = [f"h{k}" for k in range(MINHASH_K)]
    band_selects = []
    for b in range(BANDS):
        cols = hash_cols[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]
        band_key = f"md5(concat_ws('|', {', '.join(cols)}))"
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, {band_key} AS band_key FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    match_expr = " + ".join(
        f"(CASE WHEN sa.{h} = sb.{h} THEN 1 ELSE 0 END)" for h in hash_cols
    )
    return f"""WITH {_oracle_shingle_ctes()}, {_oracle_sig_ctes()}, banded AS ({bands}),
cand AS (
  SELECT DISTINCT p.doc_id AS n, i.doc_id AS c
  FROM banded p JOIN banded i
    ON p.band_id = i.band_id AND p.band_key = i.band_key
   AND p.doc_id % {INC_FOLD} = 0 AND i.doc_id % {INC_FOLD} <> 0
), scored AS (
  SELECT n, c, round(({match_expr}) / {MINHASH_K}.0, 4) AS est_jaccard
  FROM cand JOIN sig sa ON sa.doc_id = n JOIN sig sb ON sb.doc_id = c
), best AS (
  SELECT n, c, est_jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY n
      ORDER BY est_jaccard DESC, c ASC) AS rn
    FROM scored
  ) WHERE rn = 1
), per_new AS (
  SELECT n, count(*) AS n_candidates FROM scored GROUP BY 1
)
SELECT s.doc_id AS new_doc_id,
  CAST(coalesce(p.n_candidates, 0) AS BIGINT) AS n_candidates,
  b.c AS best_match, b.est_jaccard AS best_est_jaccard,
  coalesce(b.est_jaccard >= {JACCARD_THRESHOLD}, FALSE) AS is_dup
FROM sig s
LEFT JOIN per_new p ON p.n = s.doc_id
LEFT JOIN best b ON b.n = s.doc_id
WHERE s.doc_id % {INC_FOLD} = 0
ORDER BY new_doc_id
"""


# ---------------------------------------------------------------------------
# Train/test split leakage audit over the near-dup graph
# ---------------------------------------------------------------------------

def dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: near-duplicate pairs that STRADDLE the
    train/val/test split — the contamination mode exact decontamination
    misses (the eval doc isn't IN train; its near-twin is), and the first
    check run before any held-out eval is trusted. Composes two existing
    primitives verbatim: the banded-LSH near-dup pairs (the
    dedup_minhash_pairs staging relation) and dataset_split_assign's
    hash-split rule. Readout per unordered split-class pair: candidate
    pairs, distinct docs involved, and the leaky flag (class pairs that
    cross a split boundary).

    Scale: the split label is a pure projection of doc_id (md5-nibble
    rule), so NO join against the corpus is needed — the audit runs
    entirely over the LSH-bounded pair set (pairs + one explode for the
    distinct-doc count). At 100 TB this is the same cost as reading the
    persisted pair table once."""
    from .sampling import _bucket16_sql

    d = dl.SPARK
    pairs = dedup_minhash_pairs(spark, sf_dir)

    def split_of(col: str) -> F.Column:
        b = F.expr(_bucket16_sql(d, f"CAST({col} AS STRING)"))
        return (
            F.when(b == 0, "test").when(b == 1, "val").otherwise("train")
        )

    classed = pairs.select(
        "a",
        "b",
        F.least(split_of("a"), split_of("b")).alias("split_lo"),
        F.greatest(split_of("a"), split_of("b")).alias("split_hi"),
    )
    pair_counts = classed.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    doc_counts = (
        classed.select(
            "split_lo", "split_hi", F.explode(F.array("a", "b")).alias("doc_id")
        )
        .distinct()
        .groupBy("split_lo", "split_hi")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        pair_counts.join(doc_counts, ["split_lo", "split_hi"])
        .withColumn(
            "leaky",
            F.when(F.col("split_lo") != F.col("split_hi"), 1).otherwise(0),
        )
        .orderBy("split_lo", "split_hi")
    )


def _oracle_split_leakage() -> str:
    from .sampling import _bucket16_sql

    d = dl.DUCK

    def split_of(col: str) -> str:
        b = _bucket16_sql(d, f"CAST({col} AS VARCHAR)")
        return (
            f"(CASE WHEN {b} = 0 THEN 'test' WHEN {b} = 1 THEN 'val' "
            f"ELSE 'train' END)"
        )

    return f"""
WITH {_oracle_pairs_ctes()}, classed AS (
  SELECT a, b,
    least({split_of('a')}, {split_of('b')}) AS split_lo,
    greatest({split_of('a')}, {split_of('b')}) AS split_hi
  FROM dup_pairs
), pair_counts AS (
  SELECT split_lo, split_hi, count(*) AS n_pairs FROM classed GROUP BY 1, 2
), doc_counts AS (
  SELECT split_lo, split_hi, count(*) AS n_docs FROM (
    SELECT DISTINCT split_lo, split_hi, doc_id FROM (
      SELECT split_lo, split_hi, a AS doc_id FROM classed
      UNION ALL
      SELECT split_lo, split_hi, b AS doc_id FROM classed
    )
  ) GROUP BY 1, 2
)
SELECT p.split_lo, p.split_hi, p.n_pairs, d.n_docs,
  CAST(CASE WHEN p.split_lo != p.split_hi THEN 1 ELSE 0 END AS INT) AS leaky
FROM pair_counts p JOIN doc_counts d
  ON d.split_lo = p.split_lo AND d.split_hi = p.split_hi
ORDER BY 1, 2
"""



# LSH band-tuning grid: every (bands, rows) factorization of MINHASH_K
LSH_TUNE_GRID = [(8, 1), (4, 2), (2, 4), (1, 8)]
LSH_PROB_Q = 10**8  # per-pair detection-probability quantization


def _pow_expr(x: str, k: int) -> str:
    """x**k for small integer k as literal multiplication — libm pow()
    differs across engines by ulps; a product of identical doubles
    cannot."""
    assert k >= 1
    return "(" + " * ".join([f"({x})"] * k) + ")"


def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design curve — for every (bands b, rows-per-band r)
    factorization of the MINHASH_K signature budget, the detection rate
    the banded index would achieve on the corpus's MEASURED near-dup
    pairs: P(detect | jaccard s) = 1 - (1 - s^r)^b, evaluated at each
    verified pair's exact Jaccard and aggregated. The table that answers
    "should we re-band before the next crawl" with data instead of the
    textbook S-curve sketch; s50 (the similarity where detection is a
    coin flip) is the closed-form (1 - 2^(-1/b))^(1/r), emitted as a
    Python-computed literal so no runtime pow() is involved.

    Float discipline: s is the already-quantized 4dp Jaccard from the
    oracle-gated verifier; s^r and (1-s^r)^b are LITERAL repeated
    multiplications (identical op sequence in both engines — no libm
    pow); each pair's probability quantizes to LSH_PROB_Q fixed point
    BEFORE the sum, so partial-agg order cannot perturb the total.

    Scale: reuses the verified-pair relation (staging-backed); the
    curve itself is a constant-size agg per grid point over pair-grain
    rows."""
    # lazy localCheckpoint (r14): every LSH_TUNE_GRID union branch consumes
    # pairs — without the pin the whole ngram-jaccard verifier (shingle
    # self-join + three joins) re-executes once per grid point. The pinned
    # relation is the thresholded pair set (tiny by construction).
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir).select("jaccard").localCheckpoint(eager=False)
    )
    outs = []
    for b, r in LSH_TUNE_GRID:
        prob = f"(1.0 - {_pow_expr('1.0 - ' + _pow_expr('jaccard', r), b)})"
        s50 = round((1.0 - 2.0 ** (-1.0 / b)) ** (1.0 / r), 4)
        q = (
            pairs.selectExpr(
                f"CAST(round({prob} * {LSH_PROB_Q}) AS BIGINT) AS pq"
            )
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum("pq").alias("sum_pq"),
                F.min("pq").alias("min_pq"),
                F.sum(
                    F.when(F.col("pq") >= int(0.9 * LSH_PROB_Q), 1).otherwise(0)
                ).alias("n_above_90"),
            )
            .selectExpr(
                f"CAST({b} AS INT) AS bands",
                f"CAST({r} AS INT) AS rows_per_band",
                f"CAST({s50} AS DOUBLE) AS s50",
                "n_pairs",
                f"{dl.round_ratio(dl.SPARK, 'sum_pq', 'n_pairs * ' + str(LSH_PROB_Q))} "
                "AS expected_recall",
                f"round(CAST(min_pq AS DOUBLE) / {LSH_PROB_Q}, 4) AS worst_pair_prob",
                "n_above_90",
            )
        )
        outs.append(q)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("bands")


def _oracle_lsh_tuning() -> str:
    inner = _oracle_ngram_jaccard()
    parts = []
    for b, r in LSH_TUNE_GRID:
        prob = f"(1.0 - {_pow_expr('1.0 - ' + _pow_expr('jaccard', r), b)})"
        s50 = round((1.0 - 2.0 ** (-1.0 / b)) ** (1.0 / r), 4)
        ratio = dl.round_ratio(
            dl.DUCK, "sum_pq", f"n_pairs * {LSH_PROB_Q}"
        )
        parts.append(
            f"""
  SELECT CAST({b} AS INT) AS bands, CAST({r} AS INT) AS rows_per_band,
    CAST({s50} AS DOUBLE) AS s50, n_pairs,
    {ratio} AS expected_recall,
    round(CAST(min_pq AS DOUBLE) / {LSH_PROB_Q}, 4) AS worst_pair_prob,
    n_above_90
  FROM (
    SELECT count(*) AS n_pairs,
      CAST(sum(pq) AS BIGINT) AS sum_pq,
      min(pq) AS min_pq,
      CAST(sum(CASE WHEN pq >= {int(0.9 * LSH_PROB_Q)} THEN 1 ELSE 0 END)
        AS BIGINT) AS n_above_90
    FROM (
      SELECT CAST(round({prob} * {LSH_PROB_Q}) AS BIGINT) AS pq FROM pairs
    )
  )"""
        )
    union = "\n  UNION ALL\n".join(parts)
    return f"""
WITH pairs AS (
  SELECT jaccard FROM ({inner}) verified
)
SELECT * FROM (
{union}
) ORDER BY bands
"""



QUERIES = {
    "dedup_incremental_probe": dedup_incremental_probe,
    "dedup_exact": dedup_exact,
    "dedup_minhash_signatures": minhash_signatures,
    "dedup_minhash_pairs": dedup_minhash_pairs,
    "dedup_clusters": dedup_clusters,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "decontaminate_ngram_overlap": decontaminate_ngram_overlap,
    "decontaminate_bloom": decontaminate_bloom,
    "dedup_dup_spans": dedup_dup_spans,
    "dedup_fuzzy_blocked": dedup_fuzzy_blocked,
    "dedup_survivors": dedup_survivors,
    "dedup_soft_weights": dedup_soft_weights,
    "dedup_minhash_eval": dedup_minhash_eval,
    "dedup_split_leakage": dedup_split_leakage,
    "dedup_lsh_tuning_curve": dedup_lsh_tuning_curve,
}

ORACLES = {
    "dedup_incremental_probe": _oracle_incremental(),
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_minhash_signatures": _oracle_signatures(),
    "dedup_minhash_pairs": _oracle_minhash_pairs(),
    "dedup_clusters": _oracle_dedup_clusters(),
    "dedup_simhash": _oracle_dedup_simhash(),
    "dedup_ngram_jaccard": _oracle_ngram_jaccard(),
    "dedup_containment": _oracle_containment(),
    "decontaminate_ngram_overlap": _oracle_decontaminate(),
    # bloom prefilter is exact (no-FN sketch + exact confirm join): same oracle
    "decontaminate_bloom": _oracle_decontaminate(),
    "dedup_dup_spans": _oracle_dup_spans(),
    "dedup_fuzzy_blocked": _oracle_fuzzy_blocked(),
    "dedup_survivors": _oracle_survivors(),
    "dedup_soft_weights": _oracle_soft_weights(),
    "dedup_minhash_eval": _oracle_minhash_eval(),
    "dedup_lsh_tuning_curve": _oracle_lsh_tuning(),
    "dedup_split_leakage": _oracle_split_leakage(),
}
