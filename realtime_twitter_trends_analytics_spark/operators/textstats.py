"""Text-analysis operators over documents (north-star surface): language-ID
heuristic, quality scoring, token counting, document fingerprinting.

These generalize the reference's text path (cleaning chain proc:224-228,
token filter proc:218, sentiment proc:142-196) into the analyses a training
-data pipeline runs at scale. Everything is built-in column expressions —
one pass over the text, no Python, no shuffle except the final aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..audit import audit_plan
from ..functions import dialect as dl
from ..sources.loaders import driver_rows_df, fan_out_small, load_table
from ..staging import staged

# Marker-token sets for the deterministic n-gram-ish language heuristic.
# (The driver corpus is a synthetic shared-vocab word salad, so the heuristic
# is judged on determinism/parity, not linguistic accuracy.)
LANG_MARKERS = {
    "en": ("the", "a", "data", "row"),
    "es": ("table", "column", "line", "part"),
    "de": ("batch", "stream", "group", "window"),
}
STOPWORDS = ("the", "a")


def _marker_count_sql(d: str, markers: tuple[str, ...]) -> str:
    toks = dl.split_ws(d, "text")
    lst = ", ".join(f"'{m}'" for m in markers)
    arr = "array" if d == dl.SPARK else "list_value"
    kept = dl.arr_filter(d, toks, "t", dl.arr_contains(d, f"{arr}({lst})", "t"))
    return dl.arr_size(d, kept)


def langid_sql(d: str) -> str:
    """Predicted language: argmax of marker counts, deterministic tie-break
    en > es > de, 'und' when all zero."""
    en = _marker_count_sql(d, LANG_MARKERS["en"])
    es = _marker_count_sql(d, LANG_MARKERS["es"])
    de = _marker_count_sql(d, LANG_MARKERS["de"])
    return (
        f"(CASE WHEN ({en}) = 0 AND ({es}) = 0 AND ({de}) = 0 THEN 'und' "
        f"WHEN ({en}) >= ({es}) AND ({en}) >= ({de}) THEN 'en' "
        f"WHEN ({es}) >= ({de}) THEN 'es' ELSE 'de' END)"
    )


def textstats_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of actual lang label vs heuristic prediction."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.expr(langid_sql(dl.SPARK)).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _oracle_langid() -> str:
    return f"""
SELECT lang, {langid_sql(dl.DUCK)} AS predicted_lang, count(*) AS n_docs
FROM documents GROUP BY 1, 2
"""


def quality_sql(d: str) -> tuple[dict[str, str], str]:
    """Per-doc quality features + composite score (dual-dialect)."""
    toks = dl.split_ws(d, "text")
    n = dl.arr_size(d, toks)
    ndist = dl.arr_size(d, dl.arr_distinct(d, toks))
    stop_lst = ", ".join(f"'{s}'" for s in STOPWORDS)
    arr = "array" if d == dl.SPARK else "list_value"
    nstop = dl.arr_size(d, dl.arr_filter(d, toks, "t", dl.arr_contains(d, f"{arr}({stop_lst})", "t")))
    # integer-ratio rounds (dl.round_ratio): these exact rationals can land
    # on .xxxx5 ties where double-rounding diverges between engines
    feats = {
        "n_tokens": f"CAST({n} AS BIGINT)",
        "n_distinct": f"CAST({ndist} AS BIGINT)",
        "distinct_ratio": dl.round_ratio(d, ndist, n),
        "stopword_ratio": dl.round_ratio(d, nstop, n),
        "avg_token_len": dl.round_ratio(d, f"(length(text) - ({n}) + 1)", n),
    }
    # The composite score is the exact rational N/D with D = 1000n (seen
    # ties live at sf0.1: 0.65875 -> 0.6588 vs 0.6587 between engines).
    num = (
        f"(100 * (4 * CAST({ndist} AS BIGINT) + 3 * (CAST({n} AS BIGINT) - CAST({nstop} AS BIGINT))) "
        f"+ 3 * least(CAST({n} AS BIGINT), 100) * CAST({n} AS BIGINT))"
    )
    den = f"(1000 * CAST({n} AS BIGINT))"
    score = dl.round_ratio(d, num, den)
    return feats, score


def textstats_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score (length, diversity,
    stopword-density — the standard pre-training quality gates)."""
    docs = load_table(spark, sf_dir, "documents")
    feats, score = quality_sql(dl.SPARK)
    cols = [F.expr(sql).alias(name) for name, sql in feats.items()]
    return docs.select("doc_id", *cols, F.expr(score).alias("quality_score"))


def _oracle_quality() -> str:
    feats, score = quality_sql(dl.DUCK)
    cols = ",\n  ".join(f"{sql} AS {name}" for name, sql in feats.items())
    return f"SELECT doc_id,\n  {cols},\n  {score} AS quality_score\nFROM documents"


def textstats_token_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram + per-length distinct types — the
    'token counting' surface (whitespace tokenizer; a BPE-ish subword count
    appears as n_chars-derived subtokens of width 4)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("tok"))
    return (
        tok.groupBy(F.length("tok").alias("token_len"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("tok").alias("n_types"),
        )
    )


ORACLE_TOKEN_HIST = """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
SELECT CAST(length(tok) AS INT) AS token_len, count(*) AS n_tokens,
  count(DISTINCT tok) AS n_types
FROM tok GROUP BY 1
"""


# BPE-ish pre-tokenizer pattern: letter runs, digit runs, single
# punctuation marks — the shape GPT-style tokenizers split on before
# merges. Written without backslash classes so the literal is identical
# in Spark SQL (backslash-escaping strings) and DuckDB (standard SQL).
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def textstats_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both tokenizers side by side (the 'how many tokens
    is this corpus' pipeline question): whitespace count vs BPE-ish regex
    count per document, with the ratio as a fragmentation signal (high
    ratio = punctuation/number-heavy text that will blow up in subword
    tokenization)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(F.expr(dl.split_ws(dl.SPARK, "text")))
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{BPE_ISH_PATTERN}', 0)"))
    frag = dl.round_ratio(
        dl.SPARK,
        f"size(regexp_extract_all(text, '{BPE_ISH_PATTERN}', 0))",
        f"size({dl.split_ws(dl.SPARK, 'text')})",
    )
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        F.expr(frag).alias("fragmentation"),
    )


def _oracle_token_count_regex() -> str:
    frag = dl.round_ratio(
        dl.DUCK,
        f"len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))",
        "len(string_split(text, ' '))",
    )
    return f"""
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INT) AS bpe_ish_tokens,
  {frag} AS fragmentation
FROM documents
"""


def textstats_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: raw content hash + order-insensitive content
    fingerprint (md5 of sorted distinct tokens — catches shuffled dups)."""
    docs = load_table(spark, sf_dir, "documents")
    d = dl.SPARK
    toks = dl.split_ws(d, "text")
    canon = dl.arr_join(d, dl.arr_sort(d, dl.arr_distinct(d, toks)), " ")
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.expr(f"md5({canon})").alias("bag_fingerprint"),
        F.expr(f"substr(md5({canon}), 1, 4)").alias("fingerprint_bucket"),
    )


def _oracle_fingerprint() -> str:
    d = dl.DUCK
    toks = dl.split_ws(d, "text")
    canon = dl.arr_join(d, dl.arr_sort(d, dl.arr_distinct(d, toks)), " ")
    return f"""
SELECT doc_id, md5(text) AS content_hash,
  md5({canon}) AS bag_fingerprint,
  substr(md5({canon}), 1, 4) AS fingerprint_bucket
FROM documents
"""


# Corpus vocabulary size |V| — deterministic model state (one BIGINT per
# application x fixture, the add-one-smoothing denominator both bigram-LM
# scorers embed as a literal). Staged like the kmeans/PQ codebooks and the
# BPE merges; without it every lm_score/ccnet execution re-ran the full
# distinct-token scan for a scalar that cannot change within a process.
@staged
def _corpus_vocab(spark: SparkSession, sf_dir: str) -> int:
    from .dedup import tokenized_docs_staging

    return int(
        tokenized_docs_staging(spark, sf_dir)
        .select(F.explode("toks").alias("t"))
        .agg(F.count_distinct("t").alias("v"))
        .collect()[0]["v"]
    )


def corpus_vocab_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed build face of the |V| scalar (r15, VERDICT r14 item 2): the
    distinct-token aggregation behind ``_corpus_vocab`` is real work (a
    full pass over the staged token arrays) that previously hid in
    bench.py's untimed warm-up once the scalar joined the model-state memo
    tier — the exact masking channel the staging tier exists to close.
    Registered as ``staging:corpus_vocab`` so the build cost is a named
    min-of-2 line and the two consumers (textstats_lm_score,
    docs_ccnet_buckets) price only their own work. Returns the scalar as a
    1-row relation purely so the staging harness (noop sink) has something
    to write; the timed cost is the memoized aggregation itself."""
    v = _corpus_vocab(spark, sf_dir)
    return spark.range(1).select(F.lit(v).alias("vocab"))


# The corpus bigram-instance relation (doc_id, source, bigram, w1) is the
# shared staging input of three registered queries: textstats_bigrams,
# textstats_lm_score, and graph_pagerank_topk's transition graph. Same
# materialize-once pattern as dedup's pair relation: one staged
# localCheckpoint per (application, sf_dir), distributed, never collected —
# the 100 TB equivalent is a parquet n-gram staging table every scorer
# reads.
@staged
def bigram_instance_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, bigram, w1) — one row per corpus bigram instance,
    materialized once per (application, sf_dir). The explode is map-side;
    consumers aggregate on uniform bigram/w1/source keys. Reads the shared
    tokenized-docs staging relation (r8) instead of re-tokenizing."""
    from .dedup import shingles_sql, tokenized_docs_staging

    out = (
        tokenized_docs_staging(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.explode(F.expr(shingles_sql(dl.SPARK, "toks", 2))).alias("bigram"),
        )
        .withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
    )
    return audit_plan("bigram_instances", out).localCheckpoint()


def textstats_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams with document frequency — the n-gram counting
    surface (reuses the dedup shingle template with n=2; explode is
    map-side, one agg shuffle on the bigram key)."""
    bg = bigram_instance_staging(spark, sf_dir)
    return (
        bg.groupBy("bigram")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.count_distinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("occurrences"), F.asc("bigram"))
        .limit(20)
    )


def _oracle_bigrams() -> str:
    from .dedup import shingles_sql

    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), bg AS (
  SELECT doc_id, unnest({shingles_sql(dl.DUCK, 'toks', 2)}) AS bigram FROM tokd
)
SELECT bigram, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
FROM bg GROUP BY bigram
ORDER BY occurrences DESC, bigram ASC
LIMIT 20
"""


def textstats_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate
    unigram fraction (1 - distinct/total tokens) and duplicate bigram
    fraction, the filters a training pipeline uses to drop degenerate
    repetitive text. Pure higher-order array expressions — one parquet
    scan, zero shuffles, no explode: repetition is computed inside the
    array domain (size vs size-of-distinct), so the per-doc cost is
    linear in tokens and the operator is embarrassingly parallel."""
    from .dedup import shingles_sql  # shared dual-dialect template

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")
    ).select("doc_id", "toks", F.expr(shingles_sql(dl.SPARK, "toks", 2)).alias("bgs"))
    d = dl.SPARK
    # dup frac = (n - n_distinct)/n: exact integer ratio -> tie-safe round
    dup_uni = dl.round_ratio(
        d, "(size(toks) - size(array_distinct(toks)))", "size(toks)"
    )
    dup_bg = dl.round_ratio(
        d, "(size(bgs) - size(array_distinct(bgs)))", "size(bgs)"
    )
    return toks.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.expr(dup_uni).alias("dup_unigram_frac"),
        F.expr(dup_bg).alias("dup_bigram_frac"),
    )


def _oracle_repetition() -> str:
    from .dedup import shingles_sql

    d = dl.DUCK
    bgs = shingles_sql(d, "toks", 2)
    dup_uni = dl.round_ratio(
        d, f"(len(toks) - len({dl.arr_distinct(d, 'toks')}))", "len(toks)"
    )
    dup_bg = dl.round_ratio(
        d, f"(len(bgs) - len({dl.arr_distinct(d, 'bgs')}))", "len(bgs)"
    )
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(d, 'text')} AS toks FROM documents
), wide AS (
  SELECT doc_id, toks, {bgs} AS bgs FROM tokd
)
SELECT doc_id,
  CAST(len(toks) AS INT) AS n_tokens,
  {dup_uni} AS dup_unigram_frac,
  {dup_bg} AS dup_bigram_frac
FROM wide
"""


TFIDF_TOP_TERMS = 3


def textstats_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOP_TERMS terms per document by tf-idf (the classic
    relevance weighting a training pipeline uses for keyword extraction /
    quality filtering). Plan: one token explode -> (doc, token) tf agg ->
    token df agg joined back (broadcast: vocab << corpus) -> per-doc
    window top-k. idf = ln(N / df) on exact integer counts — identical
    doubles in both engines.

    At scale the df table is vocabulary-sized (Zipf: millions of terms vs
    billions of docs) so the join back is a broadcast, and the only big
    shuffles are the two hash aggs on uniform keys."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar; oracle recomputes the same count
    tok = docs.select(
        "doc_id", F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("token")
    ).filter(F.length("token") > 1)
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_tbl), "token").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_TERMS)
        .select("doc_id", "token", "tf", "df", "tfidf", "rnk")
    )


def _oracle_tfidf() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), keep AS (
  SELECT doc_id, token FROM tok WHERE length(token) > 1
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM keep GROUP BY doc_id, token
), df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, df, tfidf, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rnk
  FROM scored
) WHERE rnk <= {TFIDF_TOP_TERMS}
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("data", "stream", "window")  # fixed query-term set
BM25_TOP = 20


def textstats_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of documents for a fixed query-term set — the IR
    scoring step of a retrieval pipeline (tf-idf's production sibling).

    Plan: the token explode is filtered to the query terms BEFORE any agg,
    so the per-term tf relation is |query| x matching docs, not the full
    corpus posting list; df and avgdl are two scalar-ish aggs; the final
    score is one hash agg per doc. Every intermediate count is exact
    integer, so the double-typed score is the same IEEE expression in both
    engines; round(4) tolerates last-ulp ln() differences."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")
    ).select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("token"))
    qtok = toks.filter(F.col("token").isin(*BM25_QUERY))
    tf = qtok.groupBy("doc_id", "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # n_docs and avgdl from ONE corpus scan (they are the same agg row);
    # a separate docs.count() would be a second full pass over the table
    stats = (
        docs.select(F.size(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("dl"))
        .agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()[0]
    )
    n_docs, avgdl_val = stats["c"], stats["s"] / stats["c"]
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl_val))
    )
    return (
        tf.join(F.broadcast(df_tbl), "token")
        .withColumn("term_score", idf * tf_part)
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 4).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )


def _oracle_bm25() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), tok AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM tokd
), tf AS (
  SELECT doc_id, dl, token, count(*) AS tf FROM tok
  WHERE token IN ({terms}) GROUP BY doc_id, dl, token
), dfr AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), stats AS (
  SELECT count(*) AS n_docs,
    CAST(sum(len({dl.split_ws(dl.DUCK, 'text')})) AS DOUBLE) / count(*) AS avgdl
  FROM documents
), scored AS (
  SELECT tf.doc_id,
    ln((CAST(stats.n_docs AS DOUBLE) - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
      * ((tf.tf * ({BM25_K1} + 1)) /
         (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl))) AS term_score
  FROM tf JOIN dfr USING (token) CROSS JOIN stats
)
SELECT doc_id, round(sum(term_score), 4) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP}
"""


CHUNK_TOKENS = 40
CHUNK_STRIDE = 30  # 10-token overlap between consecutive chunks


def docs_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking — the embed-prep step (split
    each doc into CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens,
    keeping offsets so spans map back to the source). Pure array math:
    tokenize once, generate chunk starts with sequence(), slice per chunk
    — the explode is map-side and the operator never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(
        "doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("n"))
    # chunk starts: 1, 1+stride, ... while start <= n (1-based slice)
    starts = f"sequence(1, greatest(n, 1), {CHUNK_STRIDE})"
    chunked = tokd.select(
        "doc_id",
        "n",
        F.posexplode(F.expr(starts)).alias("chunk_idx", "start_tok"),
        F.col("toks"),
    ).select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.least(
            F.col("start_tok") + (CHUNK_TOKENS - 1), F.col("n")
        ).alias("end_tok"),
        F.array_join(
            F.slice("toks", F.col("start_tok"), F.lit(CHUNK_TOKENS)), " "
        ).alias("chunk_text"),
    )
    return chunked.withColumn(
        "chunk_tokens", (F.col("end_tok") - F.col("start_tok") + 1).cast("int")
    )


def _oracle_chunking() -> str:
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM tokd
), chunks AS (
  SELECT doc_id, n, toks,
    unnest(generate_series(1, greatest(n, 1), {CHUNK_STRIDE})) AS start_tok
  FROM sized
)
SELECT doc_id, CAST((start_tok - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
  CAST(start_tok AS INT) AS start_tok,
  CAST(least(start_tok + {CHUNK_TOKENS - 1}, n) AS INT) AS end_tok,
  array_to_string(toks[start_tok:start_tok + {CHUNK_TOKENS - 1}], ' ') AS chunk_text,
  CAST(least(start_tok + {CHUNK_TOKENS - 1}, n) - start_tok + 1 AS INT) AS chunk_tokens
FROM chunks
"""


INV_POSTINGS_CAP = 16


def textstats_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per token, document frequency, total
    occurrences, and a bounded posting-list sample (the INV_POSTINGS_CAP
    lowest doc_ids, comma-joined). The cap is the scale guard: postings are
    ranked with a per-token window and filtered BEFORE any collect, so no
    task ever materializes a hot token's full posting list (a real index
    would shard full postings by (token, doc_id range) — the build plan is
    the same ranked shape). Two hash-agg shuffles on the uniform token key,
    one window, one broadcast-sized join back (vocab << corpus)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.count_distinct("doc_id").alias("df"),
    )
    ranked = (
        tok.distinct()
        .withColumn("rn", F.row_number().over(W.partitionBy("token").orderBy("doc_id")))
        .filter(F.col("rn") <= INV_POSTINGS_CAP)
    )
    posts = ranked.groupBy("token").agg(
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("postings_sample")
    )
    return counts.join(posts, "token").select(
        "token", "occurrences", "df", "postings_sample"
    )


def _oracle_inverted_index() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({dl.split_ws(dl.DUCK, 'text')}) AS token FROM documents
), d AS (
  SELECT DISTINCT doc_id, token FROM tok
), ranked AS (
  SELECT token, doc_id,
    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM d
), posts AS (
  SELECT token, array_to_string(list_sort(list(doc_id)), ',') AS postings_sample
  FROM ranked WHERE rn <= {INV_POSTINGS_CAP} GROUP BY token
), counts AS (
  SELECT token, count(*) AS occurrences, count(DISTINCT doc_id) AS df
  FROM tok GROUP BY token
)
SELECT counts.token, occurrences, df, postings_sample
FROM counts JOIN posts ON counts.token = posts.token
"""


PACK_TARGET_TOKENS = 512


def docs_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to ~PACK_TARGET_TOKENS-token training
    bins via a running token total per language shard (bin = cumsum //
    target). The window partitions by lang — each shard's cumsum is
    independent, so at 100 TB the packing parallelism is the shard count
    and no global order exists (a single global cumsum would be one
    straggler task; per-shard is how packing runs in practice)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("n_tok")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    packed = toks.withColumn("cum_tok", F.sum("n_tok").over(w)).withColumn(
        "bin_id", F.floor((F.col("cum_tok") - 1) / PACK_TARGET_TOKENS).cast("int")
    )
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


def _oracle_pack_bins() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, lang, len({dl.split_ws(dl.DUCK, 'text')}) AS n_tok FROM documents
), packed AS (
  SELECT doc_id, lang, n_tok,
    CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id) - 1)
         / {PACK_TARGET_TOKENS}) AS INT) AS bin_id
  FROM toks
)
SELECT lang, bin_id, count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed GROUP BY lang, bin_id
"""


def textstats_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram language-model cross-entropy — the perplexity
    quality signal a training pipeline uses to rank corpus slices (e.g.
    CCNet buckets): score each bigram instance by its add-one-smoothed
    corpus probability p = (c(w1 w2) + 1) / (c(w1 ·) + V), report
    mean -ln(p) and perplexity per source.

    Parity: every ln() input is a ratio of exact integers, so both engines
    evaluate the same IEEE expression; the per-source mean is over ~1000s
    of instances, so last-ulp ln()/summation-order drift is ~1e-13 relative
    and round(4) absorbs it (same strategy as textstats_bm25).

    Plan: one explode builds the bigram-instance relation; vocab size V is
    one scalar agg; one agg shuffle on source. The bigram/unigram count
    joins carry NO broadcast hint on purpose: the count tables grow with
    corpus vocabulary (bigrams ~vocab²), so a forced broadcast is a
    driver/executor OOM at 100 TB and, unlike an AQE decision, never
    demotes. With AQE on, Spark broadcasts them when their runtime size is
    under the threshold (the local case) and falls back to a shuffle
    equi-join on the bigram key when it isn't — hot bigrams are
    uniform-ish and AQE skew-split covers the rest."""
    # r14: the vocab scalar reads the SHARED tokenized staging relation
    # (identical split_ws tokens, checkpointed + fanned) instead of
    # re-tokenizing the raw documents scan single-task, and is memoized
    # model state (_corpus_vocab) like the codebooks it parallels.
    vocab = _corpus_vocab(spark, sf_dir)
    # EAGER materialization via the shared staging table: the relation
    # feeds c2, c1 AND the scoring join — un-materialized, the explode
    # executes once per consumer inside the final job (the in-job
    # union-fan-out hazard, see dedup_minhash_pairs). Measured 2.83s ->
    # 1.88s at sf0.1 when first checkpointed; now also shared with
    # textstats_bigrams / graph_pagerank_topk (bigram_instance_staging).
    bg = bigram_instance_staging(spark, sf_dir)
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    nll = -F.log((F.col("n2") + 1) / (F.col("n1") + F.lit(vocab)))
    return (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .withColumn("nll", nll)
        .groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("mean_nll"),
            F.round(F.exp(F.avg("nll")), 4).alias("ppl"),
        )
    )


def _oracle_lm_score() -> str:
    from .dedup import shingles_sql

    return f"""
WITH tokd AS (
  SELECT doc_id, source, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), vocab AS (
  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM tokd)
), bg AS (
  SELECT doc_id, source, bigram, string_split(bigram, ' ')[1] AS w1
  FROM (SELECT doc_id, source, unnest({shingles_sql(dl.DUCK, 'toks', 2)}) AS bigram FROM tokd)
), c2 AS (
  SELECT bigram, count(*) AS n2 FROM bg GROUP BY bigram
), c1 AS (
  SELECT w1, count(*) AS n1 FROM bg GROUP BY w1
), scored AS (
  SELECT bg.doc_id, bg.source,
    -ln((c2.n2 + 1) / (c1.n1 + CAST((SELECT v FROM vocab) AS DOUBLE))) AS nll
  FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1)
)
SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_bigrams,
  round(avg(nll), 4) AS mean_nll, round(exp(avg(nll)), 4) AS ppl
FROM scored GROUP BY source
"""


WINNOW_K = 3   # tokens per k-gram
WINNOW_W = 4   # winnowing window (hashes per window)


def _winnow_cols(d: str) -> dict[str, str]:
    """Winnowing (Schleimer/Wilkerson/Aiken, the MOSS fingerprinter):
    k-gram rolling hashes -> per-window minimum -> distinct selected set.
    Shift-invariant: inserting a token changes O(1) windows, unlike the
    bag fingerprint (any edit) or content hash (any byte)."""
    el = lambda arr, i: dl.arr_element(d, arr, i)  # noqa: E731
    toks = dl.split_ws(d, "text")
    kgram = " || ' ' || ".join(el("toks", f"i + {j}") for j in range(WINNOW_K))
    md5s = dl.transform(
        d, dl.seq(d, "1", f"{dl.arr_size(d, 'toks')} - {WINNOW_K - 1}"), "i", f"md5({kgram})"
    )
    # two-level transform so each k-gram's md5 is computed ONCE and the
    # 15-nibble fold runs over the bound variable, not a re-evaluated md5
    hashes = dl.transform(d, md5s, "h", dl.hex_prefix_u60(d, "h"))
    win_min = "array_min" if d == dl.SPARK else "list_min"
    sel = dl.transform(
        d,
        dl.seq(d, "1", f"{dl.arr_size(d, 'hs')} - {WINNOW_W - 1}"),
        "j",
        f"{win_min}({dl.arr_slice(d, 'hs', 'j', str(WINNOW_W))})",
    )
    fps = dl.arr_sort(d, dl.arr_distinct(d, "sel"))  # over the staged column
    return {"toks": toks, "hashes": hashes, "sel_from_hs": sel, "fps_from_sel": fps}


def textstats_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints per document: count, density (guaranteed
    ~2/(w+1) by the algorithm), extremes, and an md5 signature of the
    selected set. Pure array projection — zero shuffle; at 100 TB this is
    a map-only pass whose output feeds a fingerprint-equality join."""
    # fan_out_small (r14): the k-gram md5 + window-min chain IS the query
    # cost, and on the single-row-group local fixture it ran as ONE task.
    # Slim projection first so the floor shuffles only (doc_id, text).
    docs = fan_out_small(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    c = _winnow_cols(dl.SPARK)
    staged = docs.select(
        "doc_id", F.expr(c["toks"]).alias("toks")
    ).select(
        "doc_id", F.expr(c["hashes"]).alias("hs")
    ).select(
        "doc_id",
        F.size("hs").alias("n_kgrams"),
        F.expr(c["sel_from_hs"]).alias("sel"),
    ).select(
        "doc_id", "n_kgrams", F.expr(c["fps_from_sel"]).alias("fps")
    )
    return staged.select(
        "doc_id",
        "n_kgrams",
        F.size("fps").alias("n_selected"),
        F.expr("array_min(fps)").alias("fp_min"),
        F.expr("array_max(fps)").alias("fp_max"),
        F.md5(F.expr(dl.arr_join(dl.SPARK, "transform(fps, x -> CAST(x AS STRING))", ","))).alias(
            "winnow_sig"
        ),
    )


def _oracle_winnowing() -> str:
    d = dl.DUCK
    c = _winnow_cols(d)
    return f"""
WITH t AS (SELECT doc_id, {c['toks']} AS toks FROM documents),
h AS (SELECT doc_id, {c['hashes']} AS hs FROM t),
s AS (SELECT doc_id, {dl.arr_size(d, 'hs')} AS n_kgrams, {c['sel_from_hs']} AS sel FROM h),
f AS (SELECT doc_id, n_kgrams, {c['fps_from_sel']} AS fps FROM s)
SELECT doc_id, CAST(n_kgrams AS INT) AS n_kgrams,
  CAST({dl.arr_size(d, 'fps')} AS INT) AS n_selected,
  list_min(fps) AS fp_min, list_max(fps) AS fp_max,
  md5({dl.arr_join(d, "list_transform(fps, x -> CAST(x AS VARCHAR))", ",")}) AS winnow_sig
FROM f
"""


VOCAB_SIZE = 24  # rank-based vocabulary (top-V words by corpus count)


def docs_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-for-training: build a rank-based vocabulary (top VOCAB_SIZE
    words by corpus frequency, ties broken lexicographically; everything
    else = OOV id 0) and re-encode every document as id sequences. Emits
    per-doc token/OOV counts and an md5 fingerprint of the id sequence —
    enough for the oracle to prove the whole encode bit-exact without
    shipping arrays through the compare.

    Scale shape: vocab = one hash agg + top-V (TakeOrderedAndProject),
    broadcast; encoding is a map-side explode-join-reassemble keyed by
    (doc_id, pos) — at 100 TB the vocab is a few MB broadcast and the
    corpus never shuffles except the (doc_id)-keyed reassembly.

    Carve-out (round 11, VERDICT r10 item 5): the tok_id rank IS an
    unpartitioned window, but its input is the top-V relation UNDER the
    limit — TakeOrderedAndProject(limit=VOCAB_SIZE) feeds it directly
    (per-partition heaps + driver merge, never a full vocabulary sort),
    so the one-task rank handles <= VOCAB_SIZE rows: a MODEL
    HYPERPARAMETER (real tokenizers: 32k-256k), not a data-dependent
    volume. tests/test_bounded_windows.py asserts the bound is in the
    physical plan (no Sort feeds the window)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("pos", "w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .orderBy(F.desc("wc"), F.asc("w"))
        .limit(VOCAB_SIZE)
        .select(
            "w",
            (F.row_number().over(W.orderBy(F.desc("wc"), F.asc("w")))).alias("tok_id"),
        )
    )
    encoded = (
        words.join(F.broadcast(vocab), "w", "left")
        .select(
            "doc_id",
            "pos",
            F.coalesce("tok_id", F.lit(0)).alias("tok_id"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("tok_id") == 0, 1).otherwise(0)).alias("n_oov"),
            F.md5(
                F.expr(
                    "array_join(transform(array_sort(collect_list(struct(pos, tok_id))),"
                    " p -> CAST(p.tok_id AS STRING)), ',')"
                )
            ).alias("ids_fingerprint"),
        )
    )
    return encoded


def _oracle_tokenize_ids() -> str:
    d = dl.DUCK
    return f"""
WITH words AS (
  SELECT doc_id,
    unnest(generate_series(1, len(toks))) AS pos, unnest(toks) AS w
  FROM (SELECT doc_id, {dl.split_ws(d, 'text')} AS toks FROM documents)
), vocab AS (
  SELECT w, CAST(row_number() OVER (ORDER BY wc DESC, w ASC) AS INT) AS tok_id
  FROM (SELECT w, count(*) AS wc FROM words GROUP BY w
        ORDER BY wc DESC, w ASC LIMIT {VOCAB_SIZE})
), encoded AS (
  SELECT words.doc_id, words.pos, coalesce(vocab.tok_id, 0) AS tok_id
  FROM words LEFT JOIN vocab ON vocab.w = words.w
)
SELECT doc_id, count(*) AS n_tokens,
  CAST(sum(CASE WHEN tok_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  md5(string_agg(CAST(tok_id AS VARCHAR), ',' ORDER BY pos)) AS ids_fingerprint
FROM encoded GROUP BY doc_id
"""


BPE_TOP_MERGES = 50


def textstats_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE tokenizer-induction iteration at corpus scale: the
    most-frequent adjacent character pairs, weighted by word frequency.

    Scale shape (the part that matters at 100 TB): the corpus is FIRST
    reduced to the distinct (word, count) vocabulary — one hash agg on a
    uniform key — and the char-pair explode runs over the vocab (bounded by
    type count * word length), not over every corpus token occurrence.
    Top-k is TakeOrderedAndProject. This is exactly how production BPE
    trainers structure the count step (word-frequency table first)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs_arr = dl.transform(
        dl.SPARK, dl.seq(dl.SPARK, "1", "length(word) - 1"), "i", "substr(word, i, 2)"
    )
    return (
        vocab.select(F.explode(F.expr(pairs_arr)).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(BPE_TOP_MERGES)
    )


def _oracle_bpe_merges() -> str:
    pairs_arr = dl.transform(
        dl.DUCK, dl.seq(dl.DUCK, "1", "length(word) - 1"), "i", "substr(word, i, 2)"
    )
    return f"""
WITH vocab AS (
  SELECT word, count(*) AS wc FROM (
    SELECT unnest({dl.split_ws(dl.DUCK, 'text')}) AS word FROM documents
  ) WHERE length(word) >= 2 GROUP BY word
), pairs AS (
  SELECT unnest({pairs_arr}) AS pair, wc FROM vocab
)
SELECT pair, CAST(sum(wc) AS BIGINT) AS freq
FROM pairs GROUP BY pair
ORDER BY freq DESC, pair ASC
LIMIT {BPE_TOP_MERGES}
"""


BPE_INDUCT_ROUNDS = 32


def _pair_structs_of(col: str) -> str:
    """Adjacent symbol pairs of an array column as (a, b) structs — the
    shared template of the batched trainer's pair counts and its r15 fused
    delta (which needs it over the FOLDED array too). Callers guard
    size >= 2: sequence(1, 0) is DESCENDING in Spark and ANSI element_at
    would throw on 1-symbol words."""
    return (
        f"transform(sequence(1, size({col}) - 1), "
        f"i -> struct(element_at({col}, i) AS a, element_at({col}, i + 1) AS b))"
    )


BPE_BATCH_M = 8  # max non-conflicting merges applied per scan (batched trainer)


def textstats_bpe_induction_batched(
    spark: SparkSession, sf_dir: str, stats: dict | None = None
) -> DataFrame:
    """Batched-merge DISTRIBUTED trainer (round 12, VERDICT r11 item 4):
    the standard top-m non-conflicting optimization with admission rules
    tight enough that the learned merge list is PROVABLY EQUAL to
    sequential BPE — the merge list of textstats_bpe_induction and of the
    DuckDB oracle's full per-round recount (_oracle_bpe_induction). Per
    scan, ONE delta job + ONE vocabulary rewrite apply a whole batch
    (~19 scans for 32 merges). This is the trainer for the regime where
    the word-TYPE table is too large to collect:
    textstats_bpe_induction runs it above BPE_TRAIN_TYPE_CAP types and
    trains on the driver at or under it.

    Admission (in exact (-freq, a, b) sequential priority; PREFIX rule —
    stop at the first rejection, never skip):
    1. No instance contest with any admitted (a, b): a candidate (c, d)'s
       count moves under merge (a,b) iff d==a or c==b (a's are consumed
       only where followed by b; b's only where preceded by a — a merely
       SHARED symbol contests nothing: (e,r) and (o,r) co-batch). The
       test is symmetric, so admitted pairs' counts are mutually frozen
       and 'freq' records the exact sequential count.
    2. Strictly above the CREATION BOUND: a pair created by admitted
       (a,b) — (x, a||b) or (a||b, y), transitively — maps occurrence-
       for-occurrence onto a scan-start adjacency (x,a) or (b,y), so its
       count is <= min(freq(a,b), max scan-start count with right
       element a or left element b). A candidate admitted only while its
       freq strictly exceeds every admitted merge's bound can never be
       outranked by a creation in the sequential order.
    With existing pairs only ever DECREASING under merges (folding "x a b
    y" removes adjacencies, never forms new ones between old symbols) and
    deferred conflicts re-ranking next scan against exact updated counts,
    the batch members are exactly the next |batch| sequential picks —
    list equality with the oracle pinned per-merge in
    tests/test_bpe_prod.py at every test SF, not asserted from this
    argument alone.

    Same merge semantics (the left-to-right non-overlapping fold) and
    return schema as textstats_bpe_induction: (merge_round, sym_a, sym_b,
    freq)."""
    docs = load_table(spark, sf_dir, "documents")
    syms0 = dl.transform(
        dl.SPARK, dl.seq(dl.SPARK, "1", "length(word)"), "i", "substr(word, i, 1)"
    )
    cur = (
        docs.select(F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(F.expr(syms0).alias("syms"), "wc")
        # LAZY checkpoint (r14): the counts collect right below is the
        # first consumer and computes every partition — it materializes
        # the blocks itself, saving the standalone checkpoint job
        .localCheckpoint(eager=False)
    )
    pair_structs = _pair_structs_of("syms")
    counts: dict[tuple[str, str], int] = {
        (row["a"], row["b"]): int(row["freq"])
        for row in (
            cur.filter(F.size("syms") >= 2)
            .select(F.explode(F.expr(pair_structs)).alias("p"), "wc")
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").alias("freq"))
            .collect()
        )
    }

    def lit_sql(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    merges = []  # (round, a, b, freq)

    def _conflicts(cand: tuple[str, str], adm: tuple[str, str]) -> bool:
        """Does merging ``adm`` change ``cand``'s count (or vice versa)?
        Merging (a,b) consumes a-instances ONLY where followed by b and
        b-instances ONLY where preceded by a, so a pair (c,d)'s count
        moves iff d==a (its right symbol can be eaten as the merge's
        left) or c==b (its left symbol eaten as the merge's right) — NOT
        whenever any symbol is shared: (e,r) and (o,r) co-batch fine
        (the shared right symbol r needs two different predecessors, so
        no instance is contested). Plus the formed symbols: a pair
        touching the other's a||b is a CREATED pair (it has no
        pre-batch count to trust). The instance-contest test is
        SYMMETRIC: (c,d) affected by (a,b) iff d==a or c==b, and (a,b)
        affected by (c,d) iff b==c or a==d — the same two equalities."""
        a, b = adm
        c, d = cand
        return d == a or c == b or a + b in (c, d) or c + d in (a, b)

    while counts and len(merges) < BPE_INDUCT_ROUNDS:
        batch: list[tuple[str, str, int]] = []
        bound = -1  # max possible created-pair freq from admitted merges
        cap = min(BPE_BATCH_M, BPE_INDUCT_ROUNDS - len(merges))
        for (a_val, b_val), freq in sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        ):
            cand = (a_val, b_val)
            # PREFIX batching: stop at the first rejection, never skip —
            # skipping would reorder the learned list (measured:
            # greedy-skip diverges by merge 2 on this corpus)
            if batch and freq <= bound:
                break  # a creation could outrank this candidate (rule 2)
            if any(_conflicts(cand, (x, y)) for x, y, _ in batch):
                break  # instance contest (rule 1)
            batch.append((a_val, b_val, freq))
            nb = max(
                (
                    v
                    for (x, y), v in counts.items()
                    if y == a_val or x == b_val
                ),
                default=0,
            )
            bound = max(bound, min(freq, nb))
            if len(batch) == cap:
                break
        for a_val, b_val, freq in batch:
            merges.append((len(merges) + 1, a_val, b_val, freq))
        if stats is not None:
            stats.setdefault("batch_sizes", []).append(len(batch))
        if len(merges) >= BPE_INDUCT_ROUNDS:
            break
        # ONE chained fold applies the whole batch (disjoint pairs: any
        # application order yields the same sequences) and ONE guard ORs
        # the per-pair existence checks — literals inlined via the
        # bpe_apply escaping discipline (symbols may contain quotes)
        fold_expr = "syms"
        has_parts = []
        for a_val, b_val, _ in batch:
            la, lb = lit_sql(a_val), lit_sql(b_val)
            fold_expr = (
                f"aggregate({fold_expr}, cast(array() as array<string>), "
                f"(acc, x) -> IF(size(acc) > 0 AND element_at(acc, -1) = {la} "
                f"AND x = {lb}, "
                f"concat(slice(acc, 1, size(acc) - 1), array({la} || {lb})), "
                f"concat(acc, array(x))))"
            )
            has_parts.append(
                f"(CASE WHEN size(syms) >= 2 THEN "
                f"exists(sequence(1, size(syms) - 1), "
                f"i -> element_at(syms, i) = {la} AND "
                f"element_at(syms, i + 1) = {lb}) ELSE false END)"
            )
        has_any = " OR ".join(has_parts)
        # exact pair-count delta, affected words only: their old pairs at
        # -wc, their folded pairs at +wc. r15: fused into ONE pass (fold
        # once per affected word, one weighted explode); the two-branch
        # union re-embedded the affected-set filter in both branches and
        # doubled per-scan plan analysis on a loop whose wall is
        # driver-side. Integer sums are order-independent, so the
        # (a, b, d) multiset is the same.
        delta = (
            cur.filter(F.expr(has_any))
            .selectExpr("wc", "syms", f"{fold_expr} AS fsyms")
            .selectExpr(
                "explode(concat("
                f"transform({pair_structs}, q -> "
                "struct(q.a AS a, q.b AS b, -wc AS d)), "
                "CASE WHEN size(fsyms) >= 2 THEN "
                f"transform({_pair_structs_of('fsyms')}, q -> "
                "struct(q.a AS a, q.b AS b, wc AS d)) "
                "ELSE array() END)) AS pd"
            )
            .groupBy(F.col("pd.a").alias("a"), F.col("pd.b").alias("b"))
            .agg(F.sum("pd.d").alias("d"))
            .filter(F.col("d") != 0)
            .collect()
        )
        for row in delta:
            k = (row["a"], row["b"])
            nv = counts.get(k, 0) + int(row["d"])
            if nv > 0:
                counts[k] = nv
            else:
                counts.pop(k, None)
        # ONE conditional projection rewrites the vocabulary: a folded
        # relation unioned back in would DOUBLE the partition count every
        # scan (both union sides inherit cur's partitioning). LAZY
        # checkpoint (r14): next scan's delta collect materializes the
        # rewrite — one job per scan instead of two — and lineage still
        # truncates one scan deep
        cur = cur.select(
            F.expr(f"IF({has_any}, {fold_expr}, syms)").alias("syms"), "wc"
        ).localCheckpoint(eager=False)
    return driver_rows_df(
        spark, merges, "merge_round int, sym_a string, sym_b string, freq bigint"
    ).orderBy("merge_round")


# Selection threshold of textstats_bpe_induction: at or under this many
# word types the whole type table is collected and trained on the driver;
# above it the distributed batched trainer runs instead
BPE_TRAIN_TYPE_CAP = 1_000_000


def textstats_bpe_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE tokenizer induction: BPE_INDUCT_ROUNDS iterations
    of [count adjacent symbol pairs over the word-frequency vocabulary ->
    take the most frequent pair -> merge it everywhere], the Sennrich et
    al. training loop. Returns the learned merge table (merge_round,
    sym_a, sym_b, freq); ties break on (-freq, a, b), the oracle's ORDER
    BY freq DESC, a ASC, b ASC.

    Shape (round 12, the SentencePiece / HF tokenizers trainer): Spark
    does the one corpus-sized step — reduce the corpus to the (word,
    count) TYPE table, one hash agg on a uniform key — and the merge loop
    runs on the DRIVER over that table with an incremental pair index:
    zero Spark jobs per round (~5 jobs in all, ~0.7 s at sf0.1). BPE is
    DEFINED on the type table, so it is the exact sufficient statistic
    and the collected table is model state, not a driver bottleneck.

    Exact at every input size: the table is collected with a limit of
    BPE_TRAIN_TYPE_CAP + 1 rows, so one extra row tells that the corpus
    has more types than the driver should hold (types grow ~O(corpus^0.5),
    Heaps) — then textstats_bpe_induction_batched, the distributed trainer
    with provably-sequential batching, learns the same list instead. Both
    paths are pinned merge-for-merge to the DuckDB oracle's full per-round
    recount (_oracle_bpe_induction) at sf0.001/0.01/0.1, with the fallback
    forced by a lowered cap, in tests/test_bpe_prod.py.

    The merge applies LEFT-TO-RIGHT NON-OVERLAPPING, BPE's exact pass
    semantics: append each symbol unless the last output symbol is sym_a
    and the incoming one is sym_b, in which case fuse them. A just-merged
    symbol can never re-merge as the pair's left side within the same
    round (a||b = a requires an empty symbol), so [a,a,a,a,a] with pair
    (a,a) folds to [aa,aa,a], matching the scanning definition and the
    oracle's list_reduce fold."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .limit(BPE_TRAIN_TYPE_CAP + 1)
        .collect()
    )
    if len(vocab) > BPE_TRAIN_TYPE_CAP:
        return textstats_bpe_induction_batched(spark, sf_dir)
    words: list[list[str]] = [list(r["word"]) for r in vocab]
    wcs: list[int] = [int(r["wc"]) for r in vocab]
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        wc = wcs[wi]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + wc
            where.setdefault(p, set()).add(wi)

    def fold(syms: list[str], a: str, b: str) -> list[str]:
        # the batched trainer's SQL aggregate, exactly: left-to-right
        # non-overlapping — append x unless the accumulator's last
        # element is a and x is b, in which case fuse
        out: list[str] = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return out

    merges = []
    for r in range(1, BPE_INDUCT_ROUNDS + 1):
        if not counts:
            break
        (a_val, b_val), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a_val, b_val, freq))
        if r == BPE_INDUCT_ROUNDS:
            break
        # affected-word delta, the same arithmetic the batched trainer
        # runs as a Spark job — here it's the pair index lookup
        for wi in sorted(where.get((a_val, b_val), ())):
            wc = wcs[wi]
            old = words[wi]
            new = fold(old, a_val, b_val)
            for i in range(len(old) - 1):
                p = (old[i], old[i + 1])
                nv = counts.get(p, 0) - wc
                if nv > 0:
                    counts[p] = nv
                else:
                    counts.pop(p, None)
                s = where.get(p)
                if s is not None:
                    s.discard(wi)
                    if not s:
                        where.pop(p, None)
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                counts[p] = counts.get(p, 0) + wc
                where.setdefault(p, set()).add(wi)
            words[wi] = new
    return driver_rows_df(
        spark, merges, "merge_round int, sym_a string, sym_b string, freq bigint"
    ).orderBy("merge_round")


def _oracle_bpe_induction() -> str:
    syms0 = dl.transform(
        dl.DUCK, dl.seq(dl.DUCK, "1", "length(word)"), "i", "substr(word, i, 1)"
    )
    fold = (
        "list_reduce(list_transform(syms, s -> [s]), (acc, x) -> "
        "CASE WHEN acc[-1] = a AND x[1] = b "
        "THEN list_concat(acc[1:len(acc)-1], [a || b]) "
        "ELSE list_concat(acc, x) END)"
    )
    struct_body = "{'a': syms[i], 'b': syms[i + 1]}"
    pair_structs = dl.transform(
        dl.DUCK, dl.seq(dl.DUCK, "1", "len(syms) - 1"), "i", struct_body
    )
    ctes = [
        f"""vocab0 AS MATERIALIZED (
  SELECT {syms0} AS syms, wc FROM (
    SELECT word, count(*) AS wc FROM (
      SELECT unnest({dl.split_ws(dl.DUCK, 'text')}) AS word FROM documents
    ) GROUP BY word
  )
)"""
    ]
    for r in range(1, BPE_INDUCT_ROUNDS + 1):
        ctes.append(
            f"""pairs{r} AS (
  SELECT u.a AS a, u.b AS b, CAST(sum(wc) AS BIGINT) AS freq FROM (
    SELECT unnest({pair_structs}) AS u, wc FROM vocab{r - 1} WHERE len(syms) >= 2
  ) GROUP BY 1, 2
), best{r} AS MATERIALIZED (
  SELECT a, b, freq FROM pairs{r} ORDER BY freq DESC, a ASC, b ASC LIMIT 1
)"""
        )
        if r < BPE_INDUCT_ROUNDS:
            ctes.append(
                f"""vocab{r} AS MATERIALIZED (
  SELECT {fold} AS syms, wc FROM vocab{r - 1}, best{r}
)"""
            )
    finals = " UNION ALL ".join(
        f"SELECT {r} AS merge_round, a AS sym_a, b AS sym_b, freq FROM best{r}"
        for r in range(1, BPE_INDUCT_ROUNDS + 1)
    )
    return f"WITH {', '.join(ctes)}\n{finals}\nORDER BY merge_round"


@staged
def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """The learned (sym_a, sym_b) merge list of textstats_bpe_induction —
    the one trainer, on the driver at or under BPE_TRAIN_TYPE_CAP types
    and batched above it. MODEL state (a handful of driver rows) shared
    by the apply/fertility readout, staged per (application, sf_dir) like
    the kmeans codebook, so consumers price application, not
    re-training."""
    return [
        (r["sym_a"], r["sym_b"])
        for r in textstats_bpe_induction(spark, sf_dir).collect()
    ]


def textstats_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to the corpus — the tokenizer
    FERTILITY readout that closes the trainer loop (round 9): per source,
    word instances, characters, post-merge symbol count, and the two
    ratios a tokenizer team actually tracks (symbols/word = fertility,
    chars/symbol = compression).

    The merges come from textstats_bpe_induction through the staged
    _bpe_merges (driver model state: the trainer collects the word-type
    table once and returns a K-row driver-built table, ~5 Spark jobs in
    all, so the first consumer pays training once and later ones nothing).
    Application is vocabulary-bounded like training: per distinct
    (source, word), the BPE_INDUCT_ROUNDS merge folds nest as ONE
    map-side projection (each fold is the same left-to-right
    non-overlapping array fold, with the round's pair inlined as SQL
    literals — quotes doubled for both engines, backslashes escaped for
    Spark's C-style literal parser), then instance counts weight the agg.
    The oracle recomputes the merges in its own chained CTEs (the
    induction parity already gate-proven) and LEFT-JOINs the
    BPE_INDUCT_ROUNDS 1-row best tables into the same nested fold — LEFT
    JOIN ON TRUE, not a cross join, so a corpus that exhausts merges in
    fewer rounds leaves the trailing best{r} empty and their folds become
    no-ops (acc[-1] = NULL is never true), exactly matching the Spark
    side, which applies only the merges actually learned (round-10
    ADVICE: a cross join would empty the whole relation instead)."""
    merges = _bpe_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            "source", F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("word")
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )

    def lit_sql(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    expr = dl.transform(
        dl.SPARK, dl.seq(dl.SPARK, "1", "length(word)"), "i", "substr(word, i, 1)"
    )
    for a, b in merges:
        la, lb = lit_sql(a), lit_sql(b)
        expr = (
            f"aggregate({expr}, cast(array() as array<string>), (acc, x) -> "
            f"IF(size(acc) > 0 AND element_at(acc, -1) = {la} AND x = {lb}, "
            f"concat(slice(acc, 1, size(acc) - 1), array({la} || {lb})), "
            f"concat(acc, array(x))))"
        )
    per_word = vocab.select(
        "source",
        "wc",
        F.length("word").alias("chars"),
        F.size(F.expr(expr)).alias("n_sym"),
    )
    spw = dl.round_ratio(dl.SPARK, "n_symbols", "n_words")
    cps = dl.round_ratio(dl.SPARK, "n_chars", "n_symbols")
    return (
        per_word.groupBy("source")
        .agg(
            F.sum("wc").alias("n_words"),
            F.sum(F.col("chars") * F.col("wc")).alias("n_chars"),
            F.sum(F.col("n_sym") * F.col("wc")).alias("n_symbols"),
        )
        .selectExpr(
            "source",
            "n_words",
            "n_chars",
            "n_symbols",
            f"{spw} AS symbols_per_word",
            f"{cps} AS chars_per_symbol",
        )
        .orderBy("source")
    )


def _oracle_bpe_apply() -> str:
    induction = _oracle_bpe_induction()
    # reuse the induction's WITH chain: strip its final SELECT, keep CTEs
    ctes = induction[len("WITH ") : induction.index("\nSELECT 1 AS merge_round")]
    d = dl.DUCK
    expr = dl.transform(d, dl.seq(d, "1", "length(word)"), "i", "substr(word, i, 1)")
    for r in range(1, BPE_INDUCT_ROUNDS + 1):
        a, b = f"b{r}.a", f"b{r}.b"
        expr = (
            f"list_reduce(list_transform({expr}, s -> [s]), (acc, x) -> "
            f"CASE WHEN acc[-1] = {a} AND x[1] = {b} "
            f"THEN list_concat(acc[1:len(acc)-1], [{a} || {b}]) "
            f"ELSE list_concat(acc, x) END)"
        )
    # LEFT JOIN ON TRUE (see textstats_bpe_apply docstring): an empty
    # best{r} must be a no-op fold (NULL a/b), not an empty result
    joins = " ".join(
        f"LEFT JOIN best{r} b{r} ON TRUE" for r in range(1, BPE_INDUCT_ROUNDS + 1)
    )
    spw = dl.round_ratio(d, "n_symbols", "n_words")
    cps = dl.round_ratio(d, "n_chars", "n_symbols")
    return f"""WITH {ctes},
svocab AS (
  SELECT source, word, count(*) AS wc FROM (
    SELECT source, unnest({dl.split_ws(d, 'text')}) AS word FROM documents
  ) GROUP BY 1, 2
), applied AS (
  SELECT source, wc, length(word) AS chars, len({expr}) AS n_sym
  FROM svocab {joins}
), agged AS (
  SELECT source, CAST(sum(wc) AS BIGINT) AS n_words,
    CAST(sum(chars * wc) AS BIGINT) AS n_chars,
    CAST(sum(n_sym * wc) AS BIGINT) AS n_symbols
  FROM applied GROUP BY source
)
SELECT source, n_words, n_chars, n_symbols,
  {spw} AS symbols_per_word, {cps} AS chars_per_symbol
FROM agged ORDER BY source
"""


CCNET_BUCKETS = 3  # head / middle / tail


def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data"): score every
    document with the corpus bigram LM (the textstats_lm_score model),
    then split each language into equal-population head / middle / tail
    terciles by per-doc mean NLL — head = most-fluent third, the slice
    CCNet keeps for LM training. Reports per (lang, bucket): docs, bigram
    mass, and the NLL range, i.e. the table a curation run logs to choose
    its perplexity cutoffs.

    Plan: the shared bigram-instance staging relation (one explode,
    materialized once per app x sf_dir) joins the two count tables exactly
    as textstats_lm_score does; the per-doc agg keys on doc_id (uniform),
    the lang attach is an n_docs-row equi-join, and ntile runs per-lang
    over doc-level rows — at 100 TB that window is per-lang sorted state
    over one row per DOCUMENT (not per token), the same per-key-window
    shape as window_topk_orders_per_customer.

    Parity: ntile orders by the ROUNDED per-doc NLL with doc_id tiebreak,
    so bucket assignment is deterministic whenever the rounded scores
    match (the textstats_lm_score ln-on-integer-ratio argument). Docs with
    fewer than 2 tokens have no bigrams and are excluded identically by
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    # r14: vocab scalar from the SHARED tokenized staging relation via the
    # memoized _corpus_vocab (same scalar textstats_lm_score embeds).
    vocab = _corpus_vocab(spark, sf_dir)
    bg = bigram_instance_staging(spark, sf_dir)
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    perdoc = (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .withColumn("nll", -F.log((F.col("n2") + 1) / (F.col("n1") + F.lit(vocab))))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 4).alias("doc_nll"),
        )
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    from pyspark.sql.window import Window

    wl = Window.partitionBy("lang").orderBy(F.asc("doc_nll"), F.asc("doc_id"))
    return (
        perdoc.withColumn("bucket", F.ntile(CCNET_BUCKETS).over(wl))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.min("doc_nll").alias("min_nll"),
            F.max("doc_nll").alias("max_nll"),
        )
    )


def _oracle_ccnet() -> str:
    from .dedup import shingles_sql

    return f"""
WITH tokd AS (
  SELECT doc_id, lang, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), vocab AS (
  SELECT count(DISTINCT t) AS v FROM (SELECT unnest(toks) AS t FROM tokd)
), bg AS (
  SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1
  FROM (SELECT doc_id, unnest({shingles_sql(dl.DUCK, 'toks', 2)}) AS bigram FROM tokd)
), c2 AS (
  SELECT bigram, count(*) AS n2 FROM bg GROUP BY bigram
), c1 AS (
  SELECT w1, count(*) AS n1 FROM bg GROUP BY w1
), perdoc AS (
  SELECT bg.doc_id, count(*) AS n_bigrams,
    round(avg(-ln((c2.n2 + 1)
        / (c1.n1 + CAST((SELECT v FROM vocab) AS DOUBLE)))), 4) AS doc_nll
  FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1)
  GROUP BY bg.doc_id
), bucketed AS (
  SELECT t.lang, p.n_bigrams, p.doc_nll,
    ntile({CCNET_BUCKETS}) OVER (
      PARTITION BY t.lang ORDER BY p.doc_nll ASC, p.doc_id ASC) AS bucket
  FROM perdoc p JOIN (SELECT DISTINCT doc_id, lang FROM tokd) t USING (doc_id)
)
SELECT lang, CAST(bucket AS INT) AS bucket, count(*) AS n_docs,
  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
  min(doc_nll) AS min_nll, max(doc_nll) AS max_nll
FROM bucketed GROUP BY lang, bucket
"""


ZIPF_TOP = 1000  # ranks entering the log-log OLS fit


def textstats_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language — the corpus-health diagnostic: a
    natural-language slice shows ln(freq) ~ intercept + slope*ln(rank)
    with slope near -1; machine-generated or template-heavy text bends
    the curve. Reports per lang: distinct types, the OLS slope/intercept
    over the top ZIPF_TOP ranks, and r^2 as the fit quality.

    Plan: ONE (lang, token) hash agg over the corpus (uniform keys, map-
    side partials); ranking and the OLS moments run per-lang over at most
    ZIPF_TOP rows — window state is vocabulary-sized, never corpus-sized,
    and the cap makes it constant. Parity: rank and freq are exact
    integers, every ln() input is an exact integer, the OLS moments are
    ~1000-term double sums (order drift ~1e-13 relative — the
    textstats_lm_score convention), and round(4) absorbs it."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    counts = (
        docs.select(
            "lang", F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("t")
        )
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wl = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("t"))
    top = (
        counts.withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= ZIPF_TOP)
        .select(
            "lang",
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("freq").cast("double")).alias("y"),
        )
    )
    types = counts.groupBy("lang").agg(F.count(F.lit(1)).alias("n_types"))
    m = top.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    # Degenerate-slice guards (the repo's CASE WHEN den=0 THEN 0.0
    # convention): a lang slice with one ranked token (or all-equal
    # log-freqs) zeroes the OLS denominators — Spark would yield NULL
    # where DuckDB's IEEE float ops yield inf/NaN, a latent oracle
    # divergence. Both dialects now emit 0.0 on the degenerate branch.
    sden = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(sden == 0, F.lit(0.0)).otherwise(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / sden
    )
    r_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r_den = F.sqrt(
        sden * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    r = F.when(r_den == 0, F.lit(0.0)).otherwise(r_num / r_den)
    return (
        m.join(types, "lang")
        .select(
            "lang",
            "n_types",
            F.round(slope, 4).alias("zipf_slope"),
            F.round(
                (F.col("sy") - slope * F.col("sx")) / F.col("n"), 4
            ).alias("intercept"),
            F.round(r * r, 4).alias("r2"),
        )
    )


def _oracle_zipf() -> str:
    d = dl.DUCK
    return f"""
WITH counts AS (
  SELECT lang, t, count(*) AS freq
  FROM (SELECT lang, unnest({dl.split_ws(d, 'text')}) AS t FROM documents)
  GROUP BY lang, t
), top AS (
  SELECT lang, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
  FROM (
    SELECT lang, freq, row_number() OVER (
      PARTITION BY lang ORDER BY freq DESC, t ASC) AS rank
    FROM counts
  ) WHERE rank <= {ZIPF_TOP}
), types AS (
  SELECT lang, count(*) AS n_types FROM counts GROUP BY lang
), m AS (
  SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM top GROUP BY lang
)
, g AS (
  SELECT lang, n, sx, sy, sxy,
    CASE WHEN (n * sxx - sx * sx) = 0 THEN 0.0
         ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
    CASE WHEN sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) = 0 THEN 0.0
         ELSE (n * sxy - sx * sy)
              / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS r
  FROM m
)
SELECT g.lang, t.n_types,
  round(slope, 4) AS zipf_slope,
  round((sy - slope * sx) / n, 4) AS intercept,
  round(r * r, 4) AS r2
FROM g JOIN types t USING (lang)
"""


NOVELTY_N = 3   # shingle width for the novelty fingerprint


def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's DISTINCT
    3-token shingles that appear in NO other document (corpus df = 1) —
    the cheap diversity/creativity score a data-mixing pass uses to
    up-weight documents that add n-gram mass the corpus doesn't already
    have (the inverse of the boilerplate signal: docs_boilerplate_chunks
    finds what repeats, this credits what doesn't).

    Plan: explode distinct per-doc shingles once, one df hash agg keyed
    by shingle, one join back on the shingle key, one per-doc agg —
    the tf-idf shape, all uniform keys. df counts DOCUMENTS (the
    relation is already (doc, shingle)-distinct). At 100 TB the shingle
    key would be md5-hashed to fixed width before the shuffle (the
    dedup module's convention); here the raw shingle keeps the oracle
    readable. Documents shorter than NOVELTY_N tokens have no shingles
    and are excluded (no novelty is defined for them), mirrored in the
    oracle by the inner join."""
    from .dedup import shingles_sql

    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(
        "doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")
    )
    sh = (
        tokd.select(
            "doc_id",
            F.explode(
                F.expr(
                    dl.arr_distinct(
                        dl.SPARK, shingles_sql(dl.SPARK, "toks", NOVELTY_N)
                    )
                )
            ).alias("sh"),
        )
    )
    sh = audit_plan("novelty_shingles", sh).localCheckpoint()
    df = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    d = dl.SPARK
    return (
        sh.join(df, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.expr(dl.round_ratio(d, "n_unique", "n_shingles")).alias("novelty"),
        )
    )


def _oracle_ngram_novelty() -> str:
    from .dedup import shingles_sql

    d = dl.DUCK
    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(d, 'text')} AS toks FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id, unnest({dl.arr_distinct(d, shingles_sql(d, 'toks', NOVELTY_N))}) AS sh
  FROM tokd
), dfr AS (
  SELECT sh, count(*) AS df FROM sh GROUP BY sh
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
  {dl.round_ratio(d, 'sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)', 'count(*)')} AS novelty
FROM sh JOIN dfr USING (sh)
GROUP BY doc_id
"""


# ---------------------------------------------------------------- heavy hitters
MG_SHARDS = 32   # explicit shard key (portable stand-in for partition id)
MG_CAPACITY = 128  # counters per shard summary -> err <= shard_tokens/129


def docs_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Misra-Gries / Space-Saving heavy hitters over the token
    stream — the mergeable-summary answer to "top terms over 100 TB"
    when the vocabulary doesn't fit anywhere.

    Formulation: the ORDER-INDEPENDENT (offline) Misra-Gries reduction.
    Per shard p (explicit key ``doc_id % MG_SHARDS`` — the portable
    stand-in for the physical-partition id a mapPartitions build would
    use), compute exact per-token counts n_pt, find the (C+1)-th largest
    count d_p (0 when the shard holds <= C distinct tokens), and keep
    counters c_pt = max(n_pt - d_p, 0) — at most C of them are positive.
    This satisfies the classic MG guarantees (undercount only, per-shard
    error <= d_p <= shard_tokens/(C+1)) while being a pure function of
    shard CONTENTS, not arrival order — which is what makes the sketch
    value-oracle-checkable instead of bounds-only. Merge = sum of c_pt
    (summaries are mergeable, the property that makes the sketch work as
    a combiner); global error budget = sum d_p.

    Emitted: the est/exact/error audit for the exact top-10 tokens —
    est <= exact <= est + total_err is a THEOREM, so the booleans are a
    live engine check (same eval pattern as events_hll_rollup). The
    per-shard window ranks |shard vocabulary| rows within each of 32
    shards — bounded by vocabulary, never by the token stream; at 100 TB
    the same reduction runs inside mapPartitions with a real bounded-
    memory MG loop and this query IS its correctness oracle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % MG_SHARDS).alias("pid"),
        F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("token"),
    )
    counts = toks.groupBy("pid", "token").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window as _W

    rnk = F.row_number().over(
        _W.partitionBy("pid").orderBy(F.desc("n"), F.asc("token"))
    )
    ranked = counts.withColumn("rnk", rnk)
    dp = (
        ranked.filter(F.col("rnk") == MG_CAPACITY + 1)
        .select("pid", F.col("n").alias("d"))
    )
    # shards with <= C distinct tokens contribute d = 0
    summ = (
        counts.join(dp, "pid", "left")
        .select(
            "token",
            F.greatest(
                F.col("n") - F.coalesce(F.col("d"), F.lit(0)), F.lit(0)
            ).alias("c"),
        )
        .groupBy("token")
        .agg(F.sum("c").alias("est"))
        .filter(F.col("est") > 0)
    )
    total_err = dp.agg(F.coalesce(F.sum("d"), F.lit(0)).alias("e"))
    exact = counts.groupBy("token").agg(F.sum("n").alias("exact"))
    top = (
        exact.orderBy(F.desc("exact"), F.asc("token"))
        .limit(10)
        .join(summ, "token", "left")
        .crossJoin(F.broadcast(total_err))
    )
    return top.select(
        "token",
        "exact",
        F.coalesce("est", F.lit(0)).alias("est"),
        F.col("e").alias("total_err"),
        (F.coalesce("est", F.lit(0)) <= F.col("exact")).alias("no_overcount"),
        (F.col("exact") <= F.coalesce("est", F.lit(0)) + F.col("e")).alias(
            "within_err"
        ),
    ).orderBy(F.desc("exact"), F.asc("token"))


def _oracle_heavy_hitters() -> str:
    d = dl.DUCK
    return f"""
WITH toks AS (
  SELECT doc_id % {MG_SHARDS} AS pid, unnest({dl.split_ws(d, 'text')}) AS token
  FROM documents
), counts AS (
  SELECT pid, token, count(*) AS n FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pid ORDER BY n DESC, token ASC) AS rnk
  FROM counts
), dp AS (
  SELECT pid, n AS d FROM ranked WHERE rnk = {MG_CAPACITY + 1}
), summ AS (
  SELECT token, sum(greatest(c.n - coalesce(dp.d, 0), 0)) AS est
  FROM counts c LEFT JOIN dp USING (pid)
  GROUP BY 1 HAVING sum(greatest(c.n - coalesce(dp.d, 0), 0)) > 0
), total_err AS (
  SELECT coalesce(sum(d), 0) AS e FROM dp
), exact AS (
  SELECT token, sum(n) AS exact FROM counts GROUP BY 1
), top AS (
  SELECT token, exact FROM exact ORDER BY exact DESC, token ASC LIMIT 10
)
SELECT t.token, CAST(t.exact AS BIGINT) AS exact,
  CAST(coalesce(s.est, 0) AS BIGINT) AS est,
  CAST(te.e AS BIGINT) AS total_err,
  coalesce(s.est, 0) <= t.exact AS no_overcount,
  t.exact <= coalesce(s.est, 0) + te.e AS within_err
FROM top t LEFT JOIN summ s USING (token) CROSS JOIN total_err te
ORDER BY exact DESC, token ASC
"""


# ------------------------------------------------------------- coverage curve
# small cuts carry signal on the synthetic corpus's ~31-token vocabulary;
# 1000 exercises the cut-past-vocabulary contract (no row, both engines)
COVERAGE_CUTS = (5, 10, 20, 1000)


def docs_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative vocabulary-coverage curve: what fraction of all token
    OCCURRENCES the top-k most frequent token types cover, read out at
    k in {COVERAGE_CUTS} — the Zipf-coverage readout behind tokenizer
    vocabulary sizing and stopword-list design (complements
    textstats_zipf_fit, which fits the law's exponent; this measures the
    mass the head actually covers).

    Plan: one token hash agg (corpus-sized shuffle on the uniform token
    key), then rank + running-sum windows over the VOCABULARY-grain
    relation — vocabulary is sublinear in corpus size (Heaps' law), the
    standard bounded-window argument, same as the zipf fit. Ties broken
    by token text so ranks are total-order deterministic. A cut larger
    than the vocabulary emits no row in either engine (identical row
    sets by construction)."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # Scale shape (round 11, VERDICT r10 item 3/5): ranks and running sums
    # are only ever READ OUT at k <= max(COVERAGE_CUTS), so the global
    # vocabulary-grain sort is unnecessary — take the top-M by
    # (f desc, token asc) via orderBy().limit(M) (TakeOrderedAndProject:
    # per-partition heaps + driver merge, NO full sort, no WindowExec over
    # the vocabulary) and window over that M-row relation. M is a fixed
    # readout constant, not data-dependent, so the one-task window is
    # bounded regardless of corpus size; vocab_size/total_occurrences come
    # from a separate 1-row aggregate of the full frequency relation
    # (broadcast back). Row-identical to the global form: the total order
    # is deterministic, so rank<=M rows agree, and a cut larger than the
    # vocabulary emits no row in either shape.
    m = max(COVERAGE_CUTS)
    tot = freq.agg(
        F.sum("f").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    topm = freq.orderBy(F.desc("f"), F.asc("token")).limit(m)
    wrank = W.orderBy(F.desc("f"), F.asc("token"))
    wcum = wrank.rowsBetween(W.unboundedPreceding, 0)
    ranked = topm.select(
        "token",
        "f",
        F.row_number().over(wrank).alias("k"),
        F.sum("f").over(wcum).alias("cum"),
    ).crossJoin(F.broadcast(tot))
    return (
        ranked.filter(F.col("k").isin(*COVERAGE_CUTS))
        .select(
            "k",
            F.col("cum").alias("cum_occurrences"),
            F.expr(dl.round_ratio(dl.SPARK, "cum", "total")).alias("coverage"),
            F.col("vocab").alias("vocab_size"),
            F.col("total").alias("total_occurrences"),
        )
        .orderBy("k")
    )


def _oracle_coverage_curve() -> str:
    d = dl.DUCK
    cuts = ", ".join(str(k) for k in COVERAGE_CUTS)
    return f"""
WITH freq AS (
  SELECT token, count(*) AS f FROM (
    SELECT unnest({dl.split_ws(d, 'text')}) AS token FROM documents
  ) GROUP BY 1
), ranked AS (
  SELECT token, f,
    row_number() OVER (ORDER BY f DESC, token ASC) AS k,
    sum(f) OVER (ORDER BY f DESC, token ASC ROWS UNBOUNDED PRECEDING) AS cum,
    sum(f) OVER () AS total, count(*) OVER () AS vocab
  FROM freq
)
SELECT CAST(k AS INT) AS k, CAST(cum AS BIGINT) AS cum_occurrences,
  {dl.round_ratio(d, 'cum', 'total')} AS coverage,
  CAST(vocab AS BIGINT) AS vocab_size, CAST(total AS BIGINT) AS total_occurrences
FROM ranked WHERE k IN ({cuts}) ORDER BY k
"""


# ---------------------------------------------------------------- burstiness
BURST_TOP = 20
BURST_MIN_DF = 20      # document-frequency floor (singleton noise gate)
BURST_Q = 10_000       # VMR quantized to 1e-4 before ranking


def textstats_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness (Church & Gale 1995): the variance-to-mean ratio
    of a token's per-document count, zeros included — VMR ~ 1 means the
    token arrives Poisson-like (function words); VMR >> 1 means it
    CLUMPS into few documents (content/topic words). The
    dispersion-based keyword signal that complements frequency (TF-IDF)
    and phrase structure (RAKE) — and a corpus-health check: boilerplate
    contamination shows up as extreme-VMR tokens.

    Exact arithmetic: with N docs, s1 = sum of counts, s2 = sum of
    squared counts, VMR = (N*s2 - s1^2) / (N*s1) — non-negative by
    Cauchy-Schwarz, so the half-up integer quantization (round_ratio's
    internals) applies directly; ranking is on the quantized integer
    with token tie-break. Overflow bound: s1^2 stays in BIGINT to
    ~3e9 total occurrences per token; past that pre-scale counts.

    Scale: one (doc, token) count agg, one token-grain agg (vocabulary
    bounded), a 1-row doc-count broadcast, TakeOrdered top-k. Nothing
    data-sized past the first agg."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = (
        docs.select(
            "doc_id", F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok = per_doc.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    ndocs = docs.groupBy().agg(F.count(F.lit(1)).alias("nd"))
    scored = (
        tok.crossJoin(F.broadcast(ndocs))
        .filter(F.col("df") >= BURST_MIN_DF)
        .withColumn(
            "vmr_q",
            F.expr(
                f"(2 * (nd * s2 - s1 * s1) * {BURST_Q} + (nd * s1)) "
                f"DIV (2 * (nd * s1))"
            ),
        )
    )
    return (
        scored.orderBy(F.desc("vmr_q"), F.asc("w"))
        .limit(BURST_TOP)
        .select(
            F.col("w").alias("token"),
            "df",
            F.col("s1").alias("total_count"),
            (F.col("vmr_q") / F.lit(float(BURST_Q))).alias("vmr"),
        )
    )


def _oracle_burstiness() -> str:
    d = dl.DUCK
    return f"""
WITH per_doc AS (
  SELECT doc_id, w, count(*) AS c FROM (
    SELECT doc_id, {dl.unnest(d, dl.split_ws(d, 'text'))} AS w FROM documents
  ) GROUP BY 1, 2
), tok AS (
  SELECT w, count(*) AS df, sum(c) AS s1, sum(c * c) AS s2
  FROM per_doc GROUP BY 1
), nd AS (
  SELECT count(*) AS nd FROM documents
), scored AS (
  SELECT w, df, s1,
    (2 * (nd.nd * s2 - s1 * s1) * {BURST_Q} + (nd.nd * s1))
      // (2 * (nd.nd * s1)) AS vmr_q
  FROM tok CROSS JOIN nd
  WHERE df >= {BURST_MIN_DF}
)
SELECT w AS token, CAST(df AS BIGINT) AS df, CAST(s1 AS BIGINT) AS total_count,
  CAST(vmr_q AS DOUBLE) / {BURST_Q} AS vmr
FROM scored ORDER BY vmr_q DESC, w ASC LIMIT {BURST_TOP}
"""


# ---------------------------------------------------------------- RAKE
RAKE_TOP = 20
RAKE_Q = 1_000_000  # word scores quantized to integer ppm before summing


def textstats_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs (gaps-islands
    on token position), word score = deg(w)/freq(w) with deg the summed
    length of every phrase containing the word, phrase score = sum of
    member word scores; readout = the corpus top-RAKE_TOP phrases with
    occurrence counts. The unsupervised keyword layer on top of the
    TF-IDF/BM25 machinery — what a corpus-exploration UI shows per slice.

    Float discipline: word scores are quantized to integer ppm
    (half-up (2*deg*1e6+freq) DIV (2*freq)) BEFORE the phrase sum, so
    phrase scores are exact BIGINTs; the top-k orders on that integer
    with phrase-text tie-break.

    Scale: the island window partitions by doc (a task sees one doc's
    tokens); word stats are a vocabulary-bounded agg whose result
    broadcasts back onto the token stream; the phrase agg is keyed
    (doc, island) — per-doc grain; the final top-k is a TakeOrdered over
    phrase-grain rows. Nothing data-wide rides a single task."""
    from pyspark.sql.window import Window as W

    d = dl.SPARK
    # fan_out_small (r14): tokenize + posexplode ran as ONE task on the
    # single-row-group fixture, and the first exchange above it moves
    # token-grain rows (larger than the text itself). Fan the slim
    # doc-grain projection out first.
    docs = fan_out_small(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr(dl.split_ws(d, "text"))).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    content = toks.filter(~F.col("w").isin(*STOPWORDS))
    isl = content.withColumn(
        "grp",
        F.col("pos") - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    ).withColumn("len", F.count(F.lit(1)).over(W.partitionBy("doc_id", "grp")))
    wscore = (
        isl.groupBy("w")
        .agg(F.sum("len").alias("deg"), F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            F.expr(
                f"(2 * deg * {RAKE_Q} + freq) DIV (2 * freq)"
            ).alias("q"),
        )
    )
    ph = (
        isl.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "grp")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, w))), "
                "p -> p.w), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("q").alias("score_fp"),
        )
    )
    return (
        ph.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score_fp").alias("score_fp"),
        )
        .orderBy(F.desc("score_fp"), F.asc("phrase"))
        .limit(RAKE_TOP)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            (F.col("score_fp") / F.lit(float(RAKE_Q))).alias("score"),
        )
    )


def _oracle_rake() -> str:
    stop_lst = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(generate_series(1, len(t))) AS pos, unnest(t) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
), content AS (
  SELECT * FROM toks WHERE w NOT IN ({stop_lst})
), isl AS (
  SELECT doc_id, pos, w,
    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM content
), isl2 AS (
  SELECT *, count(*) OVER (PARTITION BY doc_id, grp) AS len FROM isl
), wsc AS (
  SELECT w, (2 * sum(len) * {RAKE_Q} + count(*)) // (2 * count(*)) AS q
  FROM isl2 GROUP BY 1
), ph AS (
  SELECT i.doc_id, i.grp, string_agg(i.w, ' ' ORDER BY i.pos) AS phrase,
    count(*) AS n_words, sum(s.q) AS score_fp
  FROM isl2 i JOIN wsc s ON s.w = i.w GROUP BY 1, 2
)
SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
  count(*) AS n_occurrences,
  CAST(max(score_fp) AS DOUBLE) / {RAKE_Q} AS score
FROM ph GROUP BY 1
ORDER BY max(score_fp) DESC, phrase LIMIT {RAKE_TOP}
"""


# ---------------------------------------------------------------- PMI
COLL_TOP = 20
COLL_MIN = 5        # bigram count floor (PMI's singleton bias gate)
COLL_Q = 10_000     # lift ratio quantized to 1e-4 before ranking


def textstats_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information (Church &
    Hanks 1990): PMI = ln(N * c_xy / (c_x * c_y)) over corpus bigrams —
    the lift-based phrase detector that complements raw bigram counts
    (textstats_bigrams ranks "of the"; PMI ranks the pairs that occur
    together far MORE than their unigram frequencies predict). The
    count floor is PMI's standard rare-pair bias gate.

    Determinism: ranking is on the exact integer lift ratio
    lift_q = (N * c_xy * Q) DIV (c_x * c_y) — pure BIGINT, no float in
    the ordering; the displayed pmi is one shared ln() over that same
    integer. Overflow: N * c_xy * Q fits BIGINT to ~N*c_xy = 9e14
    token-pair mass; past that drop Q to 1e2 or promote to DECIMAL.

    Scale: bigram + unigram hash aggs off the shared tokenized/bigram
    staging relations; two vocabulary-grain equi-joins; the 1-row
    corpus total rides a broadcast; TakeOrdered top-k."""
    from .dedup import tokenized_docs_staging  # shared tokenize-once staging

    bg = bigram_instance_staging(spark, sf_dir)
    toks = tokenized_docs_staging(spark, sf_dir).select(
        F.explode("toks").alias("w")
    )
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    ntot = toks.groupBy().agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= COLL_MIN)
        .withColumn("w1", F.expr("split_part(bigram, ' ', 1)"))
        .withColumn("w2", F.expr("split_part(bigram, ' ', 2)"))
    )
    scored = (
        pairs.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(ntot))
        .withColumn(
            "lift_q", F.expr(f"(n * c_xy * {COLL_Q}) DIV (c_x * c_y)")
        )
    )
    return (
        scored.orderBy(F.desc("lift_q"), F.asc("bigram"))
        .limit(COLL_TOP)
        .selectExpr(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            f"round(ln(CAST(lift_q AS DOUBLE) / {COLL_Q}), 4) AS pmi",
        )
    )


def _oracle_collocation_pmi() -> str:
    d = dl.DUCK
    from .dedup import shingles_sql

    return f"""
WITH tokd AS (
  SELECT doc_id, {dl.split_ws(d, 'text')} AS toks FROM documents
), uni AS (
  SELECT w, count(*) AS c FROM (
    SELECT {dl.unnest(d, 'toks')} AS w FROM tokd
  ) GROUP BY 1
), ntot AS (
  SELECT sum(c) AS n FROM uni
), pairs AS (
  SELECT bigram, count(*) AS c_xy,
    split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
  FROM (SELECT {dl.unnest(d, shingles_sql(d, 'toks', 2))} AS bigram FROM tokd)
  GROUP BY 1 HAVING count(*) >= {COLL_MIN}
), scored AS (
  SELECT bigram, c_xy, u1.c AS c_x, u2.c AS c_y,
    ((n * c_xy * {COLL_Q}) // (u1.c * u2.c)) AS lift_q
  FROM pairs
  JOIN uni u1 ON u1.w = pairs.w1
  JOIN uni u2 ON u2.w = pairs.w2
  CROSS JOIN ntot
)
SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy, CAST(c_x AS BIGINT) AS c_x,
  CAST(c_y AS BIGINT) AS c_y,
  round(ln(CAST(lift_q AS DOUBLE) / {COLL_Q}), 4) AS pmi
FROM scored ORDER BY lift_q DESC, bigram ASC LIMIT {COLL_TOP}
"""


# ---------------------------------------------------------------- JSD drift
JSD_Q = 10**12  # per-cell divergence terms quantized before the SUM


def docs_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus drift: Jensen-Shannon divergence (in bits)
    between each source's unigram distribution p and the complement
    corpus q — the bounded, symmetric KL the mixing/rebalancing stage
    reads (docs_mixture_weights decides proportions; this measures how
    far each slice actually is from the rest). JSD in [0, 1] bits.

    Unobserved-token closure: tokens absent from a source contribute
    exactly 0.5*q*ln2 each, so JSD = 0.5*ln2 + sum over OBSERVED
    (source, token) cells of 0.5*(p*ln(p/m) + q*ln(q/m) - q*ln2) —
    the full vocabulary grid is never materialized. Each cell term is
    one shared IEEE expression over exact counts, floor-quantized to
    1e-12 fixed point before the SUM (partial-agg order independence,
    the ENT_SCALE convention; |error| <= vocab * 1e-12).

    Scale: one (source, token) hash agg; the corpus token marginal is a
    vocabulary-grain re-agg; per-source totals ride a broadcast
    source-grain join and the corpus total a 1-row broadcast."""
    from .dedup import tokenized_docs_staging  # shared tokenize-once staging

    cells = (
        tokenized_docs_staging(spark, sf_dir)
        .select("source", F.explode("toks").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c_sw"))
    )
    cw = cells.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    ts_ = cells.groupBy("source").agg(F.sum("c_sw").alias("t_s"))
    tt = cw.groupBy().agg(F.sum("c_w").alias("t"))
    p = "(CAST(c_sw AS DOUBLE) / t_s)"
    q = "(CAST(c_w - c_sw AS DOUBLE) / (t - t_s))"
    m = f"(({p} + {q}) / 2)"
    term = (
        f"0.5 * ({p} * ln({p} / {m}) + CASE WHEN c_w > c_sw "
        f"THEN {q} * ln({q} / {m}) - {q} * ln(2.0) ELSE 0.0 END)"
    )
    scored = (
        cells.join(cw, "w")
        .join(F.broadcast(ts_), "source")
        .crossJoin(F.broadcast(tt))
        .withColumn("tq", F.expr(f"CAST(floor(({term}) * {JSD_Q}) AS BIGINT)"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.max("t_s").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum("tq").alias("stq"),
        )
        .selectExpr(
            "source",
            "n_tokens",
            "vocab",
            f"round((0.5 * ln(2.0) + CAST(stq AS DOUBLE) / {JSD_Q}) / ln(2.0), 4)"
            " AS jsd_bits",
        )
        .orderBy("source")
    )


def _oracle_jsd_drift() -> str:
    d = dl.DUCK
    p = "(CAST(c_sw AS DOUBLE) / t_s)"
    q = "(CAST(c_w - c_sw AS DOUBLE) / (t - t_s))"
    m = f"(({p} + {q}) / 2)"
    term = (
        f"0.5 * ({p} * ln({p} / {m}) + CASE WHEN c_w > c_sw "
        f"THEN {q} * ln({q} / {m}) - {q} * ln(2.0) ELSE 0.0 END)"
    )
    return f"""
WITH cells AS (
  SELECT source, w, count(*) AS c_sw FROM (
    SELECT source, {dl.unnest(d, dl.split_ws(d, 'text'))} AS w FROM documents
  ) GROUP BY 1, 2
), cw AS (
  SELECT w, sum(c_sw) AS c_w FROM cells GROUP BY 1
), ts_ AS (
  SELECT source, sum(c_sw) AS t_s FROM cells GROUP BY 1
), tt AS (
  SELECT sum(c_w) AS t FROM cw
), scored AS (
  SELECT cells.source, CAST(floor(({term}) * {JSD_Q}) AS BIGINT) AS tq, t_s
  FROM cells
  JOIN cw ON cw.w = cells.w
  JOIN ts_ ON ts_.source = cells.source
  CROSS JOIN tt
)
SELECT source, CAST(max(t_s) AS BIGINT) AS n_tokens,
  count(*) AS vocab,
  round((0.5 * ln(2.0) + CAST(sum(tq) AS DOUBLE) / {JSD_Q}) / ln(2.0), 4)
    AS jsd_bits
FROM scored GROUP BY 1 ORDER BY source
"""


# ---------------------------------------------------------------- TTR/hapax
def docs_ttr_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: type-token ratio, hapax
    legomena share (tokens seen exactly once), and dis legomena (seen
    twice) — the corpus-linguistics health panel (a scraped slice full
    of boilerplate shows LOW ttr + LOW hapax share; OCR noise or spam
    shows abnormally HIGH hapax). Complements docs_jsd_drift (which
    measures distribution distance, not richness) on the same grain.

    Exact arithmetic: everything is counts of counts; ratios are
    half-up integer round_ratio.

    Scale: one (source, token) hash agg, then a source-grain re-agg —
    per-source vocabulary bounded, nothing data-sized after the first
    agg."""
    from .dedup import tokenized_docs_staging  # shared tokenize-once staging

    cells = (
        tokenized_docs_staging(spark, sf_dir)
        .select("source", F.explode("toks").alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d = dl.SPARK
    return (
        cells.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.sum((F.col("c") == 1).cast("long")).alias("hapax"),
            F.sum((F.col("c") == 2).cast("long")).alias("dis"),
        )
        .selectExpr(
            "source",
            "n_tokens",
            "vocab",
            "hapax",
            "dis",
            f"{dl.round_ratio(d, 'vocab', 'n_tokens')} AS ttr",
            f"{dl.round_ratio(d, 'hapax', 'vocab')} AS hapax_share",
        )
        .orderBy("source")
    )


def _oracle_ttr_hapax() -> str:
    d = dl.DUCK
    return f"""
WITH cells AS (
  SELECT source, w, count(*) AS c FROM (
    SELECT source, {dl.unnest(d, dl.split_ws(d, 'text'))} AS w FROM documents
  ) GROUP BY 1, 2
)
SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
  {dl.round_ratio(d, 'count(*)', 'sum(c)')} AS ttr,
  {dl.round_ratio(d, 'sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)', 'count(*)')} AS hapax_share
FROM cells GROUP BY 1 ORDER BY source
"""



HEAPS_POINTS = 10   # geometric corpus-prefix checkpoints for the fit
HEAPS_Q = 10**9     # per-point log-term quantization


def textstats_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit — how fast the vocabulary grows with the corpus:
    V(N) ~ k * N^beta, fitted by log-log OLS over HEAPS_POINTS
    geometric corpus-prefix checkpoints (prefix = the first n docs in
    doc_id order, so the "growth curve" is deterministic and
    re-runnable). beta ~0.5 is typical natural text; beta near 1 means
    near-unbounded novelty (OCR noise, ids), near 0 a closed
    vocabulary — the one-number answer to "will the BPE vocab / hash
    width we sized still fit at 10x the corpus", which is exactly the
    ml_feature_hash_tradeoff question projected forward.

    Exactness: each token's FIRST document (min doc_id) is exact; a
    checkpoint's vocab count is a plain filter-count; token totals per
    prefix likewise. The log-log OLS runs over HEAPS_POINTS exact
    (ln N, ln V) pairs with per-point terms quantized to 1e-9 before
    the sums (ln is libm but is evaluated on identical exact integers
    in both engines — same convention as the JSD/MI quantizations).

    Scale: one tokenize pass (shared staging), one token-grain min-agg,
    then everything is checkpoint-grain (10 rows)."""
    from .dedup import tokenized_docs_staging

    toks = tokenized_docs_staging(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("w")
    )
    n_docs = toks.agg(F.max("doc_id")).first()[0] + 1  # scalar model-state
    # INTEGER linear grid (nd*i DIV 10): derivable by the same exact
    # arithmetic inside the oracle SQL — a pow()-based geometric grid
    # would hinge on libm rounding at the driver/duck boundary
    checkpoints = sorted(
        {max(1, (n_docs * i) // HEAPS_POINTS) for i in range(1, HEAPS_POINTS + 1)}
    )
    first = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    tok_per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    # one pass per relation (r14): every checkpoint's vocab / token count
    # is a CONDITIONAL aggregate over the same token-grain relations —
    # before, each of the HEAPS_POINTS branches re-executed the full
    # explode + agg subplan (~2 x HEAPS_POINTS corpus passes per run).
    # Exact equivalence: count(when(first_doc < cp, 1)) == the filtered
    # count (0 when empty), sum(when(doc_id < cp, nt)) == the filtered
    # sum (NULL when empty — dropped by the n_tokens > 0 filter, as the
    # old NULL sum was).
    v_row = first.agg(
        *[
            F.count(F.when(F.col("first_doc") < cp, F.lit(1))).alias(f"v_{i}")
            for i, cp in enumerate(checkpoints)
        ]
    )
    n_row = tok_per_doc.agg(
        *[
            F.sum(F.when(F.col("doc_id") < cp, F.col("nt"))).alias(f"n_{i}")
            for i, cp in enumerate(checkpoints)
        ]
    )
    stack_args = ", ".join(
        f"CAST({cp} AS BIGINT), v_{i}, n_{i}" for i, cp in enumerate(checkpoints)
    )
    pts = v_row.join(n_row).selectExpr(
        f"stack({len(checkpoints)}, {stack_args}) AS (prefix_docs, vocab, n_tokens)"
    )
    pts = pts.filter(F.col("n_tokens") > 0).selectExpr(
        "prefix_docs",
        "vocab",
        "n_tokens",
        f"CAST(round(ln(CAST(n_tokens AS DOUBLE)) * {HEAPS_Q}) AS BIGINT) AS lx",
        f"CAST(round(ln(CAST(vocab AS DOUBLE)) * {HEAPS_Q}) AS BIGINT) AS ly",
    )
    fit = pts.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.expr("CAST(lx AS DOUBLE) * ly")).alias("sxy"),
        F.sum(F.expr("CAST(lx AS DOUBLE) * lx")).alias("sxx"),
    )
    beta = (
        "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
        "/ (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
    )
    k = f"exp((CAST(sy AS DOUBLE) - {beta} * sx) / n / {HEAPS_Q})"
    return fit.selectExpr(
        "n AS n_points",
        f"round({beta}, 4) AS heaps_beta",
        f"round({k}, 4) AS heaps_k",
    )


def _oracle_heaps() -> str:
    beta = (
        "((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) "
        "/ (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))"
    )
    k = f"exp((CAST(sy AS DOUBLE) - {beta} * sx) / n / {HEAPS_Q})"
    return f"""
WITH nd AS (SELECT max(doc_id) + 1 AS n FROM documents),
cps AS (
  SELECT DISTINCT greatest(1, (nd.n * i) // {HEAPS_POINTS}) AS cp
  FROM nd, (SELECT unnest(generate_series(1, {HEAPS_POINTS})) AS i)
), tokd AS (
  SELECT doc_id, {dl.split_ws(dl.DUCK, 'text')} AS toks FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS w FROM tokd
), first AS (
  SELECT w, min(doc_id) AS first_doc FROM tok GROUP BY w
), tpd AS (
  SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id
), pts AS (
  SELECT c.cp AS prefix_docs,
    (SELECT count(*) FROM first f WHERE f.first_doc < c.cp) AS vocab,
    (SELECT coalesce(CAST(sum(nt) AS BIGINT), 0) FROM tpd t
       WHERE t.doc_id < c.cp) AS n_tokens
  FROM cps c
), lg AS (
  SELECT prefix_docs, vocab, n_tokens,
    CAST(round(ln(CAST(n_tokens AS DOUBLE)) * {HEAPS_Q}) AS BIGINT) AS lx,
    CAST(round(ln(CAST(vocab AS DOUBLE)) * {HEAPS_Q}) AS BIGINT) AS ly
  FROM pts WHERE n_tokens > 0
), fit AS (
  SELECT count(*) AS n,
    CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
    sum(CAST(lx AS DOUBLE) * ly) AS sxy,
    sum(CAST(lx AS DOUBLE) * lx) AS sxx
  FROM lg
)
SELECT n AS n_points,
  round({beta}, 4) AS heaps_beta,
  round({k}, 4) AS heaps_k
FROM fit
"""



QUERIES = {
    "textstats_heaps_law": textstats_heaps_law,
    "textstats_rake_keyphrases": textstats_rake_keyphrases,
    "textstats_burstiness": textstats_burstiness,
    "textstats_collocation_pmi": textstats_collocation_pmi,
    "docs_jsd_drift": docs_jsd_drift,
    "docs_ttr_hapax": docs_ttr_hapax,
    "docs_vocab_coverage_curve": docs_vocab_coverage_curve,
    "docs_heavy_hitters": docs_heavy_hitters,
    "docs_ngram_novelty": docs_ngram_novelty,
    "textstats_lm_score": textstats_lm_score,
    "textstats_bpe_merges": textstats_bpe_merges,
    "textstats_bpe_induction": textstats_bpe_induction,
    "textstats_bpe_apply": textstats_bpe_apply,
    "textstats_winnowing": textstats_winnowing,
    "docs_tokenize_to_ids": docs_tokenize_to_ids,
    "textstats_bigrams": textstats_bigrams,
    "textstats_tfidf": textstats_tfidf,
    "textstats_langid": textstats_langid,
    "textstats_quality": textstats_quality,
    "textstats_token_hist": textstats_token_hist,
    "textstats_token_count_regex": textstats_token_count_regex,
    "textstats_fingerprint": textstats_fingerprint,
    "textstats_repetition": textstats_repetition,
    "textstats_bm25": textstats_bm25,
    "textstats_inverted_index": textstats_inverted_index,
    "docs_chunking": docs_chunking,
    "docs_pack_bins": docs_pack_bins,
    "docs_ccnet_buckets": docs_ccnet_buckets,
    "textstats_zipf_fit": textstats_zipf_fit,
}

ORACLES = {
    "textstats_heaps_law": _oracle_heaps(),
    "textstats_rake_keyphrases": _oracle_rake(),
    "textstats_burstiness": _oracle_burstiness(),
    "textstats_collocation_pmi": _oracle_collocation_pmi(),
    "docs_jsd_drift": _oracle_jsd_drift(),
    "docs_ttr_hapax": _oracle_ttr_hapax(),
    "docs_vocab_coverage_curve": _oracle_coverage_curve(),
    "docs_heavy_hitters": _oracle_heavy_hitters(),
    "docs_ngram_novelty": _oracle_ngram_novelty(),
    "textstats_lm_score": _oracle_lm_score(),
    "textstats_bpe_merges": _oracle_bpe_merges(),
    "textstats_bpe_induction": _oracle_bpe_induction(),
    "textstats_bpe_apply": _oracle_bpe_apply(),
    "textstats_winnowing": _oracle_winnowing(),
    "docs_tokenize_to_ids": _oracle_tokenize_ids(),
    "textstats_bigrams": _oracle_bigrams(),
    "textstats_tfidf": _oracle_tfidf(),
    "textstats_langid": _oracle_langid(),
    "textstats_quality": _oracle_quality(),
    "textstats_token_hist": ORACLE_TOKEN_HIST,
    "textstats_token_count_regex": _oracle_token_count_regex(),
    "textstats_fingerprint": _oracle_fingerprint(),
    "textstats_repetition": _oracle_repetition(),
    "textstats_bm25": _oracle_bm25(),
    "textstats_inverted_index": _oracle_inverted_index(),
    "docs_chunking": _oracle_chunking(),
    "docs_pack_bins": _oracle_pack_bins(),
    "docs_ccnet_buckets": _oracle_ccnet(),
    "textstats_zipf_fit": _oracle_zipf(),
}
