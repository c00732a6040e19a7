"""Corpus-cleaning operators a training-data pipeline runs before anything
else: PII redaction, a C4/Gopher-style quality gate, and mixture weighting.

These generalize the reference's cleaning chain (proc:224-228 regex scrub,
proc:218 token filter) into the governed-text steps of a 100 TB pipeline:

- PII redaction is pure regexp column work — one scan, zero shuffles,
  whole-stage codegen end to end.
- The quality gate makes its keep/drop decision with INTEGER comparisons
  only (``(n - n_distinct) * 100 > 65 * n`` instead of ``dup_frac > 0.65``)
  so the boundary cases cannot diverge between engines or flap with float
  rounding; the funnel output (one row per (lang, verdict)) is what a
  pipeline logs next to the filtered dataset.
- Mixture weighting computes per-(lang, source) sampling shares with
  temperature sqrt-scaling, all in exact integer arithmetic: the weight is
  ``floor(sqrt(tokens))`` (IEEE sqrt is correctly rounded, so both engines
  floor the identical double) and every share is an integer-ratio round
  (dialect.round_ratio) — no order-dependent double summation anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..audit import audit_plan
from ..functions import dialect as dl
from ..sources.loaders import bucket_ranked, fan_out_small, load_table
from ..staging import staged

# PII patterns, shared verbatim by both engines (no backslash classes, so
# the literal is identical in Java regex and RE2).
PHONE_PATTERN = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
EMAIL_PATTERN = "[a-z0-9.]+@[a-z0-9.]+[a-z]"

# The synthetic tables carry no PII-shaped columns, so the redaction input
# is the customer record rendered the way a support-ticket dump would render
# it: free text + a deterministic key-derived contact line (phone digits
# from c_custkey, email from c_name). Both engines build the identical
# string, so the oracle verifies the actual regex scrub.


def _raw_sql(d: str) -> str:
    vtype = "STRING" if d == dl.SPARK else "VARCHAR"

    def digits(expr: str, width: int) -> str:
        return f"lpad(CAST(({expr}) % {10 ** width} AS {vtype}), {width}, '0')"

    phone = (
        f"concat({digits('c_custkey', 2)}, '-', {digits('c_custkey * 7', 3)}, "
        f"'-', {digits('c_custkey * 13', 3)}, '-', {digits('c_custkey * 31', 4)})"
    )
    email = "concat(lower(replace(substr(c_name, 1, 18), '#', '.')), '@corp.example')"
    return (
        f"concat(c_mktsegment, ' account for ', c_name, "
        f"' please call ', {phone}, ' or mail ', {email}, ' to follow up')"
    )


def _redact_sql(d: str) -> dict[str, str]:
    raw = _raw_sql(d)
    g = "" if d == dl.SPARK else ", 'g'"  # DuckDB replaces first-only by default
    phone_clean = f"regexp_replace({raw}, '{PHONE_PATTERN}', '[PHONE]'{g})"
    clean = f"regexp_replace({phone_clean}, '{EMAIL_PATTERN}', '[EMAIL]'{g})"
    extract_all = (
        (lambda p: f"regexp_extract_all({raw}, '{p}', 0)")
        if d == dl.SPARK
        else (lambda p: f"regexp_extract_all({raw}, '{p}')")
    )
    return {
        "n_phone_hits": f"CAST({dl.arr_size(d, extract_all(PHONE_PATTERN))} AS INT)",
        "n_email_hits": f"CAST({dl.arr_size(d, extract_all(EMAIL_PATTERN))} AS INT)",
        "clean_text": clean,
    }


def docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record PII scrub: count phone/email matches and emit the redacted
    text. Row-parallel regexp projections — the shape of every PII pass at
    scale (no shuffle; the regexes run inside whole-stage codegen)."""
    cust = load_table(spark, sf_dir, "customer")
    cols = _redact_sql(dl.SPARK)
    return cust.select(
        "c_custkey", *[F.expr(sql).alias(name) for name, sql in cols.items()]
    )


def _oracle_pii_redact() -> str:
    cols = _redact_sql(dl.DUCK)
    sel = ",\n  ".join(f"{sql} AS {name}" for name, sql in cols.items())
    return f"SELECT c_custkey,\n  {sel}\nFROM customer"


# Quality-gate thresholds (calibrated on the corpus so every verdict bucket
# is non-empty at sf>=0.01: token count p02=12/p95=94, dup-frac p90=0.68,
# stopword-ratio p95=0.125). All comparisons are integer-exact.
MIN_TOKENS = 12
MAX_TOKENS = 94
DUP_FRAC_PCT = 65        # drop when (n - n_distinct) * 100 > 65 * n
STOPWORD_PCT = 15        # drop when n_stopwords * 100 > 15 * n
MIN_AVG_TOKEN_LEN = 3    # drop when charsum < 3 * n  (charsum = len - n + 1)
MAX_AVG_TOKEN_LEN = 6    # drop when charsum > 6 * n


def _verdict_sql(d: str) -> str:
    from .textstats import STOPWORDS  # single source of truth for the list

    toks = dl.split_ws(d, "text")
    n = f"CAST({dl.arr_size(d, toks)} AS BIGINT)"
    nd = f"CAST({dl.arr_size(d, dl.arr_distinct(d, toks))} AS BIGINT)"
    stop_lst = ", ".join(f"'{s}'" for s in STOPWORDS)
    arr = "array" if d == dl.SPARK else "list_value"
    nstop = (
        f"CAST({dl.arr_size(d, dl.arr_filter(d, toks, 't', dl.arr_contains(d, f'{arr}({stop_lst})', 't')))} AS BIGINT)"
    )
    charsum = f"(length(text) - {n} + 1)"
    return (
        f"(CASE WHEN {n} < {MIN_TOKENS} THEN 'too_short' "
        f"WHEN {n} > {MAX_TOKENS} THEN 'too_long' "
        f"WHEN ({n} - {nd}) * 100 > {DUP_FRAC_PCT} * {n} THEN 'too_repetitive' "
        f"WHEN {nstop} * 100 > {STOPWORD_PCT} * {n} THEN 'too_stopwordy' "
        f"WHEN {charsum} < {MIN_AVG_TOKEN_LEN} * {n} THEN 'tokens_too_short' "
        f"WHEN {charsum} > {MAX_AVG_TOKEN_LEN} * {n} THEN 'tokens_too_long' "
        f"ELSE 'kept' END)"
    )


def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality gate: first-failing-rule verdict per doc,
    aggregated to the (lang, verdict) funnel a pipeline logs. One scan, one
    small agg shuffle; every rule is an integer comparison (no float
    thresholds to diverge at boundaries)."""
    docs = load_table(spark, sf_dir, "documents")
    verdict = F.expr(_verdict_sql(dl.SPARK))
    n_tok = F.size(F.expr(dl.split_ws(dl.SPARK, "text")))
    return (
        docs.select("lang", verdict.alias("verdict"), n_tok.alias("n_tok"))
        .groupBy("lang", "verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


def _oracle_quality_filter() -> str:
    v = _verdict_sql(dl.DUCK)
    n = f"len({dl.split_ws(dl.DUCK, 'text')})"
    return f"""
SELECT lang, {v} AS verdict, count(*) AS n_docs,
  CAST(sum({n}) AS BIGINT) AS total_tokens
FROM documents GROUP BY 1, 2
"""


def docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture planner: per-(lang, source) token counts, the
    proportional sampling share, the sqrt-temperature share (upweights rare
    domains — the standard alpha=0.5 mixture), and the resulting boost
    factor. Group count is #langs x #sources (tiny), so the global-total
    window runs on a handful of rows; the only real shuffle is the one
    hash agg over the corpus. Exact integer arithmetic throughout:
    w = floor(sqrt(tokens)) is engine-identical (IEEE sqrt), and every
    share is an integer-ratio round."""
    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "lang", "source", F.size(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("n_tok")
        )
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "w", F.expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)")
        )
    )
    win = Window.partitionBy()  # global; runs over #lang x #source rows only
    g = g.withColumn("tot_tok", F.sum("n_tokens").over(win)).withColumn(
        "tot_w", F.sum("w").over(win)
    )
    d = dl.SPARK
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.expr(dl.round_ratio(d, "n_tokens", "tot_tok")).alias("token_share"),
        F.expr(dl.round_ratio(d, "w", "tot_w")).alias("temp_share"),
        F.expr(dl.round_ratio(d, "(w * tot_tok)", "(n_tokens * tot_w)")).alias("boost"),
    )


def _oracle_mixture_weights() -> str:
    d = dl.DUCK
    n = f"len({dl.split_ws(d, 'text')})"
    return f"""
WITH g AS (
  SELECT lang, source, count(*) AS n_docs,
    CAST(sum({n}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang, source
), w AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w FROM g
), tot AS (
  SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tok,
    CAST(sum(w) OVER () AS BIGINT) AS tot_w
  FROM w
)
SELECT lang, source, n_docs, n_tokens,
  {dl.round_ratio(d, 'n_tokens', 'tot_tok')} AS token_share,
  {dl.round_ratio(d, 'w', 'tot_w')} AS temp_share,
  {dl.round_ratio(d, '(w * tot_tok)', '(n_tokens * tot_w)')} AS boost
FROM tot
"""


def corpus_pipeline_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star composition in ONE declarative plan: quality gate →
    exact dedup → epoch-shard assignment → per-(shard, lang) accounting —
    i.e. the corpus-preparation pipeline a training run consumes, end to
    end (the `tweet_pipeline_flagship` of the 100 TB surface).

    Plan shape (the whole corpus in THREE stages): codegen'd scan+filter
    (verdict is pure column arithmetic, no shuffle), one hash shuffle on
    the content hash (dedup keeps min doc_id per identical text), one agg
    shuffle on (shard, lang). Every stage key is uniform (md5), every
    output an exact integer.

    r14 (guide: project before the exchange): the dedup window needs only
    the 32-char content hash, and everything downstream needs only
    (lang, source, n_tok) — both are computed MAP-SIDE before the window
    shuffle, so the exchange carries ~60 bytes/row instead of the full
    document text. Identical rows out: the window partitions by the same
    md5(text) value either way."""
    from pyspark.sql.window import Window

    from .sampling import SHUFFLE_SALT, SHUFFLE_SHARDS

    # r14 note: fanning this scan measured 1.13x (the verdict + content
    # hash are too light to pay for a full-text round-robin exchange);
    # left on the direct scan deliberately.
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(F.expr(_verdict_sql(dl.SPARK)) == "kept")
    n_tok = F.size(F.expr(dl.split_ws(dl.SPARK, "text")))
    slim = kept.select(
        "doc_id", "lang", "source", F.md5("text").alias("h"), n_tok.alias("n_tok")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    survivors = (
        slim.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    shard_key = f"md5(CAST(doc_id AS STRING) || '|' || '{SHUFFLE_SALT}')"
    shard = F.expr(
        f"{dl.hex_nibble(dl.SPARK, f'substr({shard_key}, 1, 1)')} % {SHUFFLE_SHARDS}"
    )
    return (
        survivors.select(
            shard.cast("int").alias("shard"),
            "lang",
            "source",
            "n_tok",
        )
        .groupBy("shard", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


def _oracle_corpus_flagship() -> str:
    from .sampling import SHUFFLE_SALT, SHUFFLE_SHARDS

    v = _verdict_sql(dl.DUCK)
    shard_key = f"md5(CAST(doc_id AS VARCHAR) || '|' || '{SHUFFLE_SALT}')"
    shard = f"({dl.hex_nibble(dl.DUCK, f'substr({shard_key}, 1, 1)')} % {SHUFFLE_SHARDS})"
    return f"""
WITH kept AS (
  SELECT * FROM documents WHERE {v} = 'kept'
), survivors AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
)
SELECT CAST({shard} AS INT) AS shard, lang, count(*) AS n_docs,
  CAST(sum(len({dl.split_ws(dl.DUCK, 'text')})) AS BIGINT) AS total_tokens,
  count(DISTINCT source) AS n_sources
FROM survivors GROUP BY 1, 2
"""


def corpus_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the ROUND-10 STREAMING corpus topology
    (streaming/corpus_stream.py): quality gate -> banded-MinHash NEAR-dup
    dedup -> per-(lang, source) accounting, as one oracle-gated plan.
    corpus_pipeline_flagship keeps its exact-hash dedup stage; this is the
    near-dup generalization a real ingest runs, with a greedy smaller-id
    keeper rule (a doc is dropped iff it has a verified match with a
    smaller doc_id — NOT connected components; that canonicalization is
    dedup_clusters' contract).

    Batch-vs-stream caveat (ADVICE r10): this batch rule and the streaming
    face's rule COINCIDE ONLY FOR CHAIN-FREE CORPORA. The streaming dedup
    indexes only SURVIVORS cross-batch, so on a chain a~b, b~c, a!~c that
    spans batches the stream KEEPS c (its only match, b, was itself
    dropped and never indexed), while this batch form drops c (b < c and
    b~c is a verified pair regardless of b's own fate). The planted
    fixtures in tests/test_streaming_corpus_pipeline.py use isolated pairs
    precisely so the equality test is well-defined; exact equality on
    chained corpora would require the stream to index dropped docs' bands
    too, which the survivors-only index deliberately avoids (it keeps the
    cross-batch state survivor-bounded). The divergence itself is PINNED
    EXECUTABLE (round 12): tests/test_corpus_chain_divergence.py plants a
    real a~b, b~c, a!~c chain through the actual MinHash machinery and
    asserts batch survivors {a} vs stream survivors {a, c}.

    Plan shape: codegen'd verdict filter (no shuffle) -> the
    dedup_minhash_pairs template over the KEPT slice (one banded
    self-join shuffling 3-column band rows, signatures re-joined for
    surviving candidates only) -> left_anti on the dropped ids -> one agg
    shuffle on (lang, source). The signature relation is localCheckpointed
    because three plan branches consume it (banded, sa, sb) — the
    union-fan-out rule."""
    from .dedup import (
        JACCARD_THRESHOLD,
        MINHASH_K,
        banded_rel,
        minhash_signatures_for,
        signature_match_count,
    )

    # fan_out_small (r14): the gate/normalize/shingle map work before
    # the first exchange ran as ONE task on the single-row-group fixture.
    docs = fan_out_small(load_table(spark, sf_dir, "documents"), spark)
    kept = docs.filter(F.expr(_verdict_sql(dl.SPARK)) == "kept")
    sig = minhash_signatures_for(kept.select("doc_id", "text")).localCheckpoint()
    banded = banded_rel(sig)
    cand = (
        banded.select(F.col("doc_id").alias("a"), "band_id", "band_key")
        .join(
            banded.select(F.col("doc_id").alias("b"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    hash_cols = [f"h{k}" for k in range(MINHASH_K)]
    sa = sig.select(
        F.col("doc_id").alias("a"), *[F.col(h).alias(f"a_{h}") for h in hash_cols]
    )
    sb = sig.select(
        F.col("doc_id").alias("b"), *[F.col(h).alias(f"b_{h}") for h in hash_cols]
    )
    est = F.round(signature_match_count("a", "b") / F.lit(MINHASH_K), 4)
    dropped = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("b").alias("doc_id"))
        .distinct()
    )
    # r14 (guide: project before the exchange): the anti-join is keyed on
    # doc_id and everything after it needs only (lang, source, n_tok) —
    # computing n_tok MAP-SIDE keeps the document text out of the
    # anti-join's shuffle of the full kept side (~28 bytes/row instead of
    # the text column). The join stays shuffled (dropped is corpus-growth
    # bounded, not broadcast-bounded at 100 TB); it just moves fewer bytes.
    n_tok = F.size(F.expr(dl.split_ws(dl.SPARK, "text")))
    slim = kept.select("doc_id", "lang", "source", n_tok.alias("n_tok"))
    survivors = slim.join(dropped, "doc_id", "left_anti")
    return (
        survivors.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


def _oracle_corpus_neardup() -> str:
    from .dedup import _oracle_pairs_ctes

    v = _verdict_sql(dl.DUCK)
    n = f"len({dl.split_ws(dl.DUCK, 'text')})"
    return f"""
WITH kept AS (
  SELECT * FROM documents WHERE {v} = 'kept'
), {_oracle_pairs_ctes("kept")},
dropped AS (
  SELECT DISTINCT b AS doc_id FROM dup_pairs
), survivors AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
)
SELECT lang, source, count(*) AS n_docs,
  CAST(sum({n}) AS BIGINT) AS n_tokens
FROM survivors GROUP BY lang, source
"""


DECON_MAX_CONTAM = 0.5  # drop a feed doc when more than half its distinct
# 3-grams appear in the eval split — at the test SFs this catches exactly
# the near-copies of eval documents (the planted cross-split duplicates),
# the contamination class a benchmark-hygiene pass exists to stop.


def corpus_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production ingest in ONE plan (round 12): quality gate ->
    DECONTAMINATION against the eval split -> banded-MinHash near-dup
    dedup -> per-(lang, source) accounting with per-stage drop counts.
    corpus_pipeline_neardup is this pipeline minus the decontamination
    stage; v4 adds the step every serious pretraining ingest runs between
    gating and dedup: never train on documents that leak the eval set
    (GPT-3 appendix C / Gopher section A.8 style n-gram overlap).

    Semantics: the eval split is bucket 0 of the deterministic md5-nibble
    assignment (dataset_split_assign's rule) and is EXTERNAL ground truth
    — its documents do not flow through the pipeline and its shingle set
    is NOT gated (a contaminated feed doc must be caught even when the
    eval doc it copies is one the quality gate would reject). A gated feed
    doc is dropped when > DECON_MAX_CONTAM of its distinct 3-grams appear
    in the eval shingle set; near-dup dedup then runs among the CLEAN
    docs only (greedy smaller-id keeper, corpus_pipeline_neardup's rule,
    including its chain caveat — tests/test_corpus_chain_divergence.py).

    Scale shape, stage by stage: gate is codegen'd column arithmetic (no
    shuffle); decontamination reduces the eval side to DISTINCT shingles
    before the join so each feed (doc, shingle) row matches at most once
    — linear in feed shingles, no df^2 term, the decontaminate_ngram_
    overlap design (the eval set is tiny by construction — one split
    bucket distinct-reduced — so the shingle relation is broadcast-HINTED,
    not left to AQE: plan-asserted in test_plans.py); dedup is the banded
    self-join shuffling only
    3-column band rows; accounting is ONE hash agg over the kept frame
    with status flags — the drop counts ride the same pass instead of
    per-stage joins against the output.

    Output per (lang, source): n_docs / n_tokens (survivors),
    n_contaminated, n_neardup_dropped."""
    from .dedup import (
        JACCARD_THRESHOLD,
        MINHASH_K,
        banded_rel,
        minhash_signatures_for,
        shingles_sql,
        signature_match_count,
    )

    # fan_out_small (r14): the gate/normalize/shingle map work before
    # the first exchange ran as ONE task on the single-row-group fixture.
    docs = fan_out_small(load_table(spark, sf_dir, "documents"), spark)
    bucket = F.expr(dl.md5_prefix_nibble(dl.SPARK, "CAST(doc_id AS STRING)"))
    eval_sh = (
        docs.filter(bucket == 0)
        .select(F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks"))
        .select(
            F.explode(
                F.expr(dl.arr_distinct(dl.SPARK, shingles_sql(dl.SPARK, "toks")))
            ).alias("sh")
        )
        .distinct()
    )
    kept = docs.filter(bucket != 0).filter(
        F.expr(_verdict_sql(dl.SPARK)) == "kept"
    )
    ksh = kept.select(
        "doc_id", F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(dl.arr_distinct(dl.SPARK, shingles_sql(dl.SPARK, "toks")))
        ).alias("sh"),
    )
    contam_ids = (
        # BROADCAST-HINTED (round 13, VERDICT r12 item 4): the eval side is
        # small BY CONSTRUCTION (one split bucket reduced to DISTINCT
        # shingles) — the hint makes the promised broadcast a plan fact
        # instead of an AQE hope; test_plans.py asserts it in the executed
        # plan at gate SFs
        ksh.join(F.broadcast(eval_sh.withColumn("hit", F.lit(1))), "sh", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.coalesce("hit", F.lit(0)))
                / F.count(F.lit(1))
            ).alias("frac")
        )
        .filter(F.col("frac") > DECON_MAX_CONTAM)
        .select("doc_id")
    )
    # kept feeds three consumers (contam join, signature build via clean,
    # final accounting) — the union-fan-out staging rule. audit_plan: the
    # decontamination join lives in THIS checkpointed build plan (the
    # final plan hides it behind the checkpoint scan), so register it for
    # the dragnet + the broadcast plan assertion in test_plans.py
    flagged = audit_plan(
        "v4_flagged_staging",
        kept.join(contam_ids.withColumn("is_contam", F.lit(1)), "doc_id", "left"),
    ).localCheckpoint()
    clean = flagged.filter(F.col("is_contam").isNull())
    sig = minhash_signatures_for(clean.select("doc_id", "text")).localCheckpoint()
    banded = banded_rel(sig)
    cand = (
        banded.select(F.col("doc_id").alias("a"), "band_id", "band_key")
        .join(
            banded.select(F.col("doc_id").alias("b"), "band_id", "band_key"),
            ["band_id", "band_key"],
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    hash_cols = [f"h{k}" for k in range(MINHASH_K)]
    sa = sig.select(
        F.col("doc_id").alias("a"), *[F.col(h).alias(f"a_{h}") for h in hash_cols]
    )
    sb = sig.select(
        F.col("doc_id").alias("b"), *[F.col(h).alias(f"b_{h}") for h in hash_cols]
    )
    est = F.round(signature_match_count("a", "b") / F.lit(MINHASH_K), 4)
    dup_ids = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("b", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("b").alias("doc_id"))
        .distinct()
    )
    # r14 (guide: project before the exchange): the status join is keyed
    # on doc_id and the accounting needs only (lang, source, is_contam,
    # n_tok) — computing n_tok MAP-SIDE over the checkpointed flagged
    # relation keeps the text column out of the join's shuffle.
    n_tok = F.size(F.expr(dl.split_ws(dl.SPARK, "text")))
    status = flagged.select(
        "doc_id", "lang", "source", "is_contam", n_tok.alias("n_tok")
    ).join(dup_ids.withColumn("is_dup", F.lit(1)), "doc_id", "left")
    survivor = F.col("is_contam").isNull() & F.col("is_dup").isNull()
    return (
        status.select(
            "lang",
            "source",
            survivor.cast("int").alias("surv"),
            F.when(survivor, F.col("n_tok")).otherwise(F.lit(0)).alias("n_tok"),
            F.coalesce("is_contam", F.lit(0)).alias("contam"),
            F.when(
                F.col("is_contam").isNull(), F.coalesce("is_dup", F.lit(0))
            ).otherwise(F.lit(0)).alias("dup"),
        )
        .groupBy("lang", "source")
        .agg(
            F.sum("surv").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.sum("contam").cast("bigint").alias("n_contaminated"),
            F.sum("dup").cast("bigint").alias("n_neardup_dropped"),
        )
    )


def _oracle_corpus_v4() -> str:
    from .dedup import _oracle_pairs_ctes, shingles_sql

    v = _verdict_sql(dl.DUCK)
    b = dl.md5_prefix_nibble(dl.DUCK, "CAST(doc_id AS VARCHAR)")
    toks = dl.split_ws(dl.DUCK, "text")
    shing = shingles_sql(dl.DUCK, "toks")
    n = f"len({dl.split_ws(dl.DUCK, 'text')})"
    return f"""
WITH eval_sh AS (
  SELECT DISTINCT unnest({dl.arr_distinct(dl.DUCK, shing)}) AS sh
  FROM (SELECT {toks} AS toks FROM documents WHERE ({b}) = 0)
), kept AS (
  SELECT * FROM documents WHERE ({b}) <> 0 AND {v} = 'kept'
), ksh AS (
  SELECT doc_id, unnest({dl.arr_distinct(dl.DUCK, shing)}) AS sh
  FROM (SELECT doc_id, {toks} AS toks FROM kept)
), contam_ids AS (
  SELECT doc_id FROM (
    SELECT k.doc_id,
      sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) AS frac
    FROM ksh k LEFT JOIN eval_sh e ON k.sh = e.sh GROUP BY k.doc_id
  ) WHERE frac > {DECON_MAX_CONTAM}
), clean AS (
  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM contam_ids)
), {_oracle_pairs_ctes("clean")},
dup_ids AS (
  SELECT DISTINCT b AS doc_id FROM dup_pairs
), status AS (
  SELECT k.lang, k.source, {n} AS n_tok,
    (k.doc_id IN (SELECT doc_id FROM contam_ids)) AS is_contam,
    (k.doc_id IN (SELECT doc_id FROM dup_ids)) AS is_dup
  FROM kept k
)
SELECT lang, source,
  CAST(sum(CASE WHEN NOT is_contam AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN NOT is_contam AND NOT is_dup THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN is_contam THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
  CAST(sum(CASE WHEN NOT is_contam AND is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup_dropped
FROM status GROUP BY lang, source
"""


# Unicode-lite normalization: ONE translate map shared verbatim by both
# engines (not DuckDB strip_accents vs a Spark reimplementation — identical
# construction, so parity is by shared text, not by hoping two folding
# tables agree). ASCII regex classes mean Java regex and RE2 match alike.
ACCENT_FROM = "àáâãäåèéêëìíîïòóôõöùúûüýçñ"
ACCENT_TO = "aaaaaaeeeeiiiiooooouuuuycn"


def _normalize_sql(d: str) -> str:
    g = "" if d == dl.SPARK else ", 'g'"
    folded = f"translate(lower(text), '{ACCENT_FROM}', '{ACCENT_TO}')"
    stripped = f"regexp_replace({folded}, '[^a-z0-9 ]', ' '{g})"
    collapsed = f"regexp_replace({stripped}, '[ ]+', ' '{g})"
    return f"trim({collapsed})"


def docs_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text-normalization pass (lowercase -> accent fold ->
    punctuation strip -> whitespace collapse): the projection every exact
    dedup / shingle pass should key on instead of raw text. Pure row-level
    string work — no shuffle, whole-stage codegen end to end."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.expr(_normalize_sql(dl.SPARK))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").cast("bigint").alias("n_chars_raw"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        F.size(F.split(norm, " ")).cast("bigint").alias("n_tokens_norm"),
    )


def _oracle_text_normalize() -> str:
    norm = _normalize_sql(dl.DUCK)
    return f"""
SELECT doc_id, {norm} AS norm_text,
  CAST(length(text) AS BIGINT) AS n_chars_raw,
  CAST(length({norm}) AS BIGINT) AS n_chars_norm,
  CAST(len(string_split({norm}, ' ')) AS BIGINT) AS n_tokens_norm
FROM documents
"""


def corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 cleaning chain end-to-end in ONE plan: quality gate →
    text normalization → dedup keyed on the NORMALIZED text → per-(lang,
    source) accounting. The v2 differentiator over
    corpus_pipeline_flagship: the dedup key is the normalization, so
    case/punctuation-variant duplicates fold together — and the output
    reports raw-distinct vs kept side by side, making the normalization's
    extra catch a visible number.

    Plan: codegen scan+filter (verdict + normalize are pure column work),
    one window shuffle on md5(norm) for representative selection, one agg
    shuffle on (lang, source), plus the parallel gated-stats agg joined
    back — all keys uniform hashes.

    r14 (guide: project before the exchange): the representative window
    needs only the 32-char hash of the normalization, and the kept-agg
    needs only its token count — both computed MAP-SIDE, so the window
    exchange carries ~60 bytes/row instead of text + norm_text (the two
    widest columns in the corpus). Identical rows out."""
    from pyspark.sql.window import Window

    # r14 note: fanning this scan measured a 1.43x regression (interleaved
    # rebench) — verdict + normalize are cheap column arithmetic and the
    # round-robin exchange ships text + norm_text; left on the direct scan.
    docs = load_table(spark, sf_dir, "documents")
    norm = F.expr(_normalize_sql(dl.SPARK))
    gated = docs.filter(F.expr(_verdict_sql(dl.SPARK)) == "kept").select(
        "doc_id", "lang", "source", "text", norm.alias("norm_text")
    )
    stats = gated.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_gated"),
        F.count_distinct(F.md5("text")).alias("n_raw_distinct"),
    )
    slim = gated.select(
        "doc_id",
        "lang",
        "source",
        F.md5("norm_text").alias("nh"),
        F.size(F.split("norm_text", " ")).cast("bigint").alias("norm_tok"),
    )
    w = Window.partitionBy("nh").orderBy("doc_id")
    reps = slim.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    kept = reps.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("norm_tok").alias("kept_tokens"),
    )
    return stats.join(kept, ["lang", "source"], "left").select(
        "lang",
        "source",
        "n_gated",
        "n_raw_distinct",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )


def _oracle_corpus_v2() -> str:
    d = dl.DUCK
    v = _verdict_sql(d)
    norm = _normalize_sql(d)
    return f"""
WITH gated AS (
  SELECT doc_id, lang, source, text, {norm} AS norm_text
  FROM documents WHERE ({v}) = 'kept'
), stats AS (
  SELECT lang, source, count(*) AS n_gated,
    count(DISTINCT md5(text)) AS n_raw_distinct
  FROM gated GROUP BY lang, source
), reps AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(norm_text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), kept AS (
  SELECT lang, source, count(*) AS n_kept,
    CAST(sum(len(string_split(norm_text, ' '))) AS BIGINT) AS kept_tokens
  FROM reps GROUP BY lang, source
)
SELECT s.lang, s.source, s.n_gated, s.n_raw_distinct,
  coalesce(k.n_kept, 0) AS n_kept,
  coalesce(k.kept_tokens, 0) AS kept_tokens
FROM stats s LEFT JOIN kept k ON k.lang = s.lang AND k.source = s.source
"""


def docs_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the corpus mixture: is `source`
    independent of `lang`? Per-cell observed vs expected (row*col/total)
    counts and the chi2 contribution — the dataset-balance check a
    curation pipeline logs before training. All inputs to the double
    arithmetic are exact integers (observed, row, col, total), so both
    engines compute identical doubles; contributions are rounded for
    display only.

    Plan: one (lang, source) hash agg, then two broadcast joins of the
    (tiny) marginal tables back onto the cells — the contingency table
    itself is |langs| x |sources|, never corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    row_m = cells.groupBy("lang").agg(F.sum("obs").alias("row_n"))
    col_m = cells.groupBy("source").agg(F.sum("obs").alias("col_n"))
    total = docs.count()
    joined = cells.join(F.broadcast(row_m), "lang").join(F.broadcast(col_m), "source")
    expected = (
        F.col("row_n").cast("double") * F.col("col_n").cast("double") / F.lit(float(total))
    )
    # explicit diff*diff, not pow(diff, 2): pow goes through libm and can
    # differ from the multiply in the last ulp between engines
    diff = F.col("obs").cast("double") - expected
    contrib = diff * diff / expected
    return joined.select(
        "lang",
        "source",
        "obs",
        F.round(expected, 4).alias("expected"),
        F.round(contrib, 6).alias("chi2_contrib"),
    )


def _oracle_chi2() -> str:
    return """
WITH cells AS (
  SELECT lang, source, count(*) AS obs FROM documents GROUP BY lang, source
), row_m AS (
  SELECT lang, sum(obs) AS row_n FROM cells GROUP BY lang
), col_m AS (
  SELECT source, sum(obs) AS col_n FROM cells GROUP BY source
), t AS (
  SELECT count(*) AS total FROM documents
)
SELECT c.lang, c.source, c.obs,
  round(CAST(r.row_n AS DOUBLE) * CAST(cm.col_n AS DOUBLE)
        / CAST(t.total AS DOUBLE), 4) AS expected,
  round((CAST(c.obs AS DOUBLE)
         - CAST(r.row_n AS DOUBLE) * CAST(cm.col_n AS DOUBLE)
           / CAST(t.total AS DOUBLE))
        * (CAST(c.obs AS DOUBLE)
         - CAST(r.row_n AS DOUBLE) * CAST(cm.col_n AS DOUBLE)
           / CAST(t.total AS DOUBLE))
        / (CAST(r.row_n AS DOUBLE) * CAST(cm.col_n AS DOUBLE)
           / CAST(t.total AS DOUBLE)), 6) AS chi2_contrib
FROM cells c JOIN row_m r USING (lang) JOIN col_m cm USING (source), t
"""


# ------------------------------------------------------- token-budget select
TOKEN_BUDGET_NUM = 1  # budget = total_tokens * NUM // DEN
TOKEN_BUDGET_DEN = 2
ALPHA_TOKEN_RE = "^[A-Za-z]+$"


def docs_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered corpus selection under a token budget — the "take
    the best N tokens" step of assembling a training mixture: rank docs by
    an integer quality key (alpha-token permille, doc_id tiebreak), keep
    docs in rank order until the running token total reaches the budget
    (half the corpus tokens), report per-source docs/tokens selected.

    The selection rule is a GLOBAL prefix sum over (permille DESC,
    doc_id); the running token total comes from bucket_ranked with the
    permille itself as the bucket (<=1001 buckets at any corpus size), so
    no window ever holds more than one permille's docs and the corpus
    total arrives with the per-bucket collect. The oracle states the
    doc-level global cumsum, so the gate pins the helper's exactness.

    Budget and totals are exact BIGINT token counts; no doubles anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id",
        "source",
        F.expr(dl.split_ws(dl.SPARK, "text")).alias("toks"),
    ).select(
        "doc_id",
        "source",
        F.expr("size(toks)").cast("bigint").alias("n_tok"),
        F.expr(
            f"size(filter(toks, t -> t rlike '{ALPHA_TOKEN_RE}'))"
        ).cast("bigint").alias("n_alpha"),
    ).withColumn(
        "permille",
        F.expr(
            f"CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE {dl.int_div(dl.SPARK, '(1000 * n_alpha)', 'n_tok')} END"
        ),
    )
    ranked, _, total = bucket_ranked(
        stats, -F.col("permille"), [F.desc("permille"), F.asc("doc_id")], "n_tok"
    )
    budget = total * TOKEN_BUDGET_NUM // TOKEN_BUDGET_DEN
    return (
        ranked.filter(F.col("_run") <= F.lit(budget).cast("bigint"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_selected"),
            F.sum("n_tok").alias("tokens_selected"),
        )
    )


def _oracle_token_budget() -> str:
    d = dl.DUCK
    alpha = f"len(list_filter(toks, t -> regexp_full_match(t, '[A-Za-z]+')))"
    return f"""
WITH s AS (
  SELECT doc_id, source,
    CAST(len(toks) AS BIGINT) AS n_tok,
    CAST({alpha} AS BIGINT) AS n_alpha
  FROM (SELECT doc_id, source, {dl.split_ws(d, 'text')} AS toks FROM documents)
), keyed AS (
  SELECT *, CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT)
    ELSE {dl.int_div(d, '(1000 * n_alpha)', 'n_tok')} END AS permille
  FROM s
), cum AS (
  SELECT *, sum(n_tok) OVER (
    ORDER BY permille DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS c
  FROM keyed
)
SELECT source, count(*) AS n_docs_selected,
  CAST(sum(n_tok) AS BIGINT) AS tokens_selected
FROM cum
WHERE c <= (SELECT sum(n_tok) * {TOKEN_BUDGET_NUM} // {TOKEN_BUDGET_DEN} FROM s)
GROUP BY source
"""


# ------------------------------------------------------------ DSIR weights
DSIR_BUCKETS = 4096     # hashed n-gram feature space (DSIR uses 10^4; 2^12
                        # keeps the log-ratio table broadcast-tiny here)
DSIR_HEX_CHARS = 6      # 24-bit md5 prefix folded before the % BUCKETS
DSIR_TARGET_LANG = "en"  # target-domain proxy: the English slice
DSIR_SELECT_K = 1000     # resample budget: top-K docs by log-weight


def _dsir_bucket_arr_sql(d: str) -> str:
    """Array of hashed-feature bucket ids (unigrams + adjacent bigrams) for
    the ``toks`` token-array column, identical in both engines."""
    n = dl.arr_size(d, "toks")
    bigram = (
        f"concat({dl.arr_element(d, 'toks', 'i')}, ' ', "
        f"{dl.arr_element(d, 'toks', '(i + 1)')})"
    )
    bigrams = dl.transform(d, dl.seq(d, "1", f"({n} - 1)"), "i", bigram)
    feats = (
        f"concat(toks, {bigrams})"
        if d == dl.SPARK
        else f"list_concat(toks, {bigrams})"
    )
    bucket = (
        f"({dl.hex_prefix_uint(d, 'md5(t)', DSIR_HEX_CHARS)} % {DSIR_BUCKETS})"
    )
    return dl.transform(d, feats, "t", bucket)


@staged
def dsir_instance_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, b) — one row per hashed-feature instance,
    materialized once per (application, sf_dir): docs_dsir_weights and
    corpus_pipeline_v3 both consume it (and each reads it 2-3 times inside
    its own job), so the explode + md5 fold runs once per process — the
    same staging-table tier as bigram_instance_staging."""
    from .dedup import tokenized_docs_staging  # r8: tokenize-once staging

    out = (
        tokenized_docs_staging(spark, sf_dir)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.expr(_dsir_bucket_arr_sql(dl.SPARK))).alias("b"),
        )
    )
    return audit_plan("dsir_feature_instances", out).localCheckpoint()


@staged
def dsir_perdoc_staging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, n_features, dsir_logw) — the per-doc DSIR
    log-weight relation, materialized once per (application, sf_dir).

    Staged because it is read MORE than once per consumer since r11:
    bucket_ranked reads its input twice inside one query (bucket
    histogram + rank branch), and corpus_pipeline_v3 reads it
    again for its own selection pool — without staging, every read would
    re-run the instance-grain hash agg and the broadcast log-ratio join
    over the full feature-instance relation.

    Plan (same arithmetic as the pre-r11 docs_dsir_weights body): ONE hash
    agg over bucket id bounded at DSIR_BUCKETS rows; the two grand totals
    are a 1-row sufficient-statistic collect embedded as BIGINT literals
    (identical doubles to the oracle's window form — both divide the same
    exact integers), then a map-side broadcast equi-join back onto the
    instances and one hash agg keyed doc_id. Since r11 nothing in the
    DSIR path plans an unpartitioned window."""
    inst = dsir_instance_staging(spark, sf_dir)
    counts = inst.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
    )
    # DSIR_BUCKETS-bounded pin (r14): the tot collect below materializes
    # it, and the lr broadcast build then reads the pinned cells instead of
    # re-running the instance-grain agg a second time per staging build.
    counts = counts.localCheckpoint(eager=False)
    tot = counts.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt")).collect()[0]
    lr = counts.select(
        "b",
        (
            F.log(
                (F.col("ct") + 1)
                / F.lit(int(tot["tt"] or 0) + DSIR_BUCKETS).cast("bigint")
            )
            - F.log(
                (F.col("cr") + 1)
                / F.lit(int(tot["tr"] or 0) + DSIR_BUCKETS).cast("bigint")
            )
        ).alias("lr"),
    )
    perdoc = (
        inst.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.round(F.sum("lr"), 4).alias("dsir_logw"),
        )
    )
    return audit_plan("dsir_perdoc", perdoc).localCheckpoint()


def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al., "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how target-domain-like its hashed n-gram distribution is, so a
    selection pass can resample the raw corpus toward the target domain.

    Generalizes the reference's source-side keyword gate (prod:33, 71 — a
    binary track/drop on literal keywords) into the statistical selection
    a 100 TB pipeline actually runs: target (the ``en`` slice standing in
    for e.g. Wikipedia) and raw (everything) are modeled as bag-of-ngram
    distributions over DSIR_BUCKETS hashed features, and a doc's weight is
    its log-likelihood ratio sum_f [ln p_target(f) - ln p_raw(f)] over its
    feature instances (unigrams + adjacent bigrams, Laplace-smoothed).

    Plan shape (the DSIR paper's MapReduce sketch, Spark-first):
    (1) one explode to (doc, bucket) feature instances — the shared
        dsir_instance_staging relation, materialized once per app x
        sf_dir because THREE consumers read it inside this job (two count
        aggs folded into one, plus the per-doc re-join) and
        corpus_pipeline_v3 reads it again: the in-job union-fan-out
        lesson from dedup_minhash_pairs;
    (2) ONE hash agg over bucket -> (raw count, target count): bounded at
        DSIR_BUCKETS rows, window-totaled on that tiny relation, so the
        log-ratio table is broadcast state, exactly like an IVF codebook;
    (3) per-doc weight = map-side broadcast equi-join + one hash agg keyed
        doc_id. Nothing global, nothing all-pairs; scales linearly.

    Parity: every ln() argument is a ratio of exact integers ((cnt+1) /
    (tot+B) in DOUBLE — no BIGINT product, so no overflow at corpus
    scale); per-doc sums drift only by summation order (~1e-13 relative),
    absorbed by round(4) — the textstats_lm_score convention. The
    selected flag ranks on the ROUNDED weight with doc_id tiebreak, so
    rank is deterministic whenever the rounded values match; the rank
    itself is bucket_ranked's exact global row number — no corpus-grain
    single-task window anywhere in the plan. The oracle still states the
    global row_number form, so the gate pins the helper's exactness at
    every SF."""
    perdoc = dsir_perdoc_staging(spark, sf_dir)
    # Rank bucket floor(dsir_logw * 32), negated for the DESC order: 32
    # slices the observed log-weight range ([-4.3, 1.0] at sf0.1) into
    # ~144 occupied buckets, a count bounded by the WEIGHT RANGE (feature
    # count x max |log-ratio|), not by the corpus.
    ranked, _, _ = bucket_ranked(
        perdoc,
        -F.floor(F.col("dsir_logw") * 32),
        [F.desc("dsir_logw"), F.asc("doc_id")],
    )
    return ranked.select(
        "doc_id",
        "lang",
        "source",
        "n_features",
        "dsir_logw",
        (F.col("_rn") <= DSIR_SELECT_K).alias("selected"),
    )


def _oracle_dsir() -> str:
    d = dl.DUCK
    return f"""
WITH inst AS (
  SELECT doc_id, lang, source, unnest({_dsir_bucket_arr_sql(d)}) AS b
  FROM (SELECT doc_id, lang, source, {dl.split_ws(d, 'text')} AS toks
        FROM documents)
), counts AS (
  SELECT b, count(*) AS cr,
    sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
  FROM inst GROUP BY b
), lr AS (
  SELECT b,
    ln(CAST(ct + 1 AS DOUBLE) / (sum(ct) OVER () + {DSIR_BUCKETS}))
    - ln(CAST(cr + 1 AS DOUBLE) / (sum(cr) OVER () + {DSIR_BUCKETS})) AS lr
  FROM counts
), perdoc AS (
  SELECT doc_id, lang, source,
    count(*) AS n_features,
    round(sum(lr), 4) AS dsir_logw
  FROM inst JOIN lr USING (b)
  GROUP BY doc_id, lang, source
)
SELECT doc_id, lang, source, n_features, dsir_logw,
  (row_number() OVER (ORDER BY dsir_logw DESC, doc_id ASC))
    <= {DSIR_SELECT_K} AS selected
FROM perdoc
"""


# Exact fixed-point soft-weight numerator: round(1/size, 4) as the BIGINT
# half-up quotient q = (2*10^4 + size) DIV (2*size); effective tokens then
# accumulate as EXACT BIGINT n_tok*q and divide by 10^4 once at the end —
# no double summation anywhere (doubles cannot represent 1e-4 exactly, so
# summing rounded weights would drift by aggregation order).
def _soft_q_e4(d: str, size: str) -> str:
    return dl.int_div(d, f"(2 * 10000 + {size})", f"(2 * {size})")


V3_SELECT_K = 200  # DSIR-ranked selection budget over the gated pool


def corpus_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 curation chain end-to-end: quality gate → SOFT dedup
    (1/cluster_size mass, dedup_soft_weights) → DSIR target-domain
    selection (top V3_SELECT_K gated docs by log-likelihood ratio,
    docs_dsir_weights) → per-(lang, source) accounting of docs, raw
    tokens, and EFFECTIVE tokens under the soft weights.

    This is the composition a real curation run executes; v3's
    differentiator over v2: duplicates are down-weighted rather than
    dropped, and selection is statistical (DSIR) rather than rule-only.
    All three stages reuse the shared machinery (verdict SQL, MinHash
    pair staging + components, DSIR bucket distributions), so the plan
    adds exactly: one size agg, two doc_id equi-joins, one final agg.

    Exactness: effective tokens accumulate as BIGINT n_tok * q (q = the
    fixed-point half-up 10^4/size quotient) and divide by 10^4 once —
    bit-deterministic across engines and partitionings, unlike a sum of
    rounded doubles."""
    from .dedup import connected_components, dedup_minhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(F.expr(_verdict_sql(dl.SPARK)) == "kept").select(
        "doc_id",
        "lang",
        "source",
        F.size(F.expr(dl.split_ws(dl.SPARK, "text"))).cast("bigint").alias("n_tok"),
    )
    cc = connected_components(dedup_minhash_pairs(spark, sf_dir))
    member = cc.join(
        cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size")),
        "cluster_id",
    ).select(F.col("node").alias("doc_id"), "cluster_size")
    dsir = dsir_perdoc_staging(spark, sf_dir).select("doc_id", "dsir_logw")
    # Selection is RANK-based (top V3_SELECT_K of the gated pool by
    # log-weight), not an absolute threshold: Laplace smoothing shifts the
    # whole log-ratio distribution (on a shared-vocabulary corpus, slightly
    # negative), so only relative order is meaningful — which is also how
    # DSIR's resampling behaves. Deterministic tiebreak on doc_id; the
    # rank is bucket_ranked's exact global row number on the
    # docs_dsir_weights bucket (no corpus-grain single-task window), and
    # the cluster-size join moves AFTER the filter so only the
    # V3_SELECT_K survivors join the membership relation. The pool is
    # localCheckpointed because the helper reads it twice (histogram +
    # rank branch) — the union-fan-out rule.
    pool = audit_plan("v3_selection_pool", gated.join(dsir, "doc_id")).localCheckpoint()
    ranked, _, _ = bucket_ranked(
        pool,
        -F.floor(F.col("dsir_logw") * 32),
        [F.desc("dsir_logw"), F.asc("doc_id")],
    )
    sel = (
        ranked.filter(F.col("_rn") <= V3_SELECT_K)
        .join(member, "doc_id", "left")
        .withColumn("cs", F.coalesce("cluster_size", F.lit(1)))
        .withColumn("q_e4", F.expr(_soft_q_e4(dl.SPARK, "cs")))
    )
    return sel.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("raw_tokens"),
        (F.sum(F.col("n_tok") * F.col("q_e4")) / F.lit(10000.0)).alias(
            "effective_tokens"
        ),
    )


def _oracle_corpus_v3() -> str:
    d = dl.DUCK
    from .dedup import _oracle_pairs_ctes

    v = _verdict_sql(d)
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
), inst AS (
  SELECT doc_id, lang, unnest({_dsir_bucket_arr_sql(d)}) AS b
  FROM (SELECT doc_id, lang, {dl.split_ws(d, 'text')} AS toks FROM documents)
), counts AS (
  SELECT b, count(*) AS cr,
    sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
  FROM inst GROUP BY b
), lr AS (
  SELECT b,
    ln(CAST(ct + 1 AS DOUBLE) / (sum(ct) OVER () + {DSIR_BUCKETS}))
    - ln(CAST(cr + 1 AS DOUBLE) / (sum(cr) OVER () + {DSIR_BUCKETS})) AS lr
  FROM counts
), perdoc AS (
  SELECT doc_id, round(sum(lr), 4) AS dsir_logw
  FROM inst JOIN lr USING (b) GROUP BY doc_id
), gated AS (
  SELECT doc_id, lang, source, CAST({n} AS BIGINT) AS n_tok
  FROM documents WHERE ({v}) = 'kept'
), ranked AS (
  SELECT g.lang, g.source, g.n_tok,
    {_soft_q_e4(d, 'CAST(coalesce(m.cluster_size, 1) AS BIGINT)')} AS q_e4,
    row_number() OVER (ORDER BY p.dsir_logw DESC, g.doc_id ASC) AS rnk
  FROM gated g
  LEFT JOIN member m USING (doc_id)
  JOIN perdoc p USING (doc_id)
), sel AS (
  SELECT lang, source, n_tok, q_e4 FROM ranked WHERE rnk <= {V3_SELECT_K}
)
SELECT lang, source, count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
  CAST(sum(n_tok * q_e4) AS DOUBLE) / 10000.0 AS effective_tokens
FROM sel GROUP BY lang, source
"""


QUERIES = {
    "corpus_pipeline_flagship": corpus_pipeline_flagship,
    "corpus_pipeline_v2": corpus_pipeline_v2,
    "docs_chi2_lang_source": docs_chi2_lang_source,
    "docs_text_normalize": docs_text_normalize,
    "docs_pii_redact": docs_pii_redact,
    "docs_quality_filter": docs_quality_filter,
    "docs_mixture_weights": docs_mixture_weights,
    "docs_token_budget_select": docs_token_budget_select,
    "docs_dsir_weights": docs_dsir_weights,
    "corpus_pipeline_v3": corpus_pipeline_v3,
    "corpus_pipeline_neardup": corpus_pipeline_neardup,
    "corpus_pipeline_v4": corpus_pipeline_v4,
}

ORACLES = {
    "corpus_pipeline_flagship": _oracle_corpus_flagship(),
    "docs_text_normalize": _oracle_text_normalize(),
    "corpus_pipeline_v2": _oracle_corpus_v2(),
    "docs_chi2_lang_source": _oracle_chi2(),
    "docs_pii_redact": _oracle_pii_redact(),
    "docs_quality_filter": _oracle_quality_filter(),
    "docs_mixture_weights": _oracle_mixture_weights(),
    "docs_token_budget_select": _oracle_token_budget(),
    "docs_dsir_weights": _oracle_dsir(),
    "corpus_pipeline_v3": _oracle_corpus_v3(),
    "corpus_pipeline_neardup": _oracle_corpus_neardup(),
    "corpus_pipeline_v4": _oracle_corpus_v4(),
}
