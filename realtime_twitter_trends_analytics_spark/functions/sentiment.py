"""Deterministic lexicon sentiment with the reference's scoring *structure*.

The reference scores each tweet with CoreNLP (proc:142-196): per-sentence
class 0..4, a length-WEIGHTED mean as the score, -1.0 sentinel when there are
no sentences, then bins the score into a lowercase type string (proc:186-194).
CoreNLP itself is a JVM model we neither can nor should ship; per SURVEY §7.4
we reproduce the structure over a deterministic lexicon so results are stable
and oracle-checkable.

Semantics (both engines, generated from one template):
- "sentences" = consecutive chunks of SENT_CHUNK tokens (driver documents are
  unpunctuated token streams; chunking stands in for sentence split).
- per-sentence class = clamp(2 + sum(lexicon valence of tokens), 0, 4)
- score = sum(class * chunk_char_len) / sum(chunk_char_len); -1.0 if no tokens
- binning (proc:186-194 quirks preserved, §7.4 divergences documented):
    score <= 0 -> notunderstood   (the 0.0 / -1.0 sentinel collision, kept)
    < 1 verynegative, < 2 negative, < 3 neutral, < 4 positive, < 5 verypositive
    >= 5 -> notunderstood         (reference raises MatchError; we clamp)
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from . import dialect as dl

SENT_CHUNK = 8

# Valence over the driver documents vocabulary (31 tokens). Anything absent
# scores 0 (neutral), like out-of-lexicon words.
LEXICON: dict[str, int] = {
    "fast": 2,
    "spark": 1,
    "big": 1,
    "vector": 1,
    "merge": 1,
    "slow": -2,
    "dup": -2,
    "small": -1,
    "filter": -1,
}


def _valence_case(d: str, var: str) -> str:
    whens = " ".join(f"WHEN '{w}' THEN {v}" for w, v in sorted(LEXICON.items()))
    return f"(CASE {var} {whens} ELSE 0 END)"


def score_sql(d: str, text_col: str, toks_col: str | None = None) -> str:
    """Dual-dialect SQL expression: length-weighted mean sentence class in
    [0,4], or -1.0 when the text has no tokens.

    ``toks_col`` (when given) must be ``text_col`` pre-split on ' ' in an
    upstream projection/CTE — the tokenize-once pattern: an inline split is
    re-evaluated inside the chunk lambdas (2.5x slower at sf0.1). The
    inline form remains for contexts without a projection (tests)."""
    toks = toks_col if toks_col is not None else dl.split_ws(d, text_col)
    n = dl.arr_size(d, toks)
    nchunks = f"CAST(ceil(CAST({n} AS DOUBLE) / {SENT_CHUNK}) AS INT)"
    chunk = dl.arr_slice(d, toks, f"c * {SENT_CHUNK} + 1", str(SENT_CHUNK))
    valences = dl.transform(d, chunk, "t", _valence_case(d, "t"))
    vsum = dl.arr_sum_bigint(d, valences)
    cls = f"least(greatest(2 + {vsum}, 0), 4)"
    clen = f"length({dl.arr_join(d, chunk, ' ')})"
    weighted = dl.transform(
        d, dl.seq(d, "0", f"{nchunks} - 1"), "c", f"CAST(({cls}) * ({clen}) AS DOUBLE)"
    )
    weights = dl.transform(
        d, dl.seq(d, "0", f"{nchunks} - 1"), "c", f"CAST({clen} AS DOUBLE)"
    )
    num = dl.arr_sum_double(d, weighted)
    den = dl.arr_sum_double(d, weights)
    return (
        f"(CASE WHEN {n} = 0 OR trim({text_col}) = '' THEN -1.0 "
        f"ELSE ({num}) / ({den}) END)"
    )


def score_sql_fast_spark(text_col: str) -> str:
    """Spark-only optimized form of ``score_sql`` for the streaming hot
    path: the token, valence and length arrays are each bound ONCE via the
    single-element-array ``transform`` idiom (Spark has no ``let``), and
    the weighted mean is a single struct-accumulator fold over chunks
    instead of two chunk loops that re-slice and re-join the token array.

    Bit-identical doubles to ``score_sql``: every fold runs left-to-right
    over the same values in the same order (chunk class = same BIGINT sum;
    chunk char length = sum(token lens) + (k-1) separators = the
    ``array_join`` length; num/den accumulate in the same sequence), so
    the equivalence is exact, and tests/test_sentiment.py pins it
    against the template on real fixtures plus edge cases. Kept separate
    from the dual-dialect template because DuckDB list_transform handles
    the template form fine — only the Spark streaming path needed the
    rewrite (measured: the re-sliced template was the bottleneck of the
    pure-SQL sentiment stream at 47.7k rows/s)."""
    d = dl.SPARK
    cls = (
        f"least(greatest(2 + aggregate(slice(vs, c * {SENT_CHUNK} + 1, {SENT_CHUNK}), "
        f"CAST(0 AS BIGINT), (a, v) -> a + v), 0), 4)"
    )
    clen = (
        f"(aggregate(slice(ls, c * {SENT_CHUNK} + 1, {SENT_CHUNK}), "
        f"CAST(0 AS BIGINT), (a, v) -> a + v) "
        f"+ size(slice(ls, c * {SENT_CHUNK} + 1, {SENT_CHUNK})) - 1)"
    )
    nchunks = "CAST(ceil(CAST(size(tks) AS DOUBLE) / " + str(SENT_CHUNK) + ") AS INT)"
    fold = (
        f"aggregate(sequence(0, {nchunks} - 1), "
        f"struct(CAST(0 AS DOUBLE) AS num, CAST(0 AS DOUBLE) AS den), "
        f"(acc, c) -> struct(acc.num + CAST(({cls}) * ({clen}) AS DOUBLE), "
        f"acc.den + CAST({clen} AS DOUBLE)), "
        f"acc -> acc.num / acc.den)"
    )
    body = (
        f"(CASE WHEN size(tks) = 0 OR trim({text_col}) = '' THEN -1.0 "
        f"ELSE {fold} END)"
    )
    vals = f"transform(tks, tk -> {_valence_case(d, 'tk')})"
    lens = "transform(tks, tk -> length(tk))"
    return (
        f"transform(array({dl.split_ws(d, text_col)}), tks -> "
        f"transform(array({vals}), vs -> "
        f"transform(array({lens}), ls -> {body})[0])[0])[0]"
    )


def type_sql(score_expr: str) -> str:
    """Binning chain (dialect-neutral SQL), proc:186-194 semantics."""
    return (
        f"(CASE WHEN ({score_expr}) <= 0.0 THEN 'notunderstood' "
        f"WHEN ({score_expr}) < 1.0 THEN 'verynegative' "
        f"WHEN ({score_expr}) < 2.0 THEN 'negative' "
        f"WHEN ({score_expr}) < 3.0 THEN 'neutral' "
        f"WHEN ({score_expr}) < 4.0 THEN 'positive' "
        f"WHEN ({score_expr}) < 5.0 THEN 'verypositive' "
        f"ELSE 'notunderstood' END)"
    )


def sentiment_score(text: Column | str) -> Column:
    """Spark column: deterministic sentiment score (pure expressions —
    Catalyst-visible, whole-stage-codegen; no Python in the hot path)."""
    col = text if isinstance(text, str) else None
    if col is None:
        raise TypeError("pass the column NAME so the shared SQL template applies")
    return F.expr(score_sql(dl.SPARK, col))


def sentiment_type(score: Column) -> Column:
    """Bin a score column into the reference's lowercase type labels."""
    return (
        F.when(score <= 0.0, "notunderstood")
        .when(score < 1.0, "verynegative")
        .when(score < 2.0, "negative")
        .when(score < 3.0, "neutral")
        .when(score < 4.0, "positive")
        .when(score < 5.0, "verypositive")
        .otherwise("notunderstood")
    )


# An INDEPENDENT generic-English polarity wordlist (AFINN-style integer
# valences, hand-embedded because the build sandbox has no network to fetch
# a published lexicon file). Used ONLY by the divergence study
# (tests/test_sentiment_divergence.py) to quantify how sensitive the binned
# output is to the lexicon choice — the axis on which this engine diverges
# from the reference's CoreNLP model (the scoring STRUCTURE is faithful;
# the lexicon is the documented stand-in, SURVEY §7.4).
GENERIC_LEXICON: dict[str, int] = {
    "love": 3, "loving": 2, "loved": 3, "great": 3, "good": 2, "happy": 3,
    "awesome": 4, "amazing": 4, "excellent": 3, "best": 3, "nice": 2,
    "cool": 1, "fun": 2, "win": 2, "winning": 2, "beautiful": 3, "thanks": 2,
    "excited": 3, "perfect": 3, "glad": 2,
    "bad": -3, "terrible": -3, "awful": -3, "hate": -3, "hated": -3,
    "sad": -2, "angry": -2, "worst": -3, "lose": -2, "losing": -2,
    "broken": -2, "fail": -2, "failed": -2, "crash": -2, "ugly": -2,
    "boring": -2, "annoying": -2, "disappointed": -2, "wrong": -2, "never": -1,
}


def score_texts_pandas(texts, lexicon: dict[str, int] | None = None) -> "list[float]":  # pragma: no cover - helper
    """Plain-Python reference implementation of the same scoring, used by the
    streaming path's pandas_udf (model-per-worker pattern the reference got
    wrong by constructing CoreNLP per record, proc:144) and by unit tests.

    ``lexicon`` swaps the valence table (default: the engine LEXICON) while
    keeping the chunk -> clamp -> length-weighted-mean structure fixed — the
    hook the divergence study uses."""
    lex = LEXICON if lexicon is None else lexicon
    out = []
    for t in texts:
        toks = [x for x in (t or "").split(" ") if x != ""]
        if not toks or not (t or "").strip():
            out.append(-1.0)
            continue
        num = den = 0.0
        for i in range(0, len(toks), SENT_CHUNK):
            chunk = toks[i : i + SENT_CHUNK]
            vsum = sum(lex.get(w, 0) for w in chunk)
            cls = min(max(2 + vsum, 0), 4)
            clen = len(" ".join(chunk))
            num += cls * clen
            den += clen
        out.append(num / den if den else -1.0)
    return out


def score_texts_pandas_vec(texts, lexicon: dict[str, int] | None = None):
    """Vectorized (pandas/NumPy) form of ``score_texts_pandas`` — §4.2 of
    the optimization guide: the Arrow pandas_udf used to hand each 10k-row
    batch to the per-row Python loop above (~6 µs/row of pure interpreter
    time on the streaming hot path). This computes the identical scores
    through C-speed explode/groupby kernels.

    Exactness argument (pinned by test_sentiment's
    vec-vs-reference suite, not just claimed): per-chunk vsum/cls/clen are
    small exact integers; num = Σ cls·clen and den = Σ clen are sums of
    exact integers far below 2^53, so float64 accumulation order cannot
    change them; the final division is then bit-identical to the scalar
    loop. Sentinel (-1.0) for no-token or all-whitespace texts matches the
    reference's condition exactly."""
    import numpy as np
    import pandas as pd

    lex = LEXICON if lexicon is None else lexicon
    s = pd.Series(texts, dtype="object").fillna("")
    s.index = pd.RangeIndex(len(s))
    out = np.full(len(s), -1.0)
    toks = s.str.split(" ").explode()
    toks = toks[(toks != "") & toks.notna()]
    if len(toks):
        row = toks.index.to_numpy()
        pos = pd.Series(1, index=toks.index).groupby(level=0).cumcount().to_numpy()
        chunk = pos // SENT_CHUNK
        val = toks.map(lex).fillna(0).to_numpy(dtype="int64")
        tlen = toks.str.len().to_numpy(dtype="int64")
        g = pd.DataFrame({"row": row, "chunk": chunk, "val": val, "tlen": tlen})
        per_chunk = g.groupby(["row", "chunk"], sort=False).agg(
            vsum=("val", "sum"), slen=("tlen", "sum"), n=("tlen", "size")
        )
        cls = np.clip(2 + per_chunk["vsum"].to_numpy(), 0, 4)
        clen = per_chunk["slen"].to_numpy() + (per_chunk["n"].to_numpy() - 1)
        rows = per_chunk.index.get_level_values("row").to_numpy()
        num = np.bincount(rows, weights=cls * clen, minlength=len(s))
        den = np.bincount(rows, weights=clen, minlength=len(s))
        scored = den > 0
        out[scored] = num[scored] / den[scored]
    # the reference's sentinel ALSO fires for token-bearing but
    # all-whitespace-stripped texts (trim = ''): reproduce exactly
    out[(s.str.strip() == "").to_numpy()] = -1.0
    return out


def bin_score(score: float) -> str:
    if score <= 0.0:
        return "notunderstood"
    for hi, label in [
        (1.0, "verynegative"),
        (2.0, "negative"),
        (3.0, "neutral"),
        (4.0, "positive"),
        (5.0, "verypositive"),
    ]:
        if score < hi:
            return label
    return "notunderstood"
