"""docs_token_budget_select: the bucket-offset running total (bucket
offsets + within-bucket cumsum) must equal the doc-level global
prefix-sum spec — exercised on a PLANTED corpus whose budget boundary
falls strictly inside one quality bucket, so the cut lands on the
within-bucket running sum (whole-bucket totals alone cannot produce the
right answer here).

Companion to test_skew_blocking.py (planted worst case for a documented
failure/edge mode); the oracle states the simple global-cumsum form, this
test pins the equivalence argument from the operator docstring with an
independent pure-Python reference.
"""

from __future__ import annotations

import pytest

from realtime_twitter_trends_analytics_spark.operators.cleaning import (
    TOKEN_BUDGET_DEN,
    TOKEN_BUDGET_NUM,
    docs_token_budget_select,
)

ALPHA_TOK = "abc"   # matches ^[A-Za-z]+$
OTHER_TOK = "x9"    # fails the alpha test (digit)
TOKS_PER_DOC = 10


def _mk_docs():
    """(doc_id, text, lang, source, n_chars) rows: 10 all-alpha docs
    (permille 1000), 30 half-alpha docs (permille 500 — the boundary
    bucket), 20 no-alpha docs (permille 0). Total 600 tokens, budget 300:
    the 1000-bucket (100 tokens) is wholly in, the 0-bucket wholly out,
    and the 500-bucket must be split 20 kept / 10 dropped by doc_id."""
    rows = []

    def text_for(permille: int) -> str:
        n_alpha = permille * TOKS_PER_DOC // 1000
        return " ".join([ALPHA_TOK] * n_alpha + [OTHER_TOK] * (TOKS_PER_DOC - n_alpha))

    doc_id = 0
    for permille, n_docs in ((1000, 10), (500, 30), (0, 20)):
        for _ in range(n_docs):
            t = text_for(permille)
            rows.append((doc_id, t, "en", f"s{doc_id % 3}", len(t)))
            doc_id += 1
    return rows


def _reference_selection(rows):
    """Pure-Python doc-level global cumsum (the oracle's formulation)."""
    stats = []
    for doc_id, text, _lang, source, _n in rows:
        toks = text.split(" ")
        n_tok = len(toks)
        n_alpha = sum(1 for t in toks if t.isalpha() and t.isascii())
        permille = 0 if n_tok == 0 else 1000 * n_alpha // n_tok
        stats.append((permille, doc_id, source, n_tok))
    total = sum(s[3] for s in stats)
    budget = total * TOKEN_BUDGET_NUM // TOKEN_BUDGET_DEN
    out: dict[str, list[int]] = {}
    cum = 0
    for permille, doc_id, source, n_tok in sorted(stats, key=lambda s: (-s[0], s[1])):
        cum += n_tok
        if cum > budget:
            break
        agg = out.setdefault(source, [0, 0])
        agg[0] += 1
        agg[1] += n_tok
    return {s: (a[0], a[1]) for s, a in out.items()}


@pytest.fixture(scope="module")
def budget_dir(tmp_path_factory):
    from realtime_twitter_trends_analytics_spark.session import get_spark

    spark = get_spark("rtta-tests", cpus=8)
    out = tmp_path_factory.mktemp("budget_sf")
    df = spark.createDataFrame(
        _mk_docs(), "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(out / "documents.parquet"))
    return str(out)


def test_two_phase_equals_doc_level_cumsum(spark, budget_dir):
    got = {
        r["source"]: (r["n_docs_selected"], r["tokens_selected"])
        for r in docs_token_budget_select(spark, budget_dir).collect()
    }
    assert got == _reference_selection(_mk_docs())


def test_boundary_bucket_is_actually_split(spark, budget_dir):
    # the planted corpus keeps 10 (full 1000-bucket) + 20 (of 30 in the
    # boundary 500-bucket) docs = 300 of 600 tokens; a whole-bucket-only
    # rule would keep either 10 or 40 docs, never 30.
    got = docs_token_budget_select(spark, budget_dir).collect()
    assert sum(r["n_docs_selected"] for r in got) == 30
    assert sum(r["tokens_selected"] for r in got) == 300
