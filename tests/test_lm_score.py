"""Invariants for the bigram LM scorer (engine parity is oracle-gated)."""

from __future__ import annotations

import math

from realtime_twitter_trends_analytics_spark import staging
from realtime_twitter_trends_analytics_spark.operators.textstats import (
    _corpus_vocab,
    textstats_lm_score,
)
from realtime_twitter_trends_analytics_spark.registry import clear_staging_memos


def test_lm_score_invariants(spark, sf_dir, duck):
    rows = textstats_lm_score(spark, sf_dir).collect()
    assert len(rows) > 0
    # per-source bigram totals must reconcile with a direct corpus count
    n_expected = duck.execute(
        "SELECT count(*) FROM (SELECT unnest(string_split(text,' ')) FROM documents)"
        " UNION ALL SELECT count(*) FROM documents"
    ).fetchall()
    total_bigrams = n_expected[0][0] - n_expected[1][0]  # sum(len-1) per doc
    assert sum(r.n_bigrams for r in rows) == total_bigrams
    for r in rows:
        # add-one smoothing keeps every probability strictly inside (0, 1):
        # cross-entropy positive, perplexity consistent with its mean
        assert r.mean_nll > 0
        assert abs(r.ppl - math.exp(r.mean_nll)) < 0.01 * r.ppl + 1e-3
        assert r.n_docs > 0 and r.n_bigrams >= r.n_docs


def test_corpus_vocab_memo(spark, sf_dir, duck):
    """The |V| scalar is memoized model state: correct vs a direct count,
    served from the memo on re-call, dropped by clear_staging_memos."""
    clear_staging_memos()
    v1 = _corpus_vocab(spark, sf_dir)
    expected = duck.execute(
        "SELECT count(DISTINCT t) FROM "
        "(SELECT unnest(string_split(text,' ')) AS t FROM documents)"
    ).fetchone()[0]
    assert v1 == expected
    key = _corpus_vocab.key(spark, sf_dir)
    assert staging._ENTRIES[key] == v1
    # memo hit: poison the stored value and confirm the call returns it
    # (i.e. no recompute happens on the second call)
    staging._ENTRIES[key] = v1 + 1
    assert _corpus_vocab(spark, sf_dir) == v1 + 1
    clear_staging_memos()
    assert key not in staging._ENTRIES
    assert _corpus_vocab(spark, sf_dir) == v1
