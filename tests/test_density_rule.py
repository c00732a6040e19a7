"""The density-sizing rule (round 11, VERDICT r10 item 2): K derives from
corpus size in ONE place (ml.k_for_corpus) so the cell-blocked family's
O(sum cell^2) pair term stays ~linear in N. Every learned-cell query and
its oracle train at that K; it equals K_CLUSTERS up to 2000 vectors. The
wall measurements live in SCALE_SMOKE.md; this test pins the rule itself
and the parametric training/report path.
"""

from __future__ import annotations

import duckdb
import pytest

from realtime_twitter_trends_analytics_spark.operators.ml import (
    K_CLUSTERS,
    TARGET_CELL_SIZE,
    k_for_corpus,
    kmeans_centroid_rows,
    oracle_k_sql,
    oracle_s_sql,
    s_for_k,
)
from realtime_twitter_trends_analytics_spark.operators.similarity import (
    _semantic_cells_report,
    dedup_semantic_cells,
)

SF = "/root/testdata/sf0.001"


def test_rule_reproduces_gate_constant_at_bench_sf():
    # 2000 vectors at sf0.1 / TARGET_CELL_SIZE=250 == K_CLUSTERS
    assert k_for_corpus(2000) == K_CLUSTERS
    # never below the floor (tiny corpora train K_CLUSTERS)
    assert k_for_corpus(1) == K_CLUSTERS
    assert k_for_corpus(500) == K_CLUSTERS
    # grows ceil-linearly past it: occupancy stays <= TARGET_CELL_SIZE
    assert k_for_corpus(6000) == 24
    assert k_for_corpus(6001) == 25
    for n in (10_000, 1_000_000):
        assert (n + k_for_corpus(n) - 1) // k_for_corpus(n) <= TARGET_CELL_SIZE


@pytest.mark.parametrize("n", [1, 500, 2000, 2001, 6000, 6001])
def test_oracle_k_and_s_match_the_rule(n):
    """The DuckDB oracles seed k-means at oracle_k_sql() and rank the
    super level at oracle_s_sql(): both must equal the engine's rule on a
    planted embeddings table of n rows."""
    with duckdb.connect() as con:
        con.execute(f"CREATE TABLE embeddings AS SELECT range AS vec_id FROM range({n})")
        k, s = con.execute(f"SELECT {oracle_k_sql()}, {oracle_s_sql()}").fetchone()
    assert (k, s) == (k_for_corpus(n), s_for_k(k_for_corpus(n)))


def test_parametric_k_equals_default_where_rule_matches(spark):
    # an explicit k equal to the derived K is the registered query
    k = k_for_corpus(500)
    got = sorted(tuple(r) for r in _semantic_cells_report(spark, SF, k).collect())
    want = sorted(tuple(r) for r in dedup_semantic_cells(spark, SF).collect())
    assert got == want


def test_raised_k_trains_and_partitions(spark):
    rows = kmeans_centroid_rows(spark, SF, 16)
    assert 2 <= len(rows) <= 16
    assert all(len(c) == 64 for _, c in rows)
    rep = _semantic_cells_report(spark, SF, 16).collect()
    assert sum(r["n_vectors"] for r in rep) == 500
    assert len(rep) <= 16
    # raising K strictly shrinks the candidate-pair volume vs the default
    def cand(report):
        return sum(r["n_vectors"] * (r["n_vectors"] - 1) // 2 for r in report)

    base = dedup_semantic_cells(spark, SF).collect()
    assert cand(rep) < cand(base)
