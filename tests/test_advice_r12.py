"""Round-12 ADVICE fixes, each pinned executable:

- compact_ann_index refuses to write a generation over its own base
  (parquet's 'cannot overwrite a path being read from' surfaced as a real
  error with the real reason) and refuses a compact_dir that carries a
  _CURRENT pointer (rows written there would be silently never served —
  the pointer names a different directory).
- The literal-centroid expression builders refuse K past
  K_LITERAL_CEILING: the inlined argmin/topn is O(K*D) literals and stops
  planning at warehouse K — past the ceiling the coarse quantizer must be
  a broadcast-join centroid relation, and the guard says so instead of
  letting Catalyst fail opaque.
- kmeans_cell_assignment memoizes a default call and an explicit call at
  the derived K under ONE key (identical output), so an explicit caller
  re-uses the staging relation instead of re-materializing a duplicate.
- loaders.table_row_count (the footer-stats read ml.learned_k uses
  instead of an eager count()) equals the full-scan count.
"""

from __future__ import annotations

import os

import pytest

from realtime_twitter_trends_analytics_spark.operators.ml import (
    K_LITERAL_CEILING,
    centroid_argmin_sql,
    centroid_topn_sql,
    k_for_corpus,
)
from realtime_twitter_trends_analytics_spark.operators.similarity import (
    kmeans_cell_assignment,
)
from realtime_twitter_trends_analytics_spark.sources.loaders import (
    load_table,
    table_row_count,
)
from realtime_twitter_trends_analytics_spark.streaming.ann_stream import (
    COMPACT_MANIFEST,
    compact_ann_index,
    promote_compacted_generation,
)

SF = "/root/testdata/sf0.001"


def _seed_epochs(spark, index_dir: str) -> None:
    emb = load_table(spark, SF, "embeddings").limit(8)
    from pyspark.sql import functions as F

    rows = emb.select(
        F.lit(0).alias("t"),
        (F.col("vec_id") % 4).cast("int").alias("bucket"),
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cv"),
    )
    rows.write.mode("overwrite").parquet(f"{index_dir}/batch=0")


def test_compact_refuses_self_overwrite(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    compact_dir = str(tmp_path / "gen1")
    _seed_epochs(spark, index_dir)
    compact_ann_index(spark, index_dir, compact_dir)
    with pytest.raises(ValueError, match="FRESH directory"):
        compact_ann_index(
            spark, index_dir, compact_dir, base_compact_dir=compact_dir
        )


def test_compact_refuses_pointer_root(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    gen1 = str(tmp_path / "gen1")
    root = str(tmp_path / "root")
    _seed_epochs(spark, index_dir)
    compact_ann_index(spark, index_dir, gen1)
    # root becomes a runner's pointer root naming gen1
    promote_compacted_generation(root, gen1)
    assert os.path.exists(root + "_CURRENT")
    with pytest.raises(ValueError, match="_CURRENT pointer"):
        compact_ann_index(spark, index_dir, root, base_compact_dir=gen1)
    # and the pointer-root guard also catches the self-overwrite spelled
    # THROUGH the pointer (base resolves to gen1, output root names gen1)
    assert os.path.exists(os.path.join(gen1, COMPACT_MANIFEST))


def test_literal_centroid_ceiling():
    rows = [(i, [0] * 8) for i in range(K_LITERAL_CEILING + 1)]
    with pytest.raises(ValueError, match="broadcast-join centroid relation"):
        centroid_argmin_sql(rows)
    with pytest.raises(ValueError, match="broadcast-join centroid relation"):
        centroid_topn_sql(rows, 3)
    # at the ceiling the builder still works (string assembly only)
    assert "transform" in centroid_argmin_sql([(0, [0] * 8), (1, [1] * 8)])


def test_cell_assignment_memo_normalized(spark):
    a = kmeans_cell_assignment(spark, SF)
    b = kmeans_cell_assignment(spark, SF, k_for_corpus(table_row_count(SF, "embeddings")))
    assert a is b  # one staging relation, not a duplicate materialization


def test_footer_row_count_matches_scan(spark, tmp_path):
    for table in ("embeddings", "documents"):
        assert table_row_count(SF, table) == load_table(spark, SF, table).count()
    # a Spark-written table is a directory of part files (plus _SUCCESS)
    emb = load_table(spark, SF, "embeddings")
    emb.repartition(3).write.parquet(str(tmp_path / "embeddings.parquet"))
    assert table_row_count(str(tmp_path), "embeddings") == emb.count()
