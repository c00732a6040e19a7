"""The staging tier (staging.py): one dict holds every staged intermediate,
keyed per (builder, application, sf_dir, args), and clear() empties it.

Pinned here:
1. clear_staging_memos() empties the whole tier after every registered
   staging builder has run — there is no hand-kept list to fall behind.
2. The default K resolves before the staged build: an omitted k and the
   derived K address the same entry.
3. driver_rows_df plans at one partition for empty input too.
4. No module in the package forks the tier with its own module-level
   memo dict.
"""

from __future__ import annotations

import ast
import pathlib

import realtime_twitter_trends_analytics_spark as pkg
from realtime_twitter_trends_analytics_spark import staging
from realtime_twitter_trends_analytics_spark.operators.dedup import (
    tokenized_docs_staging,
)
from realtime_twitter_trends_analytics_spark.operators.ml import (
    _kmeans_centroid_rows,
    k_for_corpus,
    kmeans_centroid_rows,
)
from realtime_twitter_trends_analytics_spark.registry import (
    all_staging,
    clear_staging_memos,
)
from realtime_twitter_trends_analytics_spark.sources.loaders import (
    driver_rows_df,
    table_row_count,
)


def test_clear_empties_every_staged_entry(spark, sf_dir):
    for build in all_staging().values():
        build(spark, sf_dir)
    assert len(staging._ENTRIES) >= len(all_staging())
    clear_staging_memos()
    assert staging._ENTRIES == {}


def test_clear_named_builders_only(spark, sf_dir):
    clear_staging_memos()
    tokenized_docs_staging(spark, sf_dir)
    rows = kmeans_centroid_rows(spark, sf_dir)
    k = k_for_corpus(table_row_count(sf_dir, "embeddings"))
    staging.clear(_kmeans_centroid_rows)
    assert _kmeans_centroid_rows.key(spark, sf_dir, k) not in staging._ENTRIES
    assert len(staging._ENTRIES) == 2  # tokenized docs + quantized vectors
    assert kmeans_centroid_rows(spark, sf_dir) == rows
    clear_staging_memos()


def test_defaults_are_part_of_the_key(spark, sf_dir):
    clear_staging_memos()
    rows = kmeans_centroid_rows(spark, sf_dir)
    k = k_for_corpus(table_row_count(sf_dir, "embeddings"))
    assert _kmeans_centroid_rows.key(spark, sf_dir, k) in staging._ENTRIES
    assert kmeans_centroid_rows(spark, sf_dir, k) is rows
    assert _kmeans_centroid_rows.key(spark, sf_dir, k) != _kmeans_centroid_rows.key(
        spark, sf_dir, k + 1
    )


def test_driver_rows_df_empty_is_one_partition(spark):
    schema = "cluster int, c array<bigint>"
    assert driver_rows_df(spark, [], schema).rdd.getNumPartitions() == 1
    assert driver_rows_df(spark, [], schema).count() == 0
    assert driver_rows_df(spark, [(0, [1, 2])], schema).rdd.getNumPartitions() == 1


# Module-level dicts allowed to hold state outside the staging tier: the
# tier itself, the audit plan capture, and the loader metadata memos (keyed
# on file stat, deliberately not dropped when the tier is cleared).
_ALLOWED_DICTS = {
    ("staging.py", "_ENTRIES"),
    ("audit.py", "_PLANS"),
    ("loaders.py", "_TABLE_PLAN_MEMO"),
    ("loaders.py", "_ROW_COUNT_MEMO"),
    ("loaders.py", "_VIEW_MEMO"),
}


def _is_empty_dict(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
        and not node.args
        and not node.keywords
    )


def test_no_module_level_memo_dicts_outside_staging():
    found = set()
    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            if _is_empty_dict(value):
                for t in targets:
                    if isinstance(t, ast.Name):
                        found.add((path.name, t.id))
    assert found - _ALLOWED_DICTS == set()
