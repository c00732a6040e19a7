"""Central registry: every implemented query + its DuckDB oracle SQL.

The driver contract (__spark_entry__.py) re-exports these. Modules register
{name -> fn(spark, sf_dir) -> DataFrame} and {name -> oracle SQL}; a query
without an oracle gets the driver's weaker rows-only check (reserved for
genuinely non-SQL-expressible ops, e.g. binary-payload transport).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    analytics_ext,
    analytics_ext2,
    cleaning,
    dedup,
    graph,
    layout,
    grouped_pandas,
    ml,
    multimodal,
    quality,
    relational,
    relational_ext,
    sampling,
    similarity,
    skew,
    sql_battery,
    textstats,
    trends,
)
# bench.py and tools/ drop the staging tier between timed builds (min-of-N
# build times) through this name.
from .staging import clear as clear_staging_memos  # noqa: F401

_MODULES = [
    relational,
    relational_ext,
    analytics_ext,
    analytics_ext2,
    trends,
    dedup,
    similarity,
    skew,
    sql_battery,
    textstats,
    multimodal,
    quality,
    grouped_pandas,
    sampling,
    cleaning,
    layout,
    graph,
    ml,
]

QueryFn = Callable[[SparkSession, str], DataFrame]


def all_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return out


def all_staging() -> dict[str, QueryFn]:
    """Named staging-relation builders (staged per application/sf_dir —
    the in-process analogue of a pipeline's parquet staging writes).

    bench.py builds these FIRST and records each build as its own
    ``staging:<name>`` line (VERDICT r5 item 3): consumers of a memoized
    relation otherwise report near-zero times (dedup_minhash_pairs read
    0.02 s in r5 because dedup_clusters had already built the pair
    relation), which let a consumer's own regression hide behind its
    newly-joined staging tier. With the build cost as a named line, both
    the build and every consumer are comparable across rounds."""
    return {
        # tokenize-once FIRST (r8): the shingle builds, bigram_instances,
        # and dsir_instances all read it — before r8 each re-tokenized
        # documents from raw text
        "tokenized_docs": dedup.tokenized_docs_staging,
        # r15 (VERDICT r14 item 2): the |V| scalar's distinct-token agg is
        # a timed line — without it the memoized build landed in the
        # untimed warm-up and its two consumers' bench lines stopped being
        # comparable round-over-round. Right after tokenized_docs (its
        # input) so the line prices ONLY the distinct-count aggregation.
        "corpus_vocab": textstats.corpus_vocab_staging,
        # the uncapped distinct-shingle relation, read by BOTH the hot-list
        # cap build and the minhash signature agg
        "doc_shingles": dedup.shingle_rel_staging,
        "capped_shingles": dedup.capped_shingle_staging,
        # signatures BEFORE the pair build that consumes them (round 7:
        # shared by the banded self-join and the incremental probe)
        "minhash_signatures": dedup.minhash_signatures_staging,
        "minhash_pairs": dedup.dedup_minhash_pairs,
        "cooc_edges": graph._cooc_edges,
        # r8: the kcore bipartite edge build was ~85% of the kcore query's
        # bench line — now a named staging line like cooc_edges
        "kcore_edges": graph.kcore_edges_staging,
        # quantized_vectors FIRST among the vector builds: it is their
        # shared scan (round-7 memoization — VERDICT r6 item 7), so its
        # one-time materialization cost gets its own line instead of
        # riding whichever consumer builds first.
        "quantized_vectors": ml.quantized_vectors,
        # trainer BEFORE its consumer (r8): kmeans_cells used to absorb
        # the Lloyd-round training cost because it built the codebook
        # memo first — same accounting fix as kcore_edges
        "kmeans_codebook": ml.kmeans_centroids,
        "kmeans_cells": similarity.kmeans_cell_assignment,
        "bigram_instances": textstats.bigram_instance_staging,
        "dsir_instances": cleaning.dsir_instance_staging,
        # r11: the per-doc log-weight relation — the bucket-split top-K
        # reads it twice per job and corpus_pipeline_v3 reads it again
        "dsir_perdoc": cleaning.dsir_perdoc_staging,
        "pq_codebook": lambda s, d: ml.pq_trained(s, d)[1],
    }


def all_bench_only() -> dict[str, QueryFn]:
    """Variants benched but NOT in the oracle correctness gate, kept out
    of all_queries() so the gate stays 100% value-oracled (a rows-only
    entry would be a weaker check pretending to be coverage). Three families
    remain, each entry with its reason to exist next to it:

    - bucket-split segmentation twins of exact global-sort readouts
      (accuracy pinned vs the exact twins in tests/test_prod_twins.py;
      tests/test_window_hygiene.py whitelists the exact twins' one-task
      sorts only because these twins exist);
    - density-rule faces (K from ml.k_for_corpus), row-identical to the
      gate query only at bench SF (tests/test_density_rule.py);
    - the distributed BPE trainer, the gate trainer's fallback above
      BPE_TRAIN_TYPE_CAP types (merge list pinned to the DuckDB oracle in
      tests/test_bpe_prod.py).
    """
    return {
        # lets test_window_hygiene pass part_abc_classification's global sort
        "part_abc_classification_prod": analytics_ext.part_abc_classification_prod,
        # lets test_window_hygiene pass events_power_users_gini's global sort
        "events_power_users_gini_prod": analytics_ext.events_power_users_gini_prod,
        # lets test_window_hygiene pass customers_rfm_segments' global sort
        "customers_rfm_segments_prod": quality.customers_rfm_segments_prod,
        # lets test_window_hygiene pass layout_range_splits' row-grain sort
        "layout_range_splits_prod": layout.layout_range_splits_prod,
        # K from corpus size equals the gate's constant K only at bench SF
        "dedup_semantic_cells_prod": similarity.dedup_semantic_cells_prod,
        # K from corpus size equals the gate's constant K only at bench SF
        "sim_ivfpq_ann_prod": similarity.sim_ivfpq_ann_prod,
        # the gate trainer's fallback above the type cap; batch_mix measures it
        "textstats_bpe_induction_batched": textstats.textstats_bpe_induction_batched,
    }


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    unknown = set(out) - set(all_queries())
    if unknown:
        raise ValueError(f"oracles without queries: {unknown}")
    return out
