"""Suite-wide plan-hygiene gate: EVERY registered query's physical plan is
checked for the two classes of scale-killers that can slip in silently —
cartesian/nested-loop products and row-at-a-time Python evaluation. Queries
that legitimately use one are whitelisted HERE, with the reason, so any new
offender fails loudly instead of shipping a 100 TB foot-gun.

(Per-query plan shapes — pushdown, TakeOrderedAndProject, broadcast
choices — are asserted in test_plans.py; this file is the dragnet.)
"""

from __future__ import annotations

import re

import pytest

from realtime_twitter_trends_analytics_spark.audit import audit_plans
from realtime_twitter_trends_analytics_spark.registry import all_queries

# query -> reason a product/nested-loop is the intended plan
CARTESIAN_OK = {
    # documented brute-force recall baseline: broadcast Q x N by design
    "sim_topk_bruteforce": "broadcast query-set x candidates is the baseline",
    "docs_heavy_hitters": "the total-error budget (sum of per-shard MG "
    "decrements) rides a 1-row broadcast side next to the 10-row top-k "
    "(scalar-aggregate pattern)",
    "retrieval_rrf_fusion": "broadcast 1-row query vector x candidates — "
    "the documented brute-force dense baseline (sim_topk_bruteforce "
    "pattern); the production dense side is any ANN variant with the "
    "same (id, rank) contract (see docstring)",
    "sim_matryoshka_eval": "broadcast N_QUERY_VECS-row query set x "
    "candidates — the float side IS the exact-recall oracle "
    "(sim_ann_int8_eval pattern, dimension axis instead of quantization)",
    "events_uplift_by_tier": "the derived split-day scalar rides a 1-row "
    "broadcast side against the event scan (scalar-aggregate pattern)",
    "events_diff_in_diff": "the derived split-day scalar rides a 1-row "
    "broadcast side against the event scan (scalar-aggregate pattern)",
    "orders_ar_aging": "the derived snapshot-day scalar rides a 1-row "
    "broadcast side against the open-orders scan (scalar-aggregate "
    "pattern)",
    "events_velocity_flags": "the corpus-total denominator rides a 1-row "
    "broadcast next to the flagged-user readout (scalar-aggregate "
    "pattern)",
    "events_churn_sensitivity": "the derived snapshot-day scalar rides a "
    "1-row broadcast next to the user-grain last-activity relation "
    "(scalar-aggregate pattern)",
    "events_interrupted_time_series": "the derived split-day scalar rides "
    "a 1-row broadcast against the calendar-bounded day series "
    "(scalar-aggregate pattern)",
    "orders_revenue_drawdown": "the 1-row worst-drawdown readout joins "
    "the 1-row end-of-series drawdown (scalar-aggregate pattern, both "
    "sides single rows)",
    "graph_rich_club": "the 1-row degree-cut / rich-edge-count / "
    "edge-total scalars join the 1-row size readout (scalar-aggregate "
    "pattern)",
    "textstats_heaps_law": "per-checkpoint 1-row vocab x token-total "
    "scalar joins (scalar-aggregate pattern, checkpoint count is a "
    "constant)",
    "docs_vocab_coverage_curve": "the vocab-size/total-occurrences "
    "denominators ride a 1-row broadcast beside the top-max(CUTS) readout "
    "(scalar-aggregate pattern; the r11 rewrite that replaced the "
    "full-vocabulary unpartitioned window — see test_bounded_windows.py)",
    "events_markov_stationary": "the empirical-total denominator rides a "
    "1-row broadcast next to the K-row stationary vector "
    "(scalar-aggregate pattern)",
    "graph_modularity": "the sum-of-squared-community-degrees scalar "
    "rides a 1-row broadcast next to the 1-row edge totals "
    "(scalar-aggregate pattern)",
    "stats_kendall_tau": "the quadratic pair join runs on the CALENDAR-"
    "bounded day grain (~2.4k rows at any SF), so the non-equi self-join "
    "is a constant ~3M pair evaluations regardless of data volume; the "
    "final crossJoin is the 1-row scalar-aggregate pattern",
    "ml_naive_bayes_lang": "the smoothed model grid is |langs| x |vocab| "
    "— a 5-row language list cross-joining the vocabulary relation "
    "(dimension-sized, broadcast scale), plus the 1-row vocabulary-size "
    "and doc-total scalars riding broadcast sides (scalar-aggregate "
    "pattern); every data-sized join is token- or doc-keyed equi",
    "events_funnel_conversion": "the three funnel-step counts are 1-row "
    "aggregates cross-joined into the single readout row "
    "(scalar-aggregate pattern); all data-sized joins are user-keyed "
    "equi-joins",
    "stats_permutation_test": "the observed-difference moments ride a "
    "1-row broadcast side against the R-row replicate aggregate "
    "(scalar-aggregate pattern); the xR fan-out partial-aggregates "
    "map-side to R rows before any shuffle",
    "stats_cramers_v": "each contingency pair crosses its category-grain "
    "cells with the 1-row (n, r, c) total (scalar-aggregate pattern); "
    "marginals are broadcast category-grain joins, nothing data-sized "
    "after the first agg",
    "textstats_burstiness": "the 1-row document-count scalar rides a "
    "broadcast side against the vocabulary-grain token stats "
    "(scalar-aggregate pattern)",
    "textstats_collocation_pmi": "the 1-row corpus token total rides a "
    "broadcast side against the count-floored bigram grain "
    "(scalar-aggregate pattern); the unigram joins are vocabulary-grain "
    "equi-joins",
    "docs_jsd_drift": "the 1-row corpus token total rides a broadcast "
    "side against the (source, token) cell grain (scalar-aggregate "
    "pattern); the marginals are vocabulary/source-grain equi-joins",
    "stats_mutual_information": "the stats_cramers_v scalar-aggregate "
    "shape: 1-row totals and 1-row entropy sums ride broadcast sides "
    "against category-space contingency cells",
    "sample_class_balance": "the 1-row min-class-size scalar rides a "
    "broadcast side against the per-class rank relation "
    "(scalar-aggregate pattern)",
    "events_cuped_adjustment": "two 1-row scalars ride broadcast sides: "
    "the mid-experiment split day against the event scan, and the pooled "
    "covariance stats against the 2-row variant agg (scalar-aggregate "
    "pattern)",
    "docs_cluster_keywords": "the corpus token total rides a 1-row "
    "broadcast side against the vocabulary-bounded (cell, token) grain "
    "(scalar-aggregate pattern); the only data-sized join is the "
    "doc-keyed tokens x cell-assignments equi-join",
    # scalar-subquery brute-force pairs are the oracle for LSH candidates
    "dedup_embedding_cosine": "planted-dup exact verifier joins on LSH "
    "buckets; the tiny residual product is the bucket-pair check",
    # salt replication crossJoins an N-row literal range (documented)
    "skewed_join_salted": "explicit salt-replication crossJoin of a "
    "SALT_FACTOR-row literal dimension",
    "trends_token_topk_salted": "same salt-replication pattern",
    # scalar aggregate (one row) feeding a predicate — BNLJ on a 1-row side
    "join_range_theta": "non-equi range join against a tiny broadcast band "
    "table — BroadcastNestedLoopJoin on the broadcast side IS the plan "
    "(at scale: bucketize the range into an equi-join key, see SCALE.md)",
    "sql_q11_important_supply": "scalar threshold subquery (1-row side)",
    "sql_q15_top_supplier": "scalar max-of-CTE subquery (1-row side)",
    "sql_q22_dormant_rich_customers": "scalar avg-balance subquery",
    "subqueries": "scalar subquery demo (1-row side)",
    "trends_token_approx_topk": "scalar kth-exact-count subquery (1-row "
    "broadcast side) feeding the sketch-vs-exact verdict aggregation",
    "ml_kmeans_embeddings": "Lloyd assignment broadcasts the K-row centroid "
    "relation against the vector scan — every-vector-vs-every-centroid is "
    "the algorithm; K is a small constant (8), so the product is K*N map-side",
    "sim_ivf_kmeans_ann": "inherits the K-row centroid broadcast product "
    "from the k-means assignment it uses as its codebook (see "
    "ml_kmeans_embeddings); the ANN join itself is an equi-join on cell id",
    "sim_ivf_ann": "multi-probe variant of sim_ivf_kmeans_ann: same K-row "
    "centroid broadcast product for cell ranking/assignment; candidate "
    "retrieval is an equi-join on cell id",
    "sim_ivf_kmeans_ann_rel": "the RELATION face of the coarse quantizer "
    "(round 13): the query-side cell ranking crossJoins the broadcast "
    "K-row centroid relation BY DESIGN — the K > K_LITERAL_CEILING "
    "dispatch target, oracle-gated below the ceiling; every data-sized "
    "join stays a cell-id equi-join",
    "dedup_semantic_cells_rel": "same relation-face centroid broadcast "
    "as sim_ivf_kmeans_ann_rel (assignment side rides the checkpointed "
    "staging relation; listed for the probe-free body's safety)",
    "ml_negative_samples": "anchors x broadcast NEG_POOL-row hash-selected "
    "pool is the sampling design — constant 64-row side, map-side product",
    "sim_knn_label_probe": "broadcast eval-set x candidate scan is the "
    "documented brute-force pattern (see sim_topk_bruteforce)",
    "ml_knn_calibration": "same broadcast eval-set x candidate scan as "
    "sim_knn_label_probe (shared eval pipeline, different readout); the "
    "IVF-candidate feed is the documented production fallback",
    "ml_calibration_brier": "consumes ml_knn_calibration's bucket "
    "relation verbatim (same broadcast eval-set x candidate scan, one "
    "more K-row agg); same IVF production fallback",
    "sim_mmr_diversity_eval": "composes sim_mmr_topk and "
    "sim_topk_bruteforce (both already-whitelisted broadcast query-set "
    "x candidate evals); the diversity pairs are K^2/2-per-query "
    "constants joined by id",
    "decontaminate_semantic": "broadcast eval-set x corpus scan — the eval "
    "suite is tiny by design; IVF-cell blocking is the documented fallback "
    "if it outgrows broadcast (see sim_knn_label_probe_ivf)",
    "events_rolling_dau": "day-grid x user-days range join: the grid side "
    "is |distinct days| rows (bounded by the calendar), broadcast NLJ is "
    "the intended plan; at scale bucketize day into an equi-key (SCALE.md)",
    "ml_logreg_irls": "each Newton step crosses the scan with the 1-row "
    "beta relation (scalar-aggregate pattern) — the sufficient-statistic "
    "broadcast every iteration reads",
    "events_survival_km": "the censoring horizon (max corpus date) rides "
    "a 1-row broadcast side (scalar-aggregate pattern); the per-user "
    "first-view/first-purchase joins are user-keyed equi-joins",
    "graph_kcore": "r15: per-side peel thresholds are now collected once "
    "as driver literals (no broadcast side remains); kept listed for the "
    "node-keyed peel equi-joins' safety margin",
    "market_basket_rules": "r15: the basket-count denominator is now a "
    "collected driver literal (no broadcast side remains); pair "
    "generation is an equi-join on the order key",
    "sim_ann_int8_eval": "broadcast N_QUERY_VECS-row query set x candidates "
    "— the float side IS the exact-recall oracle (sim_topk_bruteforce "
    "pattern); at scale the int8 side comes from the IVF/PQ candidate "
    "paths and the eval contract is unchanged (see docstring)",
    "events_psi_drift": "the day x bin grid crosses the per-day totals "
    "with the broadcast ~20-row corpus-bin relation (resolution-bounded, "
    "never data-sized) and the 1-row corpus total rides a broadcast side "
    "(scalar-aggregate pattern); the daily-count join is a (day, bin) "
    "equi-join",
    "part_abc_migration": "the half-split midpoint date rides a 1-row "
    "broadcast side (scalar-aggregate pattern); the per-half aggregation "
    "and the transition self-join are part-keyed equi",
    "orders_gap_fill_forward": "the spine is a calendar-sized explode "
    "crossing the 5-row priority dimension — both sides broadcast and "
    "bounded by calendar x priority cardinality regardless of order "
    "count; the daily-aggregate join is a (priority, day) equi-join",
}

# query -> reason Python evaluation is required (Arrow-batched paths
# FlatMapGroupsInPandas / ArrowEvalPython / MapInPandas / PythonUDTF are
# always allowed; this whitelist is ONLY for row-at-a-time BatchEvalPython)
ROW_PYTHON_OK: dict[str, str] = {}

# ---------------------------------------------------------------------------
# Audited-intermediate whitelists (round-6 fix for the r5 blind spot):
# builders that eagerly materialize (collect + createDataFrame) or
# localCheckpoint register their distributed intermediates in the audit
# registry (realtime_twitter_trends_analytics_spark/audit.py) — these plans never appear in the
# query's final plan (LocalTableScan / checkpoint scan truncates lineage),
# so the dragnet walks them separately. Whitelists are keyed by LABEL
# (stable regardless of which query triggers a memoized build first).
# ---------------------------------------------------------------------------
AUDIT_CARTESIAN_OK = {
    # k-core round-1 plan: the per-side degree thresholds ride a 1-row
    # broadcast side inside the keep-set filters (scalar-aggregate
    # pattern); the peel joins are node-keyed equi-joins
    "kcore_round": "r15: thresholds are driver literals now; the round is "
    "node-keyed equi-joins only (entry kept for margin)",
    # MMR relevance scan: broadcast Q-row query set x corpus — the same
    # documented brute-force pattern as sim_topk_bruteforce; at production
    # scale the pool comes from the ANN paths instead (see docstring)
    "mmr_pool": "broadcast N_QUERY_VECS-row query set x candidates",
    # k-center round: the newest picked vector rides a 1-row broadcast
    # side against the corpus scan (incremental max-sim update — the
    # kmeans driver-model pattern, one row instead of K)
    "kcenter_round": "1-row newest-pick broadcast x corpus scan",
    # the RELATION face of the coarse quantizer (round 13): past
    # K_LITERAL_CEILING the centroids become data and every-vector-vs-
    # every-centroid IS the algorithm — crossJoin(broadcast(K-row centroid
    # relation)) + min(struct) keyed argmin (the ml_kmeans_embeddings
    # precedent with the centroids as a relation instead of literals)
    "semantic_cell_assignments_rel": "broadcast centroid relation x vector "
    "scan — the dispatched coarse quantizer past K_LITERAL_CEILING",
    # the Lloyd update round when training runs through the relation face
    # (K past the ceiling, or the lowered-ceiling tests): the assignment
    # subplan inside the round carries the same whitelisted broadcast
    # centroid product (ADVICE r13 — the literal-face label must stay
    # un-whitelisted, so the label dispatches with the face)
    "kmeans_update_round_rel": "broadcast centroid relation x vector scan "
    "inside a relation-face Lloyd round",
    # the super-level Lloyd round of the two-level quantizer when S exceeds
    # the ceiling (lowered-ceiling tests; production K > ~1.7e7): same
    # whitelisted broadcast-centroid product, dispatched with the face
    # exactly like kmeans_update_round_rel
    "kmeans_super_round_rel": "broadcast super-centroid relation x level-1 "
    "centroid rows inside a relation-face super Lloyd round",
    # sim_mmr_diversity_eval's checkpointed brute-force baseline selection
    # (r14: materialized once so the pair self-join + overlap join stop
    # re-executing the scan) — the subplan is sim_topk_bruteforce's
    # already-whitelisted broadcast query-set x candidates product
    "mmr_eval_brute_sel": "broadcast query-set x candidates inside the "
    "materialized relevance-baseline selection (sim_topk_bruteforce form)",
}
AUDIT_ROW_PYTHON_OK: dict[str, str] = {}


def _check_plan(where: str, plan: str, cartesian_ok: bool, row_py_ok: bool):
    if not cartesian_ok:
        assert "CartesianProduct" not in plan, f"{where}: unplanned cartesian"
        assert (
            "BroadcastNestedLoopJoin" not in plan
        ), f"{where}: unplanned nested-loop join"
    if not row_py_ok:
        assert not re.search(
            r"BatchEvalPython(?!UDTF)", plan
        ), f"{where}: row-at-a-time Python UDF in the plan"


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_silent_scale_killers(spark, sf_dir, name):
    before = set(audit_plans())
    df = all_queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # BatchEvalPythonUDTF (the lateral-UDTF surface demo) is allowed;
    # plain BatchEvalPython (row-at-a-time scalar UDF) is not.
    _check_plan(name, plan, name in CARTESIAN_OK, name in ROW_PYTHON_OK)
    # distributed intermediates this builder registered (eager/checkpointed
    # stages the final plan hides behind LocalTableScan / checkpoint scans)
    for label, aplan in audit_plans().items():
        if label in before:
            continue
        _check_plan(
            f"{name} [audit:{label}]",
            aplan,
            label in AUDIT_CARTESIAN_OK,
            label in AUDIT_ROW_PYTHON_OK,
        )
    spark.catalog.clearCache()


def test_audit_registry_covers_eager_builders(spark, sf_dir):
    """The blind spot stays closed: after building the known
    eager/checkpointing queries, the audit registry must contain their
    distributed intermediates (>= 1 audited plan per eager query). A new
    eager builder that forgets audit_plan() won't be caught here by name,
    but the named set pins the contract for the ones the r5 verdict
    flagged."""
    q = all_queries()
    for name in ["sim_mmr_topk", "ml_pca_power_iteration", "ml_kmeans_embeddings"]:
        q[name](spark, sf_dir)
    have = set(audit_plans())
    for label in ["mmr_pool", "pca_gram_stats", "kmeans_update_round"]:
        assert label in have, f"audit registry missing {label}"
    spark.catalog.clearCache()
