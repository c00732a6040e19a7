"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes fully via the noop sink (computes every row, collects
nothing — measures the engine, not the driver-side transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from realtime_twitter_trends_analytics_spark.registry import (
    all_bench_only,
    all_queries,
    all_staging,
    clear_staging_memos,
)
from realtime_twitter_trends_analytics_spark.session import get_spark

HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "agg_rollup",
    "stats_aggregates",
    "percentiles",
    "window_topk_orders_per_customer",
    "join_asof_latest_order",
    # trends / streaming-shaped
    "tweet_pipeline_flagship",
    "tweet_parse_clean_country",
    "window_sliding_counts",
    "window_session_per_user",
    "json_functions",
    "trends_token_topk_salted",
    # SQL battery / behavioral analytics
    "sql_q9_profit_by_nation_year",
    "sql_q21_waiting_orders",
    "window_distribution_funcs",
    "events_retention_cohorts",
    "events_cooccurrence",
    "events_sequence_detect",
    "events_rolling_features",
    "events_attribution",
    "events_hll_rollup",
    "events_anomaly_mad",
    "events_rolling_dau",
    "agg_argmax",
    "variant_functions",
    # north-star
    "sentiment_docs",
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_semantic_cells",
    # r13: the broadcast-join coarse-quantizer face (the K>K_LITERAL_CEILING
    # dispatch target), benched beside its literal twins so the relation
    # path's cost is tracked round-over-round
    "dedup_semantic_cells_rel",
    "sim_ivf_kmeans_ann_rel",
    "decontaminate_ngram_overlap",
    "textstats_repetition",
    "textstats_bm25",
    "dedup_fuzzy_blocked",
    "docs_chunking",
    "docs_pack_bins",
    "sim_topk_bruteforce",
    "sim_lsh_ann",
    "sim_ivf_ann",
    "sim_ivf_kmeans_ann",
    "sim_pq_adc_ann",
    "sim_ivfpq_ann",
    "sim_knn_label_probe",
    "textstats_quality",
    "textstats_tfidf",
    "percentiles_approx",
    "multimodal_feature_summary",
    # corpus cleaning / governance
    "docs_pii_redact",
    "docs_quality_filter",
    "docs_text_normalize",
    "docs_mixture_weights",
    "sample_weighted_priority",
    "dedup_survivors",
    "textstats_inverted_index",
    # data layout / warehouse shaping
    "layout_zorder_key",
    "orders_scd_ranges",
    # graph analytics / LM scoring
    "graph_pagerank_topk",
    "graph_triangle_stats",
    "textstats_lm_score",
    # ML primitives
    "ml_kmeans_embeddings",
    "ml_kmeans_two_level",
    "ml_embedding_dim_variance",
    "ml_pq_codebook",
    "ml_pq_encode_rel",
    "ml_pq_lut_rel",
    "ml_negative_samples",
    "ml_normal_equations",
    "events_markov_transitions",
    "textstats_bpe_merges",
    "textstats_bpe_induction",
    "textstats_bpe_apply",
    "textstats_winnowing",
    "docs_tokenize_to_ids",
    # warehouse maintenance / ordering
    "corpus_pipeline_flagship",
    "corpus_pipeline_v2",
    "docs_chi2_lang_source",
    "events_cdc_state",
    "orders_incremental_merge",
    "docs_shard_order",
    "sql_recursive_date_spine",
    "sql_lateral_topk_orders",
    # round-4 analytics extensions
    "events_gaps_islands",
    "sample_reservoir_per_key",
    "docs_boilerplate_chunks",
    "part_skyline_per_brand",
    "events_ab_test_lift",
    # round-5 extensions
    "decontaminate_bloom",
    "sim_knn_label_probe_ivf",
    "dedup_dup_spans",
    "stats_correlation_matrix",
    "ml_quantile_binning",
    "docs_token_budget_select",
    "decontaminate_semantic",
    "docs_dsir_weights",
    "docs_ccnet_buckets",
    "ml_pca_power_iteration",
    "dedup_soft_weights",
    "corpus_pipeline_v3",
    "textstats_zipf_fit",
    "dedup_minhash_eval",
    "graph_lpa_communities",
    "trends_burst_detection",
    "sim_mmr_topk",
    "stats_ks_test",
    # round-6 extensions
    "graph_kcore",
    "market_basket_rules",
    "stats_mannwhitney",
    "events_changepoint",
    "docs_ngram_novelty",
    "sim_ann_int8_eval",
    "graph_link_prediction",
    "stats_bootstrap_ci",
    "events_seasonal_decompose",
    "events_survival_km",
    "events_audience_overlap",
    "events_trigram_paths",
    "ml_logreg_irls",
    # round-7 additions: governance / retrieval / sketch operators
    "profile_documents",
    "quality_constraint_checks",
    "customers_rfm_segments",
    "docs_readability",
    "docs_heavy_hitters",
    "retrieval_rrf_fusion",
    "events_funnel_conversion",
    "events_ewma_forecast",
    "customers_clv_cohorts",
    "sim_matryoshka_eval",
    "events_cms_topk",
    "ml_naive_bayes_lang",
    "dedup_incremental_probe",
    "part_abc_classification",
    "events_power_users_gini",
    # round-8 additions: behavioral entropy, PSI drift monitor, forward
    # gap-fill, grouped OLS, vocabulary coverage
    "events_user_entropy",
    "events_psi_drift",
    "orders_gap_fill_forward",
    "part_price_slope",
    "docs_vocab_coverage_curve",
    "events_bot_regularity",
    "part_abc_migration",
    "events_holt_forecast",
    "sim_kcenter_select",
    "events_k_anonymity",
    "events_dp_counts",
    "orders_join_ivm",
    # round-8 continuation: autocorrelation, sweep-line backlog, BH/FDR,
    # l-diversity, Hilbert layout, split-leakage audit
    "events_acf",
    "orders_backlog_sweep",
    "stats_fdr_bh",
    "events_l_diversity",
    "layout_hilbert_key",
    "dedup_split_leakage",
    "stats_permutation_test",
    "ml_decision_stump",
    "events_forecast_backtest",
    "textstats_rake_keyphrases",
    "docs_cluster_keywords",
    "stats_cramers_v",
    "events_hll_sliding_dau",
    "events_dp_quantile",
    "textstats_burstiness",
    "stats_anova_oneway",
    "stats_spearman_rho",
    "events_benford_digits",
    "stats_trimmed_means",
    "textstats_collocation_pmi",
    "docs_jsd_drift",
    "layout_compaction_plan",
    "stats_mutual_information",
    "events_hill_tail_index",
    "sample_class_balance",
    "graph_bfs_frontiers",
    "ml_knn_calibration",
    "stats_levene_bf",
    "orders_wow_revenue",
    "docs_ttr_hapax",
    "lineitem_leadtime_percentiles",
    "events_slo_burn",
    "stats_two_proportion_ztest",
    "events_growth_accounting",
    "events_cuped_adjustment",
    "ml_auc_roc",
    "stats_power_mde",
    "orders_reorder_intervals",
    # round-8 fourth session
    "events_stickiness_dau_mau",
    "stats_kendall_tau",
    "ml_feature_hashing",
    "sample_neyman_allocation",
    "layout_range_splits",
    "events_uplift_by_tier",
    "events_markov_stationary",
    "events_diff_in_diff",
    "layout_partition_skew",
    "events_watermark_lateness",
    "graph_degree_assortativity",
    "ml_stump_cv_gain",
    "graph_modularity",
    "dedup_lsh_tuning_curve",
    "orders_ar_aging",
    "lineitem_discount_bands",
    "events_ab_srm_check",
    "ml_pr_auc",
    "supplier_otif_scorecard",
    "orders_monthly_yoy",
    "events_velocity_flags",
    "ml_kmeans_silhouette",
    "events_churn_sensitivity",
    "parts_supplier_hhi",
    "orders_basket_size_dist",
    "stats_welch_ttest",
    "layout_pruning_advisor",
    "ml_calibration_brier",
    "events_holt_winters",
    "events_interrupted_time_series",
    "events_ingest_gap_audit",
    "orders_revenue_drawdown",
    "ml_feature_hash_tradeoff",
    "events_session_depth_dist",
    "sim_mmr_diversity_eval",
    "textstats_heaps_law",
    "graph_rich_club",
    "stats_skew_kurtosis",
    "docs_length_lognormal",
    # round-8: sketch/bucket production twins of the exact global-sort
    # segmentation readouts (bench-only; accuracy pinned vs their exact
    # twins in tests/test_prod_twins.py)
    "part_abc_classification_prod",
    "events_power_users_gini_prod",
    "customers_rfm_segments_prod",
    "layout_range_splits_prod",
    # round-10: batch twin of the streaming corpus topology — gate ->
    # near-dup dedup -> accounting (oracle-gated)
    "corpus_pipeline_neardup",
    # round-12: + the decontamination stage (oracle-gated; stream twin in
    # tests/test_corpus_v4.py)
    "corpus_pipeline_v4",
    # round-11: the density-rule faces (bench-only; equality at bench SF
    # pinned in tests/test_density_rule.py)
    "dedup_semantic_cells_prod",
    "sim_ivfpq_ann_prod",
    # round-12: the distributed batched BPE trainer, the gate trainer's
    # path above BPE_TRAIN_TYPE_CAP types (merge list pinned to the DuckDB
    # oracle in tests/test_bpe_prod.py)
    "textstats_bpe_induction_batched",
]

# DELIBERATE surface demos (round 12, VERDICT r11 item 7): queries kept in
# the suite to PRICE a boundary (grouped_zscore = the applyInPandas
# grouped-map Arrow round-trip, paid by design — see grouped_pandas.py).
# They are timed and reported under a "demo:" prefix so round-over-round
# diffs still track them, but they are EXCLUDED from the headline total:
# the total should price what ships, not what the API-surface demos
# deliberately pay.
DEMO = [
    "grouped_zscore",
]


STREAM_ROWS = 200_000
# 64 source files drained 32-per-trigger = 2 micro-batches of 32 input
# partitions each: the transform stage (the regex chain dominates, not
# sentiment) runs on all local cores instead of 4 — the same lever as
# Kafka partition count on a real cluster. Measured on this box:
# 8 files/4-per-trigger 52.8k rows/s -> 64/32 68-72k (SQL-sentiment path).
STREAM_FILES = 64


def streaming_throughput(spark, sql_sentiment: bool = False, joined: bool = False) -> dict:
    """End-to-end streaming pipeline throughput over a bounded file
    replay: parse -> clean -> sentiment -> hashtag explode ->
    watermarked sliding-window counts, drained with availableNow into the
    noop sink. rows/sec here is the single-node analogue of the
    reference's live path — whose producer self-caps at ~10 msg/s
    (prod:~sleep), the only throughput number BASELINE.md records.

    sql_sentiment=False scores through the Arrow pandas_udf (the
    model-per-worker path); True uses the pure-SQL lexicon expression —
    reported side by side so the Python-boundary cost is measured, not
    guessed.

    joined=True drives the PRODUCTION A5 topology instead (VERDICT r4
    item 5): trend_sentiment_joined (two windowed aggs + stream-stream
    join, three stateful operators) drained through
    write_with_first_batch_setup's foreachBatch sink in append mode — the
    entry a real deployment runs, so its throughput is a recorded number,
    not an extrapolation from the transform-only paths."""
    import json as _json
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
        read_raw_stream,
        transform_tweets,
        trend_counts,
        trend_sentiment_joined,
        write_with_first_batch_setup,
    )

    work = tempfile.mkdtemp(prefix="bench_stream_")
    src, ckpt = f"{work}/src", f"{work}/ckpt"
    os.makedirs(src)
    base_ts = 1_700_000_000
    tags = ["#spark", "#data", "#ai", "#news", "#sports"]
    per_file = STREAM_ROWS // STREAM_FILES
    for f_idx in range(STREAM_FILES):
        with open(f"{src}/b{f_idx}.json", "w") as fh:
            for i in range(per_file):
                row_id = f_idx * per_file + i
                value = (
                    f"user{row_id % 97}, City{row_id % 31} /TLOC/ "
                    f"{tags[row_id % 5]} message text number {row_id} RT junk"
                )
                fh.write(
                    _json.dumps({"key": str(base_ts + row_id % 3600), "value": value})
                    + "\n"
                )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # Streaming stateful aggs get no AQE coalescing: every shuffle
        # partition pays a state-store open/commit per micro-batch, so the
        # partition count must be sized to the stream, not inherited from
        # the batch default (measured on this box: 32 partitions 13.4k
        # rows/s -> 8 partitions 27.8k -> 4 partitions 38.1k on the same
        # drain). 8 keeps all cores busy through the stateful stage while
        # paying 1/4 of the store commits; on a real cluster this is the
        # same sizing rule as session.cluster_conf, applied per-stream.
        # The joined A5 topology runs THREE stateful operators (two aggs +
        # the join), i.e. 3x the state-store instances per partition — the
        # same rule sizes it DOWN again (measured: 4 parts 54.8k rows/s,
        # 8 parts 50.7k, 16 parts 38.5k on the warm drain).
        spark.conf.set("spark.sql.shuffle.partitions", "4" if joined else "8")
        # 2 micro-batches: cross-batch window state is exercised, per-batch
        # overhead stays amortized (1 batch: ~18k rows/s, 4: ~12k on this box)
        raw = read_raw_stream(
            spark, source_dir=src, max_files_per_trigger=STREAM_FILES // 2
        )
        scored = transform_tweets(
            raw,
            ts_col=F.timestamp_seconds(F.col("key").cast("long")),
            sql_sentiment=sql_sentiment,
        )
        if joined:
            out = trend_sentiment_joined(scored)
            t0 = time.time()
            # the production entry: foreachBatch sink (first-batch setup
            # hook included), append mode — each batch fully computed into
            # the noop format so the engine does all the work the real
            # store write would trigger, minus the store
            q = write_with_first_batch_setup(
                out,
                checkpoint_dir=ckpt,
                sink_writer=lambda bdf, _id: bdf.write.format("noop").mode("overwrite").save(),
                first_batch_setup=lambda bdf: None,
                output_mode="append",
            )
        else:
            counts = trend_counts(scored)
            t0 = time.time()
            q = (
                counts.writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finished = q.awaitTermination(600)
        dt = time.time() - t0
        if not finished:
            # drain overran the timeout: the throughput number would be
            # fabricated, and rmtree under a live file-source stream
            # fails its tasks — stop first, report the overrun honestly
            q.stop()
            return {"input_rows": STREAM_ROWS, "elapsed_sec": None, "rows_per_sec": None, "timeout": True}
        return {
            "input_rows": STREAM_ROWS,
            "elapsed_sec": round(dt, 3),
            "rows_per_sec": round(STREAM_ROWS / dt, 1),
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


DEDUP_STREAM_ROWS = 16_000
DEDUP_STREAM_FILES = 8


def streaming_dedup_throughput(spark) -> dict:
    """Streaming near-dup ingest throughput (round 9): a bounded document
    replay drained through run_streaming_dedup — per micro-batch MinHash
    signing, banded probe of the growing survivor index, within-batch
    self-dedup, and idempotent parquet appends. 10% of docs are planted
    one-token-changed near-dups of earlier docs, so the probe path does
    real work every batch. rows/s = documents ingested / wall."""
    import json as _json
    import shutil
    import tempfile

    from realtime_twitter_trends_analytics_spark.streaming.dedup_stream import (
        run_streaming_dedup,
    )

    work = tempfile.mkdtemp(prefix="bench_sdedup_")
    src = f"{work}/src"
    os.makedirs(src)
    per_file = DEDUP_STREAM_ROWS // DEDUP_STREAM_FILES

    def text_of(i: int) -> str:
        # ~24 tokens, disjoint shingles across distinct docs (unique w/t mix)
        return " ".join(
            f"w{i}x{j} token{(i * 31 + j * 7) % 9973}" for j in range(12)
        )

    for f_idx in range(DEDUP_STREAM_FILES):
        with open(f"{src}/b{f_idx}.json", "w") as fh:
            for i in range(per_file):
                doc_id = f_idx * per_file + i
                if doc_id % 10 == 9 and doc_id >= per_file:
                    # near-dup of a PRISTINE doc one file earlier (base%10==0,
                    # never itself a planted dup — a dup-of-a-dup's text
                    # derives from a doc that was never written, so the
                    # chain would break and batches past the second would
                    # carry no catchable dups; caught in round 9's x3 probe)
                    base = doc_id - per_file + 1
                    text = text_of(base).replace(f"w{base}x5", "wDUPx5")
                else:
                    text = text_of(doc_id)
                fh.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # same per-stream sizing rule as the trends paths: the per-batch
        # joins are batch-sized (2k docs x 4 bands), so 8 shuffle
        # partitions keeps cores busy without paying 32 tiny tasks per
        # join stage per micro-batch
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        results: list[dict] = []
        t0 = time.time()
        finished = run_streaming_dedup(
            spark,
            src,
            work,
            max_files_per_trigger=DEDUP_STREAM_FILES // 4,
            results=results,
            timeout_sec=600,
        )
        dt = time.time() - t0
        if not finished:
            return {
                "input_rows": DEDUP_STREAM_ROWS,
                "elapsed_sec": None,
                "rows_per_sec": None,
                "timeout": True,
            }
        n_dropped = sum(r["n_dropped_cross"] + r["n_dropped_within"] for r in results)
        return {
            "input_rows": DEDUP_STREAM_ROWS,
            "elapsed_sec": round(dt, 3),
            "rows_per_sec": round(DEDUP_STREAM_ROWS / dt, 1),
            "n_near_dups_dropped": n_dropped,
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


CORPUS_STREAM_ROWS = 16_000
CORPUS_STREAM_FILES = 8
_B26 = "abcdefghijklmnopqrstuvwxyz"


def _tok26(n: int) -> str:
    # 5-letter base-26 token (letters only): unique per n, and a uniform
    # 5-char token length keeps every doc inside the quality gate's
    # 3..6 avg-token-length band
    s = ""
    for _ in range(5):
        s = _B26[n % 26] + s
        n //= 26
    return s


def streaming_corpus_throughput(spark) -> dict:
    """End-to-end streaming corpus pipeline throughput (round 10): gate ->
    near-dup dedup -> accounting in one topology (corpus_stream.py). The
    fixture plants 10% one-token-changed near-dups of pristine docs one
    file earlier (the dedup-bench chain discipline: a dup of a dup would
    be uncatchable) and 10% too-short docs so the GATE also drops real
    rows every batch. rows/s = documents ingested / wall."""
    import json as _json
    import shutil
    import tempfile

    from realtime_twitter_trends_analytics_spark.streaming.corpus_stream import (
        run_streaming_corpus_pipeline,
    )

    work = tempfile.mkdtemp(prefix="bench_scorpus_")
    src = f"{work}/src"
    os.makedirs(src)
    per_file = CORPUS_STREAM_ROWS // CORPUS_STREAM_FILES

    def text_of(i: int) -> str:
        # 20 unique 5-letter tokens per doc, disjoint across docs
        return " ".join(_tok26(i * 20 + j) for j in range(20))

    langs = ("en", "fr", "de")
    sources = ("s0", "s1")
    for f_idx in range(CORPUS_STREAM_FILES):
        with open(f"{src}/b{f_idx}.json", "w") as fh:
            for i in range(per_file):
                doc_id = f_idx * per_file + i
                if doc_id % 10 == 8:
                    text = "tiny doc"  # gated out (too_short)
                elif doc_id % 10 == 9 and doc_id >= per_file:
                    base = doc_id - per_file + 1  # pristine (base%10==0)
                    text = text_of(base).replace(_tok26(base * 20 + 10), "zzzzz")
                else:
                    text = text_of(doc_id)
                fh.write(
                    _json.dumps(
                        {
                            "doc_id": doc_id,
                            "text": text,
                            "lang": langs[doc_id % 3],
                            "source": sources[doc_id % 2],
                        }
                    )
                    + "\n"
                )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # per-batch joins are batch-sized — same sizing rule as the
        # dedup stream path
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        results: list[dict] = []
        t0 = time.time()
        finished = run_streaming_corpus_pipeline(
            spark,
            src,
            work,
            max_files_per_trigger=CORPUS_STREAM_FILES // 4,
            results=results,
            timeout_sec=600,
        )
        dt = time.time() - t0
        if not finished:
            return {
                "input_rows": CORPUS_STREAM_ROWS,
                "elapsed_sec": None,
                "rows_per_sec": None,
                "timeout": True,
            }
        n_gated = sum(r.get("n_gated_out", 0) for r in results)
        n_dropped = sum(r["n_dropped_cross"] + r["n_dropped_within"] for r in results)
        return {
            "input_rows": CORPUS_STREAM_ROWS,
            "elapsed_sec": round(dt, 3),
            "rows_per_sec": round(CORPUS_STREAM_ROWS / dt, 1),
            "n_gated_out": n_gated,
            "n_near_dups_dropped": n_dropped,
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


ANN_STREAM_FILES = 8
ANN_INGEST_PER_FILE = 750
ANN_QUERY_PER_FILE = 250
ANN_STREAM_ROWS = ANN_STREAM_FILES * (ANN_INGEST_PER_FILE + ANN_QUERY_PER_FILE)


def streaming_ann_maintain_throughput(spark) -> dict:
    """Maintained-ANN-index topology throughput (round 10): per micro-batch,
    ingest vectors append their (t, bucket, cand_id, cv) rows to the index
    and query vectors probe the FULL index grown so far
    (ann_stream.streaming_ann_maintain_writer). Every query copies a vector
    ingested ~one file earlier, so serves hit real, growing bucket
    populations and return a guaranteed 1.0-cosine top hit.
    rows/s = (ingest + query) rows / wall."""
    import json as _json
    import shutil
    import tempfile

    from realtime_twitter_trends_analytics_spark.streaming.ann_stream import (
        run_streaming_ann_maintain,
    )

    work = tempfile.mkdtemp(prefix="bench_sann_")
    src = f"{work}/src"
    os.makedirs(src)

    def vec_of(i: int) -> list:
        # deterministic, spread across buckets (64-dim, [-0.5, 0.5))
        return [
            ((i * 131 + d * 17 + (i * d) % 7) % 1000) / 1000.0 - 0.5
            for d in range(64)
        ]

    for f_idx in range(ANN_STREAM_FILES):
        with open(f"{src}/b{f_idx}.json", "w") as fh:
            for i in range(ANN_INGEST_PER_FILE):
                vid = f_idx * ANN_INGEST_PER_FILE + i
                fh.write(
                    _json.dumps(
                        {"kind": "ingest", "id": vid, "embedding": vec_of(vid)}
                    )
                    + "\n"
                )
            for i in range(ANN_QUERY_PER_FILE):
                # query an earlier-file ingest (file 0 queries its own batch)
                target = max(0, f_idx - 1) * ANN_INGEST_PER_FILE + i
                fh.write(
                    _json.dumps(
                        {
                            "kind": "query",
                            "id": 10_000_000 + f_idx * ANN_QUERY_PER_FILE + i,
                            "embedding": vec_of(target),
                        }
                    )
                    + "\n"
                )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        metrics: list[dict] = []
        t0 = time.time()
        finished = run_streaming_ann_maintain(
            spark,
            src,
            work,
            max_files_per_trigger=ANN_STREAM_FILES // 4,
            metrics=metrics,
            timeout_sec=600,
        )
        dt = time.time() - t0
        if not finished:
            return {
                "input_rows": ANN_STREAM_ROWS,
                "elapsed_sec": None,
                "rows_per_sec": None,
                "timeout": True,
            }
        return {
            "input_rows": ANN_STREAM_ROWS,
            "elapsed_sec": round(dt, 3),
            "rows_per_sec": round(ANN_STREAM_ROWS / dt, 1),
            "n_ingested": sum(m["n_ingest"] for m in metrics),
            "n_served": sum(m["n_queries"] for m in metrics),
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def streaming_ivfpq_maintain_throughput(spark) -> dict:
    """Maintained IVF-PQ topology throughput (round 12, VERDICT r11 item
    2): same mixed ingest/query workload as the LSH maintained line, but
    ingest encodes (cell + 8 PQ codes, map-side literal model) and serve
    runs the probe->ADC->rerank chain over base+delta
    (ivfpq_stream.streaming_ivfpq_maintain_writer). Reported next to
    streaming_ann_maintain so the two production index shapes price
    against each other every round."""
    import json as _json
    import shutil
    import tempfile

    from realtime_twitter_trends_analytics_spark.streaming.ivfpq_stream import (
        run_streaming_ivfpq_maintain,
    )

    work = tempfile.mkdtemp(prefix="bench_sivfpq_")
    src = f"{work}/src"
    os.makedirs(src)

    def vec_of(i: int) -> list:
        return [
            ((i * 131 + d * 17 + (i * d) % 7) % 1000) / 1000.0 - 0.5
            for d in range(64)
        ]

    for f_idx in range(ANN_STREAM_FILES):
        with open(f"{src}/b{f_idx}.json", "w") as fh:
            for i in range(ANN_INGEST_PER_FILE):
                vid = f_idx * ANN_INGEST_PER_FILE + i
                fh.write(
                    _json.dumps(
                        {"kind": "ingest", "id": vid, "embedding": vec_of(vid)}
                    )
                    + "\n"
                )
            for i in range(ANN_QUERY_PER_FILE):
                target = max(0, f_idx - 1) * ANN_INGEST_PER_FILE + i
                fh.write(
                    _json.dumps(
                        {
                            "kind": "query",
                            "id": 10_000_000 + f_idx * ANN_QUERY_PER_FILE + i,
                            "embedding": vec_of(target),
                        }
                    )
                    + "\n"
                )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        metrics: list[dict] = []
        t0 = time.time()
        finished = run_streaming_ivfpq_maintain(
            spark,
            src,
            work,
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
            max_files_per_trigger=ANN_STREAM_FILES // 4,
            metrics=metrics,
            timeout_sec=600,
        )
        dt = time.time() - t0
        if not finished:
            return {
                "input_rows": ANN_STREAM_ROWS,
                "elapsed_sec": None,
                "rows_per_sec": None,
                "timeout": True,
            }
        return {
            "input_rows": ANN_STREAM_ROWS,
            "elapsed_sec": round(dt, 3),
            "rows_per_sec": round(ANN_STREAM_ROWS / dt, 1),
            "n_ingested": sum(m["n_ingest"] for m in metrics),
            "n_served": sum(m["n_queries"] for m in metrics),
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(work, ignore_errors=True)


def host_canary(spark) -> dict:
    """Host-speed canary (VERDICT r10 item 3): three FIXED-SHAPE pure-CPU
    probes over synthetic inputs (spark.range — no parquet, no staging, no
    dependence on SF or on anything this repo's operators do), each timed
    min-of-3 through the same noop sink as the query loop.

    The probe shapes are FROZEN ACROSS ROUNDS — the canary measures the
    HOST, not the tree, so tools/bench_diff.py can divide a
    round-over-round ratio by the canary ratio and separate host-state
    drift (this shared box re-measures the SAME tree 1.2-1.9x across
    sessions — adjudicated manually in BENCH_DIFF_r04/r08/r09/r10) from
    real plan changes. Editing a shape re-bases every historical
    comparison; add a NEW probe key instead if another axis is ever
    needed. Probes cover the three cost centers bench lines are made of:
    codegen arithmetic, a shuffle hash-agg, and string/regex work."""
    from pyspark.sql import functions as F

    def _cpu_hash(df):
        # the % bounds the sum far below BIGINT overflow under ANSI mode
        return df.select((F.xxhash64("id") % 1000003).alias("h")).agg(F.sum("h"))

    def _shuffle_agg(df):
        return (
            df.select((F.col("id") % 262144).alias("k"))
            .groupBy("k")
            .count()
            .agg(F.sum("count"), F.max("count"))
        )

    def _string_regex(df):
        s = F.md5(F.concat(F.lit("canary-"), F.col("id").cast("string")))
        return df.select(
            F.regexp_replace(s, "[0-9]", "").alias("t")
        ).agg(F.sum(F.length("t")))

    probes = {
        # (builder, row count) — range slice count pinned at 16 so task
        # granularity is identical regardless of SPARK_GRAFT_CPUS
        "cpu_hash": (_cpu_hash, 30_000_000),
        "shuffle_agg": (_shuffle_agg, 6_000_000),
        "string_regex": (_string_regex, 1_500_000),
    }
    out: dict[str, float] = {}
    for name, (fn, n) in probes.items():
        best = None
        for _ in range(3):
            t0 = time.time()
            fn(spark.range(0, n, 1, 16)).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    out["sec"] = round(sum(v for k, v in out.items() if k != "sec"), 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Diagnostic knobs (default: full bench). BENCH_ONLY narrows the query
    # set (comma names or @file-of-names); BENCH_SKIP drops the recall /
    # streaming blocks. Used by tools/bench_diff.py bisection runs.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    headline = HEADLINE
    if only:
        if only.startswith("@"):
            with open(only[1:]) as fh:
                names = [ln.strip() for ln in fh if ln.strip()]
        else:
            names = [n.strip() for n in only.split(",") if n.strip()]
        headline = [n for n in HEADLINE if n in set(names)]
    skip = set(os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(","))
    spark = get_spark("rtta-bench")
    queries = {**all_queries(), **all_bench_only()}

    # Host-speed canary at the very START of the run (before any staging or
    # warm-up, but on a JIT-warming JVM — min-of-3 absorbs the first-run
    # compile); repeated at the very END so a mid-run host-state shift is
    # visible as start/end disagreement. canary_sec = min(start, end),
    # matching the min-keeping policy of every other line.
    canary_start = host_canary(spark)

    # Staging-relation builds FIRST, each as its own named line (VERDICT
    # r5 item 3): these are memoized per application, so whichever query
    # touched one first used to absorb its build cost invisibly (and every
    # later consumer benched near-zero — a masking channel for the 1.25x
    # per-query gate). Timing the builds here makes build and consumer
    # lines each comparable across rounds; the headline total still sums
    # QUERY times only (same basis as r5, where warm-up absorbed builds).
    staging_timings: dict[str, float] = {}
    if "staging" not in skip:
        # absorb session cold-start (JIT, codegen, parquet footers) with a
        # plain scan first, so the FIRST staging line doesn't carry it and
        # staging lines stay comparable across rounds
        from realtime_twitter_trends_analytics_spark.sources.loaders import load_table

        for t in ("documents", "embeddings"):
            load_table(spark, sf_dir, t).write.format("noop").mode("overwrite").save()
        # MIN-of-2 builds (r8, VERDICT r7 item 5): a memoized build only
        # ever ran once per process, so staging lines carried the full
        # host-drift band (unchanged lines re-measured 1.23-1.37x on the
        # same box) while query lines were already min-of-2 damped. The
        # first full build pass also serves as the staging warm-up.
        for pass_n in range(2):
            if pass_n:
                clear_staging_memos()
                spark.catalog.clearCache()
            for sname, sfn in all_staging().items():
                t0 = time.time()
                sfn(spark, sf_dir)
                dt = round(time.time() - t0, 3)
                key = f"staging:{sname}"
                staging_timings[key] = min(staging_timings.get(key, dt), dt)

    # Warm-up pass: JVM JIT + whole-stage codegen + parquet footer caches.
    # Steady-state is what a resident engine delivers; cold-start is ~4x.
    # clearCache between queries: intra-query caches (shingle tables, LSH
    # buckets) are part of a query's own cost and must not accumulate into
    # memory pressure for later queries.
    for name in headline:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    # two timed runs, keep the min: damps one-off GC pauses / host noise.
    # Python-worker-bound queries get a THIRD run (r8, VERDICT r7 item 5):
    # the Arrow/python-worker paths showed a 1.73x same-file drift in r7
    # (multimodal_feature_summary, adjudicated as worker variance across 5
    # isolated runs) — one extra sample cuts the chance that BOTH kept
    # runs land on a worker stall.
    # The timer wraps CONSTRUCTION + execution: plan building is ~ms for
    # declarative queries, but iterative operators (dedup_clusters) run
    # eagerly-materialized rounds during construction and must be counted.
    MIN3 = {"multimodal_feature_summary", "sim_mmr_topk", "ml_pca_power_iteration"}
    timings: dict[str, float] = {}
    demo_timings: dict[str, float] = {}
    for pass_n in range(3):
        for name in headline if pass_n < 2 else [n for n in headline if n in MIN3]:
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt), dt)
            spark.catalog.clearCache()
        # demo tier: min-of-2 (first run doubles as warm-up), separate
        # namespace (excluded from `total` — see DEMO's comment); skipped
        # on diagnostic subset runs
        if pass_n < 2 and not only:
            for name in DEMO:
                t0 = time.time()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.time() - t0, 3)
                key = f"demo:{name}"
                demo_timings[key] = min(demo_timings.get(key, dt), dt)
                spark.catalog.clearCache()
            # NO System.gc() here. Round 3 added one "to stabilize" and it
            # was the round's self-inflicted bench regression: a forced
            # full GC after every query made the NEXT timed query ~1.5x
            # slower (measured r4: the same 6-query set runs 12.5s without
            # the gc call vs 19.2s with it; dedup_clusters 4.7s vs 7.3s).
            # The remaining r2->r3 'drift' was host-level: the unchanged
            # r2 tree re-benched 1.41x slower on the r4 box (BENCH_DIFF_r04).
    total = round(sum(timings.values()), 3)

    # Quality metric alongside the timings: ANN recall@10 vs brute force
    # (guards candidate generation; see similarity.ann_recall docstring).
    from realtime_twitter_trends_analytics_spark.operators.similarity import ann_recall

    recall = None if "recall" in skip else ann_recall(spark, sf_dir)
    spark.catalog.clearCache()

    # warm-up run first, same steady-state policy as the batch queries:
    # the first streaming start pays checkpoint-dir setup + sink codegen
    # (~3x slower, measured); a resident pipeline never does.
    def _best_of_two(**kw) -> dict:
        # same min-of-N policy as the batch loop: a single measurement can
        # land on a transient host stall (observed: a 9.9k rows/s outlier
        # against a 41k steady state) and become the recorded number.
        a, b = streaming_throughput(spark, **kw), streaming_throughput(spark, **kw)
        return a if (a["rows_per_sec"] or 0) >= (b["rows_per_sec"] or 0) else b

    if "stream" in skip:
        stream = stream_sql = stream_joined = None
    else:
        streaming_throughput(spark)  # warm-up (checkpoint setup + codegen)
        stream = _best_of_two()
        # the SQL-sentiment plan is different codegen — warm it separately.
        # With the let-bound fold + stream-sized shuffle partitions + full
        # input parallelism, the pure-SQL path beats the Arrow UDF path
        # (the Python boundary is the residual difference; the regex
        # cleaning chain, shared by both, is the dominant per-row cost).
        streaming_throughput(spark, sql_sentiment=True)
        stream_sql = _best_of_two(sql_sentiment=True)
        # production A5 topology: two windowed aggs + stream-stream join
        # through the foreachBatch production sink (three stateful
        # operators paying state-store commits per partition per batch —
        # the same shuffle-partition sizing rule, applied to more stores)
        streaming_throughput(spark, sql_sentiment=True, joined=True)
        stream_joined = _best_of_two(sql_sentiment=True, joined=True)

    if "stream" in skip:
        stream_dedup = stream_corpus = stream_ann = None
    else:
        # streaming near-dup ingest (round 9): warm-up + best-of-two, same
        # policy as the other paths
        streaming_dedup_throughput(spark)
        a, b = streaming_dedup_throughput(spark), streaming_dedup_throughput(spark)
        stream_dedup = a if (a["rows_per_sec"] or 0) >= (b["rows_per_sec"] or 0) else b
        # round 10: end-to-end corpus pipeline + maintained ANN index —
        # same warm-up + best-of-two policy
        streaming_corpus_throughput(spark)
        a, b = streaming_corpus_throughput(spark), streaming_corpus_throughput(spark)
        stream_corpus = a if (a["rows_per_sec"] or 0) >= (b["rows_per_sec"] or 0) else b
        streaming_ann_maintain_throughput(spark)
        a, b = (
            streaming_ann_maintain_throughput(spark),
            streaming_ann_maintain_throughput(spark),
        )
        stream_ann = a if (a["rows_per_sec"] or 0) >= (b["rows_per_sec"] or 0) else b

    if "stream" in skip:
        stream_ivfpq = None
    else:
        # round 12: the maintained IVF-PQ twin, same warm-up + best-of-two
        streaming_ivfpq_maintain_throughput(spark)
        a, b = (
            streaming_ivfpq_maintain_throughput(spark),
            streaming_ivfpq_maintain_throughput(spark),
        )
        stream_ivfpq = (
            a if (a["rows_per_sec"] or 0) >= (b["rows_per_sec"] or 0) else b
        )

    canary_end = host_canary(spark)
    canary_sec = min(canary_start["sec"], canary_end["sec"])

    full = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        # fixed-shape host-speed probes (see host_canary): BENCH_DIFF
        # divides round-over-round ratios by the canary ratio so host-state
        # drift stops needing a manual interleaved adjudication
        "canary_sec": canary_sec,
        "canary": {"start": canary_start, "end": canary_end},
        # staging:* build lines and demo:* surface-demo lines ride in the
        # queries map so tools/bench_diff.py tracks them round-over-round
        # like any query (both are EXCLUDED from "value" — same basis as
        # r5 staging / r12 demo tier)
        "queries": {**timings, **staging_timings, **demo_timings},
        "staging_sec": round(sum(staging_timings.values()), 3),
        "sf": float(sf),
        "ann_recall_at_10": recall,
        "streaming_pipeline": stream,
        "streaming_pipeline_sql_sentiment": stream_sql,
        "streaming_pipeline_joined": stream_joined,
        "streaming_dedup": stream_dedup,
        "streaming_corpus_pipeline": stream_corpus,
        "streaming_ann_maintain": stream_ann,
        "streaming_ivfpq_maintain": stream_ivfpq,
    }
    # The driver captures only a fixed-size TAIL of stdout and json-parses
    # the last line. Round 3's single full-payload line outgrew that buffer
    # (BENCH_r03.json: parsed=null -> no headline number recorded), so:
    #   line 1: full payload (humans, tools/bench_diff.py)
    #   file  : bench_full.json (committed per round as BENCH_DETAIL_r{N})
    #   LAST  : compact headline WITHOUT the per-query map, guaranteed to
    #           fit the tail buffer (verified < 1500 bytes by test below).
    print(json.dumps(full))
    if not only:  # diagnostic subset runs must not clobber the round artifact
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"), "w") as fh:
            json.dump(full, fh)
    compact = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "canary_sec": canary_sec,
        "staging_sec": round(sum(staging_timings.values()), 3),
        "ann_recall_at_10": recall,
        "streaming_pipeline": stream,
        "streaming_pipeline_sql_sentiment": stream_sql,
        "streaming_pipeline_joined": stream_joined,
        "streaming_dedup": stream_dedup,
        # round-10 paths: rows/s only in the compact line (full dicts ride
        # in bench_full.json / line 1) — the 1500-byte tail cap is real
        "streaming_corpus_rps": (stream_corpus or {}).get("rows_per_sec"),
        "streaming_ann_maintain_rps": (stream_ann or {}).get("rows_per_sec"),
        "streaming_ivfpq_maintain_rps": (stream_ivfpq or {}).get("rows_per_sec"),
        # slowest 10 only — the full 66-entry map is what overflowed the
        # driver tail in r3; complete map: line 1 above / bench_full.json
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10]),
        "detail": "bench_full.json",
    }
    line = json.dumps(compact)
    assert len(line) < 1500, f"compact bench line too long ({len(line)} bytes)"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
