"""Round-7 additions: the bench-only registry's naming contract and the
quantized_vectors staging memoization.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_twitter_trends_analytics_spark import registry


def test_bench_only_names_disjoint_from_gate():
    gate = set(registry.all_queries())
    extra = set(registry.all_bench_only())
    assert not (gate & extra)
    # every bench-only form must be the production variant of an
    # oracle-gated twin: _batched (r12) = distributed batched trainer
    # pinned merge-equal to the oracle and its gate twin
    # (tests/test_bpe_prod.py)
    for name in extra:
        base, _, suffix = name.rpartition("_")
        assert suffix == "batched" and base in gate, name


def test_quantized_vectors_memoized_per_app(spark, sf_dir):
    """Second call returns the SAME materialized DataFrame object (the
    staging memo), so the vector builds share one quantization pass."""
    from realtime_twitter_trends_analytics_spark.operators.ml import quantized_vectors

    a = quantized_vectors(spark, sf_dir)
    b = quantized_vectors(spark, sf_dir)
    assert a is b
    assert a.count() > 0


# ------------------------------------------------------------- funnel
def test_funnel_strict_order_fixture(spark, tmp_path_factory):
    """Constructed fixture: u1 completes view->click->purchase in order;
    u2 clicks BEFORE its first view (click must not count); u3 views
    only. Expect n_view=3, n_click=1, n_purchase=1."""
    import datetime as dt

    from realtime_twitter_trends_analytics_spark.operators.analytics_ext import (
        events_funnel_conversion,
    )

    out = tmp_path_factory.mktemp("funnel_sf")
    rows, eid = [], 0
    series = {
        1: [("view", 1), ("click", 2), ("purchase", 3)],
        2: [("click", 1), ("view", 2)],
        3: [("view", 5)],
    }
    for uid, evs in series.items():
        for t, h in evs:
            rows.append((eid, dt.datetime(2025, 6, 1, h), uid, t, 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(out / "events.parquet"))
    got = events_funnel_conversion(spark, str(out)).collect()[0].asDict()
    assert got["n_view"] == 3 and got["n_click"] == 1 and got["n_purchase"] == 1
    assert got["avg_hours_to_click"] == 1.0  # u1: 1h between view and click


# ------------------------------------------------------------- EWMA
def test_ewma_matches_hand_fold(spark, sf_dir):
    """The engine's fixed-point EWMA must equal the same recurrence run
    in plain Python over the exact daily counts."""
    from pyspark.sql import functions as F

    from realtime_twitter_trends_analytics_spark.operators.analytics_ext import (
        EWMA_DEN,
        EWMA_NUM,
        EWMA_SCALE,
        events_ewma_forecast,
    )
    from realtime_twitter_trends_analytics_spark.sources.loaders import load_table

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["count"]))
    got = {r["event_type"]: r.asDict() for r in events_ewma_forecast(spark, sf_dir).collect()}
    for t, pairs in series.items():
        cs = [c for _, c in sorted(pairs)]
        lvl = cs[0] * EWMA_SCALE
        for x in cs[1:]:
            lvl = (EWMA_NUM * x * EWMA_SCALE + (EWMA_DEN - EWMA_NUM) * lvl) // EWMA_DEN
        assert got[t]["forecast_next"] == lvl / EWMA_SCALE
        assert got[t]["last_count"] == cs[-1]


# ------------------------------------------------------------- CMS
def test_cms_never_undercounts_and_is_tight_here(spark, sf_dir):
    from realtime_twitter_trends_analytics_spark.operators.relational_ext import (
        events_cms_topk,
    )

    rows = [r.asDict() for r in events_cms_topk(spark, sf_dir).collect()]
    assert len(rows) == 10
    for r in rows:
        assert r["no_undercount"] and r["est"] >= r["exact"]
        assert r["overcount"] == r["est"] - r["exact"] >= 0


# ------------------------------------------------------------- NB
def test_naive_bayes_beats_random_and_is_structurally_sound(spark, sf_dir):
    """Semantic floor calibrated to the corpus: the driver's documents
    are a SHARED-VOCABULARY word salad (see textstats.LANG_MARKERS note
    — language-ID operators here are judged on determinism/parity, not
    linguistic accuracy), so majority-class is not beatable from token
    distributions alone (measured at sf0.001: NB 30%, majority 36%).
    The floor that IS meaningful: the learned scores must beat the 1/5
    RANDOM baseline (a broken scorer — e.g. a sign error in the
    log-probs — lands at or below it), every prediction must be a
    training language, and the matrix must cover every test-fold doc
    that has at least one in-vocabulary token."""
    from realtime_twitter_trends_analytics_spark.operators.ml import (
        NB_FOLD,
        ml_naive_bayes_lang,
    )
    from realtime_twitter_trends_analytics_spark.sources.loaders import load_table

    rows = [r.asDict() for r in ml_naive_bayes_lang(spark, sf_dir).collect()]
    total = sum(r["n"] for r in rows)
    correct = sum(r["n"] for r in rows if r["actual_lang"] == r["pred_lang"])
    langs = {
        r["lang"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(f"doc_id % {NB_FOLD} <> 0")
        .select("lang")
        .distinct()
        .collect()
    }
    assert {r["pred_lang"] for r in rows} <= langs
    n_test = (
        load_table(spark, sf_dir, "documents")
        .filter(f"doc_id % {NB_FOLD} = 0")
        .count()
    )
    assert 0 < total <= n_test
    assert correct / total > 1.0 / len(langs)


# ------------------------------------------------------------- heavy hitters
def test_heavy_hitters_bounds_and_exactness(spark, sf_dir):
    from realtime_twitter_trends_analytics_spark.operators.textstats import (
        docs_heavy_hitters,
    )

    rows = [r.asDict() for r in docs_heavy_hitters(spark, sf_dir).collect()]
    assert len(rows) == 10
    for r in rows:
        assert r["no_overcount"] and r["within_err"]
        assert 0 <= r["exact"] - r["est"] <= r["total_err"]
