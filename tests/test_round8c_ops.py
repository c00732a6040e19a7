"""Round-8 continuation operators: semantic invariants + independent
references for ACF, sweep-line backlog, BH/FDR, l-diversity, the Hilbert
layout key, and the split-leakage audit. Each gated query also has a
DuckDB oracle (the cross-engine equality gate); these tests check the
MATH means what the docstring claims, which value-equality alone cannot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from realtime_twitter_trends_analytics_spark.operators.analytics_ext import (
    ACF_MAX_LAG,
    events_acf,
    orders_backlog_sweep,
    stats_fdr_bh,
)
from realtime_twitter_trends_analytics_spark.operators.dedup import (
    dedup_minhash_pairs,
    dedup_split_leakage,
)
from realtime_twitter_trends_analytics_spark.operators.layout import (
    HB_BITS,
    _hb_level_exprs,
    layout_hilbert_key,
    layout_zorder_key,
)
from realtime_twitter_trends_analytics_spark.operators.quality import (
    events_k_anonymity,
    events_l_diversity,
)
from realtime_twitter_trends_analytics_spark.sources.loaders import load_table


def _hilbert_ref(x: int, y: int) -> int:
    """Independent python transcription of the Wikipedia xy2d algorithm."""
    d = 0
    s = 1 << (HB_BITS - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def _hilbert_spark(spark, coords):
    df = spark.createDataFrame(coords, "ux int, tb int").selectExpr(
        "ux", "tb", "ux AS x", "tb AS y", "CAST(0 AS BIGINT) AS d"
    )
    for i in range(HB_BITS - 1, -1, -1):
        xn, yn, dn = _hb_level_exprs(i)
        df = df.selectExpr("ux", "tb", f"{xn} AS x", f"{yn} AS y", f"{dn} AS d")
    return df


def test_hilbert_sql_matches_python_reference(spark):
    """The unrolled SQL level chain is the textbook transform, cell for
    cell, on a deterministic stratified sample of the 256x256 grid."""
    coords = [(x, y) for x in range(0, 256, 7) for y in range(0, 256, 11)]
    coords += [(0, 0), (255, 255), (0, 255), (255, 0), (128, 127)]
    got = {(r["ux"], r["tb"]): r["d"] for r in _hilbert_spark(spark, coords).collect()}
    for x, y in coords:
        assert got[(x, y)] == _hilbert_ref(x, y), (x, y)


def test_hilbert_is_a_bijection(spark):
    """All 65536 grid cells map to 65536 distinct curve positions in
    [0, 2^(2*HB_BITS)) — no collisions, no out-of-range keys."""
    full = [(x, y) for x in range(256) for y in range(256)]
    df = _hilbert_spark(spark, full)
    stats = df.agg(
        F.countDistinct("d").alias("nd"), F.min("d").alias("mn"), F.max("d").alias("mx")
    ).collect()[0]
    assert stats["nd"] == 1 << (2 * HB_BITS)
    assert stats["mn"] == 0 and stats["mx"] == (1 << (2 * HB_BITS)) - 1


def test_hilbert_locality_not_worse_than_zorder(spark, sf_dir):
    """The reason to ship Hilbert: at the same block grain, total
    bounding-box area (the footer-pruning surface) must not exceed the
    z-order layout's. Compared at matching 8-bit masks via the z-order
    audit re-done on 8-bit inputs is not available, so compare mean area
    per covered block — Hilbert must be no worse than ~1.5x z-order's
    (empirically it is strictly smaller; the slack absorbs grain
    differences between Z_BITS=10 and HB_BITS=8 masks)."""
    h = layout_hilbert_key(spark, sf_dir).agg(
        F.sum("bbox_area").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    z = layout_zorder_key(spark, sf_dir).agg(
        F.sum("bbox_area").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert (h["s"] / h["n"]) <= 1.5 * (z["s"] / z["n"])


def test_acf_matches_numpy(spark, sf_dir):
    """r_k for every type/lag equals the plain-definition numpy ACF on the
    densified hourly series (zero-filled spine), to the displayed 4dp."""
    rows = events_acf(spark, sf_dir).collect()
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.expr("unix_timestamp(ts) DIV 3600").alias("h"))
        .groupBy("event_type", "h")
        .count()
        .collect()
    )
    by_type: dict[str, dict[int, int]] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], {})[r["h"]] = r["count"]
    for r in rows:
        cnt = by_type[r["event_type"]]
        lo, hi = min(cnt), max(cnt)
        x = np.array([cnt.get(h, 0) for h in range(lo, hi + 1)], dtype=float)
        assert r["n_hours"] == len(x)
        dev = x - x.mean()
        k = r["lag"]
        ref = float(np.dot(dev[:-k], dev[k:]) / np.dot(dev, dev))
        assert abs(r["acf"] - ref) < 5e-4, (r["event_type"], k, r["acf"], ref)


def test_acf_shape_and_bounds(spark, sf_dir):
    df = events_acf(spark, sf_dir)
    pdf = df.toPandas()
    # every type carries exactly lags 1..ACF_MAX_LAG
    for _, g in pdf.groupby("event_type"):
        assert sorted(g["lag"]) == list(range(1, ACF_MAX_LAG + 1))
    assert (pdf["acf"].abs() <= 1.0 + 1e-9).all()


def test_backlog_conserves_orders(spark, sf_dir):
    """Every order opens once and closes once, so total opened == total
    closed == |orders|, the backlog returns to exactly 0 after the last
    close, and peak >= end-of-month everywhere."""
    pdf = orders_backlog_sweep(spark, sf_dir).toPandas()
    # orders with no line items have no shipment timeline and are out of
    # scope (inner join) — conserve against the joined order count
    n_orders = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "lineitem").select("l_orderkey").distinct(),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert int(pdf["n_opened"].sum()) == n_orders
    assert int(pdf["n_closed"].sum()) == n_orders
    assert int(pdf["eom_backlog"].iloc[-1]) == 0
    assert (pdf["peak_backlog"] >= pdf["eom_backlog"]).all()
    assert (pdf["peak_backlog"] >= 0).all()


def test_backlog_matches_pandas_sweep(spark, sf_dir):
    """Independent pandas reconstruction of the sweep on the raw tables."""
    o = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "CAST(o_orderdate AS DATE) AS start_d"
    ).toPandas()
    li = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr("l_orderkey", "CAST(l_shipdate AS DATE) AS ship_d")
        .groupBy("l_orderkey")
        .agg(F.max("ship_d").alias("ship_d"))
        .toPandas()
    )
    m = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    starts = pd.Series(1, index=pd.to_datetime(m["start_d"]))
    ends = pd.Series(-1, index=pd.to_datetime(m["ship_d"]) + pd.Timedelta(days=1))
    daily = pd.concat([starts, ends]).groupby(level=0).sum().sort_index()
    run = daily.cumsum()
    peak_ref = run.groupby(run.index.strftime("%Y-%m")).max()
    got = orders_backlog_sweep(spark, sf_dir).toPandas().set_index("month")
    for month, ref in peak_ref.items():
        assert int(got.loc[month, "peak_backlog"]) == int(ref), month


def test_fdr_bh_decision_structure(spark, sf_dir):
    """BH rejections form a PREFIX of the p-ranked family; thresholds rise
    linearly with rank; p is a valid two-sided probability."""
    pdf = stats_fdr_bh(spark, sf_dir).toPandas().sort_values("p_rank")
    assert (pdf["m_tests"] == len(pdf)).all()
    assert pdf["p_rank"].tolist() == list(range(1, len(pdf) + 1))
    assert ((pdf["p_approx"] >= 0) & (pdf["p_approx"] <= 1)).all()
    assert pdf["bh_threshold"].is_monotonic_increasing
    rej = pdf["rejected"].tolist()
    assert all(a >= b for a, b in zip(rej, rej[1:])), "rejections must be a prefix"
    # a rejected rank at the cut must itself satisfy p <= alpha*i/m
    cut = int(pdf["rejected"].sum())
    if cut:
        row = pdf.iloc[cut - 1]
        assert row["p_approx"] <= 0.05 * cut / len(pdf) + 1e-9


def test_permutation_test_semantics(spark, sf_dir):
    """p is a valid add-one randomization p-value, the observed difference
    matches a direct computation, and the seeded relabeling makes the
    whole readout replayable (two runs, identical row)."""
    from realtime_twitter_trends_analytics_spark.operators.analytics_ext import (
        PERM_GROUP_A,
        PERM_GROUP_B,
        PERM_REPS,
        stats_permutation_test,
    )

    r1 = stats_permutation_test(spark, sf_dir).collect()[0]
    r2 = stats_permutation_test(spark, sf_dir).collect()[0]
    assert r1 == r2
    assert 0 < r1["p_perm"] <= 1
    assert 0 <= r1["n_extreme"] <= PERM_REPS
    assert abs(r1["p_perm"] - (1 + r1["n_extreme"]) / (PERM_REPS + 1)) < 1e-4
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(PERM_GROUP_A, PERM_GROUP_B))
        .groupBy("event_type")
        .agg(F.avg("value").alias("m"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    m = {r["event_type"]: r for r in ev}
    ref = m[PERM_GROUP_A]["m"] - m[PERM_GROUP_B]["m"]
    assert abs(r1["obs_diff"] - ref) < 1e-3
    assert r1["n_a"] == m[PERM_GROUP_A]["n"] and r1["n_b"] == m[PERM_GROUP_B]["n"]


def test_decision_stump_matches_numpy(spark, sf_dir):
    """The per-dim best split equals a numpy brute-force histogram scan,
    and splitting never increases weighted Gini (gain >= 0)."""
    from realtime_twitter_trends_analytics_spark.operators.ml import (
        STUMP_BIN_SCALE,
        STUMP_DIMS,
        ml_decision_stump,
    )

    got = {r["dim"]: r for r in ml_decision_stump(spark, sf_dir).collect()}
    assert sorted(got) == list(range(STUMP_DIMS))
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr("label", f"slice(embedding, 1, {STUMP_DIMS}) AS e")
        .collect()
    )
    labels = np.array([r["label"] for r in rows])
    classes = sorted(set(labels))
    n = len(rows)
    for dim in range(STUMP_DIMS):
        x = np.floor(np.array([r["e"][dim] for r in rows]) * STUMP_BIN_SCALE)
        bins = np.unique(x)
        best = None
        for b in bins[:-1]:  # a split must leave both sides non-empty
            left = x <= b
            nl, nr = int(left.sum()), int((~left).sum())
            sl2 = sum(int((labels[left] == c).sum()) ** 2 for c in classes)
            sr2 = sum(int((labels[~left] == c).sum()) ** 2 for c in classes)
            f = (nl - sl2 / nl + nr - sr2 / nr) / n
            key = (round(f * 1e9), b)
            if best is None or key < best[0]:
                best = (key, b, nl, f)
        r = got[dim]
        assert r["split_bin"] == int(best[1]), dim
        assert r["n_left"] == best[2], dim
        assert abs(r["gini_after"] - best[3]) < 1e-6, dim
        assert r["gain"] >= -1e-12, dim


def test_forecast_backtest_matches_python_fold(spark, sf_dir):
    """MAE/bias per type equal a plain-python mirror of the fixed-point
    EWMA recurrence refit on each rolling-origin prefix."""
    from realtime_twitter_trends_analytics_spark.operators.analytics_ext import (
        BACKTEST_H,
        EWMA_DEN,
        EWMA_NUM,
        EWMA_SCALE,
        events_forecast_backtest,
    )

    got = {r["event_type"]: r for r in events_forecast_backtest(spark, sf_dir).collect()}
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["count"]))
    for typ, rows in series.items():
        cs = [c for _, c in sorted(rows)]
        n = len(cs)
        H = min(BACKTEST_H, n - 1)
        errs = []
        for h in range(1, H + 1):
            lvl = cs[0] * EWMA_SCALE
            for x in cs[1 : n - h]:
                lvl = (EWMA_NUM * x * EWMA_SCALE + (EWMA_DEN - EWMA_NUM) * lvl) // EWMA_DEN
            errs.append(cs[n - h] * EWMA_SCALE - lvl)
        mae_ref = sum(abs(e) for e in errs) / (H * EWMA_SCALE)
        bias_ref = sum(errs) / (H * EWMA_SCALE)
        r = got[typ]
        assert r["horizon"] == H
        assert abs(r["mae"] - mae_ref) < 1e-3, typ
        assert abs(r["bias"] - bias_ref) < 1e-3, typ
        assert r["mae"] >= abs(r["bias"]) - 1e-9  # MAE dominates |bias|


def test_rake_matches_python_reference(spark, sf_dir):
    """Top phrases and integer-ppm scores equal an independent python RAKE
    over the same corpus with the same stopword list."""
    from realtime_twitter_trends_analytics_spark.operators.textstats import (
        RAKE_Q,
        RAKE_TOP,
        STOPWORDS,
        textstats_rake_keyphrases,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    deg: dict[str, int] = {}
    freq: dict[str, int] = {}
    phrases = []
    for r in docs:
        run = []
        for w in r["text"].split(" ") + [None]:
            if w is None or w in STOPWORDS:
                if run:
                    phrases.append(tuple(run))
                    for t in run:
                        deg[t] = deg.get(t, 0) + len(run)
                        freq[t] = freq.get(t, 0) + 1
                    run = []
            else:
                run.append(w)
    q = {w: (2 * deg[w] * RAKE_Q + freq[w]) // (2 * freq[w]) for w in deg}
    agg: dict[str, dict] = {}
    for p in phrases:
        text = " ".join(p)
        a = agg.setdefault(text, {"n": 0, "score": sum(q[w] for w in p), "len": len(p)})
        a["n"] += 1
    ranked = sorted(agg.items(), key=lambda kv: (-kv[1]["score"], kv[0]))[:RAKE_TOP]
    got = textstats_rake_keyphrases(spark, sf_dir).collect()
    assert len(got) == RAKE_TOP
    for row, (text, a) in zip(got, ranked):
        assert row["phrase"] == text
        assert row["n_occurrences"] == a["n"]
        assert row["n_words"] == a["len"]
        assert abs(row["score"] - a["score"] / RAKE_Q) < 1e-9


def test_cluster_keywords_structure(spark, sf_dir):
    """Per-cell keyword lists are rank-dense, lift-ordered, above the
    support floor, and every keyword's lift matches a direct recompute
    from the cell assignments."""
    from realtime_twitter_trends_analytics_spark.operators.similarity import (
        CLUSTER_KW_MIN,
        CLUSTER_KW_SCALE,
        CLUSTER_KW_TOP,
        docs_cluster_keywords,
        kmeans_cell_assignment,
    )

    rows = docs_cluster_keywords(spark, sf_dir).collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    cells = kmeans_cell_assignment(spark, sf_dir).select("vec_id", "cell").collect()
    cell_of = {r["vec_id"]: r["cell"] for r in cells}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    cw: dict[tuple, int] = {}
    wt: dict[str, int] = {}
    ct: dict[int, int] = {}
    n_all = 0
    for d in docs:
        c = cell_of[d["doc_id"]]
        for w in d["text"].split(" "):
            cw[(c, w)] = cw.get((c, w), 0) + 1
            wt[w] = wt.get(w, 0) + 1
            ct[c] = ct.get(c, 0) + 1
            n_all += 1
    for cell, lst in by_cell.items():
        assert [r["rank"] for r in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= CLUSTER_KW_TOP
        lifts = [r["lift"] for r in lst]
        assert lifts == sorted(lifts, reverse=True) or all(
            a >= b - 1e-9 for a, b in zip(lifts, lifts[1:])
        )
        for r in lst:
            assert r["n_in_cluster"] >= CLUSTER_KW_MIN
            assert r["n_in_cluster"] == cw[(cell, r["token"])]
            lift_ref = (
                (2 * cw[(cell, r["token"])] * n_all * CLUSTER_KW_SCALE
                 + ct[cell] * wt[r["token"]])
                // (2 * ct[cell] * wt[r["token"]])
            ) / CLUSTER_KW_SCALE
            assert abs(r["lift"] - lift_ref) < 1e-9, (cell, r["token"], lift_ref)


def test_cramers_v_matches_python_contingency(spark, sf_dir):
    """chi2 and V for every pair equal a direct python contingency-table
    computation; V is a valid effect size in [0, 1]."""
    from realtime_twitter_trends_analytics_spark.operators.analytics_ext import (
        CRAMER_Q,
        stats_cramers_v,
    )

    got = {(r["var_a"], r["var_b"]): r for r in stats_cramers_v(spark, sf_dir).collect()}
    assert set(got) == {("etype", "dow"), ("etype", "vbin"), ("dow", "vbin")}
    rows = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "event_type AS etype",
            "CAST(((unix_timestamp(ts) DIV 86400) + 4) % 7 AS STRING) AS dow",
            "CAST(CAST(least(floor(value / 50.0), 9) AS BIGINT) AS STRING) AS vbin",
        )
        .collect()
    )
    for a, b in got:
        obs: dict[tuple, int] = {}
        ra: dict[str, int] = {}
        cb: dict[str, int] = {}
        for r in rows:
            va, vb = r[a], r[b]
            obs[(va, vb)] = obs.get((va, vb), 0) + 1
            ra[va] = ra.get(va, 0) + 1
            cb[vb] = cb.get(vb, 0) + 1
        n = len(rows)
        chi2_q = sum(
            round(
                float(o * n - ra[va] * cb[vb]) * (o * n - ra[va] * cb[vb])
                / (float(n) * ra[va] * cb[vb])
                * CRAMER_Q
            )
            for (va, vb), o in obs.items()
        )
        g = got[(a, b)]
        assert g["n"] == n
        assert g["dof"] == (len(ra) - 1) * (len(cb) - 1)
        assert abs(g["chi2"] - chi2_q / CRAMER_Q) < 1e-3, (a, b)
        import math

        v_ref = math.sqrt(chi2_q / CRAMER_Q / (n * (min(len(ra), len(cb)) - 1)))
        assert abs(g["cramers_v"] - v_ref) < 1e-3
        assert 0 <= g["cramers_v"] <= 1


def test_dp_quantile_release_is_replayable_and_valid(spark, sf_dir):
    """The seeded exponential-mechanism release is deterministic across
    runs, stays inside the bin domain, and at eps=1 with this n the
    utility term dominates the Gumbel noise enough that the released bin
    sits within a small neighborhood of the true median bin."""
    from realtime_twitter_trends_analytics_spark.operators.quality import (
        DPQ_MAX_BIN,
        events_dp_quantile,
    )

    r1 = sorted(events_dp_quantile(spark, sf_dir).collect())
    r2 = sorted(events_dp_quantile(spark, sf_dir).collect())
    assert r1 == r2
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in r1) == total
    for r in r1:
        assert 0 <= r["dp_median_bin"] <= DPQ_MAX_BIN
        assert 0 <= r["true_median_bin"] <= DPQ_MAX_BIN
        assert r["bin_abs_error"] == abs(r["dp_median_bin"] - r["true_median_bin"])


def test_l_diversity_consistent_with_k_anonymity(spark, sf_dir):
    """Both audits partition the SAME event set: their n_events totals
    agree with the table count; l is at least 1 everywhere."""
    ld = events_l_diversity(spark, sf_dir).toPandas()
    ka = events_k_anonymity(spark, sf_dir).toPandas()
    total = load_table(spark, sf_dir, "events").count()
    assert int(ld["n_events"].sum()) == total
    assert int(ka["n_events"].sum()) == total
    assert int(ld["min_l"].min()) >= 1
    assert set(ld["verdict"]) <= {"diverse", "homogeneous"}


def test_split_leakage_covers_all_pairs(spark, sf_dir):
    """The audit is a partition of the near-dup pair set (no pair lost or
    double-counted) and its doc counts are internally consistent."""
    pdf = dedup_split_leakage(spark, sf_dir).toPandas()
    n_pairs = dedup_minhash_pairs(spark, sf_dir).count()
    assert int(pdf["n_pairs"].sum()) == n_pairs
    assert set(pdf["split_lo"]) | set(pdf["split_hi"]) <= {"train", "val", "test"}
    # each pair contributes at most 2 docs; a pair's docs are distinct
    # (a < b), so any class holding a pair involves at least 2 docs
    assert (pdf["n_docs"] <= 2 * pdf["n_pairs"]).all()
    assert (pdf["n_docs"] >= 2).all()
    leaky = pdf[pdf["split_lo"] != pdf["split_hi"]]
    assert (leaky["leaky"] == 1).all()
    assert (pdf[pdf["split_lo"] == pdf["split_hi"]]["leaky"] == 0).all()
