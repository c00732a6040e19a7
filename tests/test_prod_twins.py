"""Accuracy pins for the round-8 production twins (VERDICT r7 item 2).

The exact global-sort segmentation readouts (part_abc_classification,
events_power_users_gini, customers_rfm_segments) are the ORACLE targets;
their production twins replace the data-wide single-partition ORDER BY
windows with bucket/sketch plans (geometric revenue buckets, GK quantile
grid, approx_percentile boundary lookups + hash-jittered tie split). These
tests pin each twin within a STATED error bound of its exact twin at the
bench SF (sf0.1): the sketch path is benched, the exact path is oracled,
and the distance between them is a measured, enforced number.

Measured at pin time (sf0.1, 2026-08):
- ABC: rev_share A 0.7746 vs 0.80 exact (one boundary-bucket's mass);
  B 0.17 vs 0.15; C 0.0554 vs 0.05 -> pin |share delta| <= 0.04.
- Gini: 0.0700 vs 0.0695, top1% 0.0140 vs 0.0134 -> pin <= 0.02 / 0.01.
- RFM: per-dimension marginal L1/total 0.0001 each; joint segment
  L1/total 0.0259 (residual = within-tie reassignment, custkey order vs
  hash order — irreducible without the global sort) -> pin marginals
  <= 0.01, joint <= 0.06.
"""

from __future__ import annotations

import collections

from realtime_twitter_trends_analytics_spark.operators import (
    analytics_ext as ax,
    quality as ql,
)

SF_BENCH = "/root/testdata/sf0.1"


def test_abc_prod_within_bucket_mass_of_exact(spark):
    exact = {r["abc_class"]: r.asDict() for r in ax.part_abc_classification(spark, SF_BENCH).collect()}
    prod = {r["abc_class"]: r.asDict() for r in ax.part_abc_classification_prod(spark, SF_BENCH).collect()}
    assert set(exact) == set(prod) == {"A", "B", "C"}
    for c in "ABC":
        assert abs(exact[c]["rev_share"] - prod[c]["rev_share"]) <= 0.04, (c, exact[c], prod[c])
    # total part count and revenue are conserved exactly (classification
    # moves parts between classes, never drops or double-counts them)
    assert sum(v["n_parts"] for v in exact.values()) == sum(v["n_parts"] for v in prod.values())
    assert sum(v["rev_cents"] for v in exact.values()) == sum(v["rev_cents"] for v in prod.values())


def test_gini_prod_within_sketch_error_of_exact(spark):
    exact = ax.events_power_users_gini(spark, SF_BENCH).collect()[0].asDict()
    prod = ax.events_power_users_gini_prod(spark, SF_BENCH).collect()[0].asDict()
    assert prod["n"] == exact["n"]
    assert prod["total_events"] == exact["total_events"]
    assert abs(prod["gini"] - exact["gini"]) <= 0.02, (exact, prod)
    assert abs(prod["top1pct_share"] - exact["top1pct_share"]) <= 0.01, (exact, prod)


def test_rfm_prod_distribution_close_to_exact(spark):
    exact = {r["segment"]: r["n_customers"] for r in ql.customers_rfm_segments(spark, SF_BENCH).collect()}
    prod = {r["segment"]: r["n_customers"] for r in ql.customers_rfm_segments_prod(spark, SF_BENCH).collect()}
    total = sum(exact.values())
    assert sum(prod.values()) == total  # every customer segmented exactly once

    def marginals(seg_counts):
        d = {k: collections.Counter() for k in "rfm"}
        for s, n in seg_counts.items():
            assert 1 <= s // 100 <= 5 and 1 <= s // 10 % 10 <= 5 and 1 <= s % 10 <= 5
            d["r"][s // 100] += n
            d["f"][s // 10 % 10] += n
            d["m"][s % 10] += n
        return d

    me, mp = marginals(exact), marginals(prod)
    for k in "rfm":
        l1 = sum(abs(me[k][t] - mp[k][t]) for t in range(1, 6))
        assert l1 / total <= 0.01, (k, dict(me[k]), dict(mp[k]))
    joint_l1 = sum(abs(exact.get(s, 0) - prod.get(s, 0)) for s in set(exact) | set(prod))
    assert joint_l1 / total <= 0.06, joint_l1 / total


def test_range_splits_prod_balanced_within_sketch_error(spark):
    """The approx_percentile-planned splits hold balance: every split's
    row count within 2% of the ideal N/32 (measured 0.49% worst at pin
    time, sf0.1), rows conserved exactly, and split ranges tile the
    axis in order (each split's lo >= previous split's hi boundary
    follows from bucket assignment by construction — asserted anyway,
    it is the property range pruning relies on)."""
    from realtime_twitter_trends_analytics_spark.operators import layout as lo

    exact = lo.layout_range_splits(spark, SF_BENCH).collect()
    prod = lo.layout_range_splits_prod(spark, SF_BENCH).collect()
    n_total = sum(r["n_rows"] for r in exact)
    assert sum(r["n_rows"] for r in prod) == n_total
    assert len(prod) == lo.RANGE_SPLITS
    target = n_total / lo.RANGE_SPLITS
    for r in prod:
        assert abs(r["n_rows"] - target) / target <= 0.02, r
    ordered = sorted(prod, key=lambda r: r["split_id"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["hi_cents"] <= b["lo_cents"], (a, b)

