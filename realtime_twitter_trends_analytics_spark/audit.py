"""Plan-audit registry: distributed intermediates that the final plan hides.

Round-5 verdict finding: builders that eagerly materialize (``collect()`` +
``createDataFrame`` — MMR, PCA, the k-means/PQ Lloyd loops) return a
``LocalTableScan``, and builders that ``localCheckpoint`` staging relations
truncate lineage, so the suite-wide plan-hygiene dragnet
(tests/test_plan_hygiene.py) never inspected those distributed stages. Any
cartesian product or row-at-a-time Python UDF inside one ran un-audited.

Fix: every such builder registers its distributed intermediate(s) here via
``audit_plan(label, df)`` — the call captures the *executed-plan string*
(planning only; nothing is executed) exactly once per label per process, so
the overhead in bench/production paths is one plan compile per site. The
dragnet walks ``audit_plans()`` after building each query and applies the
same cartesian / row-Python assertions, whitelisted by LABEL (labels are
stable across whichever query happens to trigger a memoized build first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# label -> executed-plan string (captured once per label per process)
_PLANS: dict[str, str] = {}


def audit_plan(label: str, df: DataFrame) -> DataFrame:
    """Register ``df``'s physical plan under ``label`` for the dragnet.

    Returns ``df`` unchanged so the call composes inline:
    ``pool = audit_plan("mmr_pool", pool).localCheckpoint()``. The plan
    string is captured at most once per label per process (planning cost,
    no execution), so hot loops (Lloyd iterations) register round 1 only —
    every round shares the same plan shape.
    """
    if label not in _PLANS:
        _PLANS[label] = df._jdf.queryExecution().executedPlan().toString()
    return df


def audit_plans() -> dict[str, str]:
    """All captured (label -> plan string) pairs so far this process."""
    return dict(_PLANS)
