"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() counterpart
(DuckDB) on the same sf dir, compares row count, column names, and
order-insensitive values. Usage:

    python tools/verify_local.py [--sf /root/testdata/sf0.001] [--only name ...]

Timing (round 10, VERDICT r9 item 1): the recorded spark_sec is the MIN of
--times runs (default 2) after one session warm-up scan. The r9 artifact
ran every query single-shot in sorted name order, so the alphabetically
first agg_* family absorbed the JVM/codegen/parquet-footer cold start
(agg_approx_distinct read 7.8 s in the gate vs 1.8 s warm) and every
flagged list needed manual cold-start adjudication. Run 1 feeds the
correctness comparison AND serves as the per-query warm-up; run 2 is the
recorded wall — same min-of-N policy as bench.py. DuckDB stays single-shot:
it is in-process (no JVM/codegen ramp) and reads parquet the Spark run just
pulled through the OS page cache.

Cold cost: run 1 is also recorded as first_sec. It includes any ``@staged``
build the query fills first (later runs find staging warm), so the largest
first_sec - spark_sec gaps are printed next to the wall-ratio flags, which
read spark_sec only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_twitter_trends_analytics_spark.session import get_spark  # noqa: E402
from realtime_twitter_trends_analytics_spark.sources.loaders import TABLES  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif df[c].dtype == object:
            sample = df[c].dropna()
            if len(sample) and hasattr(sample.iloc[0], "toordinal"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]").astype("int64")
            else:
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]):
            ok = np.allclose(av, bv, rtol=0, atol=1e-6, equal_nan=True)
        else:
            ok = (pd.Series(av).fillna("\0NULL") == pd.Series(bv).fillna("\0NULL")).all()
        if not ok:
            mism = (pd.Series(av).fillna("\0N") != pd.Series(bv).fillna("\0N")).to_numpy().nonzero()[0][:5]
            examples = [(c, i, av[i], bv[i]) for i in mism]
            problems.append(f"values differ in col {c}: {examples}")
    return problems


def cold_gaps(wall: dict[str, dict]) -> list[tuple[str, float, float]]:
    """(name, first_sec - spark_sec, first_sec) for the ten queries whose
    first run cost most above their recorded warm wall."""
    gaps = [
        (name, rec["first_sec"] - rec["spark_sec"], rec["first_sec"])
        for name, rec in wall.items()
        if "first_sec" in rec
    ]
    return sorted(gaps, key=lambda g: -g[1])[:10]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument(
        "--times",
        type=int,
        default=2,
        help="spark timing runs per query; recorded spark_sec = min over runs "
        "(run 1 also feeds the correctness compare). 1 restores the r9 "
        "single-shot behavior for quick correctness-only passes.",
    )
    ap.add_argument(
        "--json",
        default=None,
        help="write per-query {spark_sec, duck_sec, ratio, status} to this path "
        "(the Spark-vs-DuckDB wall ratio is the external perf anchor: DuckDB "
        "runs the identical relational plan on the identical parquet, so a "
        "ratio far above the JVM-startup-amortized norm flags a Spark plan "
        "worth auditing)",
    )
    args = ap.parse_args()

    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    # session warm-up (see module docstring): absorb JVM JIT + codegen +
    # parquet-footer reads with plain scans so the alphabetically-first
    # queries don't carry the cold start into the wall-ratio artifact
    from realtime_twitter_trends_analytics_spark.sources.loaders import load_table

    for t in ("documents", "embeddings", "lineitem"):
        load_table(spark, args.sf, t).write.format("noop").mode("overwrite").save()

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.only or sorted(queries)
    n_pass = n_fail = n_rows_only = 0
    wall: dict[str, dict] = {}
    for name in names:
        # run contract (ADVICE r3): intra-query caches (shingle relations,
        # LSH buckets) are owned by the query that built them; the harness
        # drops them so 140+ queries don't accumulate executor storage
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            spark_pdf = sdf.toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            wall[name] = {"status": "spark_error"}
            n_fail += 1
            continue
        spark_sec = first_sec = time.time() - t0
        # min-of-N warm timing (module docstring): run 1 above produced the
        # pandas frame for the compare and warmed the plan; later runs only
        # re-execute and re-collect (clearCache keeps the per-query cache
        # contract; memoized staging stays warm, same basis as bench.py)
        for _ in range(max(args.times, 1) - 1):
            spark.catalog.clearCache()
            t0 = time.time()
            queries[name](spark, args.sf).toPandas()
            spark_sec = min(spark_sec, time.time() - t0)
        if name not in oracles:
            print(f"rows {name}: {len(spark_pdf)} rows (rows-only, {spark_sec:.1f}s)")
            wall[name] = {
                "status": "rows_only",
                "spark_sec": round(spark_sec, 3),
                "first_sec": round(first_sec, 3),
            }
            n_rows_only += 1
            continue
        t1 = time.time()
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            wall[name] = {
                "status": "duck_error",
                "spark_sec": round(spark_sec, 3),
                "first_sec": round(first_sec, 3),
            }
            n_fail += 1
            continue
        duck_sec = time.time() - t1
        ratio = spark_sec / duck_sec if duck_sec > 0 else float("inf")
        wall[name] = {
            "spark_sec": round(spark_sec, 3),
            "first_sec": round(first_sec, 3),
            "duck_sec": round(duck_sec, 3),
            "ratio": round(ratio, 2),
        }
        problems = compare(spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name} (spark {spark_sec:.1f}s, duck {duck_sec:.1f}s):")
            for p in problems:
                print(f"   {p}")
            wall[name]["status"] = "fail"
            n_fail += 1
        else:
            print(
                f"PASS {name}: {len(spark_pdf)} rows "
                f"(spark {spark_sec:.1f}s, duck {duck_sec:.1f}s, ratio {ratio:.1f}x)"
            )
            wall[name]["status"] = "pass"
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    # Spark's fixed per-query cost (plan + schedule + Arrow collect) is
    # ~0.5-1.5 s regardless of data size, so for sub-second DuckDB queries a
    # raw >5x ratio is pure overhead, not a plan problem; the actionable flag
    # is ratio>5 AND spark wall large enough that data work dominates.  The
    # JSON artifact still records every ratio unfiltered.
    flagged = sorted(
        (
            (name, rec["ratio"], rec["spark_sec"])
            for name, rec in wall.items()
            if rec.get("status") == "pass"
            and rec.get("ratio", 0) > 5.0
            and rec.get("spark_sec", 0) >= 2.0
        ),
        key=lambda kv: -kv[1],
    )
    # Gate queries whose cost is PRICED (a bench line prices the fast plan
    # or the boundary; the gate face deliberately keeps the oracle-provable
    # one): the flag still prints, carrying the reason, so the list stays
    # mechanical but pre-adjudicated — per-round re-litigation was the
    # VERDICT r11 pattern this replaces.
    priced = {
        "grouped_zscore": "the applyInPandas Arrow boundary, by design "
        "(bench.py DEMO line)",
        "dedup_semantic_cells": "twin dedup_semantic_cells_prod (derived-K "
        "density rule; equality at bench SF in tests/test_density_rule.py)",
        "sim_pq_adc_ann": "twin sim_ivfpq_ann / _prod (IVF-bounded candidates)",
    }
    if flagged:
        print(
            f"\nwall-ratio >5x with spark_sec>=2s — {len(flagged)} queries "
            "flagged for plan review (sub-2s spark queries are fixed-overhead "
            "dominated; all ratios are in the JSON artifact):"
        )
        for name, r, s in flagged:
            why = priced.get(name)
            note = f"  [priced: {why}]" if why else ""
            print(f"   {r:7.1f}x  spark {s:6.1f}s  {name}{note}")
    gaps = cold_gaps(wall)
    if gaps:
        print(
            f"\nlargest cold costs (first_sec - spark_sec, top {len(gaps)}; "
            "run 1 includes any staging build):"
        )
        for name, gap, first in gaps:
            print(f"   {gap:+7.1f}s  first {first:6.1f}s  {name}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"sf": args.sf, "queries": wall}, fh, indent=1, sort_keys=True)
        print(f"\nwall-ratio artifact written to {args.json}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
