"""``batch_mix``: the staging tier plus a 12-query batch mix.

Phases:

1. Set-up, counted in ``setup_s``: three times, (re)start the session;
   then, once, the cold build of every ``registry.all_staging()`` builder
   in registry order. A memo
   that moves work out of the timed pass into the staging tier shows up
   here. The staging build is also what warms the JVM and the Python
   workers before the timed pass.
2. One timed pass, always exactly one: each query is built, executed and
   its result collected to the driver (``toPandas``), then the cache is
   cleared. The latency of a query is its build + execute time. With
   ``--trace 1`` this pass is the traced one. The order is fixed: the JVM
   keeps warming up through the pass, so a query's time depends on its
   place in it, and a seed-chosen order moved single queries by up to
   0.7 s between seeds. The seed changes nothing here; the tables are
   fixed.
3. Check, outside the timed region: every collected result is compared
   with the result pinned in ``expected/`` (the query's DuckDB oracle over
   the same fixture, written by ``pin.py``).

The fixture is the engine's sf0.01 test data, committed under
``data/sf0.01`` (README.md says why not sf0.1).
"""

from __future__ import annotations

import os
import time

from harness import (
    count_scans,
    frames_mismatch,
    job_stats,
    median,
    note,
    percentile,
    plan_phase_s,
    setup_cycles,
    tree_cpu_s,
)

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected")
QUERIES = (
    # scan- or shuffle-bound; short, so the first query's extra warm-up
    # time lands below the median
    "q01_pricing_summary",
    "sql_q9_profit_by_nation_year",
    "orders_join_ivm",
    "market_basket_rules",
    # staged or eager driver work
    "corpus_pipeline_v4",
    "textstats_bpe_induction_batched",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "sim_lsh_ann",
    "ml_naive_bayes_lang",
    "graph_pagerank_topk",
    "graph_kcore",
)
# bench-only queries pinned to the oracle of the gated query they must equal
ORACLE_TWIN = {"textstats_bpe_induction_batched": "textstats_bpe_induction"}
SCAN_TABLES = ("documents", "embeddings", "lineitem", "events")
SETUP_CYCLES = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _scan(spark) -> None:
    from realtime_twitter_trends_analytics_spark.sources.loaders import load_table

    for t in SCAN_TABLES:
        _noop(load_table(spark, DATA, t))


def _check(got: dict) -> int:
    """Compare every collected result with its pinned result; returns the
    number of mismatching queries."""
    import duckdb

    failed = 0
    with duckdb.connect() as con:
        for name, result in got.items():
            want = con.execute(f"SELECT * FROM read_parquet('{EXPECTED}/{name}.parquet')").fetchdf()
            problem = frames_mismatch(result, want)
            if problem:
                note(f"MISMATCH {name}: {problem}")
                failed += 1
    return failed


def _pass(spark, fns: dict, order: list[str], results: dict, layers: dict | None = None):
    """One pass over ``order``: build each query, collect its result into
    ``results`` and clear the cache. Returns each query's build + execute
    seconds, and the seconds the tracer spent on its own work.

    With ``layers`` it also records the per-query layer split, each query's
    jobs running under its own job group. It forces the physical plan
    before collecting, which adds no work (``toPandas`` executes that same
    plan) but moves the planning out of ``exec_s`` into ``plan_s``; only
    printing the plan and reading the job counts are the tracer's own."""
    from realtime_twitter_trends_analytics_spark.plans.explain import count_exchanges

    sc = spark.sparkContext
    walls, own_s = [], 0.0
    for name in order:
        group = f"perfbench.q.{name}"
        if layers is not None:
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fns[name](spark, DATA)
        t1 = time.perf_counter()
        if layers is not None:
            plan_s = plan_phase_s(df)
            t_own = time.perf_counter()
            scans, exchanges = count_scans(df), count_exchanges(df)
            own_s += time.perf_counter() - t_own
        t2 = time.perf_counter()
        results[name] = df.toPandas()
        t3 = time.perf_counter()
        spark.catalog.clearCache()
        walls.append((t1 - t0) + (t3 - t2))
        if layers is None:
            continue
        t_own = time.perf_counter()
        jobs, stages, tasks = job_stats(spark, group)
        own_s += time.perf_counter() - t_own
        layers.update({
            f"q.{name}.build_s": t1 - t0,
            f"q.{name}.exec_s": t3 - t2,
            f"q.{name}.jobs": jobs,
            f"q.{name}.tasks": tasks,
        })
        for key, v in (
            ("build_s", t1 - t0), ("plan_s", plan_s), ("exec_s", t3 - t2),
            ("jobs", jobs), ("stages", stages), ("tasks", tasks),
            ("exchanges", exchanges), ("scans", scans),
        ):
            layers[f"batch.{key}"] = layers.get(f"batch.{key}", 0) + v
    if layers is not None:
        sc.setJobGroup("perfbench.idle", "idle")
    return walls, own_s


def run(ctx) -> None:
    from realtime_twitter_trends_analytics_spark import registry

    layers = ctx.layers
    fns = {**registry.all_queries(), **registry.all_bench_only()}
    order = list(QUERIES)

    spark = setup_cycles(SETUP_CYCLES, lambda spark: None, ctx.timings)

    # -- cold staging tier (part of set-up) ---------------------------------
    sc = spark.sparkContext
    sc.setJobGroup("perfbench.staging", "staging")
    t0, c0 = time.perf_counter(), tree_cpu_s()
    for name, build in registry.all_staging().items():
        t1 = time.perf_counter()
        build(spark, DATA)
        layers[f"staging.{name}_s"] = time.perf_counter() - t1
    ctx.timings["setup_once_s"] = time.perf_counter() - t0
    sc.setJobGroup("perfbench.idle", "idle")
    note(f"staging built: {ctx.timings['setup_once_s']:.2f}s cpu {tree_cpu_s() - c0:.2f}s")
    jobs, _, tasks = job_stats(spark, "perfbench.staging")
    layers.update({"staging.jobs": jobs, "staging.tasks": tasks})

    # -- the timed pass (traced with --trace 1) -------------------------------
    results = {}
    t0, c0 = time.perf_counter(), tree_cpu_s()
    lat, own_s = _pass(spark, fns, order, results, layers if ctx.trace else None)
    wall = time.perf_counter() - t0
    layers["proc.cpu_s"] = tree_cpu_s() - c0
    note(
        f"timed: {len(lat)} queries in {wall:.2f}s, cpu {layers['proc.cpu_s']:.2f}s: "
        + ", ".join(f"{n} {t:.2f}" for n, t in zip(order, lat))
    )
    ctx.e2e.update(latency_p50_s=median(lat), throughput_per_s=len(lat) / wall)
    layers["batch.latency_p90_s"] = percentile(lat, 90)

    # -- check (outside the timed region) -------------------------------------
    ctx.attempted = len(order)
    ctx.failed = _check(results)
    note(f"check done: {ctx.failed} of {len(order)} queries mismatched")
    if not ctx.trace:
        return

    layers["trace.overhead_frac"] = own_s / (wall - own_s)
    t0 = time.perf_counter()
    _scan(spark)
    layers["sources.scan_s"] = time.perf_counter() - t0
