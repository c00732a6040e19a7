"""Benchmark entry point.

    python3 perfbench/run.py --workload trends_stream --seed 1 --seconds 10 --trace 0

Runs one workload (``trends_stream`` or ``batch_mix``,
see perfbench/README.md) from the root of a checkout and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end metrics named in BENCHMARK.json; with ``--trace 1`` they
are the per-layer metrics. A per-layer metric of a layer the workload
never calls reads 0.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit. Exits non-zero, without a result line, when the
engine package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("trends_stream", "batch_mix")


class Context:
    """What a workload receives and fills in."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str):
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.timings: dict = {}  # setup cycle timings, filled by setup_cycles
        self.e2e: dict = {}  # latency_p50_s, throughput_per_s
        self.layers: dict = {}  # per-layer metrics, reported with --trace 1
        self.attempted = 0
        self.failed = 0


def _isolate(work: str) -> None:
    """Keep every file the run (and the JVM it launches) writes inside work."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def _cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only if no other run is using it
    except OSError:
        pass


def _metrics(spec: list[dict], values: dict[str, float], fill_zero: bool) -> dict:
    out = {}
    for m in spec:
        if m["name"] not in values and not fill_zero:
            raise KeyError(f"workload did not measure {m['name']}")
        out[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    sys.path[:0] = [ROOT, HERE]

    t0 = time.perf_counter()
    try:
        import realtime_twitter_trends_analytics_spark.registry  # noqa: F401
        import realtime_twitter_trends_analytics_spark.streaming.ann_stream  # noqa: F401
        import realtime_twitter_trends_analytics_spark.streaming.pipeline  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package: {exc}", file=sys.stderr)
        _cleanup(work)
        return 2
    import_s = time.perf_counter() - t0

    import harness

    module = {
        "trends_stream": "w_trends",
        "batch_mix": "w_batch",
    }[args.workload]
    ctx = Context(args.seed, args.seconds, bool(args.trace), work)
    try:
        __import__(module).run(ctx)
    finally:
        jvm_rss_mb = harness.shutdown_jvm()
        _cleanup(work)

    setup_s = (
        import_s
        + harness.median(ctx.timings["setup_cycles_s"])
        + ctx.timings.get("setup_once_s", 0.0)
    )
    if args.trace:
        values = dict(ctx.layers)
        values["session.start_s"] = harness.median(ctx.timings["session_starts_s"])
        values["proc.peak_rss_mb"] = harness.peak_rss_mb() + jvm_rss_mb
        metrics = _metrics(spec["per_layer"], values, fill_zero=True)
    else:
        metrics = _metrics(spec["end_to_end"], {**ctx.e2e, "setup_s": setup_s}, fill_zero=False)
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0 and ctx.attempted > 0,
                "attempted": max(ctx.attempted, 1),
                "failed": ctx.failed if ctx.attempted else 1,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
