"""The ``streaming.ann_stream`` layer: the maintained ANN index under a mixed
write/read stream, measured in the traced run of ``trends_stream``.

A seeded backlog of JSON-lines files — each ``INGEST`` index writes and
``QUERIES`` reads (75 % / 25 %) — is drained closed-loop through
``run_streaming_ann_maintain`` with a fixed ``maxFilesPerTrigger``. Every
query is a copy of a vector planted in an earlier file (file 0 queries its
own ingests), so its top-1 result is known. It is not a workload of its
own; README.md says why.
"""

from __future__ import annotations

import os

from harness import ProgressLog, jobs_per_trigger, median, note
from loadgen import index_stream_files, write_backlog

N_FILES = 6
INGEST, QUERIES = 75, 25
FILES_PER_TRIGGER = 1


def measure(spark, ctx) -> None:
    """Drain the index stream on ``spark``, check every read and record the
    ``index.*`` metrics; a failed read counts in ``ctx.failed``."""
    from pyspark.sql import functions as F

    from realtime_twitter_trends_analytics_spark.streaming.ann_stream import (
        run_streaming_ann_maintain,
    )

    files, planted = index_stream_files(ctx.seed, N_FILES, INGEST, QUERIES)
    src, work = os.path.join(ctx.work, "index_src"), os.path.join(ctx.work, "index")
    write_backlog(src, files)
    log = ProgressLog(spark)
    metrics: list[dict] = []
    if not run_streaming_ann_maintain(
        spark, src, work, max_files_per_trigger=FILES_PER_TRIGGER, metrics=metrics, timeout_sec=150
    ):
        raise RuntimeError("index stream drain timed out")
    run_id = log.last_run()
    prog = log.wait_terminated(run_id)
    log.close()

    # -- check: every query served once, top-1 is its planted vector ---------
    top1 = {
        r.query_id: r.cand_id
        for r in spark.read.parquet(os.path.join(work, "results"))
        .filter(F.col("rnk") == 1)
        .select("query_id", "cand_id")
        .collect()
    }
    served = sum(m["n_queries"] for m in metrics)
    failed = sum(1 for q, v in planted.items() if top1.get(q) != v) + abs(served - len(planted))
    ctx.attempted += len(planted)
    ctx.failed += failed
    note(f"index stream: {len(prog)} triggers, {served} served, {failed} failed")

    per = jobs_per_trigger(spark, run_id, prog)
    ctx.layers.update({
        "index.triggers": len(prog),
        "index.planning_ms_p50": median([p["durationMs"].get("queryPlanning", 0) for p in prog]),
        "index.add_batch_ms_p50": median([p["durationMs"].get("addBatch", 0) for p in prog]),
        "index.jobs_per_trigger_p50": median([a for a, _ in per]),
        "index.tasks_per_trigger_p50": median([b for _, b in per]),
        "index.epochs_end": len([d for d in os.listdir(os.path.join(work, "ann_index")) if d.startswith("batch=")]),
        "index.served": served,
    })
