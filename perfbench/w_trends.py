"""``trends_stream``: the paper's live path under an open-loop tweet load.

One streaming query runs the whole workload:
``read_raw_stream`` -> ``transform_tweets`` (Arrow sentiment UDF) ->
``trend_sentiment_joined`` -> foreachBatch ``idempotent_store_writer``, with
Spark's default trigger (each micro-batch starts as soon as the previous one
commits) and at most MAX_FILES files per trigger. It reads the glob
``src/*``: one sub-directory per phase, so a whole backlog appears with one
directory rename. ``write_with_first_batch_setup``'s only continuous
trigger is a fixed 15 s interval, under which a run sees one or two
triggers, so the query is started here with the same foreachBatch contract;
the single-threaded baseline of the traced run does call it.

Phases:

1. Set-up, counted in ``setup_s``: the generator builds every file of the
   run; three times, (re)start the session; then, once, the query is started
   and primed with PRIME_FILES files (three full triggers, more event time
   than window + watermark), so that its cold first triggers are paid,
   windows close and the sink writes before anything is timed.
2. Open loop for ``--seconds``: ``OpenLoop`` writes RATE files per second.
   Latency of a file = commit time of the trigger that read it minus the
   time the file was due; the file source's log in the checkpoint says
   which trigger read each file.
3. Drain: a backlog of DRAIN_FILES bigger files appears at once (three full
   triggers). Throughput = tweets per second of the median one of those
   triggers: the time the query took to notice the backlog is not in it,
   and a burst of load from other guests on the host moves it only if it
   covers most of the drain.
4. Check: every emitted (window_start, hashtag) count equals the
   generator's own count, and every window closed by the final watermark
   was emitted.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter

from harness import (
    CPUS,
    ProgressLog,
    iso_ms,
    jobs_per_trigger,
    median,
    note,
    percentile,
    progress_summary,
    setup_cycles,
    start_session,
    tree_cpu_s,
)
import w_index
from loadgen import OpenLoop, TweetGen, check_trends, write_backlog

# 144 tweets per second in 2 files; a trigger on a 4-core box takes
# 1.5-2.5 s, so it reads 3-5 of the MAX_FILES it may, and trigger time does
# not grow with a backlog. Few, larger files: each file adds to the cost of
# a trigger.
RATE = 2.0  # files per second in the open loop
ROWS_PER_FILE = 72
EVENT_S_PER_FILE = 24  # event time runs 48x faster than wall time
MAX_FILES = 8  # maxFilesPerTrigger
# three full triggers, 576 event seconds (more than window + watermark):
# after two, a trigger still took up to twice its warm time
PRIME_FILES = 3 * MAX_FILES
DRAIN_FILES, DRAIN_ROWS = 3 * MAX_FILES, 500
SHUFFLE_PARTITIONS = str(CPUS)
SETUP_CYCLES = 3


def _scored_stream(spark, src: str, max_files: int):
    from pyspark.sql import functions as F

    from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
        read_raw_stream,
        transform_tweets,
        trend_sentiment_joined,
    )

    raw = read_raw_stream(spark, source_dir=src, max_files_per_trigger=max_files)
    scored = transform_tweets(raw, ts_col=F.timestamp_seconds(F.col("key").cast("long")))
    return trend_sentiment_joined(scored)


class TimedSink:
    """Wraps a foreachBatch sink writer and times every call into it."""

    def __init__(self, writer):
        self.writer = writer
        self.calls: list[float] = []

    def __call__(self, batch_df, batch_id):
        t0 = time.perf_counter()
        self.writer(batch_df, batch_id)
        self.calls.append(time.perf_counter() - t0)


def _local1_drain(src: str, work: str) -> float:
    """The drain backlog on a local[1] session through
    write_with_first_batch_setup (availableNow); returns wall seconds."""
    from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
        idempotent_store_writer,
        write_with_first_batch_setup,
    )

    spark = start_session(cpus=1)
    spark.conf.set("spark.sql.shuffle.partitions", SHUFFLE_PARTITIONS)
    t0 = time.perf_counter()
    q = write_with_first_batch_setup(
        _scored_stream(spark, src, MAX_FILES),
        checkpoint_dir=os.path.join(work, "ckpt"),
        sink_writer=idempotent_store_writer(os.path.join(work, "sink")),
        output_mode="append",
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"local[1] drain failed: {q.exception()}")
    return time.perf_counter() - t0


def _emitted(spark, out_dir: str):
    from pyspark.sql import functions as F

    if not os.path.isdir(out_dir):
        return []
    df = spark.read.parquet(out_dir).select(
        F.unix_timestamp("window_start").alias("s"), "hashtag", "cnt"
    )
    return [(r.s, r.hashtag, r.cnt) for r in df.collect()]


def _file_triggers(ckpt: str, progress: list[dict]) -> dict[str, tuple[float, float]]:
    """File name -> (start, commit) time, epoch seconds, of the trigger that
    read it. The file source's metadata log in the checkpoint records which
    of its batches took each file, and a trigger's source end offset names
    the batch it read. (Spark's ``numInputRows`` cannot map files: the
    topology scans each file twice and counts both scans.)"""
    span = {}
    for p in progress:
        src = p["sources"][0]
        if src.get("startOffset") != src["endOffset"]:
            start = iso_ms(p["timestamp"])
            span[src["endOffset"]["logOffset"]] = (
                start / 1000.0,
                (start + p["durationMs"]["triggerExecution"]) / 1000.0,
            )
    out = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = span[entry["batchId"]]
    return out


def _watermark_s(progress: list[dict]) -> float:
    marks = [iso_ms(p["eventTime"]["watermark"]) / 1000.0 for p in progress if "watermark" in p.get("eventTime", {})]
    return max(marks, default=0.0)


def run(ctx) -> None:
    from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
        idempotent_store_writer,
    )

    layers = ctx.layers
    t0 = time.perf_counter()
    n_open = max(1, int(RATE * ctx.seconds))
    gen = TweetGen(ctx.seed, ROWS_PER_FILE, EVENT_S_PER_FILE)
    prime_files = [gen.file_lines(i) for i in range(PRIME_FILES)]
    open_files = [gen.file_lines(PRIME_FILES + i) for i in range(n_open)]
    first_drain = PRIME_FILES + n_open
    drain_files = [gen.file_lines(first_drain + i, DRAIN_ROWS) for i in range(DRAIN_FILES)]
    src = os.path.join(ctx.work, "src")
    drain_ready = os.path.join(ctx.work, "drain_ready")
    write_backlog(os.path.join(src, "prime"), prime_files, prefix="p")
    write_backlog(drain_ready, drain_files, prefix="d")
    gen_s = time.perf_counter() - t0

    logs = []

    def ready(spark):
        spark.conf.set("spark.sql.shuffle.partitions", SHUFFLE_PARTITIONS)
        logs.append(ProgressLog(spark))

    spark = setup_cycles(SETUP_CYCLES, ready, ctx.timings)
    log = logs[-1]

    # -- priming (set-up) ---------------------------------------------------
    t0 = time.perf_counter()
    out = os.path.join(ctx.work, "sink")
    ckpt = os.path.join(ctx.work, "ckpt")
    sink = TimedSink(idempotent_store_writer(out))
    q = (
        _scored_stream(spark, os.path.join(src, "*"), MAX_FILES)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    run_id = str(q.runId)
    q.processAllAvailable()
    # the watermark moved, so a no-data trigger follows that closes windows
    log.wait_progress(run_id, PRIME_FILES // MAX_FILES + 1)
    ctx.timings["setup_once_s"] = gen_s + time.perf_counter() - t0
    note(f"primed: {ctx.timings['setup_once_s']:.2f}s")

    # -- open loop --------------------------------------------------------
    loop = OpenLoop(os.path.join(src, "open"), open_files, RATE, time.time() + 0.2, first=PRIME_FILES)
    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    loop.start()
    loop.join(ctx.seconds + 60)
    if loop.is_alive() or loop.error is not None:
        q.stop()
        raise RuntimeError(f"load generator failed: {loop.error or 'did not finish'}")
    q.processAllAvailable()
    open_s = time.perf_counter() - t0

    # -- drain -------------------------------------------------------------
    t0 = time.perf_counter()
    os.rename(drain_ready, os.path.join(src, "drain"))
    q.processAllAvailable()
    drain_s_wall = time.perf_counter() - t0
    cpu_s = tree_cpu_s() - cpu0
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    prog = log.wait_terminated(run_id)
    layers["proc.cpu_s"] = cpu_s

    trig = _file_triggers(ckpt, prog)
    lat = [trig[f"f{i:06d}.json"][1] - due for i, due in enumerate(loop.due, start=PRIME_FILES)]
    drain = Counter(trig[f"d{i:06d}.json"] for i in range(DRAIN_FILES))  # trigger -> files
    drain_s = max(b for _, b in drain) - min(a for a, _ in drain)
    drain_rates = [n * DRAIN_ROWS / (b - a) for (a, b), n in drain.items()]
    note(
        f"open loop {open_s:.2f}s, drain {drain_s:.2f}s ({drain_s_wall:.2f}s wall), "
        f"cpu {cpu_s:.2f}s, generator late by {loop.late_s_max():.3f}s at most; "
        f"trigger ms {[p['durationMs']['triggerExecution'] for p in prog]}"
    )

    # -- check (outside every timed region) ---------------------------------
    ctx.attempted, ctx.failed = check_trends(_emitted(spark, out), gen.expected, _watermark_s(prog))
    note(f"check done: {ctx.attempted} rows checked, {ctx.failed} failed")

    ctx.e2e.update(latency_p50_s=median(lat), throughput_per_s=median(drain_rates))
    if not ctx.trace:
        return

    # -- per-layer ------------------------------------------------------------
    layers.update(progress_summary(prog, "stream"))
    layers["stream.latency_p90_s"] = percentile(lat, 90)
    t0 = time.perf_counter()
    per = jobs_per_trigger(spark, run_id, prog)
    own_s = time.perf_counter() - t0
    layers["stream.jobs_per_trigger_p50"] = median([a for a, _ in per])
    layers["stream.tasks_per_trigger_p50"] = median([b for _, b in per])
    layers["sink.write_s_sum"] = sum(sink.calls)
    layers["sink.batches"] = len(sink.calls)
    layers["loadgen.late_s_max"] = loop.late_s_max()
    layers["loadgen.backlog_files_end"] = sum(
        1 for i in range(n_open) if trig[f"f{PRIME_FILES + i:06d}.json"][1] > loop.landed[-1]
    )
    layers["trace.overhead_frac"] = own_s / (open_s + drain_s_wall)
    drain_src = os.path.join(src, "drain")
    _functions_layer(spark, layers, drain_src)
    w_index.measure(spark, ctx)

    # single-threaded baseline: the same drain on local[1]
    spark.stop()
    wall1 = _local1_drain(drain_src, os.path.join(ctx.work, "local1"))
    layers["stream.local1_rows_per_s"] = DRAIN_FILES * DRAIN_ROWS / wall1


def _functions_layer(spark, layers: dict, src: str) -> None:
    """The transform on the static replay, with the Arrow UDF and with the
    SQL lexicon expression, plus the vectorized scorer called directly."""
    import pandas as pd
    from pyspark.sql import functions as F

    from realtime_twitter_trends_analytics_spark.functions.sentiment import (
        score_texts_pandas_vec,
    )
    from realtime_twitter_trends_analytics_spark.streaming.pipeline import (
        RAW_SCHEMA,
        transform_tweets,
    )

    raw = spark.read.schema(RAW_SCHEMA).json(src)
    ts = F.timestamp_seconds(F.col("key").cast("long"))
    timings = {}
    for name, sql in (("transform.batch_sql_s", True), ("transform.batch_s", False)):
        for _ in range(2):  # the first run warms the path
            t0 = time.perf_counter()
            transform_tweets(raw, ts_col=ts, sql_sentiment=sql).write.format("noop").mode("overwrite").save()
            timings[name] = time.perf_counter() - t0
    layers.update(timings)
    texts = pd.Series([r.value for r in raw.select("value").collect()]).str.split(" /TLOC/ ").str[1]
    t0 = time.perf_counter()
    score_texts_pandas_vec(texts)
    layers["sentiment.vec_us_per_row"] = (time.perf_counter() - t0) * 1e6 / len(texts)
