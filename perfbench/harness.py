"""Shared pieces of the benchmark: session lifecycle, Spark's own signals
(job groups, planning phases, streaming progress) and the statistics
every workload reports.

Nothing here changes how the engine runs. The benchmark drives the package
through its public functions and reads Spark's monitoring surface from
outside: ``StatusTracker`` by job group, ``QueryPlanningTracker`` phases
and ``StreamingQueryProgress`` events.
"""

from __future__ import annotations

import json
import math
import os
import re
import resource
import sys
import threading
import time
from collections import defaultdict

CPUS = 4  # local[4]: the benchmark is sized for a 4-core box


_T0 = time.perf_counter()


def note(msg: str) -> None:
    """Progress line on stderr (standard output carries only the result)."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0.0 for no samples."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


# ---------------------------------------------------------- Spark signals


def start_session(cpus: int = CPUS):
    """The package's own session factory, quietened for benchmark output."""
    from realtime_twitter_trends_analytics_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> int:
    """Stop the active session, then the JVM gateway, and wait for the JVM
    to exit. Returns the peak RSS (MB) of the waited-for child processes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss // 1024


def job_stats(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks run) for a job group, from the StatusTracker.
    Skipped stages count as stages but add no tasks."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


def plan_phase_s(df) -> float:
    """Force physical planning of ``df`` and return analysis + optimization
    + planning seconds from its QueryPlanningTracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    ms = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            ms += opt.get().durationMs()
    return ms / 1000.0


def count_scans(df) -> int:
    """Parquet/file scan nodes in the formatted physical plan."""
    from realtime_twitter_trends_analytics_spark.plans.explain import explain_str

    return len(set(re.findall(r"\((\d+)\) Scan ", explain_str(df, "formatted"))))


def jobs_per_trigger(spark, run_id: str, progress: list[dict]) -> list[tuple[int, int]]:
    """(jobs, tasks) per trigger of one streaming run: the run's jobs sit in
    the job group named by its runId; each job is assigned to the trigger
    whose [start, start + triggerExecution] interval holds its submission
    time (read from the application status store)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    spans = []
    for p in progress:
        t0 = iso_ms(p["timestamp"])
        spans.append((t0, t0 + p["durationMs"].get("triggerExecution", 0)))
    per = [[0, 0] for _ in spans]
    for j in st.getJobIdsForGroup(run_id):
        data = store.job(j)
        sub = data.submissionTime()
        if not sub.isDefined():
            continue
        t = sub.get().getTime()
        for i, (a, b) in enumerate(spans):
            if a <= t <= b:
                per[i][0] += 1
                per[i][1] += data.numCompletedTasks()
                break
    return [(a, b) for a, b in per]


def iso_ms(ts: str) -> float:
    """Epoch milliseconds of a progress timestamp like 2026-01-01T00:00:00.123Z."""
    from datetime import datetime, timezone

    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0


class ProgressLog:
    """StreamingQueryListener that keeps every progress event by runId.

    ``wait_terminated`` blocks until the listener bus has delivered the
    query's termination, so every progress of a finished query is in."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log._cv:
                    log.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with log._cv:
                    log.progress[p["runId"]].append(p)
                    log._cv.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log._cv:
                    log.terminated.add(str(event.runId))
                    log._cv.notify_all()

        self._cv = threading.Condition()
        self.started: list[str] = []
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()
        self._listener = _Listener()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def wait_terminated(self, run_id: str, timeout: float = 30.0) -> list[dict]:
        deadline = time.monotonic() + timeout
        with self._cv:
            while run_id not in self.terminated:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no termination event for run {run_id}")
                self._cv.wait(left)
            return sorted(self.progress[run_id], key=lambda p: p["batchId"])

    def wait_progress(self, run_id: str, n: int, timeout: float = 10.0) -> None:
        """Block until the run has reported ``n`` triggers, or ``timeout``."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while len(self.progress[run_id]) < n:
                left = deadline - time.monotonic()
                if left <= 0:
                    note(f"run {run_id}: {len(self.progress[run_id])} of {n} triggers after {timeout}s")
                    return
                self._cv.wait(left)

    def last_run(self) -> str:
        with self._cv:
            return self.started[-1]

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def progress_summary(progress: list[dict], prefix: str) -> dict[str, float]:
    """Per-trigger medians of the durationMs components plus state totals."""
    def comp(key):
        return [p["durationMs"].get(key, 0) for p in progress]

    ops_end = progress[-1].get("stateOperators", []) if progress else []
    return {
        f"{prefix}.triggers": len(progress),
        f"{prefix}.rows_per_trigger_p50": median([p["numInputRows"] for p in progress]),
        f"{prefix}.trigger_ms_p50": median(comp("triggerExecution")),
        f"{prefix}.latest_offset_ms_p50": median(comp("latestOffset")),
        f"{prefix}.planning_ms_p50": median(comp("queryPlanning")),
        f"{prefix}.add_batch_ms_p50": median(comp("addBatch")),
        f"{prefix}.wal_commit_ms_p50": median(comp("walCommit")),
        f"{prefix}.commit_offsets_ms_p50": median(comp("commitOffsets")),
        f"{prefix}.state_rows_end": sum(o.get("numRowsTotal", 0) for o in ops_end),
        f"{prefix}.state_mem_mb_end": sum(o.get("memoryUsedBytes", 0) for o in ops_end) / 1e6,
        f"{prefix}.state_commit_ms_sum": sum(
            o.get("commitTimeMs", 0) for p in progress for o in p.get("stateOperators", [])
        ),
        f"{prefix}.late_rows_dropped": sum(
            o.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for o in p.get("stateOperators", [])
        ),
    }


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the JVM and its Python workers, alive or exited and
    waited for. Time the host ran other guests (steal) is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    mine, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        mine.add(pid)
        todo += [c for c, (ppid, _) in procs.items() if ppid == pid and c not in mine]
    return sum(procs[p][1] for p in mine if p in procs) / tick


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def setup_cycles(n: int, ready, timings: dict) -> object:
    """Set up ``n`` times: (re)start the session and run ``ready(spark)``.
    Records each cycle's wall time and the session-start part of it; the
    session of the last cycle is returned for the measured phase. The first
    cycle also launches the JVM, so the median is taken over all cycles."""
    from pyspark.sql import SparkSession

    cycles, starts = [], []
    spark = None
    for _ in range(n):
        if spark is not None:
            spark.stop()
            SparkSession._instantiatedSession = None
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        ready(spark)
        cycles.append(time.perf_counter() - t0)
        note(f"setup cycle {len(cycles)}: {cycles[-1]:.2f}s (session {t1 - t0:.2f}s)")
        starts.append(t1 - t0)
    timings["setup_cycles_s"] = cycles
    timings["session_starts_s"] = starts
    return spark


def frames_mismatch(got, want) -> str:
    """Order-insensitive comparison of two pandas frames: same columns, same
    row count, equal values (floats to 1e-6, timestamps as microseconds).
    Returns "" when they match, else the first difference found."""
    import numpy as np
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"

    def canon(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            s = df[c]
            if pd.api.types.is_datetime64_any_dtype(s):
                df[c] = s.astype("datetime64[us]").astype("int64")
            elif pd.api.types.is_float_dtype(s):
                df[c] = s.astype("float64").round(6)
            elif s.dtype == object:
                first = s.dropna()
                if len(first) and hasattr(first.iloc[0], "toordinal"):
                    df[c] = pd.to_datetime(s).astype("datetime64[us]").astype("int64")
                else:
                    df[c] = s.astype(str)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    a, b = canon(got), canon(want)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            same = np.allclose(a[c].to_numpy(), b[c].to_numpy(), rtol=0, atol=1e-6, equal_nan=True)
        else:
            same = (a[c].fillna("\0") == b[c].fillna("\0")).all()
        if not same:
            return f"values differ in column {c}"
    return ""
