"""Seeded load generators, kept apart from the system under test.

The generators only write JSON-lines files into a directory that the
engine's file source watches; they import nothing from the engine. Every
file is written under a hidden temporary name (a leading dot, which the
file source skips) in its directory and renamed into place, so the file
source never lists a partial file.

- ``TweetGen`` builds the tweet stream of the ``trends_stream`` workload:
  Zipf-skewed hashtags, event times that run faster than wall time, and a
  share of events that arrive out of order (always within the watermark).
  It also computes, on its own, the sliding-window count of every
  (window_start, hashtag) pair, which the engine's output must equal.
- ``OpenLoop`` writes pre-built files on a fixed schedule in a thread. The
  schedule does not slow when the engine slows; each file's modification
  time is its creation time, and the generator keeps the time it was due
  and the time it landed.
- ``write_backlog`` writes a whole backlog at once, with modification
  times that keep the files in order.
- ``index_stream_files`` builds the mixed ingest/query stream of the
  ``index_stream`` workload, with every query a copy of a planted vector.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter

import numpy as np

SENTINEL = " /TLOC/ "
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LOCATIONS = ["Austin, TX", "Paris, France", "Lagos, Nigeria", "Nowhere", "Pune, India, IN"]

N_HASHTAGS = 200
ZIPF_S = 1.1
EVENT_BASE = 1_700_000_000
WINDOW_S, SLIDE_S, WATERMARK_S = 60, 15, 120  # trend_sentiment_joined defaults
LATE_FRACTION = 0.1
LATE_MAX_S = 60  # out-of-order lag, well inside the 120 s watermark


def _atomic_write(directory: str, name: str, lines: list[str], mtime: float | None = None) -> None:
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(directory, name))


def write_backlog(directory: str, files: list[list[str]], prefix: str = "f") -> None:
    """Write a backlog at once. The file source orders files by modification
    time in milliseconds, and a backlog lands within a few of them, so file
    i is stamped one second after file i - 1 (all in the past): triggers
    then consume the files in order, as a live stream would."""
    os.makedirs(directory, exist_ok=True)
    t0 = int(time.time()) - len(files) - 1
    for i, lines in enumerate(files):
        _atomic_write(directory, f"{prefix}{i:06d}.json", lines, mtime=t0 + i)


class TweetGen:
    """Seeded tweet files. File ``i`` covers event seconds
    [base + i * event_s, base + (i + 1) * event_s); a LATE_FRACTION share of
    its tweets carry event times up to LATE_MAX_S earlier. Files must be
    built in order of ``i``."""

    def __init__(self, seed: int, rows_per_file: int, event_s_per_file: int, base: int = EVENT_BASE):
        self.rng = np.random.default_rng(seed)
        self.rows = rows_per_file
        self.event_s = event_s_per_file
        self.base = base
        w = 1.0 / np.arange(1, N_HASHTAGS + 1) ** ZIPF_S
        self.tag_p = w / w.sum()
        self.expected: Counter = Counter()  # (window_start_s, hashtag) -> count
        self.max_ts = 0

    def file_lines(self, i: int, rows: int | None = None) -> list[str]:
        rng, n = self.rng, rows or self.rows
        t0 = self.base + i * self.event_s
        ts = t0 + rng.integers(0, self.event_s, n)
        late = rng.random(n) < LATE_FRACTION
        ts = np.where(late, ts - rng.integers(1, LATE_MAX_S + 1, n), ts)
        n_tags = rng.integers(1, 4, n)
        n_words = rng.integers(6, 20, n)
        drawn = rng.choice(N_HASHTAGS, (n, 3), p=self.tag_p)
        lines = []
        for r in range(n):
            tags = list(dict.fromkeys(drawn[r, : n_tags[r]].tolist()))  # distinct, in order
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(n_words[r]))]
            for t in tags:
                words.insert(int(rng.integers(0, len(words) + 1)), f"#tag{t}")
            loc = LOCATIONS[int(rng.integers(0, len(LOCATIONS)))]
            value = f"{loc}{SENTINEL}{' '.join(words)}"
            lines.append(json.dumps({"key": str(int(ts[r])), "value": value}))
            self._count(int(ts[r]), [f"#tag{t}" for t in tags])
        self.max_ts = max(self.max_ts, int(ts.max()))
        return lines

    def _count(self, ts: int, tags: list[str]) -> None:
        last = ts - ts % SLIDE_S
        for start in range(last, ts - WINDOW_S, -SLIDE_S):
            for tag in tags:
                self.expected[(start, tag)] += 1


def check_trends(rows, expected: Counter, watermark_s: float) -> tuple[int, int]:
    """Compare emitted (window_start_s, hashtag, cnt) rows with the
    generator's counts. Every emitted row must equal its expected count and
    appear once; every expected window that ended before the final event
    time watermark must have been emitted. Returns (checked, failed)."""
    emitted = Counter()
    failed = 0
    for start, tag, cnt in rows:
        emitted[(start, tag)] += 1
        if expected.get((start, tag)) != cnt:
            failed += 1
    failed += sum(c - 1 for c in emitted.values() if c > 1)
    closed = [k for k in expected if k[0] + WINDOW_S < watermark_s]
    failed += sum(1 for k in closed if k not in emitted)
    return len(set(emitted) | set(closed)), failed


class OpenLoop(threading.Thread):
    """Write ``files`` (a list of line lists) into ``directory`` at ``rate``
    files per second from ``start`` (a time.time() value), naming them from
    ``f<first>.json`` on. File i is due at start + i / rate; if the writer
    falls behind it writes immediately and the lateness is recorded, but
    the schedule itself never shifts."""

    def __init__(self, directory: str, files: list[list[str]], rate: float, start: float, first: int = 0):
        super().__init__(name="perfbench-loadgen", daemon=True)
        self.directory, self.files, self.rate, self.start_at = directory, files, rate, start
        self.first = first
        self.due: list[float] = []
        self.landed: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            os.makedirs(self.directory, exist_ok=True)
            for i, lines in enumerate(self.files):
                due = self.start_at + i / self.rate
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                _atomic_write(self.directory, f"f{self.first + i:06d}.json", lines)
                self.due.append(due)
                self.landed.append(time.time())
        except BaseException as exc:  # reported by the workload after join
            self.error = exc

    def late_s_max(self) -> float:
        return max((b - a for a, b in zip(self.due, self.landed)), default=0.0)


def index_stream_files(seed: int, n_files: int, ingest: int, queries: int, dim: int = 64):
    """Mixed ingest/query files for the maintained index. Queries in file f
    copy vectors planted in files < f (file 0 queries its own ingests).
    Returns (files as line lists, {query_id: planted vector id})."""
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n_files * ingest, dim))
    vecs = np.round(vecs / np.linalg.norm(vecs, axis=1, keepdims=True), 6)
    files, planted = [], {}
    for f in range(n_files):
        lines = []
        for i in range(ingest):
            vid = f * ingest + i
            lines.append(json.dumps({"kind": "ingest", "id": vid, "embedding": vecs[vid].tolist()}))
        pool = (f if f else 1) * ingest
        for i in range(queries):
            qid = 10_000_000 + f * queries + i
            target = int(rng.integers(0, pool))
            planted[qid] = target
            lines.append(json.dumps({"kind": "query", "id": qid, "embedding": vecs[target].tolist()}))
        files.append(lines)
    return files, planted
