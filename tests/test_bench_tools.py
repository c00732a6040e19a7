"""Unit tests for the round-over-round bench tooling (no Spark session):
tools/bench_diff.py tier pairing (ADVICE r12), tools/rebench_flagged.py
flag parsing (VERDICT r12 item 3) and tools/verify_local.py's cold-cost
ranking."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_diff import canon_tiers  # noqa: E402
from tools.rebench_flagged import parse_flags  # noqa: E402
from tools.verify_local import cold_gaps  # noqa: E402


def test_canon_tiers_pairs_demo_rename_across_rounds():
    """A query demoted to the demo: tier in round N must still pair with
    its bare-named round N-1 line (the r11->r12 grouped_zscore rename
    dropped it from the common set for one round)."""
    old = {"grouped_zscore": 1.0, "q01": 2.0}
    new = {"demo:grouped_zscore": 1.1, "q01": 2.1}
    o, n = canon_tiers(old), canon_tiers(new)
    assert set(o) & set(n) == {"grouped_zscore", "q01"}
    assert n["grouped_zscore"] == 1.1


def test_canon_tiers_keeps_collisions_and_staging_untouched():
    # a bare twin on the SAME side means two genuinely different lines
    both = {"demo:x": 1.0, "x": 2.0, "staging:y": 3.0}
    got = canon_tiers(both)
    assert got == both  # collision: demo:x NOT renamed; staging: never stripped


def test_parse_flags_extracts_fail_list(tmp_path):
    p = tmp_path / "diff.txt"
    p.write_text(
        "common set: 10 queries\n"
        "FAIL: 3 per-query regressions > 1.25x: a_query, b_query, c_query\n"
        "FAIL: common-set total 1.2x > 1.15x\n"
    )
    assert parse_flags(str(p)) == ["a_query", "b_query", "c_query"]


def test_parse_flags_empty_when_pass(tmp_path):
    p = tmp_path / "diff.txt"
    p.write_text("common set: 10 queries\nPASS\n")
    assert parse_flags(str(p)) == []


def _write_payload(path, sec):
    # "a" carries the regression; "z" keeps the common-set TOTAL inside the
    # 1.15x gate so only the per-query flag drives the exit code
    import json

    with open(path, "w") as fh:
        json.dump({"queries": {"a": sec, "z": 20.0}, "canary_sec": 1.0}, fh)


def test_bench_diff_adjudicate_gates_on_rebench_verdict(tmp_path, monkeypatch):
    """--adjudicate (round 14, VERDICT r13 item 6): a per-query FAIL list
    triggers rebench_flagged inline and the EXIT CODE follows the
    adjudicated verdict — parity clears the gate, a confirmed regression
    still fails. The rebench subprocess is stubbed (its real interleaved
    worktree ritual has its own coverage via the round artifacts)."""
    import subprocess

    import tools.bench_diff as bd

    old, new = tmp_path / "old.json", tmp_path / "new.json"
    _write_payload(old, 1.0)
    _write_payload(new, 2.0)  # query "a" regresses 2x

    calls = []

    class _Proc:
        def __init__(self, rc):
            self.returncode = rc
            self.stdout = "## stub adjudication table\n"
            self.stderr = ""

    def fake_run(cmd, **kw):
        calls.append(cmd)
        return _Proc(fake_run.rc)

    monkeypatch.setattr(subprocess, "run", fake_run)
    for rc, want in ((0, 0), (1, 1)):
        fake_run.rc = rc
        calls.clear()
        monkeypatch.setattr(
            sys, "argv",
            ["bench_diff.py", str(old), str(new), "--adjudicate", "HEAD~1"],
        )
        got = bd.main()
        assert got == want, f"stub rc={rc}"
        assert calls and "rebench_flagged.py" in calls[0][1]
        assert calls[0][-1] == "a"  # the flagged query reaches the tool


def test_bench_diff_without_adjudicate_fails_on_flags(tmp_path, monkeypatch):
    import tools.bench_diff as bd

    old, new = tmp_path / "old.json", tmp_path / "new.json"
    _write_payload(old, 1.0)
    _write_payload(new, 2.0)
    monkeypatch.setattr(sys, "argv", ["bench_diff.py", str(old), str(new)])
    assert bd.main() == 1


def test_bench_names_resolve_and_bench_only_is_benched():
    """bench.py names its lines by hand: a name left behind after its
    query is deleted would fail only when the bench runs, and a bench-only
    registry entry missing from the lists would never be timed."""
    import bench
    from realtime_twitter_trends_analytics_spark.registry import (
        all_bench_only,
        all_queries,
    )

    known = set(all_queries()) | set(all_bench_only())
    assert [n for n in bench.HEADLINE + bench.DEMO if n not in known] == []
    assert set(all_bench_only()) <= set(bench.HEADLINE) | set(bench.DEMO)


def test_cold_gaps_ranks_first_run_excess_and_skips_failed_runs():
    """The gate's cold-cost list ranks first_sec - spark_sec, largest
    first, keeps at most ten, and skips entries whose Spark run failed
    (no first_sec recorded)."""
    wall = {f"q{i}": {"spark_sec": 1.0, "first_sec": 1.0 + i} for i in range(12)}
    wall["staged"] = {"spark_sec": 0.5, "first_sec": 8.5}
    wall["broken"] = {"status": "spark_error"}
    got = cold_gaps(wall)
    assert len(got) == 10
    assert got[0] == ("q11", 11.0, 12.0)
    assert got[1] == ("q10", 10.0, 11.0)
    assert ("staged", 8.0, 8.5) in got
    assert all(name != "broken" for name, _, _ in got)
