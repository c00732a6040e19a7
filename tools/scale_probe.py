"""Scale-dependent-correctness probe ABOVE the bench SF (round 10,
VERDICT r9 item 5).

Both late-r8 bugs (epoch rounding, ANSI 0/0) were invisible at sf0.01 and
only surfaced at sf0.1 — the same class of bug (overflow edges, partial-agg
order sensitivity, rounding at bigger magnitudes, skew thresholds) may be
waiting above sf0.1. This tool synthesizes a ~sf0.3 directory and runs the
N heaviest-by-warm-time gate queries against their DuckDB oracles there,
once, producing a VERIFY_SCALE_PROBE artifact.

Fixture construction (the scale_smoke discipline, extended to ALL tables):
K=3 DISJOINT SHARDS of sf0.1, schema-preserving via pyarrow (timestamps
keep their physical type; Spark and DuckDB read the identical files):

- region/nation copy once (TPC-H fixed dims — they do not scale with SF);
- every fact/dim key offsets by (max+1) per shard, so shard k is an
  isomorphic copy sharing no customers/suppliers/parts/orders/events;
- documents offset doc_id AND suffix every token with x{k} (disjoint
  shingle vocabularies: true duplicate pairs grow exactly Kx — naive text
  replication would create K-cliques of exact dups and quadratic pair
  growth no dedup algorithm avoids); n_chars is recomputed for suffixed
  shards to keep the column consistent with the text;
- embeddings offset vec_id and keep the vectors (bucket populations grow
  Kx; exact-dup vectors across shards are fine — every rank order in the
  repo tie-breaks on cand_id, the _quant_cos convention).

Correctness here means Spark == DuckDB on the SAME parquet — the fixture
does not need to be a "real" sf0.3, it needs 3x the bench volume with the
same structural properties.

Usage:
  python tools/scale_probe.py [--top 20] [--from-json WALL_RATIO_r10_sf01.json]
                              [--out VERIFY_SCALE_PROBE_r10.txt] [--only name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/scale_probe/sf0.3"
K = 3

COPY_ONLY = ["region", "nation"]
OFFSET_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _base_fingerprint() -> str:
    """(size, mtime_ns) of every base parquet — cheap and sufficient to
    notice a regenerated/changed sf0.1 (ADVICE r10: the bare _OK marker
    silently reused a stale fixture after a base refresh)."""
    parts = []
    for f in sorted(os.listdir(BASE)):
        if f.endswith(".parquet"):
            st = os.stat(f"{BASE}/{f}")
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts) + "\n"


def build_fixture(rebuild: bool = False) -> str:
    fp = _base_fingerprint()
    ok = f"{WORK}/_OK"
    if not rebuild and os.path.exists(ok):
        with open(ok) as fh:
            if fh.read() == fp:
                return WORK
        print("base dataset changed since the cached fixture — rebuilding")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)
    for t in COPY_ONLY:
        shutil.copyfile(f"{BASE}/{t}.parquet", f"{WORK}/{t}.parquet")
    for t, cols in OFFSET_COLS.items():
        tab = pq.read_table(f"{BASE}/{t}.parquet")
        offs = {c: pc.max(tab[c]).as_py() + 1 for c in cols}
        shards = []
        for i in range(K):
            sh = tab
            for c in cols:
                fld = sh.schema.field(c)
                arr = pc.add(
                    sh[c], pa.scalar(i * offs[c], type=fld.type)
                )
                sh = sh.set_column(sh.schema.get_field_index(c), fld, arr)
            if t == "documents" and i > 0:
                pdf = sh.column("text").to_pandas()
                txt = pdf.str.replace(" ", f"x{i} ", regex=False) + f"x{i}"
                sh = sh.set_column(
                    sh.schema.get_field_index("text"),
                    sh.schema.field("text"),
                    pa.array(txt, type=pa.string()),
                )
                sh = sh.set_column(
                    sh.schema.get_field_index("n_chars"),
                    sh.schema.field("n_chars"),
                    pa.array(txt.str.len().astype("int64"), type=pa.int64()),
                )
            shards.append(sh)
        pq.write_table(pa.concat_tables(shards), f"{WORK}/{t}.parquet")
        print(f"built {t}: {tab.num_rows} -> {tab.num_rows * K} rows")
    with open(f"{WORK}/_OK", "w") as fh:
        fh.write(fp)
    return WORK


def heaviest(from_json: str, top: int) -> list[str]:
    with open(from_json) as fh:
        wall = json.load(fh)["queries"]
    ranked = sorted(
        (
            (name, rec.get("spark_sec", 0.0))
            for name, rec in wall.items()
            if rec.get("status") == "pass"
        ),
        key=lambda kv: -kv[1],
    )
    return [name for name, _sec in ranked[:top]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--from-json", default="WALL_RATIO_r09_sf01.json")
    ap.add_argument("--out", default="VERIFY_SCALE_PROBE_r10.txt")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument(
        "--rebuild", action="store_true",
        help="force fixture rebuild even if the fingerprint matches",
    )
    ap.add_argument(
        "--with-ivfpq-serve", action="store_true",
        help="append the maintained-IVF-PQ serve-slope probe (round 13, "
        "VERDICT r12 item 6): ann_growth_probe --ivfpq at ~sf0.3-equivalent "
        "ingest volume (8 x 750 = 6000 vectors = 3x the sf0.1 corpus) with "
        "a retrain boundary at file 5 — the serve slope is re-checked in "
        "THIS artifact each round like the gate walls are",
    )
    args = ap.parse_args()

    sf_dir = build_fixture(rebuild=args.rebuild)
    names = args.only or heaviest(args.from_json, args.top)
    print(f"probing {len(names)} heaviest gate queries at {sf_dir}:")
    print("  " + " ".join(names))
    cmd = [
        sys.executable,
        os.path.join(os.path.dirname(__file__), "verify_local.py"),
        "--sf", sf_dir, "--times", "1", "--only", *names,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    body = proc.stdout + proc.stderr
    # Benign driver-side race, noise-filtered by MESSAGE (not by level, so
    # real errors still land in the artifact): when a Python DataFrame is
    # GC'd after its job completes, straggler task-completion events can
    # reference its already-unregistered SQL-metric accumulators and the
    # DAGScheduler logs "Failed to update accumulator ... non-existent
    # accumulator" plus a JVM stack trace. Harmless (the job already
    # finished; PASS/FAIL lines are unaffected) but it buried the r14
    # artifact under 4k stack-frame lines.
    _noise = (
        "WARN", "Using Spark", "Setting default", "incubator",
        "Failed to update accumulator",
        "attempted to access non-existent accumulator",
    )
    # Stateful frame filter (ADVICE r14): drop "\tat " stack-frame lines
    # ONLY while inside a noise block (i.e. following a matched noise
    # message) — an unconditional startswith filter also stripped the
    # frames of REAL failures, leaving only the exception message line.
    lines: list[str] = []
    in_noise_block = False
    for ln in body.splitlines():
        if any(s in ln for s in _noise):
            in_noise_block = True
            continue
        if ln.startswith("\tat "):
            if in_noise_block:
                continue  # frame of a filtered accumulator-race trace
        else:
            in_noise_block = False
        lines.append(ln)
    if args.with_ivfpq_serve:
        p2 = subprocess.run(
            [
                sys.executable,
                os.path.join(os.path.dirname(__file__), "ann_growth_probe.py"),
                "--ivfpq", "--files", "8", "--compact-at", "5",
            ],
            capture_output=True, text=True,
        )
        lines += [
            "",
            "# maintained-IVF-PQ serve slope at ~sf0.3-equivalent ingest "
            "volume (ann_growth_probe --ivfpq --files 8 --compact-at 5; "
            "slope should RESET across the retrain boundary):",
        ] + [
            ln
            for ln in (p2.stdout + p2.stderr).splitlines()
            if not any(
                s in ln
                for s in ("WARN", "Using Spark", "Setting default", "incubator")
            )
        ]
    report = (
        f"# Scale-dependent-correctness probe (~sf0.3 = 3 disjoint shards of sf0.1)\n"
        f"# fixture: {sf_dir}; queries = top {len(names)} by warm spark_sec "
        f"from {args.from_json}\n" + "\n".join(lines) + "\n"
    )
    with open(args.out, "w") as fh:
        fh.write(report)
    print(report[-2000:])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
