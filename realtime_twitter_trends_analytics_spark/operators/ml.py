"""Distributed ML primitives over the embeddings table: fixed-point k-means
(Lloyd's algorithm, unrolled) and per-dimension feature statistics.

Why fixed-point: true k-means averages doubles, and a double sum depends on
aggregation order — a Spark hash-agg and a DuckDB agg (or two Spark runs with
different partitioning) would diverge in the last ulp and cascade into
different assignments. Quantizing every dimension to BIGINT (scale 2^10)
makes every distance and every centroid sum EXACT integer arithmetic —
order-independent, bit-equal across engines and cluster layouts. Same design
as the BIGINT fixed-point PageRank in graph.py.

Scale shape (the 100 TB story):
- assignment = map-side broadcast of K tiny centroids against the embedding
  scan; no shuffle of the vectors themselves.
- centroid update = ONE hash agg keyed (cluster, dim) — K*D groups (512 here)
  with full map-side partial aggregation; the only shuffle per iteration.
- each round materializes the K-row centroid table to the DRIVER and
  re-emits it as a literal local relation (the MLlib pattern) — lineage
  stays one round deep with no checkpoint blocks left behind.

Reference: the upstream repo (SURVEY §2) has no ML surface; this extends the
LLM-data-pipeline operators (clustering for data curation / IVF codebooks —
sim_ivf_ann's "in production the codebook comes from k-means" is this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..audit import audit_plan
from ..functions import dialect as dl
from ..sources.loaders import (
    driver_rows_df,
    fan_out_small,
    load_table,
    register_table_view,
    table_row_count,
)
from ..staging import staged

EMB_DIM = 64
K_CLUSTERS = 8       # floor of k_for_corpus: K never trains below 8
KMEANS_SCALE = 1024  # fixed-point: q = round(x * 2^10)
KMEANS_ITERS = 2     # unrolled Lloyd rounds (then one final assignment)


def _quant_sql(d: str, col: str) -> str:
    """Quantize a float array to BIGINT fixed-point (scale KMEANS_SCALE)."""
    return dl.transform(
        d, col, "x", f"CAST(round(CAST(x AS DOUBLE) * {KMEANS_SCALE}) AS BIGINT)"
    )


def _dist2_sql(d: str, a: str, b: str) -> str:
    """Exact squared L2 distance of two BIGINT arrays (dual-dialect).

    The two dialects use different but integer-exact formulations — safe
    because BIGINT addition is associative (unlike the double folds elsewhere,
    which must match op-for-op). Spark gets the compact ``zip_with`` form:
    the indexed form inlines 4 ``element_at`` calls per dimension, and the
    resulting ~256-term expression tree costs seconds of codegen compile per
    distinct plan node (measured: 3s/assign at sf0.01)."""
    if d == dl.SPARK:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
    e_a = dl.arr_element(d, a, "i")
    e_b = dl.arr_element(d, b, "i")
    diffs = dl.transform(
        d, dl.seq(d, "1", str(EMB_DIM)), "i", f"(({e_a}) - ({e_b})) * (({e_a}) - ({e_b}))"
    )
    return dl.arr_sum_bigint(d, diffs)


# Centroid dim = floor(sum / n), computed via IEEE double division of two
# exact integers: both engines produce the identical double, hence the
# identical floor. (Integer DIV/// disagree on negative operands; floor does
# not.)
_FLOOR_DIV = "CAST(floor(CAST({s} AS DOUBLE) / CAST({n} AS DOUBLE)) AS BIGINT)"


# Ceiling on the literal-centroid design (ADVICE r11): the inlined
# argmin/topn expression is O(K * D) literals — past a few thousand
# centroids the expression itself stops planning (Catalyst tree size,
# codegen limits), and the 64 KiB constant-pool class limit is the hard
# wall. k_for_corpus crosses this at N ~ K_LITERAL_CEILING *
# TARGET_CELL_SIZE (~1M vectors): beyond it the coarse quantizer must be a
# BROADCAST-JOIN centroid RELATION (crossJoin(broadcast(centroids)) +
# min(struct) per vector — the pre-r9 shape this design replaced, which
# costs a broadcast + hash-agg but has no expression-size wall). The guard
# refuses loudly instead of letting Catalyst fail opaque.
K_LITERAL_CEILING = 4096


def _check_literal_k(n_rows: int) -> None:
    if n_rows == 0:
        # same contract error as _centroid_shards: sequence(0, -1) in the
        # literal expression would otherwise yield [0, -1], not empty
        raise ValueError("no centroids: the coarse quantizer needs K >= 1 rows")
    if n_rows > K_LITERAL_CEILING:
        raise ValueError(
            f"{n_rows} centroids exceeds K_LITERAL_CEILING={K_LITERAL_CEILING} "
            "for the inlined literal-centroid expression; use the dispatched "
            "faces nearest_centroid / nearest_centroids_topn, which switch to "
            "the broadcast-join centroid relation "
            "(crossJoin(broadcast(centroids)) + min(struct)) past the ceiling"
        )


def _literal_ceiling() -> int:
    """The ceiling via a late read of the module global — tests lower it
    (monkeypatch) to drive the REAL prod faces through the relation
    dispatch end-to-end at sandbox SFs."""
    return K_LITERAL_CEILING


def _use_relation(n_rows: int, force: "str | None") -> bool:
    """Dispatch rule shared by nearest_centroid / nearest_centroids_topn.
    ``force`` is a test/probe hook: "literal" still trips the ceiling guard
    (an explicit literal request past the wall must refuse, not mis-plan);
    "relation" exercises the join face below the ceiling (the equality
    pins in tests/test_coarse_relation.py run both faces on the same K)."""
    if force == "literal":
        _check_literal_k(n_rows)
        return False
    if force == "relation":
        return True
    return n_rows > K_LITERAL_CEILING


def _centroid_relation(spark: SparkSession, rows: "list[tuple[int, list[int]]]") -> DataFrame:
    return driver_rows_df(
        spark,
        sorted((int(cl), [int(v) for v in c]) for cl, c in rows),
        "cl int, c array<bigint>",
    )


# Per-shard broadcast budget for the relation face: one centroid relation
# broadcast must stay a comfortable fraction of executor memory (the 8 GB
# hard cap is not the design point). K*(D+1)*8 bytes crosses this at
# K ~ 5e5 for D=64 — past it the relation face SHARDS the centroid list
# and takes the argmin of per-shard argmins (exact: min over a partition
# of the candidate set is the min of per-part minima; same struct order).
# Cost: ceil(K/K_shard) broadcasts + one final keyed agg over
# n_shards x N rows — every step stays map-side or equi-keyed, no wall at
# ANY K. Tests force a tiny budget to pin shard-vs-unsharded equality.
BROADCAST_CENTROID_BYTES = 256 << 20


def _centroid_shards(
    rows: "list[tuple[int, list[int]]]",
) -> "list[list[tuple[int, list[int]]]]":
    if not rows:
        # contract error, loudly (ADVICE r13): an empty centroid list has
        # no argmin — the bare IndexError on ordered[0] was opaque
        raise ValueError("no centroids: the coarse quantizer needs K >= 1 rows")
    ordered = sorted((int(cl), [int(v) for v in c]) for cl, c in rows)
    dim = len(ordered[0][1])
    bytes_total = len(ordered) * (dim + 1) * 8
    n_shards = max(1, -(-bytes_total // BROADCAST_CENTROID_BYTES))
    per = -(-len(ordered) // n_shards)
    return [ordered[i : i + per] for i in range(0, len(ordered), per)]


def nearest_centroid(
    df: DataFrame,
    rows: "list[tuple[int, list[int]]]",
    key_cols: "list[str]",
    qe_expr: str = "qe",
    out: str = "m",
    carry: "list[str] | tuple[str, ...]" = (),
    force: "str | None" = None,
) -> DataFrame:
    """Nearest-centroid struct ``(d2, cl)`` per row of ``df`` — THE coarse
    quantizer, dispatched on K (round 13, VERDICT r12 item 1):

    - K <= K_LITERAL_CEILING: the literal map-side expression
      (centroid_argmin_sql) — centroids baked into the plan, zero
      exchanges; the expression is O(K*D) literals, which is exactly why
      it stops planning past the ceiling (64 KiB constant pool / Catalyst
      tree size).
    - K > K_LITERAL_CEILING: the centroids become DATA — a
      crossJoin(broadcast(centroid relation)) + min(struct(d2, cl)) hash
      agg keyed by the row key. min(struct) compares fields left-to-right,
      so ties break to the lowest cl — the IDENTICAL order to the literal
      face's array_min and the oracle's ORDER BY d2, cluster (equality
      pinned below the ceiling in tests/test_coarse_relation.py). The agg
      gets full map-side partial reduction (K candidate rows per vector
      combine to 1 before any shuffle), so the exchange moves N rows, not
      N*K. Broadcast payload = K*(D+1)*8 bytes: ~2 MB at K=4096, ~205 MB
      at K=4e5 (the 100 TB design point of ml.k_for_corpus at N=1e8).
      Past BROADCAST_CENTROID_BYTES the centroid list SHARDS
      automatically — per-shard broadcast argmin, then argmin of the
      per-shard minima, exact because the min over a partition of the
      candidate set is the min of per-part minima (same struct tie
      order; equality pinned under a forced tiny budget in
      tests/test_coarse_relation.py) — so NO K refuses at any scale.
      The literal/relation crossover is measured in SCALE_SMOKE.md
      (tools/coarse_probe.py).

    ``key_cols`` must be unique per row (every caller has a vector id) —
    the relation face groups by it; ``carry`` columns ride through the agg
    via any_value (exactly one row per (key, centroid) pair carries them).
    Returns ``key_cols + carry + out`` in both faces."""
    k = len(rows)
    if not _use_relation(k, force):
        _check_literal_k(k)
        return df.select(
            *key_cols, *carry, F.expr(centroid_argmin_sql(rows, qe_expr)).alias(out)
        )
    spark = df.sparkSession
    slim = df.select(*key_cols, *carry, F.expr(qe_expr).alias("__qe"))
    d2 = F.expr(_dist2_sql(dl.SPARK, "__qe", "c"))
    shards = _centroid_shards(rows)
    if len(shards) > 1:
        # staging-tier rule, ENFORCED (VERDICT r13 item 2): every shard
        # branch consumes the slim projection, so without materialization
        # the input subtree would recompute once per shard (ceil(K/K_shard)
        # source scans). localCheckpoint computes it exactly once; the
        # branches read the materialized blocks (zero source scans in the
        # executed plan — pinned structurally in tests/test_coarse_relation
        # .py::test_sharded_face_scans_input_once).
        slim = audit_plan("coarse_shard_input", slim).localCheckpoint()
    parts = []
    for shard in shards:
        pairs = slim.crossJoin(F.broadcast(_centroid_relation(spark, shard)))
        agg = [F.min(F.struct(d2.alias("d2"), F.col("cl").alias("cl"))).alias(out)]
        agg += [F.any_value(c).alias(c) for c in carry]
        parts.append(pairs.groupBy(*key_cols).agg(*agg))
    if len(parts) == 1:
        return parts[0].select(*key_cols, *carry, out)
    # argmin of per-shard argmins — exact (min over a partition of the
    # candidate set = min of per-part minima, same struct tie order)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    agg = [F.min(out).alias(out)] + [F.any_value(c).alias(c) for c in carry]
    return u.groupBy(*key_cols).agg(*agg).select(*key_cols, *carry, out)


def nearest_centroids_topn(
    df: DataFrame,
    rows: "list[tuple[int, list[int]]]",
    n: int,
    key_cols: "list[str]",
    qe_expr: str = "qe",
    out: str = "probes",
    carry: "list[str] | tuple[str, ...]" = (),
    force: "str | None" = None,
    max_rows: "int | None" = None,
) -> DataFrame:
    """``n`` nearest centroid structs (ascending ``(d2, cl)``) per row —
    the multi-probe face of nearest_centroid, same dispatch rule. The
    relation face aggregates ``slice(array_sort(collect_list(struct)), 1,
    n)``: collect_list buffers K structs per key with no map-side
    reduction, so this face is reserved for the QUERY side — every caller
    applies it to the bounded probe set (N_QUERY_VECS / one micro-batch of
    queries), never the corpus (the corpus side always takes the argmin).
    array_sort on struct(d2, cl) is a deterministic total order (cl breaks
    d2 ties), identical to the literal face's ranking and the oracle's
    ORDER BY d2, cluster. Returns ``key_cols + carry + out``.

    ``max_rows`` makes the query-side-only rule a CHECKED invariant
    (VERDICT r13 item 3): callers declare their input bound (N_QUERY_VECS,
    KNN_EVAL_N, the per-trigger query budget), and the relation arm
    verifies it with a LIMIT-capped count — the probe scans at most
    max_rows + 1 rows of the (bounded, by the very contract being
    enforced) input, and raises if a corpus-sized relation was fed in.
    The literal face ignores it (a row-local expression buffers nothing).
    Every registered call site passes it; the bare-relation default stays
    permissive for ad-hoc exploration."""
    k = len(rows)
    if not _use_relation(k, force):
        _check_literal_k(k)
        return df.select(
            *key_cols, *carry, F.expr(centroid_topn_sql(rows, n, qe_expr)).alias(out)
        )
    spark = df.sparkSession
    slim = df.select(*key_cols, *carry, F.expr(qe_expr).alias("__qe"))
    if max_rows is not None:
        got = slim.limit(int(max_rows) + 1).count()
        if got > int(max_rows):
            raise ValueError(
                f"nearest_centroids_topn relation face: input exceeds the "
                f"declared query-side bound max_rows={max_rows} (collect_list "
                f"buffers K={k} structs per row with no map-side reduction — "
                f"the corpus side must take the argmin face instead)"
            )
    shards = _centroid_shards(rows)
    if len(shards) > 1:
        # same enforced staging-tier rule as nearest_centroid's sharded arm
        slim = audit_plan("coarse_shard_input_topn", slim).localCheckpoint()
    parts = []
    for shard in shards:
        pairs = slim.crossJoin(
            F.broadcast(_centroid_relation(spark, shard))
        ).select(
            *key_cols,
            *carry,
            F.struct(
                F.expr(_dist2_sql(dl.SPARK, "__qe", "c")).alias("d2"),
                F.col("cl").alias("cl"),
            ).alias("__dc"),
        )
        agg = [
            F.expr(f"slice(array_sort(collect_list(__dc)), 1, {int(n)})").alias(out)
        ]
        agg += [F.any_value(c).alias(c) for c in carry]
        parts.append(pairs.groupBy(*key_cols).agg(*agg))
    if len(parts) == 1:
        return parts[0].select(*key_cols, *carry, out)
    # global top-n = top-n of the per-shard top-n pools (each shard keeps
    # its n best, so no global member can be lost); same struct sort order
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    agg = [
        F.expr(
            f"slice(array_sort(flatten(collect_list({out}))), 1, {int(n)})"
        ).alias(out)
    ]
    agg += [F.any_value(c).alias(c) for c in carry]
    return u.groupBy(*key_cols).agg(*agg).select(*key_cols, *carry, out)


def nearest_centroid_probes(
    df: DataFrame,
    rows: "list[tuple[int, list[int]]]",
    n: int,
    key_cols: "list[str]",
    qe_expr: str = "qe",
    out: str = "p",
    carry: "list[str] | tuple[str, ...]" = (),
    force: "str | None" = None,
    max_rows: "int | None" = None,
) -> DataFrame:
    """One row per (key, probe struct) — the EXPLODED form of
    nearest_centroids_topn, and the face every probe call site uses.
    ``max_rows`` passes through to the relation arm's query-side-only
    enforcement (see nearest_centroids_topn).

    Why this exists (r13 bench_diff adjudication, +26% on
    sim_ivf_kmeans_ann): exploding an ALIASED top-n column lets
    InferFiltersFromGenerate infer ``size(probes) > 0`` on the alias, and
    projection collapse then inlines the full O(K*D) literal argmin into
    that pushed filter — the expression evaluates TWICE per row. The
    literal face here explodes the expression INLINE (one Generate
    evaluating it once, the pre-r13 plan shape); the relation face
    explodes the aggregated column, where the inferred filter references a
    cheap attribute, not an expression."""
    k = len(rows)
    if not _use_relation(k, force):
        _check_literal_k(k)
        return df.select(
            *key_cols,
            *carry,
            F.explode(F.expr(centroid_topn_sql(rows, n, qe_expr))).alias(out),
        )
    topn = nearest_centroids_topn(
        df, rows, n, key_cols, qe_expr, "__probes", carry, force, max_rows
    )
    return topn.select(*key_cols, *carry, F.explode("__probes").alias(out))


# ---------------------------------------------------------------------------
# Two-level coarse quantizer (round 14 — the wall SCALE.md names past the
# sharded single-level face): at K ~ 1e6 the flat relation face still RUNS
# (sharded broadcasts, no planability wall) but pays O(N*K*D) distance work
# and a ~0.5 GB broadcast per pass. The two-level remedy groups the K
# centroids under S ~= sqrt(K) SUPER-cells (trained with the same
# fixed-point Lloyd semantics as level 1, over the K centroid rows — driver
# state, not the corpus); serving ranks the S super-cells per vector
# (stage 1), then equi-joins each vector's p probed super-cells to their
# sub-centroid groups and takes the keyed argmin (stage 2). Per-vector
# distance work drops to S + p*K/S ~= (1+p)*sqrt(K) — ~500x less than flat
# at K=1e6, p=2 — and every step stays map-side or equi-keyed.
# probes >= S is EXACTLY the flat argmin (every candidate considered, same
# tie order — equality-pinned); smaller p is the standard IVF-style
# approximation with agreement measured, not guessed (tools/coarse_probe.py
# --two-level-k). Crossovers + agreement live in SCALE_SMOKE.md.
# ---------------------------------------------------------------------------
SUPER_PROBES = 2            # super-cells probed per vector (the p in p*K/S)
SUPER_ITERS = KMEANS_ITERS  # Lloyd rounds for the super level (same unroll)


def s_for_k(k: int) -> int:
    """S = ceil(sqrt(K)) super-cells — balances stage-1 ranking (O(N*S*D))
    against stage-2 refinement (O(N*p*(K/S)*D)) at the sqrt point."""
    import math

    return max(1, math.isqrt(max(k - 1, 0)) + 1)


def _super_round_label(s: int) -> str:
    """Audit label for a super-level Lloyd round, face-specific — the
    _kmeans_round_label rule (ADVICE r13): captures through the relation
    face land under the whitelisted _rel label."""
    return (
        "kmeans_super_round_rel" if s > _literal_ceiling() else "kmeans_super_round"
    )


def two_level_rows(
    spark: SparkSession,
    rows: "list[tuple[int, list[int]]]",
    s: "int | None" = None,
) -> "tuple[list[tuple[int, list[int]]], list[tuple[int, int, list[int]]]]":
    """Train the super level over the K level-1 centroids. Returns
    ``(super_rows, group_rows)``: ``super_rows = [(g, sc)]`` for the LIVE
    super-cells only (cells that own at least one centroid — a probed cell
    therefore always yields candidates); ``group_rows = [(g, cl, c)]`` —
    the sub-centroid relation keyed by super-cell.

    Semantics mirror level 1 exactly so the DuckDB oracle can replicate
    them (ml_kmeans_two_level): seeds = the first S centroids in cl order
    (g = 0..S-1), SUPER_ITERS fixed-point Lloyd rounds with the identical
    ``_update`` (exact BIGINT sums, floor-div means, min(struct) tie
    order), then one final grouping assignment. The K centroid rows are
    already driver state (the MLlib pattern every trainer here follows);
    training runs through ``nearest_centroid`` so the super level inherits
    the K-dispatch (literal at sandbox S, relation past the ceiling) and
    costs SUPER_ITERS+1 passes over K rows — never the corpus."""
    k = len(rows)
    if k == 0:
        raise ValueError("no centroids: the coarse quantizer needs K >= 1 rows")
    s = s_for_k(k) if s is None else int(s)
    ordered = sorted((int(cl), [int(v) for v in c]) for cl, c in rows)
    # sub_* names: the relation face crossJoins a (cl, c) centroid relation,
    # so the input side must not reuse those attribute names
    cent_df = driver_rows_df(spark, ordered, "sub_cl int, sub_c array<bigint>")
    sup = [(g, list(vec)) for g, (_cl, vec) in enumerate(ordered[:s])]
    for _ in range(SUPER_ITERS):
        assigned = nearest_centroid(
            cent_df, sup, ["sub_cl"], qe_expr="sub_c", carry=["sub_c"]
        ).select(F.col("m.cl").alias("cluster"), F.col("sub_c").alias("qe"))
        collected = audit_plan(
            _super_round_label(len(sup)), _update(assigned)
        ).collect()
        sup = sorted((int(r.cluster), [int(v) for v in r.c]) for r in collected)
    grp = (
        nearest_centroid(cent_df, sup, ["sub_cl"], qe_expr="sub_c", carry=["sub_c"])
        .select("sub_cl", "sub_c", F.col("m.cl").alias("g"))
        .collect()
    )
    group_rows = sorted((int(r.g), int(r.sub_cl), [int(v) for v in r.sub_c]) for r in grp)
    live = {g for g, _, _ in group_rows}
    super_rows = [(g, vec) for g, vec in sup if g in live]
    return super_rows, group_rows


def _iterated_super_probes(
    slim: DataFrame,
    super_rows: "list[tuple[int, list[int]]]",
    p: int,
    key_cols: "list[str]",
    carry: "list[str] | tuple[str, ...]",
) -> DataFrame:
    """Exact top-p super-cells per row at ANY S — p rounds of the
    relation-face argmin, each round excluding the cells already picked
    (``NOT array_contains(__gs, cl)``). CORPUS-SAFE where the topn
    relation face is not: every round is the map-side-partial min(struct)
    agg (the exchange moves N rows), never a per-key collect_list of S
    structs. Used when S > K_LITERAL_CEILING — i.e. K > ceiling^2 ~ 1.7e7,
    where stage-1 ranking can neither inline S literals nor buffer S
    structs per corpus row. Cost: p rounds x (sharded broadcast + keyed
    agg); the input is materialized once (staging-tier rule).

    Exactness: round r's argmin over the not-yet-picked candidates is the
    (r+1)-th order statistic of the full candidate set (same struct tie
    order), so the picked list equals the topn prefix — pinned against the
    literal topn in tests/test_two_level.py."""
    spark = slim.sparkSession
    shards = _centroid_shards(super_rows)
    cur = audit_plan("two_level_probe_input", slim).localCheckpoint()
    cur = cur.withColumn("__gs", F.expr("CAST(array() AS array<int>)"))
    d2 = F.expr(_dist2_sql(dl.SPARK, "__qe", "c"))
    for _ in range(int(p)):
        parts = []
        for shard in shards:
            pairs = cur.crossJoin(
                F.broadcast(_centroid_relation(spark, shard))
            ).filter(F.expr("NOT array_contains(__gs, cl)"))
            agg = [
                F.min(F.struct(d2.alias("d2"), F.col("cl").alias("cl"))).alias("__m"),
                F.any_value("__qe").alias("__qe"),
                F.any_value("__gs").alias("__gs"),
            ]
            agg += [F.any_value(c).alias(c) for c in carry]
            parts.append(pairs.groupBy(*key_cols).agg(*agg))
        u = parts[0]
        for q in parts[1:]:
            u = u.unionByName(q)
        if len(parts) > 1:
            # a fully-excluded shard drops its keys; the union of per-shard
            # argmins still covers every key (>= 1 candidate remains in
            # total while r < p <= S)
            agg = [
                F.min("__m").alias("__m"),
                F.any_value("__qe").alias("__qe"),
                F.any_value("__gs").alias("__gs"),
            ]
            agg += [F.any_value(c).alias(c) for c in carry]
            u = u.groupBy(*key_cols).agg(*agg)
        cur = u.withColumn(
            "__gs", F.concat("__gs", F.array(F.col("__m.cl")))
        ).drop("__m")
    return cur


def nearest_centroid_two_level(
    df: DataFrame,
    rows: "list[tuple[int, list[int]]]",
    key_cols: "list[str]",
    qe_expr: str = "qe",
    out: str = "m",
    carry: "list[str] | tuple[str, ...]" = (),
    probes: int = SUPER_PROBES,
    s: "int | None" = None,
    plan: "tuple[list, list] | None" = None,
    force_stage1: "str | None" = None,
    force_join: "str | None" = None,
) -> DataFrame:
    """Two-level nearest-centroid struct ``(d2, cl)`` per row — the
    K ~ 1e6 arm of the coarse quantizer (see the block comment above
    SUPER_PROBES for the cost model).

    - **Stage 1** ranks the S ~= sqrt(K) live super-cells per vector: a
      literal map-side top-p expression at S <= K_LITERAL_CEILING (zero
      exchanges — the gate plan); past it, ``_iterated_super_probes`` —
      p rounds of the excluded relation argmin, corpus-safe at any S.
    - **Stage 2** explodes the p probed cells and equi-joins them to the
      sub-centroid group relation on ``g``: broadcast below
      BROADCAST_CENTROID_BYTES, ``shuffle_hash`` equi-join past it (both
      sides hash-partition on g — NO broadcast of the K-row relation at
      any scale). min(struct(d2, cl)) keyed argmin with full map-side
      partial reduction finishes (the exchange moves N*p probe rows).

    ``probes >= len(super_rows)`` makes the result EXACTLY the flat
    ``nearest_centroid`` (every group joined -> all K candidates, same
    min(struct) tie order) — equality-pinned in tests/test_two_level.py
    below AND above the ceiling; smaller p is the standard IVF
    approximation (agreement measured in tools/coarse_probe.py). ``plan``
    accepts a pretrained ``two_level_rows`` result (probe/serve reuse);
    ``force_stage1``/``force_join`` are the test/probe hooks, same
    convention as ``_use_relation``'s ``force``."""
    spark = df.sparkSession
    if plan is None:
        plan = two_level_rows(spark, rows, s)
    super_rows, group_rows = plan
    if not super_rows or not group_rows:
        raise ValueError("no centroids: the coarse quantizer needs K >= 1 rows")
    reserved = {"g", "cl", "c", "__qe", "__gs", "__m"} & (
        set(key_cols) | set(carry)
    )
    if reserved:
        raise ValueError(
            f"nearest_centroid_two_level: key/carry columns {sorted(reserved)} "
            "collide with the probe/group relation attributes — rename them "
            "on the input side (the two_level_rows trainer uses sub_cl/sub_c)"
        )
    sk = len(super_rows)
    p = max(1, min(int(probes), sk))
    slim = df.select(*key_cols, *carry, F.expr(qe_expr).alias("__qe"))
    use_iter = force_stage1 == "iterated" or (
        force_stage1 != "literal" and sk > _literal_ceiling()
    )
    if not use_iter:
        _check_literal_k(sk)
        probed = slim.withColumn(
            "__gs",
            F.expr(
                f"transform({centroid_topn_sql(super_rows, p, '__qe')}, x -> x.cl)"
            ),
        )
    else:
        probed = _iterated_super_probes(slim, super_rows, p, key_cols, carry)
    ex = probed.select(*key_cols, *carry, "__qe", F.explode("__gs").alias("g"))
    dim = len(group_rows[0][2])
    grp_rel = driver_rows_df(spark, group_rows, "g int, cl int, c array<bigint>")
    g_bytes = len(group_rows) * (dim + 2) * 8
    if force_join == "shuffle" or (
        force_join is None and g_bytes > BROADCAST_CENTROID_BYTES
    ):
        joined = ex.join(grp_rel.hint("shuffle_hash"), "g")
    else:
        joined = ex.join(F.broadcast(grp_rel), "g")
    d2 = F.expr(_dist2_sql(dl.SPARK, "__qe", "c"))
    agg = [F.min(F.struct(d2.alias("d2"), F.col("cl").alias("cl"))).alias(out)]
    agg += [F.any_value(c).alias(c) for c in carry]
    return joined.groupBy(*key_cols).agg(*agg).select(*key_cols, *carry, out)


def centroid_argmin_sql(rows: "list[tuple[int, list[int]]]", qe_expr: str = "qe") -> str:
    """Spark SQL struct ``(d2, cl)`` = nearest centroid of ``qe_expr``
    against LITERAL centroid rows — assignment as a MAP-SIDE expression.

    This replaced the earlier crossJoin(broadcast(K rows)) + min(struct)
    hash-agg argmin: centroids are driver state anyway (K*D BIGINTs, the
    MLlib pattern), so baking them into the expression removes the per-call
    broadcast AND the groupBy(vec_id) shuffle of the whole corpus — at
    100 TB, assignment becomes part of the embedding scan with zero
    exchanges (measured locally: the kmeans/IVF query family dropped ~40%).

    Ties -> lowest cluster id: array_min on struct(d2, cl) compares fields
    left-to-right, identical to the previous min(struct(d2, cluster)) agg
    and the oracle's ORDER BY d2, cluster. The centroid literal and the
    input vector are each bound ONCE via the single-element-array transform
    idiom (Spark has no let); distances use the compact zip_with form (the
    indexed form costs seconds of codegen — see _dist2_sql)."""
    _check_literal_k(len(rows))
    ordered = sorted(rows)
    cents = ", ".join(
        "array(" + ",".join(f"{int(v)}L" for v in c) + ")" for _, c in ordered
    )
    ids = ",".join(str(int(cl)) for cl, _ in ordered)
    d2 = (
        "aggregate(zip_with(qe0, element_at(cs, k + 1), (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    argmin = (
        f"array_min(transform(sequence(0, {len(ordered) - 1}), "
        f"k -> struct({d2} AS d2, element_at(array({ids}), k + 1) AS cl)))"
    )
    return (
        f"transform(array({qe_expr}), qe0 -> "
        f"transform(array(array({cents})), cs -> {argmin})[0])[0]"
    )


def centroid_topn_sql(
    rows: "list[tuple[int, list[int]]]", n: int, qe_expr: str = "qe"
) -> str:
    """Spark SQL array of the ``n`` nearest centroid structs ``(d2, cl)``
    for ``qe_expr`` — the multi-probe generalization of
    ``centroid_argmin_sql`` (same literal-centroid map-side design; same
    tie order: array_sort ascending on (d2, cl) == ORDER BY d2, cluster)."""
    _check_literal_k(len(rows))
    ordered = sorted(rows)
    cents = ", ".join(
        "array(" + ",".join(f"{int(v)}L" for v in c) + ")" for _, c in ordered
    )
    ids = ",".join(str(int(cl)) for cl, _ in ordered)
    d2 = (
        "aggregate(zip_with(qe0, element_at(cs, k + 1), (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    ranked = (
        f"slice(array_sort(transform(sequence(0, {len(ordered) - 1}), "
        f"k -> struct({d2} AS d2, element_at(array({ids}), k + 1) AS cl))), 1, {n})"
    )
    return (
        f"transform(array({qe_expr}), qe0 -> "
        f"transform(array(array({cents})), cs -> {ranked})[0])[0]"
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: exact BIGINT per-(cluster, dim) sums, floor-div mean,
    re-assembled into an array ordered by dim."""
    sums = (
        assigned.select("cluster", F.posexplode("qe").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("cv", F.expr(_FLOOR_DIV.format(s="s", n="n")))
    )
    return sums.groupBy("cluster").agg(
        F.expr("transform(array_sort(collect_list(struct(dim, cv))), p -> p.cv)").alias("c")
    )


# (vec_id, qe) is the shared input of EVERY fixed-point vector build:
# k-means Lloyd rounds (KMEANS_ITERS+1 scans), PQ Lloyd rounds (PQ_ITERS
# scans per block set), IRLS, PCA, the int8 recall eval, and the ANN
# probes. Before round 7 each consumer re-read the parquet and re-ran the
# quantization transform — the staging tier paid that scan ~10x (VERDICT
# r6 item 7). Materialize once per (application, sf_dir), same pattern as
# similarity.kmeans_cell_assignment: at 100 TB this is the "quantize once,
# persist the fixed-point copy, train everything against it" step every
# vector pipeline runs.
@staged
def quantized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, qe) — the fixed-point embedding relation k-means runs on;
    materialized once per (application, sf_dir) via localCheckpoint."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = emb.select(
        "vec_id", F.expr(_quant_sql(dl.SPARK, "embedding")).alias("qe")
    )
    return audit_plan("quantized_vectors", out).localCheckpoint()


# THE density-sizing rule, in one place (round 11, VERDICT r10 item 2):
# every cell/bucket-blocked operator whose pair term is O(sum cell^2) keeps
# its cost ~linear in N only if per-cell occupancy stays bounded — i.e. K
# must GROW with the corpus. Every learned-cell query, and its DuckDB
# oracle (oracle_k_sql), trains at K = k_for_corpus(N): SCALE_SMOKE.md
# measured x10 data growing the semantic-dedup wall x104.6 at a fixed K
# and x9.9 at the derived K. The rule gives K_CLUSTERS = 8 up to N = 2000
# (every test fixture up to sf0.1) and grows K past it.
TARGET_CELL_SIZE = 250


def k_for_corpus(n_vectors: int, target_cell_size: int = TARGET_CELL_SIZE) -> int:
    """K ≈ N / target_cell_size, never below K_CLUSTERS."""
    return max(K_CLUSTERS, -(-int(n_vectors) // int(target_cell_size)))


def learned_k(sf_dir: str, k: "int | None" = None) -> int:
    """The K a learned-cell build trains at: ``k`` where a caller needs
    another K, else k_for_corpus over the embeddings row count from the
    parquet footer (memoized; no Spark job)."""
    if k is None:
        return k_for_corpus(table_row_count(sf_dir, "embeddings"))
    return int(k)


def oracle_k_sql() -> str:
    """DuckDB scalar twin of learned_k: k_for_corpus over count(*) of
    ``embeddings``."""
    return (
        f"(SELECT greatest({K_CLUSTERS}, (count(*) + {TARGET_CELL_SIZE - 1}) "
        f"// {TARGET_CELL_SIZE}) FROM embeddings)"
    )


def oracle_s_sql() -> str:
    """DuckDB scalar twin of s_for_k(learned_k): isqrt(K - 1) + 1."""
    return f"(CAST(floor(sqrt({oracle_k_sql()} - 1)) AS BIGINT) + 1)"


def _kmeans_round_label(k: int) -> str:
    """Audit label for a Lloyd update round, face-specific (ADVICE r13):
    when the assignment runs through the relation face (K past the
    ceiling, or a lowered-ceiling test) the captured plan legitimately
    carries the broadcast-centroid cross product — that capture must land
    under the whitelisted _rel label (the semantic_cell_assignments_rel
    precedent), or audit_plan's once-per-process capture makes the
    hygiene dragnet order-dependent."""
    return (
        "kmeans_update_round_rel"
        if k > _literal_ceiling()
        else "kmeans_update_round"
    )


# Trained k-means / PQ codebooks are deterministic functions of the fixture
# (exact fixed-point arithmetic — see module docstring), and they are tiny
# driver state (K*D = 512 BIGINTs). The trained ROWS are staged so the
# query pairs that share a codebook (ml_kmeans_embeddings +
# sim_ivf_kmeans_ann + sim_ivf_ann; ml_pq_codebook + sim_pq_adc_ann) train
# once per application instead of re-running the Lloyd rounds each; the
# DataFrame faces rebuild a 1-partition relation from the rows.
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained centroid relation (cluster, c) after KMEANS_ITERS Lloyd
    rounds; training staged per (application, sf_dir, learned_k)."""
    return driver_rows_df(
        spark, kmeans_centroid_rows(spark, sf_dir), "cluster int, c array<bigint>"
    )


def kmeans_centroid_rows(
    spark: SparkSession, sf_dir: str, k: "int | None" = None
) -> "list[tuple[int, list[int]]]":
    """Trained centroids as driver rows (seeds = vec_id < K). K is
    resolved before the staged build, so a default call and an explicit
    call at the same K share one entry."""
    return _kmeans_centroid_rows(spark, sf_dir, learned_k(sf_dir, k))


@staged
def _kmeans_centroid_rows(
    spark: SparkSession, sf_dir: str, k: int
) -> "list[tuple[int, list[int]]]":
    q = quantized_vectors(spark, sf_dir)
    # Centroids are DRIVER state (K*D BIGINTs), exactly as MLlib
    # treats them: collect the K seed/updated rows and bake them into the
    # next round's literal assignment expression. This truncates lineage
    # with no checkpoint blocks AND makes every assignment pass map-side
    # (centroid_argmin_sql). The collects are the scalar-aggregate kind
    # the plan-hygiene policy allows (K rows, not data).
    # sorted(): collect order of a multi-partition agg/filter is
    # partition-layout-dependent; centroid VALUES are order-invariant
    # (ties break by (d2, cl) in both faces), so canonicalize so the
    # returned driver rows are deterministic at any partitioning (r14)
    rows = sorted(
        (int(r.vec_id), [int(v) for v in r.qe])
        for r in q.filter(F.col("vec_id") < k).collect()
    )
    for _ in range(KMEANS_ITERS):
        assigned = nearest_centroid(q, rows, ["vec_id"], carry=["qe"]).select(
            F.col("m.cl").alias("cluster"), "qe"
        )
        collected = audit_plan(
            _kmeans_round_label(len(rows)), _update(assigned)
        ).collect()
        rows = sorted((int(r.cluster), [int(v) for v in r.c]) for r in collected)
    return rows


def kmeans_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final assignment (vec_id, qe, cluster, d2) against the trained
    centroids — one map-side pass over the scan (no joins, no shuffles;
    see centroid_argmin_sql). Shared by the k-means summary query and the
    IVF-ANNs that use the centroids as their codebook."""
    rows = kmeans_centroid_rows(spark, sf_dir)
    q = quantized_vectors(spark, sf_dir)
    return nearest_centroid(q, rows, ["vec_id"], carry=["qe"]).select(
        "vec_id", "qe", F.col("m.cl").alias("cluster"), F.col("m.d2").alias("d2")
    )


def ml_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point k-means (K = learned_k, 2 unrolled Lloyd rounds + final
    assignment) over the embeddings table; returns per-cluster size and
    exact inertia."""
    final = kmeans_assignment(spark, sf_dir)
    return final.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("d2").alias("inertia")
    )


def kmeans_oracle_ctes(prefix: str = "") -> tuple[str, str]:
    """DuckDB CTE chain mirroring kmeans_assignment; returns (cte_block,
    final_assignment_name). Reused by the IVF-kmeans oracle. ``prefix``
    namespaces every CTE (q/c{i}/a{i}) so the chain can compose with
    pq_oracle_ctes in one WITH — both would otherwise define q/c0/a1
    (the IVF-PQ oracle passes 'km_')."""
    d = dl.DUCK
    quant = _quant_sql(d, "embedding")
    dist2 = _dist2_sql(d, "q.qe", "c.c")
    fdiv = _FLOOR_DIV.format(s="sum(x)", n="count(*)")
    p = prefix
    ctes = [
        f"{p}q AS (SELECT vec_id, {quant} AS qe FROM embeddings)",
        f"{p}c0 AS (SELECT CAST(vec_id AS INT) AS cluster, qe AS c FROM {p}q WHERE vec_id < {oracle_k_sql()})",
    ]
    for i in range(KMEANS_ITERS + 1):
        ctes.append(
            f"{p}a{i + 1} AS (SELECT vec_id, qe, cluster, d2 FROM ("
            f"SELECT q.vec_id, q.qe, c.cluster, {dist2} AS d2, "
            f"row_number() OVER (PARTITION BY q.vec_id "
            f"ORDER BY {dist2}, c.cluster) AS rnk "
            f"FROM {p}q q, {p}c{i} c) WHERE rnk = 1)"
        )
        if i < KMEANS_ITERS:
            ctes.append(
                f"{p}c{i + 1} AS (SELECT cluster, list(cv ORDER BY dim) AS c FROM ("
                f"SELECT cluster, dim, {fdiv} AS cv FROM ("
                f"SELECT cluster, unnest(generate_series(1, len(qe))) AS dim, "
                f"unnest(qe) AS x FROM {p}a{i + 1}) GROUP BY cluster, dim"
                f") GROUP BY cluster)"
            )
    return ",\n".join(ctes), f"{p}a{KMEANS_ITERS + 1}"


def _oracle_kmeans() -> str:
    ctes, final = kmeans_oracle_ctes()
    return (
        f"WITH {ctes}\nSELECT cluster, count(*) AS n_vecs, "
        f"CAST(sum(d2) AS BIGINT) AS inertia FROM {final} GROUP BY cluster"
    )


# Two-level plan (super_rows, group_rows) — deterministic fixed-point
# training over the (staged) level-1 centroids; tiny driver state (S + K
# rows), staged like kmeans_centroid_rows.
@staged
def two_level_plan_for(spark: SparkSession, sf_dir: str) -> "tuple[list, list]":
    """The sf-table-trained two-level plan (super_rows, group_rows) over
    the trained k-means centroids."""
    return two_level_rows(spark, kmeans_centroid_rows(spark, sf_dir))


def ml_kmeans_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster (n_vecs, inertia) of the corpus assigned through the
    TWO-LEVEL coarse quantizer (nearest_centroid_two_level): S =
    s_for_k(K) super-cells over the trained K centroids (S = 3 at K = 8),
    p = SUPER_PROBES = 2 probes — genuinely approximate
    (p < S), so the oracle replicates the FULL two-level semantics (super
    Lloyd training, top-p super ranking, in-group argmin) rather than
    assuming agreement with the flat face. The hash gate therefore pins
    the hierarchy bit-exact every round: seeds, floor-div means,
    (d2, g)/(d2, cl) tie orders, live-cell filtering, and the stage-2
    equi-join + keyed argmin. The EXACT arm (p >= S == flat argmin) is
    equality-pinned in tests/test_two_level.py; this gate query
    value-oracles the approximate serving arm production actually runs."""
    rows = kmeans_centroid_rows(spark, sf_dir)
    plan = two_level_plan_for(spark, sf_dir)
    q = quantized_vectors(spark, sf_dir)
    asg = nearest_centroid_two_level(q, rows, ["vec_id"], plan=plan)
    return (
        asg.select(F.col("m.cl").alias("cluster"), F.col("m.d2").alias("d2"))
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("d2").alias("inertia"))
    )


def _oracle_two_level() -> str:
    """DuckDB twin of ml_kmeans_two_level: the level-1 k-means chain
    (kmeans_oracle_ctes), the super-level Lloyd chain over its final
    centroids (identical seed/update/tie semantics), the final grouping,
    top-p super ranking per vector, and the in-group argmin."""
    d = dl.DUCK
    s = oracle_s_sql()
    fdiv = _FLOOR_DIV.format(s="sum(x)", n="count(*)")
    ctes, _final = kmeans_oracle_ctes()
    parts = [
        ctes,
        f"cent AS (SELECT cluster AS cl, c FROM c{KMEANS_ITERS})",
        f"s0 AS (SELECT CAST(rn - 1 AS INT) AS g, c AS sc FROM "
        f"(SELECT c, row_number() OVER (ORDER BY cl) AS rn FROM cent) WHERE rn <= {s})",
    ]
    d2_ts = _dist2_sql(d, "t.c", "s.sc")
    for i in range(SUPER_ITERS):
        parts.append(
            f"sa{i + 1} AS (SELECT cl, c, g FROM ("
            f"SELECT t.cl, t.c, s.g, row_number() OVER (PARTITION BY t.cl "
            f"ORDER BY {d2_ts}, s.g) AS rnk FROM cent t, s{i} s) WHERE rnk = 1)"
        )
        parts.append(
            f"s{i + 1} AS (SELECT g, list(cv ORDER BY dim) AS sc FROM ("
            f"SELECT g, dim, {fdiv} AS cv FROM ("
            f"SELECT g, unnest(generate_series(1, len(c))) AS dim, "
            f"unnest(c) AS x FROM sa{i + 1}) GROUP BY g, dim) GROUP BY g)"
        )
    d2_q = _dist2_sql(d, "q.qe", "s.sc")
    d2_w = _dist2_sql(d, "p.qe", "w.c")
    parts += [
        f"grp AS (SELECT cl, c, g FROM ("
        f"SELECT t.cl, t.c, s.g, row_number() OVER (PARTITION BY t.cl "
        f"ORDER BY {d2_ts}, s.g) AS rnk FROM cent t, s{SUPER_ITERS} s) WHERE rnk = 1)",
        f"sup AS (SELECT s.g, s.sc FROM s{SUPER_ITERS} s "
        f"WHERE s.g IN (SELECT g FROM grp))",
        f"pr AS (SELECT vec_id, qe, g FROM ("
        f"SELECT q.vec_id, q.qe, s.g, row_number() OVER (PARTITION BY q.vec_id "
        f"ORDER BY {d2_q}, s.g) AS rnk FROM q, sup s) WHERE rnk <= {SUPER_PROBES})",
        f"asg AS (SELECT vec_id, cl, d2 FROM ("
        f"SELECT p.vec_id, w.cl, {d2_w} AS d2, "
        f"row_number() OVER (PARTITION BY p.vec_id ORDER BY {d2_w}, w.cl) AS rnk "
        f"FROM pr p JOIN grp w ON w.g = p.g) WHERE rnk = 1)",
    ]
    body = ",\n".join(parts)
    return (
        f"WITH {body}\nSELECT CAST(cl AS INT) AS cluster, count(*) AS n_vecs, "
        f"CAST(sum(d2) AS BIGINT) AS inertia FROM asg GROUP BY cl"
    )


def ml_embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the (fixed-point) embedding corpus —
    the stats a whitening / normalization pass consumes. Long form
    (dim-keyed hash agg), exact BIGINT sums; s*s is computed in
    DECIMAL(38,0) because |s| can reach ~8*KMEANS_SCALE*n (~3.04e9 rows
    already overflows a BIGINT square — with ANSI off Spark would wrap
    SILENTLY while DuckDB raises; ADVICE r3). DECIMAL(38,0) holds the
    square exactly to ~1e18 rows; both engines then convert the identical
    exact integer to the identical IEEE double.

    Overflow contract (same style as ml_normal_equations): the BIGINT sums
    s and ss are bounded by 8*KMEANS_SCALE*n and (8*KMEANS_SCALE)^2*n, so
    they hold to ~1.4e11 rows; past that, drop KMEANS_SCALE or move the
    sums themselves to DECIMAL(38,0) — plan shape unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(F.expr(_quant_sql(dl.SPARK, "embedding"))).alias("dim0", "x")
    )
    agg = dims.groupBy("dim0").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr("x * x")).alias("ss"),
    )
    s2 = "CAST(CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)) AS DOUBLE)"
    return agg.select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        "n",
        F.expr("CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)").alias("mean_fp"),
        F.round(
            (F.expr("CAST(ss AS DOUBLE)") - F.expr(s2) / F.col("n")) / F.col("n"),
            4,
        ).alias("var_fp"),
    )


def _oracle_dim_variance() -> str:
    quant = _quant_sql(dl.DUCK, "embedding")
    return f"""
WITH dims AS (
  SELECT unnest(generate_series(1, len(qe))) AS dim, unnest(qe) AS x
  FROM (SELECT {quant} AS qe FROM embeddings)
),
agg AS (
  SELECT dim, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
    CAST(sum(x * x) AS BIGINT) AS ss
  FROM dims GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim, n,
  CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_fp,
  round((CAST(ss AS DOUBLE)
         - CAST(CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)) AS DOUBLE) / n) / n,
        4) AS var_fp
FROM agg
"""


PQ_BLOCKS = 8        # subvectors per embedding (EMB_DIM / PQ_SUB_DIM)
PQ_SUB_DIM = 8       # dims per subvector
PQ_K = 16            # codebook entries per block (4-bit codes; r5: 8->16
                     # lifted ADC-pool recall 0.61->0.85 with PQ_RERANK=200
                     # at ~same runtime — LUT stays |Q|*BLOCKS*K = 1280 rows)
PQ_ITERS = 2


def _pq_blocks(q: DataFrame) -> DataFrame:
    """(vec_id, block, sub) — each quantized vector split into PQ_BLOCKS
    contiguous PQ_SUB_DIM-wide subvectors. One projection, no shuffle."""
    return q.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_BLOCKS - 1}), "
                f"b -> struct(b AS block, slice(qe, b * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}) AS sub))"
            )
        ).alias("bs"),
    ).select("vec_id", F.col("bs.block").alias("block"), F.col("bs.sub").alias("sub"))


def _pq_dist2(d: str, a: str, b: str, width: int = PQ_SUB_DIM) -> str:
    """Exact squared L2 between two WIDTH-long BIGINT subvectors. The
    subvector width is always known at plan-build time (PQ_SUB_DIM for
    the trained geometry; _codebook_geom's sub_dim on the generic encode
    faces), so the Spark form is an unrolled straight-line element_at
    chain (r14): at width 8 it beats the interpreted zip_with/aggregate
    lambda pair 2x on the assign stage (0.91 -> 0.47 s at sf0.1,
    bit-identical d2). The 64-dim embedding dot keeps its zip_with form —
    the crossover measured there went the other way (3.5x)."""
    if d == dl.SPARK:
        terms = " + ".join(
            f"(element_at({a}, {i}) - element_at({b}, {i})) * "
            f"(element_at({a}, {i}) - element_at({b}, {i}))"
            for i in range(1, width + 1)
        )
        return f"CAST({terms} AS BIGINT)"
    e_a = dl.arr_element(d, a, "i")
    e_b = dl.arr_element(d, b, "i")
    diffs = dl.transform(
        d, dl.seq(d, "1", str(width)), "i", f"(({e_a}) - ({e_b})) * (({e_a}) - ({e_b}))"
    )
    return dl.arr_sum_bigint(d, diffs)


def _pq_assign(blocks: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest codeword per (vec, block): EQUI-join on block id (PQ_K
    candidate rows per block, broadcast), then exact BIGINT argmin via
    min(struct(d2, code)) hash agg — struct ordering compares fields
    left-to-right, so it IS "order by d2, code", and the agg gets map-side
    partial aggregation (K rows combined before any shuffle) where a
    row_number window must sort (measured ~2x on this variant)."""
    return (
        blocks.join(F.broadcast(cent), "block")
        .select(
            "vec_id", "block", "sub", "code",
            F.expr(_pq_dist2(dl.SPARK, "sub", "c")).alias("d2"),
        )
        .groupBy("vec_id", "block")
        .agg(
            F.min(F.struct("d2", "code")).alias("m"),
            F.any_value("sub").alias("sub"),
        )
        .select(
            "vec_id", "block", "sub",
            F.col("m.code").alias("code"), F.col("m.d2").alias("d2"),
        )
    )


def _pq_update(assigned: DataFrame) -> DataFrame:
    sums = (
        assigned.select("block", "code", F.posexplode("sub").alias("dim", "x"))
        .groupBy("block", "code", "dim")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("cv", F.expr(_FLOOR_DIV.format(s="s", n="n")))
    )
    return sums.groupBy("block", "code").agg(
        F.expr("transform(array_sort(collect_list(struct(dim, cv))), p -> p.cv)").alias("c")
    )


def ml_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training: split each vector into
    PQ_BLOCKS subvectors and train an independent PQ_K-entry k-means
    codebook per block — ALL blocks in the same Lloyd rounds (the unit of
    work is (vec, block), so one assignment join and one update agg train
    all 8 subquantizers at once; 8 sequential trainers would cost 8x the
    passes). Returns per-(block, code) codebook population + exact inertia
    — the training summary a PQ index build logs.

    PQ is how billion-vector ANN ships (8 bytes/vector here vs 256):
    the fixed-point arithmetic makes the codebooks bit-identical across
    engines and partitionings, same argument as ml_kmeans_embeddings.
    Codebooks are driver state: PQ_BLOCKS * PQ_K * PQ_SUB_DIM = 512
    BIGINTs collected per round."""
    blocks, cent = pq_trained(spark, sf_dir)
    final = _pq_assign(blocks, cent)
    return final.groupBy("block", "code").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("d2").alias("inertia")
    )


def pq_trained(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(blocks, trained codebook) after PQ_ITERS Lloyd rounds — shared by
    the codebook summary query and the ADC search query. Training is
    staged in pq_codebook_rows (same contract as kmeans_centroids: the
    codebook is deterministic, tiny driver state)."""
    return (
        _pq_blocks(quantized_vectors(spark, sf_dir)),
        driver_rows_df(
            spark, pq_codebook_rows(spark, sf_dir), "block int, code int, c array<bigint>"
        ),
    )


# A DEAD codeword (cluster emptied during training) must never win the
# encode argmin and must never poison the ADC sum. The pre-r13 design pinned
# dead codewords "infinitely far" with a 1<<40 sentinel COORDINATE — but the
# distance expression squares coordinates, and (x - 2^40)^2 ~ 2^80 overflows
# BIGINT: under Spark 4's default ANSI mode every encode/LUT evaluation
# would THROW the moment any cluster emptied (and with ANSI off it would
# wrap negative and the dead code would WIN the argmin — silent corruption).
# Fix (ADVICE r12, medium): dead codes are EXCLUDED from the encode
# candidate list entirely — the exact semantics of the batch _pq_assign
# equi-join, where a missing (block, code) row simply never joins — and the
# dense LUT stores this CONSTANT for dead slots (stored, compared, summed —
# never squared: 8 blocks x 2^40 < 2^43, far inside BIGINT, and far above
# any real quantized d2, which is bounded by PQ_SUB_DIM * (2 * 8 *
# KMEANS_SCALE)^2 ~ 2^31).
DEAD_CODE_D2 = 1 << 40


# Ceiling on the literal PQ encode/LUT design (ADVICE r13, closed the same
# way the centroid wall was in r13): pq_codes_sql / pq_lut_sql unroll one
# aggregate/zip_with subexpression per (block, code) — O(blocks * K)
# literals. Unlike the centroid face there is no hard refusal up to 65k
# entries (measured, tools/pq_probe.py), but the PLAN cost grows linearly
# (~1.2 ms/entry of parse+optimize+codegen per call on this box: ~5 s at
# 4096 entries, ~19 s at 16k) and it is paid PER CALL — per micro-batch in
# the streaming ingest/serve hot paths — while the relation face
# (equi-join on block against a broadcast codebook relation + min(struct)
# keyed argmin, the batch _pq_assign shape) plans in constant time. The
# gate model (8x16 = 128 entries) stays literal; a production 8-bit
# codebook (16 x 256 = 4096) dispatches. Crossover measured in
# SCALE_SMOKE.md (tools/pq_probe.py).
PQ_LITERAL_CEILING = 2048


def _check_pq_literal(n_entries: int) -> None:
    if n_entries > PQ_LITERAL_CEILING:
        raise ValueError(
            f"{n_entries} codebook entries exceeds PQ_LITERAL_CEILING="
            f"{PQ_LITERAL_CEILING} for the inlined literal PQ expression; "
            "use the dispatched faces pq_encode / pq_query_lut, which switch "
            "to the broadcast codebook relation (equi-join on block + "
            "min(struct) keyed argmin) past the ceiling"
        )


# Batch-aware PQ dispatch (round 14, second pass — closing the
# N-independence gap in the ceiling): the literal face's cost is a
# PER-CALL PLAN tax ~ a * entries (parse + optimize + codegen,
# N-independent), the relation face's an EXECUTION tax ~ b + s * N *
# blocks (plan-constant, shuffles N*blocks rows). The crossover is
# therefore N-DEPENDENT: entries*(N) = (b + s*N*blocks) / a. Constants
# fit from tools/pq_probe.py measurements (SCALE_SMOKE.md): literal
# 0.56 s @ 128 entries -> 6.66 s @ 2048 (a ~ 3.2 ms/entry, fresh plan per
# call); relation @ 2048 entries 1.2-1.45 s for N <= 2000 (b) rising
# 2.3e-4 s/row at 16 blocks (s = 1.4e-5 s per row*block). The model
# REPRODUCES the measured N=2000 crossover: (1.2 + 2.3e-4*2000)/3.2e-3
# ~= 519 vs ~512 observed. Callers with a known batch bound (streaming
# micro-batches — the literal tax is paid per TRIGGER) pass batch_rows
# and get the cheaper face; without a hint the dispatch stays the
# conservative entries-only ceiling (ad-hoc batch callers are usually
# corpus-sized, where the literal face's zero-shuffle execution wins).
PQ_PLAN_SEC_PER_ENTRY = 3.2e-3   # a: literal per-call plan tax
PQ_REL_BASE_SEC = 1.2            # b: relation per-call floor
PQ_REL_SEC_PER_ROWBLOCK = 1.4e-5  # s: relation marginal cost per row*block


def pq_crossover_entries(batch_rows: int, n_blocks: int = PQ_BLOCKS) -> float:
    """Codebook entries at which the literal face's per-call plan tax
    overtakes the relation face's whole cost for a ``batch_rows``-row
    batch — the measured cost model above."""
    return (
        PQ_REL_BASE_SEC
        + PQ_REL_SEC_PER_ROWBLOCK * int(batch_rows) * int(n_blocks)
    ) / PQ_PLAN_SEC_PER_ENTRY


def _use_pq_relation(
    n_entries: int,
    force: "str | None",
    batch_rows: "int | None" = None,
    n_blocks: "int | None" = None,
) -> bool:
    """Dispatch rule shared by pq_encode / pq_query_lut — the PQ twin of
    _use_relation (same force semantics: "literal" still trips the guard
    past the wall; "relation" exercises the join face below it).
    ``batch_rows`` is the caller's per-call row bound (per-trigger batch
    size in streaming): below the hard ceiling the faces are both correct
    and the cheaper one is N-dependent, so a hint dispatches on the
    measured crossover instead of the entries-only policy ceiling."""
    if force == "literal":
        _check_pq_literal(n_entries)
        return False
    if force == "relation":
        return True
    if n_entries > PQ_LITERAL_CEILING:
        return True
    if batch_rows is not None:
        return n_entries > pq_crossover_entries(
            batch_rows, n_blocks if n_blocks is not None else PQ_BLOCKS
        )
    return False


def _codebook_relation(
    spark: SparkSession, rows: "list[tuple[int, int, list[int]]]"
) -> DataFrame:
    return driver_rows_df(
        spark,
        sorted((int(b), int(c), [int(v) for v in vec]) for b, c, vec in rows),
        "__block int, __code int, __c array<bigint>",
    )


def _pq_block_rows(
    df: DataFrame,
    key_cols: "list[str]",
    carry: "list[str] | tuple[str, ...]",
    qe_expr: str,
    n_blocks: int,
    sub_dim: int,
) -> DataFrame:
    """One (key, __block, __sub) row per (input row, block) — the relation
    faces' exploded form of _pq_blocks, carry columns riding along."""
    slim = df.select(*key_cols, *carry, F.expr(qe_expr).alias("__qe"))
    return slim.select(
        *key_cols,
        *carry,
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}), "
                f"b -> struct(b AS block, slice(__qe, b * {sub_dim} + 1, {sub_dim}) AS sub))"
            )
        ).alias("__bs"),
    ).select(
        *key_cols, *carry,
        F.col("__bs.block").alias("__block"),
        F.col("__bs.sub").alias("__sub"),
    )


def pq_encode(
    df: DataFrame,
    codebook_rows: "list[tuple[int, int, list[int]]]",
    key_cols: "list[str]",
    qe_expr: str = "qe",
    out: str = "codes",
    carry: "list[str] | tuple[str, ...]" = (),
    force: "str | None" = None,
    batch_rows: "int | None" = None,
) -> DataFrame:
    """PQ ENCODE (``array<int>`` of per-block nearest-codeword codes per
    row), dispatched on codebook size AND — when the caller declares a
    ``batch_rows`` bound — on the measured N-dependent crossover
    (pq_crossover_entries): a streaming trigger of a few hundred rows is
    cheaper through the relation face from ~400 entries, while a
    corpus-sized batch amortizes the literal plan tax to the ceiling.
    The PQ twin of nearest_centroid:

    - entries <= PQ_LITERAL_CEILING: the literal map-side expression
      (pq_codes_sql) — zero exchanges, but O(entries) plan cost per call.
    - past it: the codebook becomes DATA — explode to (key, block, sub)
      rows, ONE broadcast equi-join on block (K candidate rows per block,
      the batch _pq_assign shape), min(struct(d2, code)) argmin per
      (key, block) with full map-side partial reduction (the exchange
      moves N*blocks rows, not N*blocks*K), then the codes re-assemble
      per key ordered by block (blocks-bounded collect_list — corpus-SAFE,
      unlike the LUT face). Ties break to the lowest code in both faces
      (min(struct) = array_min struct order); dead codewords simply never
      join — the exact pq_codes_sql candidate-exclusion semantics.

    ``key_cols`` must be unique per row. Returns key_cols + carry + out."""
    n_blocks, sub_dim, _slots = _codebook_geom(codebook_rows)
    if not _use_pq_relation(len(codebook_rows), force, batch_rows, n_blocks):
        return df.select(
            *key_cols, *carry,
            F.expr(pq_codes_sql(codebook_rows, qe_expr)).alias(out),
        )
    spark = df.sparkSession
    bs = _pq_block_rows(df, key_cols, carry, qe_expr, n_blocks, sub_dim)
    d2 = F.expr(_pq_dist2(dl.SPARK, "__sub", "__c", width=sub_dim))
    asg = (
        bs.join(F.broadcast(_codebook_relation(spark, codebook_rows)), "__block")
        .groupBy(*key_cols, "__block")
        .agg(
            F.min(F.struct(d2.alias("d2"), F.col("__code").alias("code"))).alias("__m"),
            *[F.any_value(c).alias(c) for c in carry],
        )
    )
    return (
        asg.groupBy(*key_cols)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(__block, __m.code AS code))), "
                "p -> p.code)"
            ).alias(out),
            *[F.any_value(c).alias(c) for c in carry],
        )
        .select(*key_cols, *carry, out)
    )


def pq_query_lut(
    df: DataFrame,
    codebook_rows: "list[tuple[int, int, list[int]]]",
    key_cols: "list[str]",
    qe_expr: str = "qe",
    out: str = "lut",
    carry: "list[str] | tuple[str, ...]" = (),
    force: "str | None" = None,
    max_rows: "int | None" = None,
    batch_rows: "int | None" = None,
) -> DataFrame:
    """Per-row dense ADC lookup table (``array<array<bigint>>``, see
    pq_lut_sql), dispatched on codebook size — the PQ twin of
    nearest_centroids_topn, with the same QUERY-SIDE-ONLY contract: the
    relation face buffers K distances per (key, block) (collect_list into
    map_from_entries), so it is reserved for the bounded query set —
    ``max_rows`` declares and verifies the bound exactly as in
    nearest_centroids_topn. Dead slots hold the stored DEAD_CODE_D2
    constant in both faces (coalesce over the live-code map).
    ``batch_rows`` (usually the same bound as ``max_rows``) additionally
    dispatches on the measured N-dependent crossover — a per-trigger
    query batch stops paying the literal face's per-call plan tax (see
    pq_encode / pq_crossover_entries)."""
    n_blocks, sub_dim, n_slots = _codebook_geom(codebook_rows)
    if not _use_pq_relation(len(codebook_rows), force, batch_rows, n_blocks):
        return df.select(
            *key_cols, *carry,
            F.expr(pq_lut_sql(codebook_rows, qe_expr)).alias(out),
        )
    spark = df.sparkSession
    if max_rows is not None:
        got = df.limit(int(max_rows) + 1).count()
        if got > int(max_rows):
            raise ValueError(
                f"pq_query_lut relation face: input exceeds the declared "
                f"query-side bound max_rows={max_rows} (the LUT buffers "
                f"{n_slots} distances per (row, block) with no map-side "
                f"reduction — corpus relations take pq_encode instead)"
            )
    bs = _pq_block_rows(df, key_cols, carry, qe_expr, n_blocks, sub_dim)
    d2 = F.expr(_pq_dist2(dl.SPARK, "__sub", "__c", width=sub_dim))
    pairs = bs.join(
        F.broadcast(_codebook_relation(spark, codebook_rows)), "__block"
    ).select(*key_cols, *carry, "__block", F.col("__code"), d2.alias("__d2"))
    per_block = pairs.groupBy(*key_cols, "__block").agg(
        F.expr("map_from_entries(collect_list(struct(__code, __d2)))").alias("__m"),
        *[F.any_value(c).alias(c) for c in carry],
    )
    dense = per_block.select(
        *key_cols, *carry, "__block",
        F.expr(
            f"transform(sequence(0, {n_slots - 1}), "
            f"c -> coalesce(element_at(__m, c), CAST({DEAD_CODE_D2} AS BIGINT)))"
        ).alias("__arr"),
    )
    return (
        dense.groupBy(*key_cols)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(__block, __arr))), "
                "p -> p.__arr)"
            ).alias(out),
            *[F.any_value(c).alias(c) for c in carry],
        )
        .select(*key_cols, *carry, out)
    )


def _live_codebook(
    codebook_rows: "list[tuple[int, int, list[int]]]",
) -> "dict[int, dict[int, list[int]]]":
    if not codebook_rows:
        raise ValueError("no codewords: the PQ encoder needs >= 1 codebook rows")
    by_block: dict[int, dict[int, list[int]]] = {}
    for b, c, vec in codebook_rows:
        by_block.setdefault(int(b), {})[int(c)] = [int(v) for v in vec]
    # geometry comes from the codebook itself (round 14): blocks must be
    # contiguous 0..B-1 with >= 1 live codeword each — the gate model has
    # B = PQ_BLOCKS, a production 8-bit model can differ
    for b in range(max(by_block) + 1):
        if not by_block.get(b):
            raise ValueError(f"PQ block {b} has no live codewords")
    return by_block


def _codebook_geom(
    codebook_rows: "list[tuple[int, int, list[int]]]",
) -> "tuple[int, int, int]":
    """(n_blocks, sub_dim, n_slots) derived FROM the codebook rows, so the
    encode/LUT faces work for any PQ geometry, not just the PQ_* constants
    (ADVICE r13: the serve-bound comments contemplate 16 blocks x 256
    codes). n_slots (the dense LUT width) floors at PQ_K so a gate model
    whose top codeword died keeps the exact pre-r14 padded layout."""
    by_block = _live_codebook(codebook_rows)
    n_blocks = max(by_block) + 1
    dims = {len(vec) for codes in by_block.values() for vec in codes.values()}
    if len(dims) != 1:
        raise ValueError(f"inconsistent PQ subvector widths: {sorted(dims)}")
    n_slots = max(PQ_K, 1 + max(c for codes in by_block.values() for c in codes))
    return n_blocks, dims.pop(), n_slots


def _pq_sub_d2(b: int, vec: "list[int]") -> str:
    """Exact BIGINT d2 between qe0's block-b subvector and a literal
    codeword (the compact zip_with form, see _dist2_sql). The slice
    geometry derives from the codeword itself (len(vec) = sub_dim)."""
    lit = "array(" + ",".join(f"{int(v)}L" for v in vec) + ")"
    sub = len(vec)
    return (
        f"aggregate(zip_with(slice(qe0, {b * sub + 1}, {sub}), {lit}, "
        "(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def pq_codes_sql(
    codebook_rows: "list[tuple[int, int, list[int]]]", qe_expr: str = "qe"
) -> str:
    """Spark SQL ``array<int>`` of the PQ_BLOCKS nearest-codeword codes of
    ``qe_expr`` against LITERAL codebook rows — PQ ENCODING as a map-side
    expression, the _pq_assign join+agg collapsed into the scan (the
    centroid_argmin_sql move applied to the subquantizers). Exact BIGINT
    distances; ties -> lowest code (array_min on struct(d2, code)), the
    identical order to _pq_assign's min(struct(d2, code)) agg, so the
    codes are bit-equal to the batch trainer's. Only LIVE codewords enter
    the candidate array (see DEAD_CODE_D2) — the same semantics as the
    batch equi-join, where a dead (block, code) row never joins.

    LITERAL face only: O(blocks * K) unrolled subexpressions — refuses
    past PQ_LITERAL_CEILING entries (use the dispatched pq_encode)."""
    _check_pq_literal(len(codebook_rows))
    per_block = []
    for b, codes in sorted(_live_codebook(codebook_rows).items()):
        entries = ", ".join(
            f"struct({_pq_sub_d2(b, vec)} AS d2, CAST({c} AS INT) AS code)"
            for c, vec in sorted(codes.items())
        )
        per_block.append(f"(array_min(array({entries}))).code")
    return (
        f"transform(array({qe_expr}), qe0 -> array({','.join(per_block)}))[0]"
    )


def pq_lut_sql(
    codebook_rows: "list[tuple[int, int, list[int]]]", qe_expr: str = "qe"
) -> str:
    """Spark SQL ``array<array<bigint>>`` — the per-query ADC lookup
    table: LUT[block][code] = exact BIGINT d2 between the query's
    subvector and that codeword, computed map-side from the literal
    codebook (the FAISS per-query LUT build as one projection; the
    serve-side ADC is then 8 array lookups per candidate, no join). The
    LUT stays DENSE (PQ_K entries per block — the serve side indexes it
    by code id), but a dead code's slot holds the stored constant
    DEAD_CODE_D2 instead of a computed distance: no candidate can carry a
    dead code (pq_codes_sql never emits one), so the slot is unreachable
    padding — and nothing ever squares it (the r12 sentinel overflowed
    BIGINT under ANSI the moment a cluster emptied).

    LITERAL face only: O(blocks * K) unrolled subexpressions — refuses
    past PQ_LITERAL_CEILING entries (use the dispatched pq_query_lut)."""
    _check_pq_literal(len(codebook_rows))
    by_block = _live_codebook(codebook_rows)
    n_blocks, _sub, n_slots = _codebook_geom(codebook_rows)
    blocks = []
    for b in range(n_blocks):
        codes = by_block[b]
        entries = ", ".join(
            _pq_sub_d2(b, codes[k]) if k in codes else f"CAST({DEAD_CODE_D2} AS BIGINT)"
            for k in range(n_slots)
        )
        blocks.append(f"array({entries})")
    return (
        f"transform(array({qe_expr}), qe0 -> array({','.join(blocks)}))[0]"
    )


def train_kmeans_rows_from(
    vecs: DataFrame, k: int
) -> "list[tuple[int, list[int]]]":
    """kmeans_centroid_rows generalized to ANY (vec_id, embedding) frame —
    the RETRAIN path of the maintained IVF-PQ index (codebooks re-learned
    from the accumulated corpus at compaction). Seeds are the k
    lowest-vec_id vectors relabeled 0..k-1 (the sf-table trainer's
    vec_id < k rule, made id-agnostic); same Lloyd rounds, same exact
    fixed-point arithmetic, centroids as driver rows."""
    q = vecs.select("vec_id", F.expr(_quant_sql(dl.SPARK, "embedding")).alias("qe"))
    seeds = q.orderBy("vec_id").limit(k).collect()
    rows = [(i, [int(v) for v in r.qe]) for i, r in enumerate(seeds)]
    for _ in range(KMEANS_ITERS):
        assigned = nearest_centroid(q, rows, ["vec_id"], carry=["qe"]).select(
            F.col("m.cl").alias("cluster"), "qe"
        )
        collected = audit_plan(
            _kmeans_round_label(len(rows)), _update(assigned)
        ).collect()
        # canonical cluster order: collect order of the update agg depends
        # on the input partitioning (the retrain input is ALWAYS
        # multi-partition in production); values are order-invariant (r14)
        rows = sorted((int(r.cluster), [int(v) for v in r.c]) for r in collected)
    return rows


def train_pq_rows_from(vecs: DataFrame) -> "list[tuple[int, int, list[int]]]":
    """pq_trained generalized to ANY (vec_id, embedding) frame (see
    train_kmeans_rows_from): seeds = the PQ_K lowest-vec_id vectors'
    subvectors, PQ_ITERS Lloyd rounds over (vec, block) grain, codebook
    as driver rows."""
    spark = vecs.sparkSession
    q = vecs.select("vec_id", F.expr(_quant_sql(dl.SPARK, "embedding")).alias("qe"))
    blocks = audit_plan("pq_blocks_from", _pq_blocks(q)).localCheckpoint()
    seed_ids = [
        int(r.vec_id)
        for r in blocks.select("vec_id").distinct().orderBy("vec_id").limit(PQ_K).collect()
    ]
    code_of = {vid: i for i, vid in enumerate(seed_ids)}
    cent = driver_rows_df(
        spark,
        [
            (int(r.block), code_of[int(r.vec_id)], [int(v) for v in r.sub])
            for r in blocks.filter(F.col("vec_id").isin(seed_ids)).collect()
        ],
        "block int, code int, c array<bigint>",
    )
    rows: list[tuple[int, int, list[int]]] = []
    for _ in range(PQ_ITERS):
        collected = audit_plan(
            "pq_update_round", _pq_update(_pq_assign(blocks, cent))
        ).collect()
        # canonical (block, code) order — see train_kmeans_rows_from (r14)
        rows = sorted(
            (int(r.block), int(r.code), [int(v) for v in r.c]) for r in collected
        )
        cent = driver_rows_df(spark, rows, "block int, code int, c array<bigint>")
    return rows


@staged
def pq_codebook_rows(spark: SparkSession, sf_dir: str) -> "list[tuple[int, int, list[int]]]":
    """The sf-table-trained PQ codebook as driver rows after PQ_ITERS
    Lloyd rounds — read by pq_trained and as the generation-1 model of
    the maintained IVF-PQ index."""
    # training re-reads blocks once per round: materialize the explode
    # once (multi-consumer staging rule; the checkpointed base is the
    # staged quantized_vectors, so this only pins the 8x slice fan-out,
    # not another scan). Lazy (r14): round 1's collect is the first
    # action and materializes it — no separate checkpoint job.
    blocks = audit_plan(
        "pq_blocks", _pq_blocks(quantized_vectors(spark, sf_dir))
    ).localCheckpoint(eager=False)
    # seeds: vectors 0..PQ_K-1 provide the initial codeword per block
    cent = blocks.filter(F.col("vec_id") < PQ_K).select(
        "block", F.col("vec_id").cast("int").alias("code"), F.col("sub").alias("c")
    )
    for _ in range(PQ_ITERS):
        collected = audit_plan(
            "pq_update_round", _pq_update(_pq_assign(blocks, cent))
        ).collect()
        # canonical (block, code) order — collect order is
        # partition-layout-dependent, values are not (r14)
        rows = sorted(
            (int(r.block), int(r.code), [int(v) for v in r.c]) for r in collected
        )
        cent = driver_rows_df(spark, rows, "block int, code int, c array<bigint>")
    return rows


def pq_oracle_ctes() -> tuple[str, str, str]:
    """DuckDB CTE chain mirroring PQ training; returns (cte_block,
    final_assignment_name, final_codebook_name). Reused by the ADC oracle."""
    d = dl.DUCK
    quant = _quant_sql(d, "embedding")
    dist2 = _pq_dist2(d, "b.sub", "c.c")
    fdiv = _FLOOR_DIV.format(s="sum(x)", n="count(*)")
    # blocks: cross join vectors x block ids, slice each subvector
    ctes = [
        f"q AS (SELECT vec_id, {quant} AS qe FROM embeddings)",
        f"blocks AS (SELECT vec_id, CAST(b AS INT) AS block, "
        f"{dl.arr_slice(d, 'qe', f'b * {PQ_SUB_DIM} + 1', str(PQ_SUB_DIM))} AS sub "
        f"FROM q, (SELECT unnest(generate_series(0, {PQ_BLOCKS - 1})) AS b))",
        f"c0 AS (SELECT block, CAST(vec_id AS INT) AS code, sub AS c "
        f"FROM blocks WHERE vec_id < {PQ_K})",
    ]
    for i in range(PQ_ITERS + 1):
        ctes.append(
            f"a{i + 1} AS (SELECT vec_id, block, sub, code, d2 FROM ("
            f"SELECT b.vec_id, b.block, b.sub, c.code, {dist2} AS d2, "
            f"row_number() OVER (PARTITION BY b.vec_id, b.block "
            f"ORDER BY {dist2}, c.code) AS rnk "
            f"FROM blocks b JOIN c{i} c ON c.block = b.block) WHERE rnk = 1)"
        )
        if i < PQ_ITERS:
            ctes.append(
                f"c{i + 1} AS (SELECT block, code, list(cv ORDER BY dim) AS c FROM ("
                f"SELECT block, code, dim, {fdiv} AS cv FROM ("
                f"SELECT block, code, unnest(generate_series(1, len(sub))) AS dim, "
                f"unnest(sub) AS x FROM a{i + 1}) GROUP BY block, code, dim"
                f") GROUP BY block, code)"
            )
    return ",\n".join(ctes), f"a{PQ_ITERS + 1}", f"c{PQ_ITERS}"


def _oracle_pq() -> str:
    ctes, final, _ = pq_oracle_ctes()
    return (
        f"WITH {ctes}\nSELECT block, code, count(*) AS n_vecs, "
        f"CAST(sum(d2) AS BIGINT) AS inertia FROM {final} GROUP BY block, code"
    )


def ml_pq_encode_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(block, code) code population of the WHOLE corpus encoded
    through pq_encode's RELATION face (force="relation") — the
    value-oracled gate twin of the round-14 PQ dispatch, mirroring the
    dedup_semantic_cells_rel / sim_ivf_kmeans_ann_rel pattern for the
    coarse quantizer: the scale-safe face (the one a production 8-bit
    codebook actually encodes through, past PQ_LITERAL_CEILING) is
    hash-gated against DuckDB every round, not just pytest-pinned. The
    oracle is the trained-codebook argmin (pq_oracle_ctes' final
    assignment), so equality here proves the broadcast equi-join encode
    bit-equal to the batch trainer's assignment semantics."""
    q = quantized_vectors(spark, sf_dir)
    cb = pq_codebook_rows(spark, sf_dir)
    enc = pq_encode(q, cb, ["vec_id"], force="relation")
    return (
        enc.select(F.posexplode("codes").alias("block", "code"))
        .groupBy("block", "code")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def _oracle_pq_encode() -> str:
    ctes, final, _ = pq_oracle_ctes()
    return (
        f"WITH {ctes}\nSELECT CAST(block AS INT) AS block, "
        f"CAST(code AS INT) AS code, count(*) AS n_vecs "
        f"FROM {final} GROUP BY block, code"
    )


PQ_LUT_GATE_QUERIES = 20  # bounded query set for the LUT gate face


def ml_pq_lut_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dense per-query ADC lookup table built through pq_query_lut's
    RELATION face, flattened to (vec_id, block, code, d2) rows — the
    value-oracled gate twin of the round-14 LUT dispatch (the serve-side
    half; ml_pq_encode_rel gates the ingest-side half). The oracle
    recomputes every (query, block, code) distance against the trained
    codebook with dead slots coalesced to the stored DEAD_CODE_D2
    constant, so equality pins the map_from_entries + densify pipeline
    bit-exact — including the padding layout the serve-side ADC indexes
    into."""
    q = quantized_vectors(spark, sf_dir).filter(
        F.col("vec_id") < PQ_LUT_GATE_QUERIES
    )
    cb = pq_codebook_rows(spark, sf_dir)
    lut = pq_query_lut(
        q, cb, ["vec_id"], force="relation", max_rows=PQ_LUT_GATE_QUERIES
    )
    return lut.select(
        "vec_id", F.posexplode("lut").alias("block", "arr")
    ).select(
        "vec_id", "block", F.posexplode("arr").alias("code", "d2")
    )


def _oracle_pq_lut() -> str:
    ctes, _final, cbook = pq_oracle_ctes()
    d2 = _pq_dist2(dl.DUCK, "b.sub", "g.c")
    return f"""
WITH {ctes},
grid AS (
  SELECT sb.block, sc.code, c.c
  FROM (SELECT unnest(generate_series(0, {PQ_BLOCKS - 1})) AS block) sb
  CROSS JOIN (SELECT unnest(generate_series(0, {PQ_K - 1})) AS code) sc
  LEFT JOIN {cbook} c ON c.block = sb.block AND c.code = sc.code
)
SELECT b.vec_id, CAST(g.block AS INT) AS block, CAST(g.code AS INT) AS code,
  CAST(CASE WHEN g.c IS NULL THEN {DEAD_CODE_D2} ELSE ({d2}) END AS BIGINT) AS d2
FROM blocks b JOIN grid g ON g.block = b.block
WHERE b.vec_id < {PQ_LUT_GATE_QUERIES}
"""


NORMAL_EQ_DIMS = 8  # leading embedding dims used as features


def ml_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of closed-form linear regression: accumulate
    the normal-equation sufficient statistics X'X and X'y over the corpus
    in EXACT fixed-point arithmetic (features = first NORMAL_EQ_DIMS
    quantized embedding dims + intercept, target = label). Emitted in long
    form (i, j, xtx, xty-on-the-diagonal-row carrier): the d(d+1)/2 upper
    triangle + the X'y vector is everything the driver needs for one tiny
    d x d solve — the map-reduce shape every 'fit a linear probe on N
    billion rows' job uses (the solve is O(d^3) driver work, the data pass
    is one agg).

    Products are per-row pair expansions of a d+1-wide array — fan-out is
    C(d+1, 2) + (d+1) per row, constant in corpus size; the single shuffle
    is the (i, j)-keyed hash agg with map-side partials.

    Overflow contract: per-row products are bounded by (8*KMEANS_SCALE)^2
    ≈ 6.7e7, so BIGINT sums hold to ~1.4e11 rows. Beyond that, drop
    KMEANS_SCALE (the fixed-point precision is a free parameter here —
    X'X condition, not value, is what the solve needs) or move the two
    sums to DECIMAL(38,0); the plan shape is unchanged either way."""
    q = quantized_vectors(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    x = q.join(emb.select("vec_id", "label"), "vec_id").select(
        # x0 = intercept at fixed-point 1 so every product stays integer
        F.expr(
            f"concat(array(CAST({KMEANS_SCALE} AS BIGINT)), "
            f"slice(qe, 1, {NORMAL_EQ_DIMS}))"
        ).alias("x"),
        F.col("label").cast("long").alias("y"),
    )
    d1 = NORMAL_EQ_DIMS + 1
    pairs = x.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, {d1}), i -> "
                f"transform(sequence(i, {d1}), j -> struct(i AS i, j AS j, "
                f"element_at(x, i) * element_at(x, j) AS xx, "
                f"CASE WHEN i = j THEN element_at(x, i) * y ELSE CAST(0 AS BIGINT) END AS xy))))"
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.xx", "p.xy")
    return (
        pairs.groupBy("i", "j")
        .agg(F.sum("xx").alias("xtx"), F.sum("xy").alias("xty_diag"))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "xtx",
            "xty_diag",
        )
    )


def _oracle_normal_equations() -> str:
    d = dl.DUCK
    quant = _quant_sql(d, "embedding")
    d1 = NORMAL_EQ_DIMS + 1
    return f"""
WITH x AS (
  SELECT list_prepend(CAST({KMEANS_SCALE} AS BIGINT),
           {dl.arr_slice(d, quant, '1', str(NORMAL_EQ_DIMS))}) AS x,
         CAST(label AS BIGINT) AS y
  FROM embeddings
), pairs AS (
  SELECT i, j,
    list_extract(x, i) * list_extract(x, j) AS xx,
    CASE WHEN i = j THEN list_extract(x, i) * y ELSE CAST(0 AS BIGINT) END AS xy
  FROM x,
    (SELECT unnest(generate_series(1, {d1})) AS i),
    (SELECT unnest(generate_series(1, {d1})) AS j)
  WHERE j >= i
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
  CAST(sum(xx) AS BIGINT) AS xtx, CAST(sum(xy) AS BIGINT) AS xty_diag
FROM pairs GROUP BY i, j
"""


NEG_POOL = 64   # hash-selected shared candidate pool (broadcast)
NEG_K = 5       # negatives per anchor


def ml_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every
    anchor draws NEG_K cross-label negatives from a shared NEG_POOL-row
    hash-selected pool, ranked by the pair hash md5(anchor|cand) — so the
    draw is pseudo-random but retry/engine stable (no rand()), and
    repeated runs build identical training sets.

    Scale shape: the pool is a TakeOrderedAndProject over the corpus
    (tiny, broadcast); per anchor the work is a map-side product with 64
    rows + a per-anchor top-K — no anchor-x-corpus pair blowup. The
    lexicographic order of the md5 hex IS the numeric order of the
    128-bit value, so ranking needs no integer fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    pool = (
        emb.select(
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("cand_label"),
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("|pool"))).alias("pk"),
        )
        .orderBy("pk", "cand_id")
        .limit(NEG_POOL)
        .drop("pk")
    )
    anchors = emb.select(F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label"))
    pairs = (
        anchors.crossJoin(F.broadcast(pool))
        .filter(F.col("cand_label") != F.col("anchor_label"))
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"), F.lit("|"), F.col("cand_id").cast("string")
                )
            ),
        )
    )
    w = W.partitionBy("anchor_id").orderBy("h", "cand_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= NEG_K)
        .select("anchor_id", "anchor_label", "cand_id", "cand_label", F.col("rnk").alias("neg_rank"))
    )


def _oracle_negative_samples() -> str:
    return f"""
WITH pool AS (
  SELECT cand_id, cand_label FROM (
    SELECT vec_id AS cand_id, label AS cand_label,
      md5(CAST(vec_id AS VARCHAR) || '|pool') AS pk
    FROM embeddings ORDER BY pk, cand_id LIMIT {NEG_POOL}
  )
), pairs AS (
  SELECT e.vec_id AS anchor_id, e.label AS anchor_label,
    p.cand_id, p.cand_label,
    md5(CAST(e.vec_id AS VARCHAR) || '|' || CAST(p.cand_id AS VARCHAR)) AS h
  FROM embeddings e, pool p
  WHERE p.cand_label <> e.label
)
SELECT anchor_id, anchor_label, cand_id, cand_label, CAST(rnk AS INT) AS neg_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY h, cand_id) AS rnk
  FROM pairs
) WHERE rnk <= {NEG_K}
"""


PCA_ITERS = 8  # unrolled power-iteration rounds (both engines unroll 8)


def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power iteration
    — the dimensionality-reduction primitive curation pipelines run before
    clustering (SemDeDup reduces embeddings before its k-means). Exactly
    MLlib's RowMatrix.computePrincipalComponents split: the CORPUS pass
    (the Gramian / covariance sufficient statistics) is distributed; the
    D x D eigensolve is driver work on K-row state.

    Distributed pass: per-partition Gramian partials over Arrow batches
    (one exact int64 BLAS matmul per batch — the vectorized Pandas path;
    a per-row C(D+1,2) struct explode was measured 4x slower) into ONE
    (i, j)-keyed hash agg; each partial also carries the per-dim sums on
    diagonal rows and its row count, so a single tiny shuffle
    (#partitions x 2080 rows) produces every sufficient statistic.
    Driver: build C_ij = (n*Sxy - Sx*Sy)/n^2 from the EXACT BIGINT sums
    (2080 rows collected — the MLlib Gramian pattern, justified like the
    k-means centroid collect), run PCA_ITERS normalize(C v) rounds from
    v0 = 1/8, and emit (dim, loading, explained-variance ratio — the
    ITERATE's Rayleigh quotient over the trace; on a flat spectrum, like
    this near-isotropic synthetic corpus, 8 rounds are a partial step
    toward the top eigenvector, and production raises PCA_ITERS or blocks
    to a Lanczos basis — the distributed pass is identical either way).

    Parity: the integer sufficient statistics are bit-equal across
    engines, and both build C with the identical IEEE expression, so C is
    bit-identical; the iteration differs only in summation order (numpy
    dot vs SQL SUM), ~1e-13 relative after 8 rounds — absorbed by the
    4-digit round, which uses floor(|x|*1e4 + 0.5) to mirror DuckDB's
    half-away-from-zero (Python's round() is banker's).

    Overflow contract: n*Sxy and Sx*Sy are exact while < 2^53 (holds to
    ~1e7 vectors at this scale/dim); past that, promote the two sums to
    DECIMAL(38,0) as ml_embedding_dim_variance does — plan unchanged."""
    import math

    import numpy as np

    q = quantized_vectors(spark, sf_dir)
    d1 = EMB_DIM

    # Per-partition Gramian partials via Arrow: each batch computes the
    # EXACT int64 X'X with one BLAS matmul and emits its 2080-row upper
    # triangle — replacing a per-row C(D+1,2) struct explode whose 4M-row
    # generator dominated the query (measured 2.7 s -> ~0.6 s at sf0.1).
    # Associativity is exact (integer partials), so partition layout
    # cannot change the sums. int64 partials hold to ~5e11 rows per
    # PARTITION at this scale/dim — far past real partition sizes.
    def gram_partials(batches):
        import numpy as np
        import pandas as pd

        iu = np.triu_indices(d1)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.int64) for v in pdf["qe"]])
            G = X.T @ X
            s = X.sum(axis=0)
            xi = np.where(iu[0] == iu[1], s[iu[0]], 0)
            yield pd.DataFrame(
                {
                    "i": iu[0] + 1,
                    "j": iu[1] + 1,
                    "xx": G[iu],
                    "xi": xi,
                    "cnt": np.full(len(iu[0]), len(pdf), dtype=np.int64),
                }
            )

    partials = q.mapInPandas(
        gram_partials, "i int, j int, xx bigint, xi bigint, cnt bigint"
    )
    stats = audit_plan(
        "pca_gram_stats",
        partials.groupBy("i", "j").agg(
            F.sum("xx").alias("sxy"),
            F.sum("xi").alias("sx"),
            F.sum("cnt").alias("n"),
        ),
    ).collect()  # 2080-row sufficient-statistic collect (driver eigensolve state)
    nf = float(stats[0]["n"])
    sx = {r["i"]: float(r["sx"]) for r in stats if r["i"] == r["j"]}
    C = np.zeros((d1, d1))
    for r in stats:
        c = (float(r["sxy"]) * nf - sx[r["i"]] * sx[r["j"]]) / (nf * nf)
        C[r["i"] - 1, r["j"] - 1] = c
        C[r["j"] - 1, r["i"] - 1] = c
    v = np.full(d1, 0.125)
    for _ in range(PCA_ITERS):
        w = C @ v
        v = w / math.sqrt(float(np.dot(w, w)))
    lam = float(v @ (C @ v))
    evr = lam / float(np.trace(C))

    def r4(x: float) -> float:
        return math.copysign(math.floor(abs(x) * 1e4 + 0.5), x) / 1e4

    rows = [(i + 1, r4(float(v[i])), r4(evr)) for i in range(d1)]
    return driver_rows_df(
        spark, rows, "dim int, loading double, explained_var_ratio double"
    )


def _oracle_pca() -> str:
    d = dl.DUCK
    quant = _quant_sql(d, "embedding")
    ctes = [
        f"q AS MATERIALIZED (SELECT vec_id, {quant} AS x FROM embeddings)",
        """cells AS MATERIALIZED (
  SELECT ti.i AS i, tj.j AS j,
    sum(list_extract(x, ti.i) * list_extract(x, tj.j)) AS sxy,
    sum(CASE WHEN ti.i = tj.j THEN list_extract(x, ti.i) ELSE 0 END) AS sx_d,
    count(*) AS n
  FROM q, generate_series(1, 64) ti(i), generate_series(1, 64) tj(j)
  GROUP BY 1, 2
)""",
        "sx AS MATERIALIZED (SELECT i, sx_d AS sx FROM cells WHERE i = j)",
        """cov AS MATERIALIZED (
  SELECT c.i, c.j,
    (CAST(c.sxy AS DOUBLE) * c.n - CAST(a.sx AS DOUBLE) * CAST(b.sx AS DOUBLE))
      / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)) AS val
  FROM cells c JOIN sx a ON a.i = c.i JOIN sx b ON b.i = c.j
)""",
        "v0 AS MATERIALIZED (SELECT i, CAST(0.125 AS DOUBLE) AS val FROM generate_series(1, 64) t(i))",
    ]
    for k in range(1, PCA_ITERS + 1):
        ctes.append(
            f"w{k} AS MATERIALIZED (SELECT c.i, sum(c.val * v.val) AS val "
            f"FROM cov c JOIN v{k - 1} v ON v.i = c.j GROUP BY c.i)"
        )
        ctes.append(
            f"v{k} AS MATERIALIZED (SELECT i, val / (SELECT sqrt(sum(val * val)) FROM w{k}) "
            f"AS val FROM w{k})"
        )
    last = f"v{PCA_ITERS}"
    ctes.append(
        f"wf AS MATERIALIZED (SELECT c.i, sum(c.val * v.val) AS val "
        f"FROM cov c JOIN {last} v ON v.i = c.j GROUP BY c.i)"
    )
    ctes.append(
        f"lam AS MATERIALIZED (SELECT sum(w.val * v.val) AS l FROM wf w JOIN {last} v USING (i))"
    )
    ctes.append("tr AS MATERIALIZED (SELECT sum(val) AS t FROM cov WHERE i = j)")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT CAST(v.i AS INT) AS dim, round(v.val, 4) AS loading,
  round((SELECT l FROM lam) / (SELECT t FROM tr), 4) AS explained_var_ratio
FROM {last} v
"""


# ------------------------------------------------------ logistic regression
LOGREG_ITERS = 3          # unrolled Newton (IRLS) steps from beta = 0
LOGREG_SCALE = 10**9      # fixed-point quantization of per-row contributions
LOGREG_EPS = "1e-12"      # probability clamp for the log-loss readout


def _logreg_sql() -> str:
    """ONE portable SQL string both engines run VERBATIM (the sql_battery
    parity pattern — no dialect split at all): logistic regression of
    'event is a purchase' on (intercept, value, hour-of-day), trained by
    LOGREG_ITERS unrolled Newton/IRLS steps entirely inside the engine.

    Determinism (the ml.py fixed-point discipline): each row's gradient
    and Hessian contributions are computed in double from EXACT inputs
    (cents BIGINT / 1e4, hour / 24, beta carried exactly from the
    previous step), then floor-quantized to BIGINT at LOGREG_SCALE
    BEFORE the sum — so the aggregation is order-independent and
    bit-equal across engines and partitionings (a raw double sum would
    drift in the last ulp per partitioning). exp/ln on identical doubles
    are engine-identical here (the textstats_zipf_fit / events_survival_km
    transcendental-parity precedent). The Newton step solves the 3x3
    system by Cramer's rule — closed-form doubles from the exact sums.
    Quantized sums stay inside BIGINT to ~9e9 rows x |contribution|<=1;
    past that, promote to DECIMAL(38,0) (repo convention).

    Scale: each iteration is ONE corpus scan aggregated map-side to 10
    integers (n, 3 gradient, 6 Hessian entries) against a 1-row beta
    broadcast — the sufficient-statistic pattern shared with
    ml_normal_equations/PCA; iterations are a fixed constant."""
    s = LOGREG_SCALE
    q = lambda expr: f"CAST(floor(({expr}) * {s}) AS BIGINT)"  # noqa: E731
    xs = {"0": "1.0", "1": "x1", "2": "x2"}
    ctes = [
        """feat AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
    CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) / 10000.0 AS x1,
    CAST(hour(ts) AS DOUBLE) / 24.0 AS x2
  FROM events
)""",
        "it0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1, CAST(0.0 AS DOUBLE) AS b2)",
    ]
    for k in range(1, LOGREG_ITERS + 1):
        gsums = ", ".join(
            f"sum({q(f'(y - p) * {xs[j]}')}) AS qg{j}" for j in xs
        )
        hsums = ", ".join(
            f"sum({q(f'p * (1.0 - p) * {xs[j]} * {xs[jj]}')}) AS qh{j}{jj}"
            for j in xs
            for jj in xs
            if j <= jj
        )
        ctes.append(
            f"""p{k} AS (
  SELECT f.y AS y, f.x1 AS x1, f.x2 AS x2,
    1.0 / (1.0 + exp(-(b.b0 + b.b1 * f.x1 + b.b2 * f.x2))) AS p,
    b.b0 AS b0, b.b1 AS b1, b.b2 AS b2
  FROM feat f CROSS JOIN it{k - 1} b
), a{k} AS (
  SELECT count(*) AS n, min(b0) AS b0, min(b1) AS b1, min(b2) AS b2,
    {gsums},
    {hsums}
  FROM p{k}
), it{k} AS (
  SELECT b0 + CASE WHEN det = 0.0 THEN 0.0 ELSE
      (g0*(h11*h22 - h12*h12) - h01*(g1*h22 - h12*g2) + h02*(g1*h12 - h11*g2)) / det END AS b0,
    b1 + CASE WHEN det = 0.0 THEN 0.0 ELSE
      (h00*(g1*h22 - h12*g2) - g0*(h01*h22 - h12*h02) + h02*(h01*g2 - g1*h02)) / det END AS b1,
    b2 + CASE WHEN det = 0.0 THEN 0.0 ELSE
      (h00*(h11*g2 - g1*h12) - h01*(h01*g2 - g1*h02) + g0*(h01*h12 - h11*h02)) / det END AS b2
  FROM (
    SELECT b0, b1, b2, g0, g1, g2, h00, h01, h02, h11, h12, h22,
      h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02) + h02*(h01*h12 - h11*h02) AS det
    FROM (
      SELECT b0, b1, b2,
        CAST(qg0 AS DOUBLE) / {s} AS g0, CAST(qg1 AS DOUBLE) / {s} AS g1,
        CAST(qg2 AS DOUBLE) / {s} AS g2,
        CAST(qh00 AS DOUBLE) / {s} AS h00, CAST(qh01 AS DOUBLE) / {s} AS h01,
        CAST(qh02 AS DOUBLE) / {s} AS h02, CAST(qh11 AS DOUBLE) / {s} AS h11,
        CAST(qh12 AS DOUBLE) / {s} AS h12, CAST(qh22 AS DOUBLE) / {s} AS h22
      FROM a{k}
    )
  )
)"""
        )
    kf = LOGREG_ITERS
    eps = LOGREG_EPS
    return f"""
WITH {', '.join(ctes)},
final_p AS (
  SELECT f.y AS y,
    greatest({eps}, least(1.0 - {eps},
      1.0 / (1.0 + exp(-(b.b0 + b.b1 * f.x1 + b.b2 * f.x2))))) AS p
  FROM feat f CROSS JOIN it{kf} b
), loss AS (
  SELECT count(*) AS n_rows,
    sum(CAST(floor((-(y * ln(p) + (1.0 - y) * ln(1.0 - p))) * {s}) AS BIGINT)) AS ql
  FROM final_p
)
SELECT CAST(l.n_rows AS BIGINT) AS n_rows,
  round(b.b0, 6) AS b_intercept,
  round(b.b1, 6) AS b_value,
  round(b.b2, 6) AS b_hour,
  round(CAST(l.ql AS DOUBLE) / {s} / l.n_rows, 6) AS mean_log_loss
FROM it{kf} b CROSS JOIN loss l
"""


# ---------------------------------------------------------------- naive bayes
NB_SCALE = 1_000_000  # fixed-point scale for log-probabilities
NB_FOLD = 5           # doc_id % NB_FOLD == 0 is the held-out test fold


def _nb_sql(d: str) -> str:
    """Multinomial Naive Bayes language classifier, trained and evaluated
    IN-ENGINE as one SQL plan (the ml_logreg_irls pattern: a single
    dual-dialect string both engines run):

    - hash split: doc_id % 5 != 0 trains, == 0 tests (the sampling.py
      retry-stable split convention);
    - training is pure aggregation: per-(lang, token) counts, per-lang
      token totals, vocabulary size, doc-count priors;
    - the model is the SMOOTHED (lang x vocabulary) grid — Laplace +1 —
      held as a dimension-sized relation (the cross join is |vocab| x
      |langs|, broadcast scale, whitelisted);
    - log-probabilities are FLOOR-QUANTIZED to 1e-6 fixed point
      (CAST(round(ln(...) * 1e6) AS BIGINT)), so per-doc score sums are
      INTEGER — summation order cannot change the argmax, the same
      determinism trick as the IRLS gradient;
    - scoring joins test tokens to the grid (test-only OOV tokens drop
      out — the standard multinomial-NB convention; docs with zero
      in-vocabulary tokens are excluded, deterministically, both
      engines); argmax has a lang tie-break;
    - readout = the confusion matrix (actual x predicted counts), the
      eval artifact a language-ID training run logs.

    100 TB: one token explode scan feeds the training aggs (all keyed,
    map-side combinable); the model grid broadcasts; scoring is
    token-join + doc-keyed agg. Generalizes textstats_langid's
    hand-written marker heuristic to a LEARNED classifier with the same
    oracle-exact contract."""
    toks = f"""
  SELECT doc_id, lang, {dl.unnest(d, dl.split_ws(d, "text"))} AS token
  FROM documents
"""
    return f"""
WITH toks AS ({toks}),
train AS (SELECT * FROM toks WHERE doc_id % {NB_FOLD} <> 0),
vocab AS (SELECT DISTINCT token FROM train),
vstats AS (SELECT count(*) AS v FROM vocab),
langs AS (SELECT DISTINCT lang FROM train),
ltot AS (SELECT lang, count(*) AS nl FROM train GROUP BY lang),
cnts AS (SELECT lang, token, count(*) AS c FROM train GROUP BY lang, token),
grid AS (
  SELECT l.lang, v.token, coalesce(c.c, 0) AS c
  FROM langs l CROSS JOIN vocab v
  LEFT JOIN cnts c ON c.lang = l.lang AND c.token = v.token
),
lp AS (
  SELECT g.lang, g.token,
    CAST(round(ln((g.c + 1.0) / CAST(t.nl + s.v AS DOUBLE)) * {NB_SCALE}) AS BIGINT) AS lq
  FROM grid g JOIN ltot t ON t.lang = g.lang CROSS JOIN vstats s
),
dcounts AS (
  SELECT lang, count(DISTINCT doc_id) AS dn FROM train GROUP BY lang
),
dtotal AS (SELECT count(DISTINCT doc_id) AS total FROM train),
priors AS (
  SELECT dc.lang,
    CAST(round(ln(CAST(dc.dn AS DOUBLE) / CAST(dt.total AS DOUBLE)) * {NB_SCALE}) AS BIGINT) AS lprior
  FROM dcounts dc CROSS JOIN dtotal dt
),
test AS (SELECT * FROM toks WHERE doc_id % {NB_FOLD} = 0),
scored AS (
  SELECT te.doc_id, te.lang AS actual, lp.lang AS cand, sum(lp.lq) AS s
  FROM test te JOIN lp ON lp.token = te.token
  GROUP BY te.doc_id, te.lang, lp.lang
),
tot AS (
  SELECT sc.doc_id, sc.actual, sc.cand, sc.s + p.lprior AS score
  FROM scored sc JOIN priors p ON p.lang = sc.cand
),
pred AS (
  SELECT doc_id, actual, cand AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY score DESC, cand ASC) AS rn
    FROM tot
  ) ranked WHERE rn = 1
)
SELECT actual AS actual_lang, pred AS pred_lang, count(*) AS n
FROM pred GROUP BY actual, pred ORDER BY actual, pred
"""


def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (§2.4): the dual-dialect SQL string stays the ORACLE form, but
    # running it verbatim in Spark inlined every CTE — the executed plan
    # held SIXTEEN documents scans / 40 Exchange nodes (train re-exploded
    # for vocab, langs, ltot, cnts, dcounts, dtotal...). The Spark side
    # now pins the (lang, token, c) training cells ONCE (vocabulary x
    # langs — value-domain-bounded, the §8 decide-on-small-rows
    # discipline) and derives vocab/langs/ltot/the smoothed grid from the
    # pinned relation; |V| is collected as an exact-integer scalar (no
    # float crosses the driver). Three token explodes per execution
    # (cells, priors, test scoring) instead of sixteen. Every expression
    # keeps the SQL form's exact shape (same ln/round/quantization on the
    # same exact integers); the DuckDB oracle is unchanged and the gate
    # hash-matches the restructure.
    from .dedup import tokenized_docs_staging

    toks = tokenized_docs_staging(spark, sf_dir).select(
        "doc_id", "lang", F.explode("toks").alias("token")
    )
    train = toks.filter(F.col("doc_id") % NB_FOLD != 0)
    cells = audit_plan(
        "nb_cells",
        train.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c")),
    ).localCheckpoint(eager=False)
    # |V| — exact BIGINT, safe to inject as a literal (no libm at the
    # driver; the ln below still runs in-engine on identical integers)
    v = cells.select("token").distinct().count()
    langs = cells.select("lang").distinct()
    vocab = cells.select("token").distinct()
    ltot = cells.groupBy("lang").agg(F.sum("c").alias("nl"))
    grid = (
        langs.crossJoin(vocab)
        .join(cells, ["lang", "token"], "left")
        .select("lang", "token", F.coalesce("c", F.lit(0)).alias("c"))
    )
    lp = grid.join(F.broadcast(ltot), "lang").select(
        "lang",
        "token",
        F.expr(
            f"CAST(round(ln((c + 1.0) / CAST(nl + {v} AS DOUBLE)) * {NB_SCALE}) AS BIGINT)"
        ).alias("lq"),
    )
    # per-lang distinct train-doc counts: langs-bounded scalar collect
    # (the markov/kcore discipline); doc->lang is functional, so the
    # per-lang distinct counts sum to the SQL form's count(DISTINCT
    # doc_id) total. Exact integers cross the driver; the ln runs
    # in-engine on them, same as the SQL form.
    dd_rows = sorted(
        (r["lang"], int(r["dn"]))
        for r in train.select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("dn"))
        .collect()
    )
    total = sum(dn for _, dn in dd_rows)
    priors = driver_rows_df(
        spark,
        [(lang, dn, total) for lang, dn in dd_rows],
        "lang string, dn bigint, total bigint",
    ).selectExpr(
        "lang",
        f"CAST(round(ln(CAST(dn AS DOUBLE) / CAST(total AS DOUBLE)) * {NB_SCALE})"
        " AS BIGINT) AS lprior",
    )
    test = toks.filter(F.col("doc_id") % NB_FOLD == 0)
    scored = (
        test.join(
            F.broadcast(lp.select(F.col("lang").alias("cand"), "token", "lq")),
            "token",
        )
        .groupBy(F.col("doc_id"), F.col("lang").alias("actual"), F.col("cand"))
        .agg(F.sum("lq").alias("s"))
    )
    tot = scored.join(
        F.broadcast(priors.select(F.col("lang").alias("cand"), "lprior")), "cand"
    ).select("doc_id", "actual", "cand", (F.col("s") + F.col("lprior")).alias("score"))
    pred = (
        tot.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "actual", F.col("cand").alias("pred"))
    )
    return (
        pred.groupBy(F.col("actual").alias("actual_lang"), F.col("pred").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actual_lang", "pred_lang")
    )


ml_naive_bayes_lang.__doc__ = _nb_sql.__doc__


def ml_logreg_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_table_view(spark, sf_dir, "events")
    return spark.sql(_logreg_sql())


ml_logreg_irls.__doc__ = _logreg_sql.__doc__


# ---------------------------------------------------------------- stumps
STUMP_DIMS = 8        # first D dims scanned for the best axis-aligned split
STUMP_BIN_SCALE = 128  # bin = floor(x * scale): ~94 bins over the obs range
STUMP_Q = 10 ** 9      # impurity quantization (1e-9 fixed point)


def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best axis-aligned decision stump per embedding dimension: for each
    of the first STUMP_DIMS dims, the binned threshold minimizing the
    Gini impurity of the induced 2-way split of the 10-class label — the
    split-finding inner loop of every distributed tree learner
    (XGBoost/LightGBM histogram method: bin, accumulate class histograms,
    scan prefix sums), exposed as the single-split readout.

    Split scan in exact integers: per (dim, bin, label) counts roll into
    per-label prefix sums over a DENSE (dim-bins x labels) grid (a
    per-label cum is needed at EVERY candidate bin, present or not);
    weighted Gini n_L*(1-sum(c/n_L)^2) + n_R*(...) reduces to
    (nL - sL2/nL) + (nR - sR2/nR) over integer sums-of-squares, computed
    with the identical double op shape in both engines and quantized to
    1e-9 before the per-dim argmin window (rank on quantized value, bin
    tie-break — the _quant_cos convention). Exactness bound: sum(cum^2)
    stays in BIGINT to ~3e9 rows per class; past that the production
    form subsamples per-worker histograms (the LightGBM approach).

    Scale: one (dim, label, bin) hash agg — cardinality D x L x bins,
    NEVER data-sized; the grid join, prefix windows (partitioned by dim),
    and argmin all run on that bounded grain. The explode is map-side
    xD fan-out with full partial aggregation before the shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    binned = emb.select(
        "label",
        F.posexplode(F.expr(f"slice(embedding, 1, {STUMP_DIMS})")).alias("dim", "x"),
    ).select(
        "dim",
        "label",
        F.expr(f"CAST(floor(x * {STUMP_BIN_SCALE}) AS BIGINT)").alias("bin"),
    )
    counts = binned.groupBy("dim", "label", "bin").agg(F.count(F.lit(1)).alias("c"))
    bins_d = counts.select("dim", "bin").distinct()
    lab_tot = counts.groupBy("dim", "label").agg(F.sum("c").alias("tot"))
    grid = bins_d.join(lab_tot, "dim").join(
        counts, ["dim", "label", "bin"], "left"
    ).select("dim", "label", "bin", "tot", F.coalesce("c", F.lit(0)).alias("c"))
    cum = grid.withColumn(
        "cum", F.sum("c").over(W.partitionBy("dim", "label").orderBy("bin"))
    )
    per_bin = cum.groupBy("dim", "bin").agg(
        F.sum("cum").alias("nl"),
        F.sum(F.col("cum") * F.col("cum")).alias("sl2"),
        F.sum((F.col("tot") - F.col("cum")) * (F.col("tot") - F.col("cum"))).alias(
            "sr2"
        ),
        F.sum("tot").alias("n"),
    )
    imp = (
        f"CAST(round(((nl - sl2 / nl + (n - nl) - sr2 / (n - nl)) / n) "
        f"* {STUMP_Q}) AS BIGINT)"
    )
    cand = per_bin.filter((F.col("nl") > 0) & (F.col("nl") < F.col("n"))).withColumn(
        "imp_q", F.expr(imp)
    )
    best = cand.withColumn(
        "rn", F.row_number().over(W.partitionBy("dim").orderBy("imp_q", "bin"))
    ).filter(F.col("rn") == 1)
    gb = lab_tot.groupBy("dim").agg(
        F.expr(
            f"CAST(round((1.0 - sum(tot * tot) / (CAST(sum(tot) AS DOUBLE) "
            f"* sum(tot))) * {STUMP_Q}) AS BIGINT)"
        ).alias("gb_q")
    )
    return (
        best.join(gb, "dim")
        .select(
            "dim",
            F.col("bin").alias("split_bin"),
            F.expr(f"CAST(bin + 1 AS DOUBLE) / {STUMP_BIN_SCALE}").alias("threshold"),
            F.col("nl").alias("n_left"),
            (F.col("n") - F.col("nl")).alias("n_right"),
            (F.col("gb_q") / F.lit(float(STUMP_Q))).alias("gini_before"),
            (F.col("imp_q") / F.lit(float(STUMP_Q))).alias("gini_after"),
            ((F.col("gb_q") - F.col("imp_q")) / F.lit(float(STUMP_Q))).alias("gain"),
        )
        .orderBy("dim")
    )


def _oracle_stump() -> str:
    return f"""
WITH binned AS (
  SELECT dim, label, CAST(floor(x * {STUMP_BIN_SCALE}) AS BIGINT) AS bin
  FROM (
    SELECT label,
      CAST(unnest(generate_series(0, {STUMP_DIMS - 1})) AS INT) AS dim,
      unnest(embedding[1:{STUMP_DIMS}]) AS x
    FROM embeddings
  )
), counts AS (
  SELECT dim, label, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3
), bins_d AS (
  SELECT DISTINCT dim, bin FROM counts
), lab_tot AS (
  SELECT dim, label, sum(c) AS tot FROM counts GROUP BY 1, 2
), grid AS (
  SELECT b.dim, l.label, b.bin, l.tot, coalesce(c.c, 0) AS c
  FROM bins_d b
  JOIN lab_tot l ON l.dim = b.dim
  LEFT JOIN counts c ON c.dim = b.dim AND c.label = l.label AND c.bin = b.bin
), cum AS (
  SELECT dim, label, bin, tot, c,
    sum(c) OVER (PARTITION BY dim, label ORDER BY bin) AS cum
  FROM grid
), per_bin AS (
  SELECT dim, bin, sum(cum) AS nl, sum(cum * cum) AS sl2,
    sum((tot - cum) * (tot - cum)) AS sr2, sum(tot) AS n
  FROM cum GROUP BY 1, 2
), cand AS (
  SELECT *, CAST(round(((nl - sl2 / nl + (n - nl) - sr2 / (n - nl)) / n)
    * {STUMP_Q}) AS BIGINT) AS imp_q
  FROM per_bin WHERE nl > 0 AND nl < n
), best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY dim ORDER BY imp_q, bin) AS rn
    FROM cand
  ) WHERE rn = 1
), gb AS (
  SELECT dim, CAST(round((1.0 - sum(tot * tot) / (CAST(sum(tot) AS DOUBLE)
    * sum(tot))) * {STUMP_Q}) AS BIGINT) AS gb_q
  FROM lab_tot GROUP BY 1
)
SELECT b.dim, b.bin AS split_bin,
  CAST(b.bin + 1 AS DOUBLE) / {STUMP_BIN_SCALE} AS threshold,
  CAST(b.nl AS BIGINT) AS n_left, CAST(b.n - b.nl AS BIGINT) AS n_right,
  CAST(g.gb_q AS DOUBLE) / {STUMP_Q} AS gini_before,
  CAST(b.imp_q AS DOUBLE) / {STUMP_Q} AS gini_after,
  CAST(g.gb_q - b.imp_q AS DOUBLE) / {STUMP_Q} AS gain
FROM best b JOIN gb g ON g.dim = b.dim
ORDER BY b.dim
"""


CV_FOLDS = 5  # k-fold split for the cross-validated stump


def ml_stump_cv_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated stump selection — the model-selection loop
    on top of ml_decision_stump's histogram scan: vectors hash (md5)
    into CV_FOLDS folds; for each fold the best (dim, bin) split is
    chosen on the TRAIN folds only and its Gini gain re-measured on the
    HELD-OUT fold. train_gain - test_gain is the overfitting gap the
    validation protocol exists to expose.

    The trick that keeps this one pass: per-(fold, dim, label, bin)
    prefix sums over the SHARED dense bin grid mean the train-side
    histogram for fold f is just (sum over folds) - (fold f) — total
    and per-fold cums come from the same agg, so CV costs one extra
    grouping column, not K re-scans (the histogram-subtraction trick
    distributed GBDT trainers use for sibling nodes). Empty split
    sides contribute zero impurity by the CASE convention, identically
    in both engines; impurities are quantized to 1e-9 before the
    per-fold argmin (rank on quantized value, dim/bin tie-break — the
    _quant_cos convention).

    Scale: everything runs on the (folds x dims x bins x labels) grid —
    bounded by constants and never data-sized; the raw scan feeds one
    hash agg with map-side partials."""
    # fan_out_small (r14): the xSTUMP_DIMS posexplode + binning + partial
    # agg ran as ONE task on the single-row-group fixture.
    emb = fan_out_small(load_table(spark, sf_dir, "embeddings"), spark)
    fold = (
        f"pmod({dl.hex_prefix_uint(dl.SPARK, 'md5(CAST(vec_id AS STRING))', 8)},"
        f" {CV_FOLDS})"
    )
    binned = emb.select(
        F.expr(fold).alias("fold"),
        "label",
        F.posexplode(F.expr(f"slice(embedding, 1, {STUMP_DIMS})")).alias("dim", "x"),
    ).select(
        "fold",
        "dim",
        "label",
        F.expr(f"CAST(floor(x * {STUMP_BIN_SCALE}) AS BIGINT)").alias("bin"),
    )
    # lazy localCheckpoints (r14): counts has THREE consumers (bins_d,
    # lab_tot_f, the grid join) and cum two (tot_all, both) — without the
    # pins the embeddings scan + histogram agg re-execute per consumer.
    # Both relations are (folds x dims x bins x labels)-bounded.
    counts = (
        binned.groupBy("fold", "dim", "label", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    bins_d = counts.select("dim", "bin").distinct()
    lab_tot_f = counts.groupBy("fold", "dim", "label").agg(F.sum("c").alias("tot"))
    grid = (
        bins_d.join(lab_tot_f, "dim")
        .join(counts, ["fold", "dim", "label", "bin"], "left")
        .select(
            "fold", "dim", "label", "bin", "tot",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    cum = grid.withColumn(
        "cum",
        F.sum("c").over(W.partitionBy("fold", "dim", "label").orderBy("bin")),
    ).localCheckpoint(eager=False)
    tot_all = cum.groupBy("dim", "label", "bin").agg(
        F.sum("cum").alias("cum_all"), F.sum("tot").alias("tot_all")
    )
    both = cum.join(tot_all, ["dim", "label", "bin"]).select(
        "fold",
        "dim",
        "bin",
        F.col("cum").alias("te_cum"),
        F.col("tot").alias("te_tot"),
        (F.col("cum_all") - F.col("cum")).alias("tr_cum"),
        (F.col("tot_all") - F.col("tot")).alias("tr_tot"),
    )
    per_bin = both.groupBy("fold", "dim", "bin").agg(
        F.sum("tr_cum").alias("tr_nl"),
        F.sum(F.col("tr_cum") * F.col("tr_cum")).alias("tr_sl2"),
        F.sum(
            (F.col("tr_tot") - F.col("tr_cum")) * (F.col("tr_tot") - F.col("tr_cum"))
        ).alias("tr_sr2"),
        F.sum("tr_tot").alias("tr_n"),
        F.sum("te_cum").alias("te_nl"),
        F.sum(F.col("te_cum") * F.col("te_cum")).alias("te_sl2"),
        F.sum(
            (F.col("te_tot") - F.col("te_cum")) * (F.col("te_tot") - F.col("te_cum"))
        ).alias("te_sr2"),
        F.sum("te_tot").alias("te_n"),
    )

    def imp(pfx: str) -> str:
        nl, sl2, sr2, n = (f"{pfx}_nl", f"{pfx}_sl2", f"{pfx}_sr2", f"{pfx}_n")
        left = f"CASE WHEN {nl} = 0 THEN 0.0 ELSE {nl} - {sl2} / {nl} END"
        right = (
            f"CASE WHEN {n} - {nl} = 0 THEN 0.0 "
            f"ELSE ({n} - {nl}) - {sr2} / ({n} - {nl}) END"
        )
        return f"((({left}) + ({right})) / {n})"

    cand = per_bin.filter(
        (F.col("tr_nl") > 0) & (F.col("tr_nl") < F.col("tr_n"))
    ).withColumn(
        "tr_imp_q", F.expr(f"CAST(round({imp('tr')} * {STUMP_Q}) AS BIGINT)")
    ).withColumn(
        "te_imp_q", F.expr(f"CAST(round({imp('te')} * {STUMP_Q}) AS BIGINT)")
    )
    best = cand.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("fold").orderBy("tr_imp_q", "dim", "bin")
        ),
    ).filter(F.col("rn") == 1)
    gb = lab_tot_f.groupBy("fold", "dim").agg(
        F.expr(
            f"CAST(round((1.0 - sum(tot * tot) / (CAST(sum(tot) AS DOUBLE) "
            f"* sum(tot))) * {STUMP_Q}) AS BIGINT)"
        ).alias("te_gb_q")
    )
    # train gini-before per (fold, dim): totals minus the fold
    tot_dl = lab_tot_f.groupBy("dim", "label").agg(F.sum("tot").alias("tot_all"))
    gb_tr = (
        lab_tot_f.join(tot_dl, ["dim", "label"])
        .select("fold", "dim", "label", (F.col("tot_all") - F.col("tot")).alias("t"))
        .groupBy("fold", "dim")
        .agg(
            F.expr(
                f"CAST(round((1.0 - sum(t * t) / (CAST(sum(t) AS DOUBLE) "
                f"* sum(t))) * {STUMP_Q}) AS BIGINT)"
            ).alias("tr_gb_q")
        )
    )
    q = float(STUMP_Q)
    return (
        best.join(gb, ["fold", "dim"])
        .join(gb_tr, ["fold", "dim"])
        .select(
            "fold",
            "dim",
            F.col("bin").alias("split_bin"),
            F.col("tr_n").alias("n_train"),
            F.col("te_n").alias("n_test"),
            ((F.col("tr_gb_q") - F.col("tr_imp_q")) / F.lit(q)).alias("train_gain"),
            ((F.col("te_gb_q") - F.col("te_imp_q")) / F.lit(q)).alias("test_gain"),
            (
                ((F.col("tr_gb_q") - F.col("tr_imp_q"))
                 - (F.col("te_gb_q") - F.col("te_imp_q"))) / F.lit(q)
            ).alias("overfit_gap"),
        )
        .orderBy("fold")
    )


def _oracle_stump_cv() -> str:
    d = dl.DUCK
    fold = f"({dl.hex_prefix_uint(d, 'md5(CAST(vec_id AS VARCHAR))', 8)}) % {CV_FOLDS}"

    def imp(pfx: str) -> str:
        nl, sl2, sr2, n = (f"{pfx}_nl", f"{pfx}_sl2", f"{pfx}_sr2", f"{pfx}_n")
        left = f"CASE WHEN {nl} = 0 THEN 0.0 ELSE {nl} - {sl2} / {nl} END"
        right = (
            f"CASE WHEN {n} - {nl} = 0 THEN 0.0 "
            f"ELSE ({n} - {nl}) - {sr2} / ({n} - {nl}) END"
        )
        return f"((({left}) + ({right})) / {n})"

    return f"""
WITH binned AS (
  SELECT {fold} AS fold, label, dim,
    CAST(floor(x * {STUMP_BIN_SCALE}) AS BIGINT) AS bin
  FROM (
    SELECT vec_id, label,
      CAST(unnest(generate_series(0, {STUMP_DIMS - 1})) AS INT) AS dim,
      unnest(embedding[1:{STUMP_DIMS}]) AS x
    FROM embeddings
  )
), counts AS (
  SELECT fold, dim, label, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3, 4
), bins_d AS (
  SELECT DISTINCT dim, bin FROM counts
), lab_tot_f AS (
  SELECT fold, dim, label, CAST(sum(c) AS BIGINT) AS tot
  FROM counts GROUP BY 1, 2, 3
), grid AS (
  SELECT l.fold, b.dim, l.label, b.bin, l.tot, coalesce(c.c, 0) AS c
  FROM bins_d b
  JOIN lab_tot_f l ON l.dim = b.dim
  LEFT JOIN counts c
    ON c.fold = l.fold AND c.dim = b.dim AND c.label = l.label AND c.bin = b.bin
), cum AS (
  SELECT fold, dim, label, bin, tot,
    CAST(sum(c) OVER (PARTITION BY fold, dim, label ORDER BY bin
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM grid
), tot_all AS (
  SELECT dim, label, bin,
    CAST(sum(cum) AS BIGINT) AS cum_all, CAST(sum(tot) AS BIGINT) AS tot_all
  FROM cum GROUP BY 1, 2, 3
), sides AS (
  SELECT c.fold, c.dim, c.bin,
    c.cum AS te_cum, c.tot AS te_tot,
    t.cum_all - c.cum AS tr_cum, t.tot_all - c.tot AS tr_tot
  FROM cum c JOIN tot_all t
    ON t.dim = c.dim AND t.label = c.label AND t.bin = c.bin
), per_bin AS (
  SELECT fold, dim, bin,
    CAST(sum(tr_cum) AS BIGINT) AS tr_nl,
    CAST(sum(tr_cum * tr_cum) AS BIGINT) AS tr_sl2,
    CAST(sum((tr_tot - tr_cum) * (tr_tot - tr_cum)) AS BIGINT) AS tr_sr2,
    CAST(sum(tr_tot) AS BIGINT) AS tr_n,
    CAST(sum(te_cum) AS BIGINT) AS te_nl,
    CAST(sum(te_cum * te_cum) AS BIGINT) AS te_sl2,
    CAST(sum((te_tot - te_cum) * (te_tot - te_cum)) AS BIGINT) AS te_sr2,
    CAST(sum(te_tot) AS BIGINT) AS te_n
  FROM sides GROUP BY 1, 2, 3
), cand AS (
  SELECT *,
    CAST(round({imp('tr')} * {STUMP_Q}) AS BIGINT) AS tr_imp_q,
    CAST(round({imp('te')} * {STUMP_Q}) AS BIGINT) AS te_imp_q
  FROM per_bin WHERE tr_nl > 0 AND tr_nl < tr_n
), best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fold
        ORDER BY tr_imp_q, dim, bin) AS rn
    FROM cand
  ) WHERE rn = 1
), gb AS (
  SELECT fold, dim,
    CAST(round((1.0 - sum(tot * tot) / (CAST(sum(tot) AS DOUBLE) * sum(tot)))
      * {STUMP_Q}) AS BIGINT) AS te_gb_q
  FROM lab_tot_f GROUP BY 1, 2
), tot_dl AS (
  SELECT dim, label, CAST(sum(tot) AS BIGINT) AS tot_all
  FROM lab_tot_f GROUP BY 1, 2
), gb_tr AS (
  SELECT fold, l.dim,
    CAST(round((1.0 - sum((tot_all - tot) * (tot_all - tot))
      / (CAST(sum(tot_all - tot) AS DOUBLE) * sum(tot_all - tot)))
      * {STUMP_Q}) AS BIGINT) AS tr_gb_q
  FROM lab_tot_f l JOIN tot_dl t ON t.dim = l.dim AND t.label = l.label
  GROUP BY 1, 2
)
SELECT b.fold AS fold, b.dim AS dim, b.bin AS split_bin,
  b.tr_n AS n_train, b.te_n AS n_test,
  (g2.tr_gb_q - b.tr_imp_q) / {STUMP_Q}.0 AS train_gain,
  (g.te_gb_q - b.te_imp_q) / {STUMP_Q}.0 AS test_gain,
  ((g2.tr_gb_q - b.tr_imp_q) - (g.te_gb_q - b.te_imp_q)) / {STUMP_Q}.0
    AS overfit_gap
FROM best b
JOIN gb g ON g.fold = b.fold AND g.dim = b.dim
JOIN gb_tr g2 ON g2.fold = b.fold AND g2.dim = b.dim
ORDER BY fold
"""



SIL_Q = 10**9  # per-vector silhouette quantization before the mean


def ml_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per k-means cluster — the clustering
    quality score (Hruschka et al.'s centroid-distance silhouette, the
    form MLlib's ClusteringEvaluator computes): per vector, a = distance
    to its OWN centroid, b = distance to the nearest OTHER centroid,
    s = (b - a) / max(a, b); reported as the per-cluster mean with the
    cluster size. s near 1 = tight and separated, near 0 = boundary,
    negative = likely mis-assigned — the number that says whether K was
    right.

    Map-side like the assignment itself: the K trained centroids are
    driver state baked into ONE literal expression computing every
    centroid's exact BIGINT d2, sorted so [0] is own-cluster (a2) and
    [1] the runner-up (b2) — no joins, no shuffles before the K-row
    agg. sqrt of the exact integers is correctly-rounded IEEE in both
    engines; per-vector s quantizes to 1e-9 BEFORE the mean (the
    quantize-before-SUM rule). Both-zero distances define s = 0.

    Scale: one scan with a ~K*D-term codegen expression, one K-row
    agg."""
    rows = kmeans_centroid_rows(spark, sf_dir)
    q = quantized_vectors(spark, sf_dir)
    ordered = sorted(rows)
    d = dl.SPARK
    pairs = ", ".join(
        "named_struct('d2', "
        + _dist2_sql(
            d, "qe", "array(" + ",".join(f"{int(v)}L" for v in c) + ")"
        )
        + f", 'cl', {cl})"
        for cl, c in ordered
    )
    two = f"slice(array_sort(array({pairs})), 1, 2)"
    sil = (
        "CASE WHEN a2 = 0 AND b2 = 0 THEN CAST(0.0 AS DOUBLE) "
        "ELSE (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE))) "
        "/ greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) END"
    )
    per = q.selectExpr("vec_id", f"{two} AS two").selectExpr(
        "two[0].cl AS cluster",
        "two[0].d2 AS a2",
        "two[1].d2 AS b2",
    ).selectExpr(
        "cluster", f"CAST(round(({sil}) * {SIL_Q}) AS BIGINT) AS sq"
    )
    mean = f"(CAST(sum_sq AS DOUBLE) / n_vecs / {SIL_Q})"
    return (
        per.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("sq").alias("sum_sq"))
        .selectExpr(
            "cluster",
            "n_vecs",
            f"round({mean}, 4) AS mean_silhouette",
        )
        .orderBy("cluster")
    )


def _oracle_silhouette() -> str:
    d = dl.DUCK
    ctes, final = kmeans_oracle_ctes()
    dist2 = _dist2_sql(d, "q.qe", "c.c")
    sil = (
        "CASE WHEN a2 = 0 AND b2 = 0 THEN CAST(0.0 AS DOUBLE) "
        "ELSE (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE))) "
        "/ greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))) END"
    )
    mean = f"(CAST(sum_sq AS DOUBLE) / n_vecs / {SIL_Q})"
    return f"""
WITH {ctes},
alld AS (
  SELECT q.vec_id, c.cluster, {dist2} AS d2,
    row_number() OVER (PARTITION BY q.vec_id
      ORDER BY {dist2}, c.cluster) AS rnk
  FROM q, c{KMEANS_ITERS} c
), two AS (
  SELECT vec_id,
    max(CASE WHEN rnk = 1 THEN cluster END) AS cluster,
    max(CASE WHEN rnk = 1 THEN d2 END) AS a2,
    max(CASE WHEN rnk = 2 THEN d2 END) AS b2
  FROM alld WHERE rnk <= 2 GROUP BY vec_id
), per AS (
  SELECT cluster, CAST(round(({sil}) * {SIL_Q}) AS BIGINT) AS sq FROM two
), g AS (
  SELECT cluster, count(*) AS n_vecs, CAST(sum(sq) AS BIGINT) AS sum_sq
  FROM per GROUP BY cluster
)
SELECT CAST(cluster AS INT) AS cluster, n_vecs,
  round({mean}, 4) AS mean_silhouette
FROM g ORDER BY cluster
"""


QUERIES = {
    "ml_naive_bayes_lang": ml_naive_bayes_lang,
    "ml_logreg_irls": ml_logreg_irls,
    "ml_kmeans_embeddings": ml_kmeans_embeddings,
    "ml_kmeans_two_level": ml_kmeans_two_level,
    "ml_negative_samples": ml_negative_samples,
    "ml_normal_equations": ml_normal_equations,
    "ml_embedding_dim_variance": ml_embedding_dim_variance,
    "ml_pq_codebook": ml_pq_codebook,
    "ml_pq_encode_rel": ml_pq_encode_rel,
    "ml_pq_lut_rel": ml_pq_lut_rel,
    "ml_pca_power_iteration": ml_pca_power_iteration,
    "ml_decision_stump": ml_decision_stump,
    "ml_stump_cv_gain": ml_stump_cv_gain,
    "ml_kmeans_silhouette": ml_kmeans_silhouette,
}

ORACLES = {
    "ml_naive_bayes_lang": _nb_sql(dl.DUCK),
    "ml_logreg_irls": _logreg_sql(),
    "ml_kmeans_embeddings": _oracle_kmeans(),
    "ml_kmeans_two_level": _oracle_two_level(),
    "ml_negative_samples": _oracle_negative_samples(),
    "ml_normal_equations": _oracle_normal_equations(),
    "ml_embedding_dim_variance": _oracle_dim_variance(),
    "ml_pq_codebook": _oracle_pq(),
    "ml_pq_encode_rel": _oracle_pq_encode(),
    "ml_pq_lut_rel": _oracle_pq_lut(),
    "ml_pca_power_iteration": _oracle_pca(),
    "ml_decision_stump": _oracle_stump(),
    "ml_stump_cv_gain": _oracle_stump_cv(),
    "ml_kmeans_silhouette": _oracle_silhouette(),
}
