"""Maintained IVF-PQ index (round 12, VERDICT r11 item 2): the full
ingest/serve/compact/retrain lifecycle for the composition the repo's own
docstrings call the billion-vector production shape (similarity.py
sim_ivfpq_ann) — previously the LSM discipline existed only for the
sign-LSH index (ann_stream.py).

Spark-first shape, and WHY it beats the batch face's plan at serve time:
the model (coarse centroids + PQ codebook) is frozen driver state, so

- INGEST is one map-side projection per micro-batch: cell =
  centroid_argmin_sql literal argmin, codes = pq_codes_sql literal
  per-block argmin (ml.py; proven bit-equal to the _pq_assign join+agg).
  Epoch rows (cell, cand_id, codes, cv) land under
  index_dir/batch=<id> — overwrite-by-batch-id, the S8 epoch contract —
  each epoch stamped with the model generation it was encoded under.
- SERVE is one broadcast equi-join + pure expressions: each query carries
  its probed cells (centroid_topn literal ranking) AND its ADC lookup
  table (pq_lut_sql — array<array<bigint>>, the FAISS per-query LUT)
  built map-side; candidates are the probed cells' members via ONE
  equi-join on cell; adc_d2 is 8 array lookups per candidate
  (zip_with(codes, lut)), NO (block, code) shuffle agg like the batch
  face needs; the PQ_RERANK pool reranks by exact cosine on the carried
  vectors. Per-query cost = nprobe x occupancy — corpus-independent
  because K tracks N (ml.k_for_corpus); similarity.ivfpq_observed counts
  that candidate volume.
- COMPACT rewrites accumulated epochs into a cell-clustered base
  (repartition on cell; on a real cluster, bucketBy(cell)) with the
  manifest watermark/generation contract shared with the LSH index
  (same COMPACT_MANIFEST, same _CURRENT promotion, same pruning).
- RETRAIN (the IVF-PQ analogue of rebucket's 'more bits'): at
  compaction, optionally re-learn centroids at K = k_for_corpus(N) and
  the codebook FROM the accumulated vectors (ml.train_*_rows_from), then
  re-encode every row map-side. The refinement is REFUSED if mean
  recall@10 against exact brute force on seeded hash-stratified probe
  sets drops below the old model's (compaction still happens under the
  incumbent) — the manifest records the model generation and a running
  stream follows it: post-retrain epochs are encoded with the new model,
  and any epoch stranded at an older generation (committed between the
  retrain snapshot and the promotion, or unstamped) is RE-ENCODED from
  its carried vectors at serve time — the same repair the LSH index
  applies to mixed bucket widths.

Parity: with the generation-1 model trained from the sf tables (the
memoized kmeans/pq trainers) and queries drawn from the corpus with
exclude_self=True, the served rows are asserted EQUAL to batch
sim_ivfpq_ann's (tests/test_ivfpq_maintain.py) — the streaming face is
the same operator, not an approximation of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from ..audit import audit_plan
from ..functions import dialect as dl
from ..operators.similarity import (
    IVFPQ_NPROBE,
    PQ_RERANK,
    TOP_K,
    cosine_sql,
)

IVFPQ_MODEL = "model.json"


def _quant_expr() -> str:
    from ..operators.ml import _quant_sql

    return _quant_sql(dl.SPARK, "embedding")


def build_ivfpq_model(spark: SparkSession, sf_dir: str) -> dict:
    """Generation-1 model from the sf tables: the SAME memoized trainers
    the batch face uses (kmeans_centroid_rows at ml.learned_k, pq_trained),
    so stream-vs-batch parity is exact by construction."""
    from ..operators.ml import kmeans_centroid_rows, learned_k, pq_codebook_rows

    return {
        "generation": 1,
        "k": learned_k(sf_dir),
        "centroids": [
            [int(cl), [int(v) for v in c]]
            for cl, c in kmeans_centroid_rows(spark, sf_dir)
        ],
        "codebook": [
            [int(b), int(c), [int(v) for v in vec]]
            for b, c, vec in pq_codebook_rows(spark, sf_dir)
        ],
    }


def train_ivfpq_model_from_vectors(
    vecs: DataFrame, k: int, generation: int
) -> dict:
    """Retrain path: model learned FROM the accumulated index vectors
    (ml.train_kmeans_rows_from / train_pq_rows_from — the id-agnostic
    generalizations of the sf trainers, proven row-equal on the same
    data). ``k`` comes from ml.k_for_corpus at the call site."""
    from ..operators.ml import train_kmeans_rows_from, train_pq_rows_from

    return {
        "generation": int(generation),
        "k": int(k),
        "centroids": [
            [int(cl), [int(v) for v in c]]
            for cl, c in train_kmeans_rows_from(vecs, k)
        ],
        "codebook": [
            [int(b), int(c), [int(v) for v in vec]]
            for b, c, vec in train_pq_rows_from(vecs)
        ],
    }


def write_ivfpq_model(model_dir: str, model: dict) -> None:
    import json
    import os

    os.makedirs(model_dir, exist_ok=True)
    tmp = os.path.join(model_dir, IVFPQ_MODEL + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(model, fh)
    os.replace(tmp, os.path.join(model_dir, IVFPQ_MODEL))


def read_ivfpq_model(model_dir: str) -> "dict | None":
    import json
    import os

    p = os.path.join(model_dir, IVFPQ_MODEL)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _model_rows(model: dict):
    cent = [(int(cl), [int(v) for v in c]) for cl, c in model["centroids"]]
    cb = [
        (int(b), int(c), [int(v) for v in vec]) for b, c, vec in model["codebook"]
    ]
    return cent, cb


def encode_ivfpq_rows(
    df: DataFrame, model: dict, batch_rows: "int | None" = None
) -> DataFrame:
    """(cell, cand_id, codes, cv) from (cand_id, embedding) — the ingest
    hot path. Below both ceilings this is ONE projection (literal centroids
    + literal codebook, no joins, no shuffles); both halves dispatch
    independently past their walls (round 14): the coarse cell through
    the broadcast centroid relation past K_LITERAL_CEILING
    (ml.nearest_centroid), the PQ codes through the broadcast codebook
    relation past PQ_LITERAL_CEILING entries (ml.pq_encode — the
    corpus-safe equi-join face, so an 8-bit production codebook never
    pays the literal face's per-call O(entries) plan cost per
    micro-batch). ``batch_rows`` — the caller's per-trigger row bound —
    additionally dispatches the codes on the measured N-dependent
    crossover (ml.pq_crossover_entries): a few-hundred-row trigger stops
    paying the literal plan tax from ~400 entries instead of the
    policy ceiling."""
    from ..operators.ml import nearest_centroid, pq_encode

    cent, cb = _model_rows(model)
    qe = _quant_expr()
    asg = nearest_centroid(df, cent, ["cand_id"], qe_expr=qe, carry=["embedding"])
    enc = pq_encode(
        asg, cb, ["cand_id"], qe_expr=qe, carry=["embedding", "m"],
        batch_rows=batch_rows,
    )
    return enc.select(
        F.col("m.cl").alias("cell"),
        "cand_id",
        F.col("codes"),
        F.col("embedding").alias("cv"),
    )


# Serve-side broadcast bound (round 13, VERDICT r12 item 5): each probe
# row carries its per-query ADC LUT (PQ_BLOCKS x PQ_K BIGINTs ~ 1 KiB at
# the PQ_* constants; B x 256 x 8 B ~ 16 KiB for a production 8-bit PQ)
# plus the full-precision query vector (EMB_DIM x 8 B), duplicated
# IVFPQ_NPROBE times by the explode — ~5 KiB per query here, ~60 KiB per
# query at 8-bit PQ. The broadcast is therefore |Q|-linear: 1e5 queries
# ~ 0.5-6 GB, at/over the 8 GB broadcast cap and well over comfortable
# executor overhead. Past this ceiling the plan DISPATCHES to a plain
# shuffle equi-join on cell (the probe side is still |Q| x nprobe rows —
# tiny next to the index side it shuffles with). Streaming callers bound
# |Q| per trigger anyway (maxOffsetsPerTrigger in the 100 TB conf profile,
# session.py); the dispatch makes an oversized ad-hoc batch correct
# instead of OOM. The decision probe is a LIMIT-bounded count (scans at
# most MAX+1 query rows, never the corpus).
IVFPQ_SERVE_BCAST_MAX_Q = 100_000

# Misuse tripwire for the serve-side RELATION probe ranking (the coarse
# quantizer's topn face past K_LITERAL_CEILING): collect_list buffers K
# structs per QUERY row, which is fine for any real query volume but
# catastrophic if a corpus is fed in as "queries". 100x the broadcast
# bound (~1e7 queries x nprobe x 16 B ~ 0.5 GB of shuffled probe structs)
# comfortably covers the shuffle face's legitimate range while still
# refusing a 1e8-row corpus loudly at plan time.
IVFPQ_SERVE_MAX_Q_RELATION = 100 * IVFPQ_SERVE_BCAST_MAX_Q

# The broadcast budget behind the bound: |Q| x nprobe x (dense LUT +
# query vector + struct overhead). At the gate model (128 entries,
# ~1.6 KiB/probe row) this affords the r13 constant (~1e5 queries); the
# per-query payload scales with CODEBOOK SIZE, so the bound must too.
IVFPQ_SERVE_BCAST_BUDGET_BYTES = 480 << 20


def ivfpq_serve_bcast_max_q(model: dict) -> int:
    """Geometry-DERIVED broadcast bound (round 14, second pass — the 8-bit
    serve-faces measurement in SCALE_SMOKE.md): each probe row ships its
    dense LUT (entries x 8 B) plus the full-precision query vector
    (dim x 8 B), duplicated IVFPQ_NPROBE times by the explode. A static
    |Q| cap is therefore wrong across model shapes — at the production
    8-bit codebook (16 x 256 = 4096 entries, ~32 KiB LUT/query-probe) the
    measured broadcast face falls behind the shuffle face ~20x earlier
    than at the gate shape (74.8 s vs 39.4 s at |Q|=2000 on the local
    probe). This derives the bound from the model: budget / (nprobe x
    per-probe payload), capped by the r13 constant. Gate model -> ~1e5
    (the old behavior, unchanged); 8-bit -> ~5e3."""
    cb = model["codebook"]
    n_entries = len(cb)
    blocks = max(int(b) for b, _c, _v in cb) + 1
    dim = blocks * len(cb[0][2])
    per_probe = n_entries * 8 + dim * 8 + 64
    per_q = IVFPQ_NPROBE * per_probe
    return max(
        1,
        min(IVFPQ_SERVE_BCAST_MAX_Q, IVFPQ_SERVE_BCAST_BUDGET_BYTES // per_q),
    )


def _serve_ivfpq_topk(
    idx: DataFrame,
    queries: DataFrame,
    model: dict,
    k: int,
    exclude_self: bool,
    broadcast_queries: "bool | None" = None,
) -> DataFrame:
    """The serve plan (module docstring): probe cells + LUT ride the
    broadcast query side; candidates via one equi-join on cell; ADC = 8
    lookups/candidate; exact-cosine rerank on the PQ_RERANK pool. Every
    ranking expression is shared with batch sim_ivfpq_ann (same exact
    BIGINT ADC, same cosine_sql doubles, same tie-breaks) so the served
    rows are bit-equal to the batch plan over the same corpus.

    ``broadcast_queries``: None = decide via the geometry-derived
    ivfpq_serve_bcast_max_q(model) bound (codebook-size-aware — an 8-bit
    model affords ~20x fewer broadcast queries than the gate shape, see
    the bound's docstring) with a LIMIT-capped count — an extra job that
    re-executes the
    (possibly derived) query subplan, so callers with a KNOWN per-call
    bound should pass the face explicitly (ADVICE r13: the streaming
    writer passes True — its per-trigger |Q| is bounded by the source
    trigger options, the sizing rule in session.cluster_conf); True/False
    pins the face (tests pin both and assert row equality). The coarse
    probe ranking itself rides the dispatched quantizer
    (ml.nearest_centroids_topn), so a post-retrain model with
    K > K_LITERAL_CEILING serves through the broadcast centroid relation
    instead of refusing."""
    from ..operators.ml import (
        _use_pq_relation,
        _use_relation,
        centroid_topn_sql,
        nearest_centroids_topn,
        pq_lut_sql,
        pq_query_lut,
    )

    cent, cb = _model_rows(model)
    qe = _quant_expr()
    # The two model halves dispatch INDEPENDENTLY (round 14): the coarse
    # probe ranking on K vs K_LITERAL_CEILING, the ADC LUT build on
    # codebook entries vs PQ_LITERAL_CEILING — a post-retrain model can
    # cross either wall alone. The LUT frame is built first (per query,
    # before any probe explode), then the probe ranking rides it.
    if _use_pq_relation(len(cb), None):
        qlut = pq_query_lut(
            queries, cb, ["query_id"], qe_expr=qe, carry=["embedding"],
            out="lut", max_rows=IVFPQ_SERVE_MAX_Q_RELATION,
        )
        lut_col = F.col("lut")
    else:
        qlut = queries
        lut_col = F.expr(pq_lut_sql(cb, qe))
    if not _use_relation(len(cent), None):
        # literal face: LUT + probe ranking + explode in ONE projection —
        # the expression explodes INLINE so the Generate evaluates it once
        # (aliasing the array and exploding the alias lets
        # InferFiltersFromGenerate inline the whole argmin into a pushed
        # size() filter — double evaluation; see
        # ml.nearest_centroid_probes) and the per-query LUT is computed
        # BEFORE the explode (ExtractGenerator lowers sibling expressions
        # into the pre-Generate project: once per query, not per probe row)
        probe = qlut.select(
            "query_id",
            F.col("embedding").alias("qv"),
            lut_col.alias("lut"),
            F.explode(
                F.expr(centroid_topn_sql(cent, IVFPQ_NPROBE, qe))
            ).alias("p"),
        ).select("query_id", "qv", "lut", F.col("p.cl").alias("cell"))
    else:
        # relation face (post-retrain K past the ceiling): probes come
        # from the broadcast centroid relation as an aggregated COLUMN
        # (cheap-attribute explode, no double-eval); the LUT rides the
        # same pre-explode projection (or carries through the topn agg
        # when it was itself relation-built)
        carry = ["embedding"] + (["lut"] if "lut" in qlut.columns else [])
        probe = (
            nearest_centroids_topn(
                qlut, cent, IVFPQ_NPROBE, ["query_id"],
                qe_expr=qe, carry=carry,
                max_rows=IVFPQ_SERVE_MAX_Q_RELATION,
            )
            .select(
                "query_id",
                F.col("embedding").alias("qv"),
                lut_col.alias("lut"),
                F.explode("probes").alias("p"),
            )
            .select("query_id", "qv", "lut", F.col("p.cl").alias("cell"))
        )
    if broadcast_queries is None:
        # bound derived from THIS model's geometry (8-bit codebooks afford
        # ~20x fewer broadcast queries than the gate shape — measured)
        bound = ivfpq_serve_bcast_max_q(model)
        broadcast_queries = queries.limit(bound + 1).count() <= bound
    joined = (F.broadcast(probe) if broadcast_queries else probe).join(idx, "cell")
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("cand_id"))
    adc = joined.select(
        "query_id",
        "cell",
        "cand_id",
        "qv",
        "cv",
        F.expr(
            "aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("adc_d2"),
    )
    w_adc = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("cand_id"))
    pool = (
        adc.withColumn("adc_rnk", F.row_number().over(w_adc))
        .filter(F.col("adc_rnk") <= PQ_RERANK)
        .withColumn("cosine", F.expr(cosine_sql(dl.SPARK, "qv", "cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return audit_plan(
        "ivfpq_stream_serve",
        pool.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "cell", "cand_id", "adc_d2",
            F.round("cosine", 4).alias("cosine"), "rnk",
        ),
    )


EMPTY_RESULT_SCHEMA = (
    "query_id long, cell int, cand_id long, adc_d2 bigint, cosine double, rnk int"
)


def read_maintained_ivfpq(
    spark: SparkSession,
    index_dir: str,
    model: dict,
    compact_dir: str | None = None,
) -> "DataFrame | None":
    """Base+delta composition with model-generation repair — the IVF-PQ
    twin of ann_stream.read_maintained_index: epochs whose stamped
    ``model_generation`` differs from the CURRENT model's (stranded by a
    retrain racing the stream) or whose stamp is missing are RE-ENCODED
    map-side from their carried vectors; matching epochs pass through
    untouched."""
    from .ann_stream import (
        _epoch_dirs,
        _read_compact_manifest,
        _read_epoch_meta_dict,
        _resolve_compact_dir,
    )
    from .dedup_stream import _has_parquet

    cols = ["cell", "cand_id", "codes", "cv"]
    gen = int(model["generation"])

    def _repair(df: DataFrame) -> DataFrame:
        return encode_ivfpq_rows(
            df.select("cand_id", F.col("cv").alias("embedding")), model
        )

    def _load(paths: list[str]) -> "DataFrame | None":
        ok = [
            p
            for p in paths
            if (_read_epoch_meta_dict(p) or {}).get("model_generation") == gen
        ]
        fix = [p for p in paths if p not in ok]
        parts = []
        if ok:
            parts.append(spark.read.parquet(*ok).select(*cols))
        if fix:
            parts.append(_repair(spark.read.parquet(*fix).select(*cols)))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    compact_dir = _resolve_compact_dir(compact_dir)
    manifest = _read_compact_manifest(compact_dir)
    if manifest is None:
        epochs = [p for _b, p in _epoch_dirs(index_dir) if _has_parquet(p)]
        return _load(epochs)
    base = spark.read.parquet(compact_dir).select(*cols)
    if int(manifest.get("model_generation", 1)) != gen:
        base = _repair(base)  # a promoted base behind the current model
    deltas = [
        p
        for b, p in _epoch_dirs(index_dir)
        if b > manifest["absorbed_through"] and _has_parquet(p)
    ]
    delta_df = _load(deltas)
    return base if delta_df is None else base.unionByName(delta_df)


def streaming_ivfpq_maintain_reset(
    index_dir: str, results_dir: str, compact_dir: str | None = None
):
    """First-batch reset (the S8 pattern): a fresh stream must not serve a
    stale base or stale epochs. The MODEL is not cleared — it is
    deterministic state rebuilt by the runner, not stream progress."""
    import shutil

    def setup(_bdf: DataFrame) -> None:
        import os

        from .ann_stream import _resolve_compact_dir

        shutil.rmtree(index_dir, ignore_errors=True)
        shutil.rmtree(results_dir, ignore_errors=True)
        if compact_dir is not None:
            target = _resolve_compact_dir(compact_dir)
            if target is not None and target != compact_dir:
                shutil.rmtree(target, ignore_errors=True)
            try:
                os.remove(compact_dir + "_CURRENT")
            except FileNotFoundError:
                pass
            shutil.rmtree(compact_dir, ignore_errors=True)

    return setup


def streaming_ivfpq_maintain_writer(
    spark: SparkSession,
    model_dir: str,
    index_dir: str,
    results_dir: str,
    k: int = TOP_K,
    exclude_self: bool = False,
    metrics: list | None = None,
    compact_dir: str | None = None,
    rows_per_trigger: int | None = None,
):
    """Ingest + serve on ONE IVF-PQ index (the maintained-writer contract
    of ann_stream.streaming_ann_maintain_writer, for the production
    composition): per batch, encode this batch's ingest vectors with the
    CURRENT model (read per trigger — a retrain promotion between
    triggers is picked up exactly like a rebucket's manifest), land them
    as a stamped epoch, then serve this batch's queries against
    base+delta including this batch's own rows. ``rows_per_trigger`` —
    the source's trigger bound (maxFilesPerTrigger x rows/file,
    maxOffsetsPerTrigger) — flows to the encode's batch-aware PQ dispatch
    (ml.pq_crossover_entries): the literal plan tax is paid per TRIGGER
    here, so a bounded micro-batch takes the relation face well below the
    entries-only ceiling."""
    import time as _time

    def write(batch_df: DataFrame, batch_id: int) -> None:
        t0 = _time.time()
        model = read_ivfpq_model(model_dir)
        if model is None:
            raise ValueError(f"no {IVFPQ_MODEL} under {model_dir}; train first")
        # Metric counts ride an Observation on the source frame (r14, the
        # corpus_stream ADVICE-r10 pattern): the old n_ing = ing.count() +
        # batch_df.count() pair re-scanned the micro-batch source twice per
        # trigger purely for metrics; the observed counts fill during the
        # epoch write's own scan.
        obs = None
        if metrics is not None:
            from pyspark.sql import Observation

            obs = Observation()
            batch_df = batch_df.observe(
                obs,
                F.count(F.lit(1)).alias("n_raw"),
                F.sum(
                    F.when(F.col("kind") == "ingest", 1).otherwise(0)
                ).alias("n_ing"),
            )
        ing = batch_df.filter(F.col("kind") == "ingest").select(
            F.col("id").alias("cand_id"), F.col("embedding")
        )
        rows = encode_ivfpq_rows(ing, model, batch_rows=rows_per_trigger)
        epoch_dir = f"{index_dir}/batch={batch_id}"
        rows.coalesce(2).write.mode("overwrite").parquet(epoch_dir)
        from .ann_stream import _write_epoch_meta_dict

        _write_epoch_meta_dict(
            epoch_dir, {"model_generation": int(model["generation"])}
        )
        queries = batch_df.filter(F.col("kind") == "query").select(
            F.col("id").alias("query_id"), "embedding"
        )
        idx = read_maintained_ivfpq(spark, index_dir, model, compact_dir)
        if idx is not None:
            # broadcast face pinned explicitly (ADVICE r13): per-trigger
            # |Q| is bounded by the source's maxFilesPerTrigger /
            # maxOffsetsPerTrigger (session.cluster_conf sizes it against
            # IVFPQ_SERVE_BCAST_MAX_Q), so the auto-decision's per-batch
            # LIMIT-count job — which re-executed the query subplan every
            # trigger — is dead weight here
            topk = _serve_ivfpq_topk(
                idx, queries, model, k, exclude_self, broadcast_queries=True
            )
        else:
            topk = spark.createDataFrame([], EMPTY_RESULT_SCHEMA)
        topk.write.mode("overwrite").parquet(f"{results_dir}/batch={batch_id}")
        if metrics is not None:
            # filled by the epoch write above — no extra job
            got = obs.get
            n_ing = int(got["n_ing"] or 0)
            metrics.append(
                {
                    "batch_id": batch_id,
                    "n_ingest": n_ing,
                    "n_queries": int(got["n_raw"]) - n_ing,
                    "model_generation": int(model["generation"]),
                    "batch_sec": round(_time.time() - t0, 3),
                }
            )

    return write


# Retrain-acceptance probe seeds: recall is averaged over one probe set
# per seed (RECALL_PROBE_SEEDS x RECALL_PROBE_N queries total), so a
# degenerate candidate model must beat the incumbent on a sample spread
# across the id space — not on one corner of it.
RECALL_PROBE_SEEDS: tuple[int, ...] = (0, 1, 2)
RECALL_PROBE_N = 10


def _recall_at_k(
    spark: SparkSession,
    vecs: DataFrame,
    model: dict,
    k: int = 10,
    n_probe_q: int = RECALL_PROBE_N,
    seed: int = 0,
) -> float:
    """recall@k of the model-served index vs exact brute force over the
    SAME vectors — the retrain acceptance metric. The probe set is a
    DETERMINISTIC hash-stratified sample (round 13, VERDICT r12 item 2):
    the n_probe_q lowest md5("{seed}|{cand_id}") values. The hash order is
    uniform over the corpus, so the sample is spread across cells in
    proportion to occupancy (no id-layout corner like the pre-r13 "10
    lowest ids" set, which a degenerate model could pass or fail on ~1
    pair of noise) — yet pinned stable across runs, engines, and
    partitionings (md5 of the decimal id string; no rand()). Exact ground
    truth via one bounded crossJoin (probe set x corpus: n_probe_q rows
    broadcast); cost is n_probe_q x N per seed, so the acceptance gate
    totals |RECALL_PROBE_SEEDS| x n_probe_q x N distance evaluations —
    linear in the index, constant multiplier."""
    probe_ids = [
        int(r["cand_id"])
        for r in vecs.select(
            "cand_id",
            F.md5(
                F.concat(F.lit(f"{int(seed)}|"), F.col("cand_id").cast("string"))
            ).alias("h"),
        )
        .orderBy("h", "cand_id")
        .limit(n_probe_q)
        .collect()
    ]
    queries = vecs.filter(F.col("cand_id").isin(probe_ids)).select(
        F.col("cand_id").alias("query_id"), F.col("embedding")
    )
    pairs = (
        F.broadcast(queries.withColumnRenamed("embedding", "qv"))
        .crossJoin(vecs.select(F.col("cand_id"), F.col("embedding").alias("cv")))
        .filter(F.col("query_id") != F.col("cand_id"))
        .withColumn("cosine", F.expr(cosine_sql(dl.SPARK, "qv", "cv")))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    truth = {
        (r["query_id"], r["cand_id"])
        for r in pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .collect()
    }
    idx = encode_ivfpq_rows(
        vecs.select(F.col("cand_id"), "embedding"), model
    )
    got = {
        (r["query_id"], r["cand_id"])
        for r in _serve_ivfpq_topk(
            # n_probe_q queries — a known driver-side bound; skip the
            # auto-decision's count job (ADVICE r13)
            idx, queries, model, k, True, broadcast_queries=True
        ).collect()
    }
    return len(truth & got) / max(1, len(truth))


def _recall_mean(
    spark: SparkSession,
    vecs: DataFrame,
    model: dict,
    seeds: "tuple[int, ...]" = RECALL_PROBE_SEEDS,
) -> float:
    """Mean recall@10 over one hash-stratified probe set per seed — what
    the retrain acceptance gate compares (old model vs candidate on the
    IDENTICAL probe sets)."""
    vals = [_recall_at_k(spark, vecs, model, seed=s) for s in seeds]
    return sum(vals) / len(vals)


def compact_ivfpq_index(
    spark: SparkSession,
    index_dir: str,
    compact_dir: str,
    model_dir: str,
    n_partitions: int = 8,
    base_compact_dir: str | None = None,
    retrain: bool = False,
    _retrain_model_override: dict | None = None,
) -> dict:
    """Compaction (+ optional RETRAIN) for the maintained IVF-PQ index —
    the maintenance job the LSH index calls rebucket, with the IVF-PQ
    lever: re-learn the coarse centroids at K = k_for_corpus(N) and the
    codebook from the ACCUMULATED vectors, then re-encode every row
    map-side. Occupancy returns to ~TARGET_CELL_SIZE, so per-query serve
    candidates (nprobe x occupancy — the counted quantity) reset no
    matter how far the corpus has grown.

    Refinement is REFUSED if mean recall@10 vs exact brute force over the
    seeded hash-stratified probe sets (_recall_mean, RECALL_PROBE_SEEDS)
    drops below the OLD model's (the rebucket narrowing-refusal precedent,
    upgraded from a structural check to a measured one). A refusal keeps
    the incumbent model AND STILL COMPACTS under it (ADVICE r12: the
    maintenance job must not lose the compaction when the candidate
    underperforms) — the returned stats carry retrain_refused=True and
    both recalls. On acceptance the new model is written atomically
    (tmp+rename) so a RUNNING stream picks it up next trigger; epochs
    stranded at the old generation are re-encoded at serve
    (read_maintained_ivfpq).

    Same guards, manifest watermark, generation lineage, _CURRENT
    promotion, and pruning contract as ann_stream.compact_ann_index.
    ``_retrain_model_override`` is a test hook: inject a candidate model
    instead of training one, so the refusal path is executable."""
    import glob
    import json
    import os

    from .ann_stream import (
        COMPACT_MANIFEST,
        _epoch_dirs,
        _read_compact_manifest,
        _resolve_compact_dir,
    )

    def _count_files(d: str) -> int:
        return len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))

    base_compact_dir = _resolve_compact_dir(base_compact_dir)
    if base_compact_dir == compact_dir:
        raise ValueError(
            f"base_compact_dir resolves to the output dir {compact_dir}; "
            "generation n+1 must be written to a FRESH directory"
        )
    if os.path.exists(compact_dir + "_CURRENT"):
        raise ValueError(
            f"{compact_dir} has a _CURRENT pointer (a runner's pointer "
            "root); write the new generation to a fresh dir and promote"
        )
    prev = _read_compact_manifest(base_compact_dir)
    if prev is None and _read_compact_manifest(
        _resolve_compact_dir(compact_dir)
    ) is not None:
        raise ValueError(
            f"{compact_dir} already holds a compacted generation; pass it "
            "as base_compact_dir and write generation n+1 to a fresh dir"
        )
    model = read_ivfpq_model(model_dir)
    if model is None:
        raise ValueError(f"no {IVFPQ_MODEL} under {model_dir}")
    prev_through = prev["absorbed_through"] if prev else -1
    epochs = _epoch_dirs(index_dir)
    absorbed_through = max([prev_through] + [b for b, _ in epochs])
    n_new = len([b for b, _ in epochs if b > prev_through])
    idx = read_maintained_ivfpq(spark, index_dir, model, base_compact_dir)
    if idx is None:
        raise ValueError(f"nothing to compact under {index_dir}")
    idx = idx.localCheckpoint()  # read once: retrain + recall + rewrite
    out_model = model
    recalls = None
    if retrain or _retrain_model_override is not None:
        from ..operators.ml import k_for_corpus

        vecs = idx.select("cand_id", F.col("cv").alias("embedding"))
        if _retrain_model_override is not None:
            cand_model = dict(_retrain_model_override)
            cand_model["generation"] = int(model["generation"]) + 1
        else:
            n = vecs.count()
            cand_model = train_ivfpq_model_from_vectors(
                vecs.select(
                    F.col("cand_id").alias("vec_id"), "embedding"
                ),
                k_for_corpus(n),
                int(model["generation"]) + 1,
            )
        old_recall = _recall_mean(spark, vecs, model)
        new_recall = _recall_mean(spark, vecs, cand_model)
        recalls = {"old": old_recall, "new": new_recall}
        if new_recall < old_recall:
            # REFUSE the candidate model but KEEP COMPACTING under the
            # incumbent (ADVICE r12): a maintenance job that runs
            # compact+retrain as one unit must not lose the compaction
            # (epochs unabsorbed, file count unreduced) just because the
            # candidate underperformed. The refusal is reported in the
            # returned stats (retrain_refused + both recalls) instead of
            # thrown; generation and model are unchanged.
            recalls["refused"] = True
        else:
            out_model = cand_model
            idx = encode_ivfpq_rows(
                idx.select("cand_id", F.col("cv").alias("embedding")), out_model
            )
    rows = idx.select("cell", "cand_id", "codes", "cv")
    (
        rows.repartition(n_partitions, "cell")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .parquet(compact_dir)
    )
    manifest = {
        "absorbed_through": absorbed_through,
        "n_epochs_absorbed": n_new,
        "generation": (prev["generation"] + 1) if prev else 1,
        "model_generation": int(out_model["generation"]),
    }
    with open(os.path.join(compact_dir, COMPACT_MANIFEST), "w") as fh:
        json.dump(manifest, fh)
    if out_model is not model:
        # commit the accepted model (atomic rename). Crash-safety does not
        # depend on ordering vs the manifest: a reader holding the OLD
        # model against a base whose manifest names the NEW generation
        # takes the _repair path (re-encodes the base from its carried
        # vectors at its own generation) — correct either way, the same
        # argument as the stranded-epoch case.
        write_ivfpq_model(model_dir, out_model)
    return {
        "files_before": _count_files(index_dir),
        "files_after": _count_files(compact_dir),
        "rows": spark.read.parquet(compact_dir).count(),
        **manifest,
        **({"recall": recalls} if recalls else {}),
        "retrain_refused": bool(recalls and recalls.get("refused")),
    }


def run_streaming_ivfpq_maintain(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    sf_dir: str,
    k: int = TOP_K,
    exclude_self: bool = False,
    max_files_per_trigger: int | None = None,
    metrics: list | None = None,
    timeout_sec: int = 300,
) -> bool:
    """Train-or-load the model, then drain a mixed ingest/query stream
    through the maintained IVF-PQ writer (batch-0 reset + checkpointing).
    Same mixed-stream wire format as the LSH runner
    (read_upsert_query_stream: {kind, id, embedding} JSON lines)."""
    import os

    from .ann_stream import read_upsert_query_stream
    from .pipeline import write_with_first_batch_setup

    model_dir = os.path.join(work_dir, "ivfpq_model")
    index_dir = os.path.join(work_dir, "ivfpq_index")
    results_dir = os.path.join(work_dir, "results")
    compact_dir = os.path.join(work_dir, "ivfpq_compact")
    if read_ivfpq_model(model_dir) is None:
        write_ivfpq_model(model_dir, build_ivfpq_model(spark, sf_dir))
    q = write_with_first_batch_setup(
        read_upsert_query_stream(spark, source_dir, max_files_per_trigger),
        checkpoint_dir=os.path.join(work_dir, "ckpt"),
        sink_writer=streaming_ivfpq_maintain_writer(
            spark, model_dir, index_dir, results_dir, k=k,
            exclude_self=exclude_self, metrics=metrics, compact_dir=compact_dir,
        ),
        first_batch_setup=streaming_ivfpq_maintain_reset(
            index_dir, results_dir, compact_dir
        ),
        output_mode="append",
    )
    done = q.awaitTermination(timeout_sec)
    if not done:
        q.stop()
        q.awaitTermination()
    return done
