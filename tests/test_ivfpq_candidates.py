"""IVF-PQ candidate bound as a COUNTED fact (round 12, VERDICT r11 item 1).

SCALE_SMOKE's r11 addendum admitted the derived-K candidate reduction was
"wall-masked at probe volume" — real in arithmetic, invisible in seconds.
This pins it in counted rows: an Observation on the ADC aggregate's input
(similarity.ivfpq_observed) records exactly how many candidate code rows
the scan consumed, and the count must EQUAL the closed form

    sum_q sum_{c in probes(q)} (|c| - [q in c]) * PQ_BLOCKS

and respect the design bound |Q| x IVFPQ_NPROBE x max_occupancy x
PQ_BLOCKS. With K derived from N the count stays pinned at ~|Q| x nprobe
x TARGET_CELL_SIZE x PQ_BLOCKS (SCALE_SMOKE.md: a fixed K grows it with N).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_twitter_trends_analytics_spark.functions import dialect as dl
from realtime_twitter_trends_analytics_spark.operators.ml import (
    PQ_BLOCKS,
    _quant_sql,
    centroid_topn_sql,
    k_for_corpus,
    kmeans_centroid_rows,
)
from realtime_twitter_trends_analytics_spark.operators.similarity import (
    IVFPQ_NPROBE,
    N_QUERY_VECS,
    ivfpq_observed,
    kmeans_cell_assignment,
    sim_ivfpq_ann,
)
from realtime_twitter_trends_analytics_spark.sources.loaders import table_row_count

SF = "/root/testdata/sf0.001"


def _expected_adc_rows(spark, k: int | None) -> tuple[int, int]:
    """(closed-form ADC input rows, max cell occupancy) from the shared
    staging relations — the same cells/probes the report joins."""
    asg = kmeans_cell_assignment(spark, SF, k)
    sizes = {
        r["cell"]: r["n"]
        for r in asg.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows = kmeans_centroid_rows(spark, SF, k)
    probes = (
        asg.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            "vec_id",
            F.col("cell").alias("own_cell"),
            F.explode(
                F.expr(
                    centroid_topn_sql(rows, IVFPQ_NPROBE, _quant_sql(dl.SPARK, "embedding"))
                )
            ).alias("p"),
        )
        .select("vec_id", "own_cell", F.col("p.cl").alias("cell"))
        .collect()
    )
    expected = sum(
        (sizes.get(r["cell"], 0) - (1 if r["cell"] == r["own_cell"] else 0))
        * PQ_BLOCKS
        for r in probes
    )
    return expected, max(sizes.values())


def test_adc_candidate_count_matches_closed_form(spark):
    df, obs = ivfpq_observed(spark, SF, None)
    df.write.format("noop").mode("overwrite").save()
    counted = obs.get["adc_candidate_rows"]
    expected, occ_max = _expected_adc_rows(spark, None)
    assert counted == expected
    # the design bound the docstrings cite: per query, nprobe cells of at
    # most occ_max members, PQ_BLOCKS code rows each
    assert counted <= N_QUERY_VECS * IVFPQ_NPROBE * occ_max * PQ_BLOCKS


def test_prod_face_counts_and_matches_gate_rows(spark):
    """An explicit derived K: the counted bound holds, and the report
    itself is unchanged by the observation plumbing (same rows as the
    registered query)."""
    k = k_for_corpus(table_row_count(SF, "embeddings"))
    df, obs = ivfpq_observed(spark, SF, k)
    rows = sorted(map(tuple, df.collect()))
    counted = obs.get["adc_candidate_rows"]
    expected, occ_max = _expected_adc_rows(spark, k)
    assert counted == expected
    assert counted <= N_QUERY_VECS * IVFPQ_NPROBE * occ_max * PQ_BLOCKS
    plain = sorted(map(tuple, sim_ivfpq_ann(spark, SF).collect()))
    assert rows == plain
