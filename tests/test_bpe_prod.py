"""The BPE trainers against the DuckDB oracle's merge list.

Two trainers, ONE learned model:
- textstats_bpe_induction (gate): collects the (word, count) type table
  and trains on the driver with an incremental pair index; above
  BPE_TRAIN_TYPE_CAP types it runs the batched trainer instead, so it is
  exact at every input size.
- textstats_bpe_induction_batched: distributed top-m batching under the
  two admission rules (no instance contest; strictly above the creation
  bound) that make the batch provably the next |batch| sequential picks.

The reference is _oracle_bpe_induction() run by DuckDB over the same
documents.parquet: a full per-round recount through chained CTEs, sharing
no code with either trainer. The pin is merge-for-merge LIST equality
(round, a, b, freq — freq too: the batched trainer's counts must be the
exact sequential counts) at sf0.001, sf0.01 and the bench SF, plus the
tokenizer-level receipt: applying the learned merges yields the oracle's
corpus fertility."""

from __future__ import annotations

import functools

import duckdb
import pytest
from pyspark.sql import functions as F

from realtime_twitter_trends_analytics_spark.functions import dialect as dl
from realtime_twitter_trends_analytics_spark.operators import textstats
from realtime_twitter_trends_analytics_spark.operators.textstats import (
    BPE_BATCH_M,
    BPE_TRAIN_TYPE_CAP,
    _oracle_bpe_apply,
    _oracle_bpe_induction,
    textstats_bpe_induction,
    textstats_bpe_induction_batched,
)
from realtime_twitter_trends_analytics_spark.sources.loaders import load_table

BENCH_SF = "/root/testdata/sf0.1"


def _merges(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _duck_rows(sf: str, sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS "
            f"SELECT * FROM read_parquet('{sf}/documents.parquet')"
        )
        return con.execute(sql).fetchall()
    finally:
        con.close()


@functools.lru_cache(maxsize=None)
def _oracle_merges(sf: str) -> list[tuple]:
    return [tuple(r) for r in _duck_rows(sf, _oracle_bpe_induction())]


def _word_types(spark, sf: str):
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.explode(F.expr(dl.split_ws(dl.SPARK, "text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_all_faces_learn_identical_merges(spark, sf):
    oracle = _oracle_merges(sf)
    assert len(oracle) == textstats.BPE_INDUCT_ROUNDS
    assert _merges(textstats_bpe_induction(spark, sf)) == oracle
    stats: dict = {}
    assert _merges(textstats_bpe_induction_batched(spark, sf, stats=stats)) == oracle
    # the batching actually batches (fewer scans than merges) and respects
    # the cap — otherwise this trainer silently degrades to one merge a scan
    sizes = stats["batch_sizes"]
    assert sum(sizes) == len(oracle) and len(sizes) < len(oracle)
    assert max(sizes) <= BPE_BATCH_M


def test_bench_sf_equality_and_fertility(spark):
    """At the bench SF: list equality for both trainers, the gate trainer's
    driver-path precondition, and the fertility receipt (symbols per word
    over the corpus vocabulary after applying the learned merges — the
    metric a tokenizer team ships on) against the oracle's apply."""
    vocab = _word_types(spark, BENCH_SF)
    assert vocab.count() <= BPE_TRAIN_TYPE_CAP  # the driver trainer ran

    oracle = _oracle_merges(BENCH_SF)
    gate = _merges(textstats_bpe_induction(spark, BENCH_SF))
    assert gate == oracle
    assert _merges(textstats_bpe_induction_batched(spark, BENCH_SF)) == oracle

    def lit_sql(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    expr = dl.transform(
        dl.SPARK, dl.seq(dl.SPARK, "1", "length(word)"), "i", "substr(word, i, 1)"
    )
    for _r, a, b, _f in gate:
        la, lb = lit_sql(a), lit_sql(b)
        expr = (
            f"aggregate({expr}, cast(array() as array<string>), (acc, x) -> "
            f"IF(size(acc) > 0 AND element_at(acc, -1) = {la} AND x = {lb}, "
            f"concat(slice(acc, 1, size(acc) - 1), array({la} || {lb})), "
            f"concat(acc, array(x))))"
        )
    got = vocab.select(
        F.sum(F.col("wc") * F.size(F.expr(expr))).alias("n_symbols"),
        F.sum("wc").alias("n_words"),
        F.sum(F.col("wc") * F.length("word")).alias("n_chars"),
    ).collect()[0]
    # the oracle's per-source fertility, summed over sources
    want = _duck_rows(
        BENCH_SF,
        f"SELECT sum(n_symbols), sum(n_words) FROM ({_oracle_bpe_apply()})",
    )[0]
    assert (int(got["n_symbols"]), int(got["n_words"])) == tuple(map(int, want))
    assert got["n_symbols"] < got["n_chars"]  # the merges did merge


@pytest.mark.parametrize("over_cap", [True, False], ids=["above_cap", "at_cap"])
def test_gate_falls_back_to_batched_above_type_cap(
    spark, sf_dir, monkeypatch, over_cap
):
    """The gate name reads the input's type count: one type over the cap
    takes the distributed batched trainer, exactly the cap keeps the
    driver trainer — and both equal the oracle."""
    n_types = _word_types(spark, sf_dir).count()
    monkeypatch.setattr(
        textstats, "BPE_TRAIN_TYPE_CAP", n_types - 1 if over_cap else n_types
    )
    calls = []
    batched = textstats.textstats_bpe_induction_batched

    def spy(spark_, sf_dir, stats=None):
        calls.append(sf_dir)
        return batched(spark_, sf_dir, stats=stats)

    monkeypatch.setattr(textstats, "textstats_bpe_induction_batched", spy)
    got = _merges(textstats.textstats_bpe_induction(spark, sf_dir))
    assert calls == ([sf_dir] if over_cap else [])
    assert got == _oracle_merges(sf_dir)
