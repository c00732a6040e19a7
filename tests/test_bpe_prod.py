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


def _long_tail_documents(path) -> int:
    """A documents.parquet whose whitespace vocabulary is a long-tailed
    type table: 3000 word types of 3-12 letters under Zipf counts. Every
    base word over {a, c, e, g, i} ships with its image under the
    order-reversing map onto {j, h, f, d, b} at the same count. The two
    halves share no symbol, so each starting pair count has a tie partner
    in the other half, and as the map reverses letter order, the tie
    break on sym_a and the one on sym_b disagree on which twin goes
    first. Returns the type count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(20261019)
    letters = "acegi"
    swap = str.maketrans(letters, "jhfdb")
    types: list[str] = []
    seen: set[str] = set()
    while len(types) < 3000:
        w = "".join(rng.choice(list(letters), size=int(rng.integers(3, 13))))
        if w in seen:
            continue
        seen.add(w)
        types += [w, w.translate(swap)]
    tokens: list[str] = []
    for rank in range(len(types) // 2):
        wc = max(1, int(600 / (rank + 1) ** 1.1))
        tokens += [types[2 * rank], types[2 * rank + 1]] * wc
    rng.shuffle(tokens)
    texts = [" ".join(tokens[i : i + 40]) for i in range(0, len(tokens), 40)]
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": texts,
                "lang": ["en"] * n,
                "source": [f"src{i % 3}" for i in range(n)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path / "documents.parquet",
    )
    return len(types)


def test_long_tailed_type_table_learns_oracle_merges(spark, tmp_path):
    """The test fixtures hold only 31 word types; this corpus has ~3000,
    many-symbol words and tied pair counts at every rank, and both
    trainers must still reproduce the oracle's list merge for merge."""
    n_types = _long_tail_documents(tmp_path)
    sf = str(tmp_path)
    assert _word_types(spark, sf).count() == n_types
    oracle = _oracle_merges(sf)
    assert len(oracle) == textstats.BPE_INDUCT_ROUNDS
    assert len({f for _r, _a, _b, f in oracle}) < len(oracle)  # ties ranked
    assert _merges(textstats_bpe_induction(spark, sf)) == oracle
    assert _merges(textstats_bpe_induction_batched(spark, sf)) == oracle
