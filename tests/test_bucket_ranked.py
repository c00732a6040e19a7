"""bucket_ranked / ntile: the bucket-offset rank must EQUAL Spark's own
global window (row_number, running sum, ntile) row-for-row on planted
frames that stress every offset edge: a tie group that fills a whole
bucket, one bucket holding 90% of the rows, a single bucket, a
descending key, and empty input."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window, functions as F

from realtime_twitter_trends_analytics_spark.sources.loaders import (
    bucket_ranked,
    ntile,
)

TILES = (1, 3, 7, 32, 5000)


def _planted(spark):
    """(id, k, v): 900 rows with k in [0, 9] (bucket 0 holds 90%), a
    25-row tie group at k = 55 that is all of bucket 5, and 75 rows
    spread over the other buckets of k DIV 10."""
    rnd = random.Random(11)
    ks = [rnd.randrange(10) for _ in range(900)] + [55] * 25
    ks += [rnd.choice([x for x in range(10, 100) if x // 10 != 5]) for _ in range(75)]
    rows = [(i, k, rnd.randrange(-50, 1000)) for i, k in enumerate(rnd.sample(ks, len(ks)))]
    return spark.createDataFrame(rows, "id bigint, k bigint, v bigint")


def _check(df, bucket, order):
    got, n, s = bucket_ranked(df, bucket, order, value="v")
    want = df.select(
        "id",
        F.row_number().over(Window.orderBy(*order)).alias("_rn"),
        F.sum("v").over(
            Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_run"),
        *[F.ntile(t).over(Window.orderBy(*order)).alias(f"t{t}") for t in TILES],
    )
    got = got.select("id", "_rn", "_run", *[ntile("_rn", n, t).alias(f"t{t}") for t in TILES])
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert n == df.count()
    assert s == (df.agg(F.sum("v")).collect()[0][0] or 0)


@pytest.mark.parametrize("descending", [False, True])
def test_ranks_equal_global_window_on_skewed_tied_buckets(spark, descending):
    df = _planted(spark)
    if descending:
        order, bucket = [F.desc("k"), F.asc("id")], -F.floor(F.col("k") / 10)
    else:
        order, bucket = [F.asc("k"), F.asc("id")], F.floor(F.col("k") / 10)
    _check(df, bucket, order)


def test_single_bucket_equals_global_window(spark):
    _check(_planted(spark), F.lit(0), [F.desc("k"), F.asc("id")])


def test_empty_input(spark):
    _check(_planted(spark).filter("k < 0"), F.floor(F.col("k") / 10), [F.asc("k"), F.asc("id")])


def test_rank_only_has_no_running_sum(spark):
    got, n, s = bucket_ranked(_planted(spark), F.lit(0), [F.asc("id")])
    assert "_run" not in got.columns and (n, s) == (1000, 0)


def test_null_bucket_is_rejected(spark):
    with pytest.raises(ValueError, match="null"):
        bucket_ranked(_planted(spark), F.lit(None).cast("bigint"), [F.asc("id")])
