"""Semantics tests for the data-layout operators (z-order locality,
histogram totals, SCD2 range chaining)."""

from __future__ import annotations

import datetime

from realtime_twitter_trends_analytics_spark.operators.layout import (
    SCD_OPEN_END,
    events_value_histogram,
    layout_zorder_key,
    orders_scd_ranges,
)
from realtime_twitter_trends_analytics_spark.sources.loaders import load_table


def test_zorder_blocks_are_local(spark, sf_dir):
    blocks = layout_zorder_key(spark, sf_dir).collect()
    assert len(blocks) > 1
    global_area = (
        (max(b["max_user"] for b in blocks) - min(b["min_user"] for b in blocks) + 1)
        * (max(b["max_hour"] for b in blocks) - min(b["min_hour"] for b in blocks) + 1)
    )
    # the point of z-ordering: each block's (user, hour) bounding box is a
    # small fraction of the global box, so min/max footers prune most blocks
    mean_area = sum(b["bbox_area"] for b in blocks) / len(blocks)
    assert mean_area < 0.5 * global_area


def test_zorder_layout_measurably_prunes_files(spark, sf_dir, tmp_path):
    """End-to-end proof of the data-skipping claim: write events into 8
    parquet files range-partitioned by the z-key vs. unsorted, read back
    only the footer min/max stats (what any engine's scan pruner sees),
    and measure the fraction of files a point predicate on (user, hour)
    could skip. Z-ordered layout must prune most files; the unsorted
    layout prunes ~none — the difference IS the 100 TB scan win."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from realtime_twitter_trends_analytics_spark.functions import dialect as dl
    from realtime_twitter_trends_analytics_spark.operators.layout import (
        Z_BITS,
        _epoch_sec,
        _z_sql,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        F.expr(f"user_id & {2 ** Z_BITS - 1}").alias("ux"),
        F.expr(f"({_epoch_sec(dl.SPARK)} DIV 3600) & {2 ** Z_BITS - 1}").alias("tb"),
    ).withColumn("z", F.expr(_z_sql(dl.SPARK)))

    zdir, udir = str(tmp_path / "zorder"), str(tmp_path / "unsorted")
    rows.repartitionByRange(8, "z").sortWithinPartitions("z").write.parquet(zdir)
    rows.repartition(8).write.parquet(udir)

    def file_stats(path):
        import glob

        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            lo = {c: None for c in ("ux", "tb")}
            hi = {c: None for c in ("ux", "tb")}
            for rg in range(md.num_row_groups):
                for c in ("ux", "tb"):
                    st = md.row_group(rg).column(cols[c]).statistics
                    lo[c] = st.min if lo[c] is None else min(lo[c], st.min)
                    hi[c] = st.max if hi[c] is None else max(hi[c], st.max)
            out.append((lo, hi))
        return out

    # deterministic probe points = real data points spread across the
    # z-range (a point predicate a user would actually issue)
    ordered = rows.orderBy("z").collect()
    step = max(1, len(ordered) // 16)
    probes = [(r["ux"], r["tb"]) for r in ordered[::step][:16]]

    def pruned_fraction(stats):
        skipped = 0
        for u, h in probes:
            for lo, hi in stats:
                if not (lo["ux"] <= u <= hi["ux"] and lo["tb"] <= h <= hi["tb"]):
                    skipped += 1
        return skipped / (len(probes) * len(stats))

    z_pruned = pruned_fraction(file_stats(zdir))
    u_pruned = pruned_fraction(file_stats(udir))
    assert z_pruned >= 0.5, f"z-order should prune most files, got {z_pruned:.2f}"
    assert z_pruned > u_pruned + 0.3, (
        f"z-order ({z_pruned:.2f}) must beat unsorted ({u_pruned:.2f}) decisively"
    )


def test_histogram_partitions_all_events(spark, sf_dir):
    hist = events_value_histogram(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_events"] for r in hist) == n_events
    for r in hist:
        assert r["bucket_hi"] - r["bucket_lo"] == 25


def test_scd_ranges_chain_per_customer(spark, sf_dir):
    rows = orders_scd_ranges(spark, sf_dir).collect()
    open_end = datetime.date.fromisoformat(SCD_OPEN_END)
    by_cust: dict[int, list] = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    for hist in by_cust.values():
        hist.sort(key=lambda r: (r["effective_from"], r["o_orderkey"]))
        # exactly one open-ended current row per customer, and it is the last
        assert sum(r["is_current"] for r in hist) == 1
        assert hist[-1]["is_current"] == 1
        assert hist[-1]["effective_to"] == open_end
        for prev, nxt in zip(hist, hist[1:]):
            assert prev["effective_to"] == nxt["effective_from"] - datetime.timedelta(
                days=1
            )


def test_asof_snapshot_one_row_per_customer(spark, sf_dir):
    """SCD2 invariant: non-overlapping effective ranges mean the as-of
    read returns AT MOST one row per customer, and every returned range
    actually covers the as-of date."""
    from pyspark.sql import functions as F

    from realtime_twitter_trends_analytics_spark.operators.layout import (
        SCD_AS_OF,
        orders_asof_snapshot,
    )

    snap = orders_asof_snapshot(spark, sf_dir)
    dup = snap.groupBy("o_custkey").count().filter(F.col("count") > 1).count()
    assert dup == 0
    bad = snap.filter(
        (F.col("effective_from") > F.lit(SCD_AS_OF).cast("date"))
        | (F.col("effective_to") < F.lit(SCD_AS_OF).cast("date"))
    ).count()
    assert bad == 0


def test_join_ivm_null_dates_match_one_join_recompute(spark, tmp_path):
    """orders_join_ivm with a null o_orderdate and a null l_shipdate equals
    the oracle's one-join recompute. Order 3's null month has lineitems on
    both sides of the split, so the null month reaches the base AND the
    increment and must merge into one row; the null ship date (order 4)
    must stay in the base. TPC-H dates are never null, so the sf fixtures
    cannot catch either case."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from realtime_twitter_trends_analytics_spark.operators.layout import (
        _oracle_join_ivm,
        orders_join_ivm,
    )
    from realtime_twitter_trends_analytics_spark.plans.explain import count_exchanges

    d = datetime.datetime
    ts = pa.timestamp("us")
    orders = pa.table(
        {
            "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
            "o_orderpriority": ["1-URGENT", "1-URGENT", "2-HIGH", "2-HIGH"],
            "o_orderdate": pa.array(
                [d(1995, 3, 15), d(1998, 2, 1), None, d(1996, 6, 30)], ts
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([1, 1, 2, 2, 3, 3, 4], pa.int64()),
            "l_extendedprice": [100.25, 10.0, 5.5, 7.0, 3.0, 4.0, 1.0],
            "l_shipdate": pa.array(
                [
                    d(1995, 4, 1),
                    d(1997, 2, 1),
                    d(1998, 2, 10),
                    None,
                    d(1995, 1, 1),
                    d(1998, 1, 1),
                    None,
                ],
                ts,
            ),
        }
    )
    pq.write_table(orders, tmp_path / "orders.parquet")
    pq.write_table(lineitem, tmp_path / "lineitem.parquet")

    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    want = con.execute(_oracle_join_ivm()).fetchall()
    con.close()
    view = orders_join_ivm(spark, str(tmp_path))
    # the null-safe merge reuses the aggregates' partitioning (an
    # eqNullSafe join condition plans two more exchanges)
    assert count_exchanges(view) <= 3
    got = [tuple(r) for r in view.collect()]

    def key(row):
        return (row[0], row[1] is None, row[1] or datetime.date.min)

    assert sorted(got, key=key) == sorted(want, key=key)
    assert any(r[1] is None for r in want), "fixture lost its null month"
