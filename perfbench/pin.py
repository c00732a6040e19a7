"""Write the expected result of every ``batch_mix`` query.

    python3 perfbench/pin.py

Runs each query's DuckDB oracle (``registry.all_oracles()``) over the
committed fixture ``perfbench/data/sf0.01`` and writes its result to
``perfbench/expected/<query>.parquet``. ``textstats_bpe_induction_batched``
has no oracle of its own; its pinned result is the oracle output of its
gated twin ``textstats_bpe_induction``, whose merge list it must equal
(``tests/test_bpe_prod.py``). The benchmark compares against these files,
so a run does not pay for the brute-force oracles (about 38 s on a 4-core
box). Run it again only when the fixture or an oracle changes.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from w_batch import DATA, EXPECTED, ORACLE_TWIN, QUERIES  # noqa: E402


def main() -> None:
    import duckdb

    from realtime_twitter_trends_analytics_spark.registry import all_oracles
    from realtime_twitter_trends_analytics_spark.sources.loaders import TABLES

    oracles = all_oracles()
    os.makedirs(EXPECTED, exist_ok=True)
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
        for name in QUERIES:
            sql = oracles[ORACLE_TWIN.get(name, name)]
            con.execute(f"COPY ({sql}) TO '{EXPECTED}/{name}.parquet' (FORMAT parquet)")
            print(name)


if __name__ == "__main__":
    main()
