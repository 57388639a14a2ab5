"""Regenerate expected.json: the DuckDB oracle's result digest for every
query of the batch workloads, over the committed sf0.01 fixtures.

    python3 perfbench/oracle.py

Run it only when a workload's query list or the fixtures change; the
benchmark compares each Spark result against this file.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import batch  # noqa: E402
from perfbench.run import EXPECTED, FIXTURES  # noqa: E402
from spring_and_kafka_spark import registry  # noqa: E402
from spring_and_kafka_spark.sources.tables import TABLES  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/{t}.parquet'")
    oracle = registry.oracle_sql()
    expected = {}
    for names in batch.WORKLOADS.values():
        for name in names:
            res = con.execute(oracle[name])
            expected[name] = batch.result_digest(
                [d[0] for d in res.description], res.fetchall()
            )
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(expected)} digests to {EXPECTED}")


if __name__ == "__main__":
    main()
