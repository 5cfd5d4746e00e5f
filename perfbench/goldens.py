#!/usr/bin/env python3
"""Record the count-and-hash goldens of the curation entries that have no
DuckDB oracle (``perfbench/goldens.json``).  Run from a checkout root on
the commit whose answers define correctness:

    python3 perfbench/goldens.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import run as R  # noqa: E402


def main() -> None:
    R.setup_env()
    from ton_etl_spark.plans.queries import ORACLES, QUERIES
    from ton_etl_spark.session import get_spark
    from workloads import CURATION_QUERIES, rowset, rowset_digest

    spark = get_spark(app_name="perfbench-goldens", master=f"local[{os.cpu_count()}]")
    data = os.path.join(HERE, "data")
    goldens = {}
    try:
        for q in CURATION_QUERIES:
            if q in ORACLES:
                continue
            df = QUERIES[q](spark, data)
            rs = rowset(df.collect(), df.columns)
            goldens[q] = [len(rs), rowset_digest(rs)]
    finally:
        R.stop_spark(spark)
    with open(os.path.join(HERE, "goldens.json"), "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(goldens)


if __name__ == "__main__":
    main()
