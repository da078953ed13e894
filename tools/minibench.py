"""Min-of-N noop-sink timing for named queries (bench.py methodology,
subset) — the quick A/B harness for optimization work.

Usage: python tools/minibench.py [sf_dir] [-nN] query [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    rest = sys.argv[1:]
    n = 3
    if rest and rest[0].startswith("-n"):
        n, rest = int(rest[0][2:]), rest[1:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest

    from etl_end_to_end_airflow_bigquery_spark.plans import QUERIES
    from etl_end_to_end_airflow_bigquery_spark.session import get_spark
    from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

    spark = get_spark("minibench")
    QUERIES["top_orders_by_date"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    total = 0.0
    for name in names:
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.perf_counter() - t0)
        sweep_tmpdirs()
        total += min(runs)
        print(
            f"{min(runs):7.3f} min {statistics.median(runs):7.3f} med  {name}"
        )
    print(f"{total:7.3f} TOTAL(min)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
