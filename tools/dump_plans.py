"""Dump ``.explain("formatted")`` for named queries to text files.

Usage:
    python tools/dump_plans.py <out_dir> <suffix> [sf_dir] query [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each named query — the
optimization-round evidence files (plans/r15/<q>_before.txt / _after.txt).
Plans are BUILT, not executed (explain only); queries whose plan is only
resolvable after side effects (streaming registry names) are skipped with
a note in the file.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest
    os.makedirs(out_dir, exist_ok=True)

    from etl_end_to_end_airflow_bigquery_spark.plans import QUERIES
    from etl_end_to_end_airflow_bigquery_spark.session import get_spark

    spark = get_spark("dump_plans")
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — record the failure in the file
            plan = f"<explain failed: {type(e).__name__}: {e}>"
        with open(path, "w") as f:
            f.write(f"# {name} @ {sf_dir} ({suffix})\n{plan}")
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
