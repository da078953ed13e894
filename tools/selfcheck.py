"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same sf dir, then compares row count, column names, and
an order-insensitive canonical value listing. Exact string equality on
canonicalized values — the queries are engineered (decimal accumulation,
shared tie-breaks, identical rounding) so results match exactly, not
approximately.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_end_to_end_airflow_bigquery_spark.schemas import TESTDATA_TABLES


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from etl_end_to_end_airflow_bigquery_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(only - set(queries))
    if unknown:
        print(f"FAIL unknown query names requested: {unknown}")
        return 1
    checked = []
    failed = []

    # Preflight type lint (VERDICT r06 item 2): ``str()`` canon below
    # masks DuckDB-only result types (HUGEINT from SUM(BIGINT), DECIMAL
    # from decimal-literal promotion) that the driver's hash
    # canonicalizes differently from Spark's — bind every oracle and
    # fail fast on any type outside the safe closure.
    _allowed = {"BIGINT", "INTEGER", "DOUBLE", "FLOAT", "VARCHAR",
                "DATE", "TIMESTAMP", "BOOLEAN"}
    for name, sql in oracles.items():
        if only and name not in only:
            continue
        try:
            rel = con.sql(sql)
            bad = [(c, str(ty)) for c, ty in zip(rel.columns, rel.types)
                   if str(ty) not in _allowed]
        except Exception as e:
            print(f"FAIL {name}: oracle bind error: {type(e).__name__}: {str(e)[:200]}")
            failed.append(name)
            continue
        if bad:
            print(f"FAIL {name}: oracle emits driver-hash-unsafe types {bad}")
            failed.append(name)
    if failed:
        print(f"\n{len(failed)} type-lint failures: {failed}")
        return 1
    for name, fn in queries.items():
        if only and name not in only:
            continue
        checked.append(name)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:400]}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:400]}")
            failed.append(name)
            continue
        sc, sv = frame_to_rows(scols, srows)
        dc, dv = frame_to_rows(dcols, drows)
        status = []
        if sc != dc:
            status.append(f"cols spark={sc} duck={dc}")
        if len(sv) != len(dv):
            status.append(f"rowcount spark={len(sv)} duck={len(dv)}")
        if not status and sv != dv:
            diffs = [(a, b) for a, b in zip(sv, dv) if a != b][:3]
            status.append(f"values differ, first diffs: {diffs}")
        if status:
            print(f"FAIL {name}: " + "; ".join(status))
            failed.append(name)
        else:
            print(f"OK   {name} ({len(sv)} rows, {time.time()-t0:.1f}s)")
        # Both engines have consumed the frames — sweep any temp dirs
        # the query materialized (time travel, IVM state, RFM stages).
        from etl_end_to_end_airflow_bigquery_spark.tmputil import sweep_tmpdirs

        sweep_tmpdirs()

    suffix = f" (partial run over {checked})" if only else ""
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else "") + suffix)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
