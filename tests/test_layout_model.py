"""The versioned-table verbs over the one layout model.

Every table is a list of layouts. A flat table is one layout with zero
partition fields at the snapshot root, a date-partitioned table is one
layout with ``day``, and partition evolution appends a layout. Merge,
delete and compact each run one body over that list, so these tests
exercise every verb on every layout shape.
"""

from __future__ import annotations

import os
import uuid

import pytest

from etl_end_to_end_airflow_bigquery_spark.operators import writers

SCHEMA = "k bigint, day string, typ string, v double"
KEYS = ["k", "day", "typ"]
BASE = [(1, "d1", "view", 1.0), (2, "d2", "click", 2.0), (3, "d3", "view", 3.0)]
EVOLVED_EXTRA = [(4, "d4", "view", 4.0)]
BATCH = [(2, "d2", "click", 20.0), (5, "d5", "click", 5.0)]

# Spark jobs each verb launched before the layout model, measured under
# this suite's session (``local[SPARK_GRAFT_CPUS]`` with 4 cores, 8
# shuffle partitions, AQE on). The partitioned delete has no bound: it
# used to rewrite the table flat, which launched fewer jobs and lost the
# layout (see ``test_delete_keeps_partition_layout_for_next_merge``).
PARENT_JOBS = {
    ("merge", "flat"): 5,
    ("merge", "partitioned"): 7,
    ("merge", "evolved"): 21,
    ("delete", "flat"): 7,
    ("delete", "partitioned"): None,
    ("delete", "evolved"): 6,
    ("compact", "flat"): 2,
    ("compact", "partitioned"): 0,
    ("compact", "evolved"): 0,
}


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "day", "typ", "v").collect())


def _table(spark, root: str, layout: str) -> tuple[str, list[tuple]]:
    path = os.path.join(root, layout)
    base = spark.createDataFrame(BASE, SCHEMA)
    if layout == "flat":
        writers.merge_upsert(spark, path, base, keys=KEYS)
        return path, list(BASE)
    writers.merge_upsert(spark, path, base, keys=KEYS, partition_col="day")
    if layout == "partitioned":
        return path, list(BASE)
    writers.evolve_partition_spec(spark, path, ["day", "typ"])
    writers.merge_upsert_evolved(
        spark, path, spark.createDataFrame(EVOLVED_EXTRA, SCHEMA), keys=KEYS
    )
    return path, BASE + EVOLVED_EXTRA


def _run(spark, verb: str, layout: str, path: str):
    evolved = layout == "evolved"
    if verb == "merge":
        batch = spark.createDataFrame(BATCH, SCHEMA)
        if evolved:
            return writers.merge_upsert_evolved(spark, path, batch, keys=KEYS)
        part = "day" if layout == "partitioned" else None
        return writers.merge_upsert(
            spark, path, batch, keys=KEYS, partition_col=part
        )
    if verb == "delete":
        fn = writers.delete_rows_evolved if evolved else writers.delete_rows
        return fn(spark, path, "k = 3")
    fn = writers.compact_parquet_evolved if evolved else writers.compact_parquet
    return fn(spark, path)


def _expected(verb: str, rows: list[tuple]) -> list[tuple]:
    if verb == "merge":
        by_key = {r[:3]: r for r in rows}
        by_key.update({r[:3]: r for r in BATCH})
        return sorted(by_key.values())
    if verb == "delete":
        return sorted(r for r in rows if r[0] != 3)
    return sorted(rows)


@pytest.mark.parametrize("layout", ["flat", "partitioned", "evolved"])
@pytest.mark.parametrize("verb", ["merge", "delete", "compact"])
def test_verb_job_count_guard(spark, tmp_path, verb, layout):
    """No verb launches more Spark jobs than before the layout model.
    Jobs are counted by job group, so jobs that AQE or a broadcast start
    on other threads are counted with the call that caused them."""
    path, rows = _table(spark, str(tmp_path), layout)
    sc = spark.sparkContext
    group = f"layout-guard-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, f"{verb} on {layout}")
    try:
        _run(spark, verb, layout, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert _rows(writers.read_table(spark, path)) == _expected(verb, rows)
    bound = PARENT_JOBS[(verb, layout)]
    if bound is not None:
        assert jobs <= bound, f"{verb} on {layout}: {jobs} jobs > {bound}"


def test_delete_keeps_partition_layout_for_next_merge(spark, tmp_path):
    """A delete on a date-partitioned table rewrites it under its own
    spec. Written back flat, the next partition-scoped merge found no
    ``day=`` leaves to carry and kept only the batch's rows."""
    path = str(tmp_path / "t")
    schema = "k int, day string, v double"
    rows = [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0)]
    writers.merge_upsert(
        spark, path, spark.createDataFrame(rows, schema),
        keys=["k", "day"], partition_col="day",
    )
    assert writers.delete_rows(spark, path, "k = 3") == 1
    vdir = writers._resolve_data_dir(path)
    assert sorted(d for d in os.listdir(vdir) if d.startswith("day=")) == [
        "day=d1", "day=d2",
    ]
    assert writers.snapshot_partition_spec(path)[0] == ["day"]
    writers.merge_upsert(
        spark, path, spark.createDataFrame([(4, "d4", 4.0)], schema),
        keys=["k", "day"], partition_col="day",
    )
    got = sorted(
        tuple(r) for r in writers.read_table(spark, path)
        .select("k", "day", "v").collect()
    )
    assert got == [(1, "d1", 1.0), (2, "d2", 2.0), (4, "d4", 4.0)]


def test_delete_keeps_null_partition_rows(spark, tmp_path):
    """A NULL partition value is hive's default partition. Deleting one
    of its rows rewrites that leaf, so the rewrite must keep the leaf's
    other rows."""
    path = str(tmp_path / "t")
    schema = "k int, day string, v double"
    rows = [(1, None, 1.0), (2, None, 2.0), (3, "d3", 3.0)]
    writers.merge_upsert(
        spark, path, spark.createDataFrame(rows, schema),
        keys=["k"], partition_col="day",
    )
    assert writers.delete_rows(spark, path, "k = 1") == 1
    got = sorted(
        (tuple(r) for r in writers.read_table(spark, path)
         .select("k", "day", "v").collect()),
        key=lambda r: r[0],
    )
    assert got == [(2, None, 2.0), (3, "d3", 3.0)]
