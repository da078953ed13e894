"""Tests of the benchmark's own helpers; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

import fxmodel
from measure import Span, census, census_delta, covered, self_times, tail, unique_bytes

HERE = os.path.dirname(os.path.abspath(__file__))


def test_tail_is_the_sample_with_ten_beyond_it():
    t = tail([float(i) for i in range(1, 101)])
    assert t == {"value": 90.0, "percentile": 90.0, "samples": 100, "samples_beyond": 10}


def test_tail_with_eleven_samples_is_the_lowest():
    t = tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert (t["value"], t["samples_beyond"]) == (1.0, 10)


def test_tail_without_ten_beyond_reports_the_maximum():
    t = tail([3.0, 1.0, 2.0])
    assert (t["value"], t["percentile"], t["samples_beyond"]) == (3.0, 100.0, 0)
    assert tail([])["samples"] == 0


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8), (9, 20)], 0, 10) == pytest.approx(6.0)
    assert covered([], 0, 10) == 0.0


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0, -1, 0),
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 2.0, 5.0, 0, 0),  # overlaps a: the union is counted once
        Span("c", 2.5, 4.0, 2, 0),  # grandchild: only b loses it
        Span("d", 7.0, 8.0, 0, 0),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 1.5, 1.5, 1.0])


def test_census_counts_new_inodes_not_hardlinks(tmp_path):
    old = tmp_path / "v1" / "part-0.parquet"
    old.parent.mkdir()
    old.write_bytes(b"x" * 100)
    before = census(str(tmp_path))
    (tmp_path / "v2").mkdir()
    os.link(old, tmp_path / "v2" / "part-0.parquet")  # carried over
    (tmp_path / "v2" / "part-1.parquet").write_bytes(b"y" * 40)  # written
    after = census(str(tmp_path))
    d = census_delta(before, after)
    assert (d["files_written"], d["bytes_written"], d["files_linked"]) == (1, 40, 1)
    assert d["new_paths"] == [str(tmp_path / "v2" / "part-1.parquet")]
    assert unique_bytes(after) == 140


def _tick(seq: int, day: int, rate: float) -> list[tuple]:
    ts = fxmodel.EPOCH + dt.timedelta(days=day, minutes=seq)
    payload = {"base": "EUR", "date": ts.date().isoformat(), "rates": {"USD": rate, "GBP": rate / 2}}
    return fxmodel.tick_rows(payload, ts)


def test_model_latest_wins_first_wins_and_append_all():
    ticks = [_tick(0, 0, 1.0), _tick(1, 0, 2.0), _tick(2, 1, 3.0)]
    usd = lambda rows: sorted(r[4] for r in rows if r[3] == "USD")  # noqa: E731
    assert usd(fxmodel.expected_rows(ticks, "merge")) == [2.0, 3.0]
    assert usd(fxmodel.expected_rows(ticks, "idempotent")) == [1.0, 3.0]
    assert usd(fxmodel.expected_rows(ticks, "append")) == [1.0, 2.0, 3.0]
    with pytest.raises(ValueError):
        fxmodel.expected_rows(ticks, "upsert")


def test_tick_rows_carry_the_quote_day_at_midnight():
    (row,) = [r for r in _tick(5, 2, 1.5) if r[3] == "USD"]
    day_us = 86_400_000_000
    assert row[1] % day_us == 0 and row[0] - row[1] == 5 * 60 * 1_000_000
    assert row[2:] == ("EUR", "USD", 1.5)


def test_tick_source_is_seeded_and_walks_the_clock():
    a, b = fxmodel.TickSource(7, ticks_per_day=4), fxmodel.TickSource(7, ticks_per_day=4)
    pa_, pb = [a.next() for _ in range(5)], [b.next() for _ in range(5)]
    assert pa_ == pb
    assert [p["date"] for p, _ in pa_] == ["2030-01-01"] * 4 + ["2030-01-02"]
    assert pa_[1][1] - pa_[0][1] == dt.timedelta(hours=6)
    assert set(pa_[0][0]["rates"]) == set(fxmodel.QUOTES)
    assert fxmodel.TickSource(8, 4).next()[0] != pa_[0][0]


def test_benchmark_json_names_what_run_prints():
    import run
    import tracing
    import workloads

    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END_UNITS
    r = workloads.Runner.__new__(workloads.Runner)
    r.ops = []
    layers = run.per_layer(r, tracing.Tracer(), 0.0, 0.0)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        k: run._layer_unit(k) for k in layers
    }
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_multiset_diff_counts_both_directions_with_multiplicity():
    import duckdb

    import workloads

    con = duckdb.connect()
    one_two = "SELECT 1 AS x UNION ALL SELECT 2"
    assert workloads._multiset_diff(con, one_two, "SELECT 2 AS x UNION ALL SELECT 1") == 0
    assert workloads._multiset_diff(con, one_two, "SELECT 1 AS x UNION ALL SELECT 1") == 2
    assert workloads._multiset_diff(con, "SELECT 1 AS x", one_two) == 1


# Rows per table in the shared test sets' parquet footers (and distinct
# event users), the counts ``datagen`` has to reproduce.
SHARED_ROWS = {
    0.001: dict(customer=150, supplier=10, part=200, orders=1500, lineitem=6000,
                events=1000, documents=500, embeddings=500, users=15),
    0.01: dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
               events=10000, documents=500, embeddings=500, users=150),
    0.1: dict(customer=15000, supplier=1000, part=20000, orders=150000, lineitem=600000,
              events=100000, documents=5000, embeddings=2000, users=1500),
}


@pytest.mark.parametrize("sf", sorted(SHARED_ROWS))
def test_datagen_row_counts_match_the_shared_sets(sf):
    import datagen

    assert datagen.row_counts(sf) == {"region": 5, "nation": 25, **SHARED_ROWS[sf]}


def test_datagen_shapes_match_the_shared_sets(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    import datagen

    rows = datagen.generate(str(tmp_path), seed=3, sf=0.001)
    assert rows == {k: v for k, v in datagen.row_counts(0.001).items() if k != "users"}
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    assert sum(t.endswith(" dup") for t in docs["text"]) == 500 // 20
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert docs["source"][:21] == [f"src{i % 20}" for i in range(21)]
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pydict()
    vec = np.array(emb["embedding"], dtype=np.float64)
    assert vec.shape == (500, 64)
    assert np.allclose(np.linalg.norm(vec, axis=1), 1.0, atol=1e-6)
    # No cluster structure: same-label vectors are about as far apart as any.
    cos = vec @ vec.T
    same = np.equal.outer(emb["label"], emb["label"]) & ~np.eye(500, dtype=bool)
    assert abs(cos[same].mean()) < 0.02
    words = {w for n in pq.read_table(tmp_path / "part.parquet")["p_name"].to_pylist()
             for w in n.split()}
    assert words <= set(datagen._COLORS) | set(datagen._NOUNS)
