"""The quantizer's numpy kernels (``operators.similarity``) against the
Spark SQL spellings they replace.

Each twin must return bit-identical values on adversarial inputs — exact
ties, negative products, ``.5`` rounding boundaries, saturating and
overflowing BIGINT terms, zero norms — and raise where Spark raises under
ANSI. The Arrow passes built from them must not depend on batch size or
input partitioning, and ``ivfpq_topk_adc`` must stay within its job count.
"""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators import similarity as S
from helpers.ann_reference import _assign_cells, _assign_codes, adc_sum_sql

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def _sql(spark, rows, schema, expr):
    return [
        r[0] for r in spark.createDataFrame(rows, schema).select(F.expr(expr)).collect()
    ]


DOT_PAIRS = [
    ([0.1, -0.2, 0.3], [0.4, 0.5, -0.6]),
    # products of ±1e-13: floor(±0.1) is 0 and -1 — floor, not truncation
    ([-1e-13, 1e-13], [1.0, 1.0]),
    ([0.0, -0.0, 0.0], [5.0, -5.0, -0.0]),
    ([1 / 3] * 64, [-1 / 7] * 64),
    ([0.53, -0.53], [0.53, 0.53]),
    # one product past BIGINT: floor saturates, the fold does not overflow
    ([3e6, 0.0], [4e6, 0.0]),
    ([-3e6, 0.0], [4e6, 1.0]),
]


def test_dot_fold_twin_matches_sql(spark):
    rng = np.random.RandomState(5)
    pairs = DOT_PAIRS + [
        ((rng.randn(64) * 0.2).tolist(), (rng.randn(64) * 0.2).tolist())
        for _ in range(20)
    ]
    want = _sql(
        spark, pairs, "a array<double>, b array<double>", S.dot_fold("a", "b")
    )
    got = [float(S.dot_fold_np(np.array(a), np.array(b))) for a, b in pairs]
    assert got == want


@pytest.mark.parametrize("sign", [1.0, -1.0])
def test_dot_fold_overflow_raises_in_both(spark, sign):
    """Two products past BIGINT: the second add leaves BIGINT. Spark
    raises under ANSI; the twin must raise too, never wrap."""
    a, b = [sign * 3e6, sign * 3e6], [4e6, 4e6]
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _sql(spark, [(a, b)], "a array<double>, b array<double>", S.dot_fold("a", "b"))
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        S.dot_fold_np(np.array(a), np.array(b))


# centroids: cells 2 and 5 are the same point (exact cosine tie → 2);
# cells 1 and 3 mirror each other about the z = 0 plane
CENTS = [
    (5, [1.0, 0.5, 0.0]),
    (3, [0.0, 1.0, 1.0]),
    (2, [1.0, 0.5, 0.0]),
    (1, [0.0, 1.0, -1.0]),
    (7, [-0.25, 0.0, -2.0]),
]
VECS = [
    [0.0, 1.0, 0.0],    # equidistant from cells 1 and 3 → 1
    [2.0, 1.0, 0.0],    # on cells 2/5 → 2
    [-1.0, -0.5, 0.0],  # every cosine negative
    [0.0, 0.0, 1.0],
    [0.1, -0.1, 0.3],
    [-0.5, 0.0, -1.0],
]


def _vec_df(spark, vecs):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id bigint, e array<double>"
    )
    return df.withColumn("norm2", F.expr(S.dot_fold("e", "e")))


def _cent_rows(cents):
    return [
        Row(cell=c, ce=ce, cn=float(S.dot_fold_np(np.array(ce), np.array(ce))))
        for c, ce in cents
    ]


def _nearest_cells_np(vecs, cents):
    cells, ce, cn = S._cents_np((r.cell, r.ce, r.cn) for r in _cent_rows(cents))
    e = np.array(vecs, np.float64)
    return cells[S.nearest_cell_np(e, S.dot_fold_np(e, e), ce, cn)].tolist()


def test_nearest_cell_twin_matches_sql(spark):
    rows = _cent_rows(CENTS)
    v = _vec_df(spark, VECS)
    in_row = {r.vec_id: r.cell for r in S._with_cells_lit(v, rows).collect()}
    grouped = {
        r.vec_id: r.cell
        for r in _assign_cells(v, spark.createDataFrame(rows)).collect()
    }
    got = _nearest_cells_np(VECS, CENTS)
    assert got == [in_row[i] for i in range(len(VECS))]
    assert got == [grouped[i] for i in range(len(VECS))]
    assert got[:2] == [1, 2]  # the two ties go to the lowest cell


@pytest.mark.parametrize(
    "vecs, cents",
    [
        ([[0.0, 0.0, 0.0]], CENTS),                # zero-norm vector
        ([[1.0, 0.0, 0.0]], CENTS + [(9, [0.0, 0.0, 0.0])]),  # zero centroid
    ],
)
def test_nearest_cell_zero_norm_raises_in_both(spark, vecs, cents):
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S._with_cells_lit(_vec_df(spark, vecs), _cent_rows(cents)).collect()
    with pytest.raises(ArithmeticError, match="DIVIDE_BY_ZERO"):
        _nearest_cells_np(vecs, cents)


# two subspaces of two dims, sub-codebooks of different widths: codes 4
# and 1 are equidistant from (1, 0) (tie → 1), codes 6 and 2 coincide
# (tie → 2)
CODEBOOK = [
    (0, 4, [0.0, 0.0]),
    (0, 1, [2.0, 0.0]),
    (0, 9, [-1.5, 2.5]),
    (1, 6, [0.5, -0.5]),
    (1, 2, [0.5, -0.5]),
]
SUBVECS = [
    [1.0, 0.0, 0.5, -0.5],
    [0.0, 0.0, 0.0, 0.0],
    [-3.0, 5.0, -0.25, 0.75],
    [1.0000001, 1e-13, -1e-13, 0.5],
]


def test_nearest_code_twin_matches_sql(spark):
    cb = [
        (s, c, ce, float(S.dot_fold_np(np.array(ce), np.array(ce))))
        for s, c, ce in CODEBOOK
    ]
    sv = spark.createDataFrame(
        [(i, s, v[2 * s : 2 * s + 2]) for i, v in enumerate(SUBVECS) for s in (0, 1)],
        "vec_id bigint, s int, x array<double>",
    ).withColumn("xn", F.expr(S.dot_fold("x", "x")))
    ref = _assign_codes(
        sv, spark.createDataFrame(cb, "s int, code bigint, ce array<double>, cn double")
    ).collect()
    want = {(r.vec_id, r.s): r.code for r in ref}

    q = S._Quantizer(None, S._book_np(cb))
    idx = q.encode(q.subvectors(np.array(SUBVECS)))
    labels = q.book[0][np.arange(2), idx]
    got = {(i, s): int(labels[i, s]) for i in range(len(SUBVECS)) for s in (0, 1)}
    assert got == want
    assert (got[(0, 0)], got[(0, 1)]) == (1, 2)


ADC_ROWS = [
    [1.5, -2.5, 0.0, -0.0],
    [5e-10, -5e-10, 2.5e-9, -1.5e-9],
    [0.4999999999, -0.5000000001, 1e-9, -1e-9],
    [0.12345678949999, -0.98765432150001, 0.33, -0.33],
    [1e10, -2.0, 0.0, 0.0],  # one term saturates at the BIGINT bound
]


def test_adc_twin_matches_sql(spark):
    want = _sql(spark, [(r,) for r in ADC_ROWS], "v array<double>", adc_sum_sql("v"))
    got = [_adc_np(r) for r in ADC_ROWS]
    assert got == want


def _adc_np(vals):
    terms = S.adc_terms_np(np.array(vals)[:, None])  # (M, K=1)
    return float(S.adc_np(terms, np.zeros((1, len(vals)), np.int64))[0])


def test_adc_overflow_raises_in_both(spark):
    vals = [1e10, 1e10]
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        _sql(spark, [(vals,)], "v array<double>", adc_sum_sql("v"))
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        _adc_np(vals)


def test_lloyd_partial_sum_past_int64_stays_exact():
    """10M members of one group each add floor(1.0·1e12): the int64
    partial sum would wrap past ~9.2M members, so the kernel splits the
    batch into partials that Spark adds as decimal(38,0)."""
    n = 10_000_000
    keys = np.zeros(n, np.int64)
    vals = np.full((n, 1), 10**12, np.int64)
    parts = list(S._partials(keys, vals))
    assert len(parts) > 1
    assert sum(int(c[0]) for _, c, _ in parts) == n
    assert sum(int(t[0, 0]) for _, _, t in parts) == n * 10**12


def _ann_results(spark, emb):
    return (
        sorted(map(tuple, S.ivfpq_topk(emb, "vec_id < 5", 3).collect())),
        sorted(map(tuple, S.pq_topk(emb, "vec_id < 5", 3).collect())),
    )


def test_results_independent_of_batches_and_partitions(spark):
    from etl_end_to_end_airflow_bigquery_spark.io import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    base = _ann_results(spark, emb)
    assert all(base)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert _ann_results(spark, emb) == base
    finally:
        spark.conf.set(key, old)
    assert _ann_results(spark, emb.coalesce(1)) == base
    assert _ann_results(spark, emb.repartition(7)) == base


# Jobs per ivfpq_topk_adc call (build + noop write) in the test session:
# 27 with the in-row SQL folds, 13 with the Arrow kernels.
IVFPQ_JOBS = 13


def test_ivfpq_topk_adc_job_count_guard(spark):
    """Counted by job group, as tests/test_layout_model.py does, so the
    jobs AQE and broadcasts start on other threads count too."""
    from etl_end_to_end_airflow_bigquery_spark.plans import QUERIES

    sc = spark.sparkContext
    group = f"ann-guard-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "ivfpq_topk_adc")
    try:
        df = QUERIES["ivfpq_topk_adc"](spark, SF_ORACLE)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= IVFPQ_JOBS, f"ivfpq_topk_adc: {jobs} jobs > {IVFPQ_JOBS}"
