"""JVM spellings of the quantizer arithmetic, kept as the reference the
numpy kernels of ``operators.similarity`` are pinned against.

These were the package's assignment and scoring paths before the
quantizer passes moved to Arrow kernels; no package code calls them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_end_to_end_airflow_bigquery_spark.operators.similarity import (
    ADC_SCALE,
    PQ_M,
    PQ_SUBDIM,
    dot_fold,
)


def _subvectors(v: DataFrame) -> DataFrame:
    """(vec_id, s, x, xn): each vector split into PQ_M contiguous
    subvectors with exact squared subnorms. The posexplode is a narrow
    transformation (no shuffle) — N·M rows exist only inside the stage
    that consumes them."""
    slices = F.array(
        *[
            F.slice(F.col("e"), s * PQ_SUBDIM + 1, PQ_SUBDIM)
            for s in range(PQ_M)
        ]
    )
    return (
        v.select("vec_id", F.posexplode(slices).alias("s", "x"))
        .withColumn("xn", F.expr(dot_fold("x", "x")))
    )


def _assign_codes(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, s, code): nearest sub-codeword by exact L2 (ties →
    lowest code). d² = ‖x‖² − 2·x·c + ‖c‖² from the exact fixed-point
    dots, so the argmin is bit-identical in any engine; the argmin
    itself is a partial-aggregating struct max (only ~N·M pre-aggregated
    rows cross the exchange, never N·M·K)."""
    d2 = F.col("xn") - 2.0 * F.expr(dot_fold("x", "ce")) + F.col("cn")
    scored = sv.join(F.broadcast(cb), "s").select(
        "vec_id", "s", "code", d2.alias("d2")
    )
    return (
        scored.groupBy("vec_id", "s")
        .agg(
            F.max(
                F.struct((-F.col("d2")).alias("neg_d2"),
                         (-F.col("code")).alias("neg_code"))
            ).alias("__m")
        )
        .select("vec_id", "s", (-F.col("__m.neg_code")).alias("code"))
    )


def _argmax_cell(scored: DataFrame) -> DataFrame:
    """(vec_id, cell, cos_to_seed) → (vec_id, cell) keeping the highest
    cosine, ties → lowest cell id.

    Struct-max aggregation, NOT a row_number window: a grouped max gets
    partial aggregation map-side, so only ~N pre-aggregated rows cross
    the exchange instead of the full N·K scored cross product being
    shuffled and sorted (VERDICT r03 item 5). The tie rule is pinned
    inside the struct ordering (max cosine, then max of the NEGATED cell
    = lowest cell) — fully deterministic, same result as the window
    spelling."""
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos_to_seed"), (-F.col("cell")).alias("neg_cell")
                )
            ).alias("__m")
        )
        .select("vec_id", (-F.col("__m.neg_cell")).alias("cell"))
    )


def _assign_cells(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """vec_id → nearest centroid by cosine (ties → lowest cell id).

    One broadcast of the K centroids, one in-row dot per (vector,
    centroid), argmax via a partial-aggregating struct max
    (:func:`_argmax_cell`) — O(N·K·d) compute but only ~N rows ever
    cross the exchange."""
    scored = (
        v.select("vec_id", "e", "norm2")
        .crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "cell",
            (
                F.expr(dot_fold("e", "ce")) / (F.sqrt("norm2") * F.sqrt("cn"))
            ).alias("cos_to_seed"),
        )
    )
    return _argmax_cell(scored)


def adc_sum_sql(vals: str) -> str:
    """The in-row ADC score over an array of looked-up table values:
    Σ floor(v·1e9 + 0.5) as BIGINT adds, then one double division."""
    return (
        f"CAST(aggregate({vals}, CAST(0 AS BIGINT), (acc2, v) -> acc2 + "
        f"CAST(floor(v * {ADC_SCALE} + 0.5) AS BIGINT)) AS DOUBLE) / {ADC_SCALE}"
    )
