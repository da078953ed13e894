"""In-row Catalyst spellings of the greedy BPE merge, kept as the JVM
reference the Arrow-batched merge kernels of ``plans.queries_ext`` are
pinned against. No package code calls them.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _bpe_apply_merge(t, a: str, b: str):
    """Greedy left-to-right non-overlapping application of merge (a,b)
    to a token array, entirely IN-ROW via an ``F.aggregate`` fold —
    state = (emitted prefix, one pending token); no UDF, no shuffle.
    Literals ride as ``F.lit`` columns, so no SQL-string escaping."""
    merged = F.lit(a + b)
    zero = F.struct(
        F.expr("cast(array() as array<string>)").alias("out"),
        F.expr("cast(null as string)").alias("pend"),
    )

    def step(s, x):
        return (
            F.when(
                s["pend"].isNull(),
                F.struct(s["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (s["pend"] == F.lit(a)) & (x == F.lit(b)),
                F.struct(
                    F.concat(s["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(s["out"], F.array(s["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def finish(s):
        return F.when(s["pend"].isNull(), s["out"]).otherwise(
            F.concat(s["out"], F.array(s["pend"]))
        )

    return F.aggregate(t, zero, step, finish)


def _bpe_apply_merge_sparse(t, a: str, b: str):
    """Same greedy left-to-right non-overlapping merge semantics as
    :func:`_bpe_apply_merge`, but O(n + n·m) per row instead of the
    dense fold's O(n²): the dense version rebuilds the output array by
    concat at EVERY token, while corpora match a given pair at few
    positions (m ≪ n). Here the fold runs only over candidate match
    positions with a scalar consume cursor (greedy = take a match iff
    its start is past the last consumed token), and the output is
    rebuilt with one filter/transform pass. Equivalence to the dense
    fold AND the Python kernel is pytest-proven on randomized inputs.
    The production trainer/encoder path runs the Arrow-batched kernels
    of ``plans.queries_ext``; these in-row folds are the JVM-side
    reference implementations the pins triangulate.

    The input array is bound ONCE through a lambda variable (the
    ``transform(array(t), tt -> …)[1]`` idiom): the body references the
    tokens ~6 times, and naive column references would copy the
    upstream expression subtree each time — chaining k merge stages
    then grows the plan ~6^k and stalls codegen. Lambda-variable
    references are named bindings, not subtree copies, so chained
    stages stay linear (the dense fold gets this for free by passing
    ``t`` to ``aggregate`` exactly once)."""
    merged = F.lit(a + b)

    def body(tt):
        n = F.size(tt)
        cand = F.filter(
            F.sequence(F.lit(1), n - 1),
            lambda p: (F.element_at(tt, p) == F.lit(a))
            & (F.element_at(tt, p + 1) == F.lit(b)),
        )
        zero = F.struct(
            F.expr("cast(array() as array<int>)").alias("taken"),
            F.lit(0).alias("e"),
        )

        def step(s, p):
            return F.when(
                p > s["e"],
                F.struct(
                    F.concat(s["taken"], F.array(p)).alias("taken"),
                    (p + 1).alias("e"),
                ),
            ).otherwise(s)

        def finish(s):
            tk = s["taken"]
            return F.transform(
                F.filter(
                    F.sequence(F.lit(1), n),
                    lambda p: ~F.array_contains(tk, p - 1),
                ),
                lambda p: F.when(
                    F.array_contains(tk, p), merged
                ).otherwise(F.element_at(tt, p)),
            )

        # CASE evaluates branches lazily, so the descending
        # sequence(1, 0) of a size<2 doc is never built (the ADVICE r8
        # ANSI trap).
        return F.when(
            n >= 2, F.aggregate(cand, zero, step, finish)
        ).otherwise(tt)

    return F.element_at(F.transform(F.array(t), body), 1)
