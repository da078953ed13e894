"""Vector similarity search over an embedding column (extension pack).

Two paths, per the standard ANN playbook:

- **brute-force cosine top-k** (the exactness baseline): queries ×
  corpus, dot products computed engine-side. Cost O(|Q|·N·d) — fine for
  small |Q| at any N because the corpus side streams; the per-query
  top-k is a windowed rank, not a global sort.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures
  (sign of ⟨e, h_p⟩ over P fixed planes) bucket the corpus; search only
  the query's bucket. At 100 TB the bucket column is a partition key —
  candidate scans touch one bucket, not the corpus.

Numerics are engineered for cross-engine exactness without leaving the
row: float32 embeddings are cast to double, each per-dimension product
is scaled by 1e12 and floored to BIGINT, and the integer sum — exact and
associative, so partitioning-independent — folds in-row via
``aggregate()`` (no explode, no extra shuffle). The DuckDB oracle runs
the same scaled-integer arithmetic; sqrt/divide then operate on
identical doubles. Hyperplanes come from a fixed numpy seed and are
embedded as literals in both engines. The quantizer paths (Lloyd
training, PQ encode, ADC scoring) run the same arithmetic as numpy
kernels over Arrow batches — exact twins of the SQL folds.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from ..io import spread_small_scan as _spread  # guide §2.5

N_PLANES = 8
PLANE_SEED = 7
EMB_DIM = 64
DEC = "decimal(25,12)"  # exact accumulator for grouped vector averages
# Fixed-point scale for exact dot products: |x|<0.6, d=64 ⇒ |dot·1e12| ≲
# 2e13 ≪ 2^53, so the BIGINT sum converts to double exactly.
DOT_SCALE = "1000000000000.0"


def dot_fold(a: str, b: str) -> str:
    """Spark SQL expr: exact scaled-integer dot product of two double
    arrays, folded in-row (see module docstring)."""
    return (
        f"CAST(aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, p) -> acc + floor(p * {DOT_SCALE})) "
        f"AS DOUBLE) / {DOT_SCALE}"
    )


def hyperplanes(
    n_planes: int = N_PLANES, dim: int = EMB_DIM, seed: int = PLANE_SEED
) -> np.ndarray:
    """Fixed random hyperplanes, identical across engines/runs. Distinct
    ``seed``s give the independent tables of multi-table LSH."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def _vectors(df: DataFrame) -> DataFrame:
    """vec_id + embedding cast float→double + exact squared norm."""
    return df.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
    ).withColumn("norm2", F.expr(dot_fold("e", "e")))


def cosine_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: (q_id, neighbor_id, cosine, rank).

    Query side broadcast; one pass over the corpus computes the dot
    in-row; the per-query top-k is a window rank partitioned by query —
    the only shuffle is on q_id.
    """
    v = _vectors(embeddings)
    q = v.filter(query_pred).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(v.select("vec_id", "e", "norm2"))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.expr(dot_fold("qe", "e"))
                / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


def lsh_buckets(
    spark: SparkSession,
    embeddings: DataFrame,
    dim: int = EMB_DIM,
    seed: int = PLANE_SEED,
) -> DataFrame:
    """vec_id → LSH bucket id (random-hyperplane sign bits).

    Plane dots use the same exact fold, so the sign — and therefore the
    bucket — is engine-exact. One broadcast of P planes, one grouped sum
    over (vec, plane) sign bits.
    """
    del spark  # kept in the signature for API compatibility
    return _with_buckets(_vectors(embeddings), dim=dim, seed=seed).select(
        "vec_id", "bucket"
    )


def _with_buckets(
    v: DataFrame, dim: int = EMB_DIM, seed: int = PLANE_SEED
) -> DataFrame:
    """``v`` + its LSH ``bucket`` column, computed IN-ROW (r15, guide
    §2.4): the hyperplanes are compile-time constants (fixed numpy
    seed), so the per-plane sign bits fold over a literal plane array
    in one projection — the broadcast cross of P planes and the
    grouped bit-sum exchange of the r14 spelling are gone, and callers
    that need (e, norm2, bucket) together skip the ``vec_id`` re-join.
    The fold sums the same CASE/shiftleft BIGINT terms in plane order
    (integer adds — associative), so buckets are bit-identical."""
    # one parsed SQL expression — see _cents_arr for why not F.lit
    planes_arr = F.expr(
        "array("
        + ",".join(
            "named_struct('plane_idx', {i}, 'w', array({w}))".format(
                i=i, w=",".join(_sql_double(x) for x in row)
            )
            for i, row in enumerate(hyperplanes(dim=dim, seed=seed))
        )
        + ")"
    )
    dot = dot_fold("e", "pl.w")
    bucket = F.expr(
        "aggregate(__planes, CAST(0 AS BIGINT), (accb, pl) -> accb + "
        f"(CASE WHEN {dot} >= 0 THEN shiftleft(CAST(1 AS BIGINT), "
        "pl.plane_idx) ELSE CAST(0 AS BIGINT) END))"
    )
    return (
        v.withColumn("__planes", planes_arr)
        .withColumn("bucket", bucket)
        .drop("__planes")
    )


def ann_lsh_topk(
    spark: SparkSession,
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    dim: int = EMB_DIM,
    n_planes: int = N_PLANES,
    probe_hamming: int = 0,
) -> DataFrame:
    """ANN via LSH buckets: top-k cosine *within the query's bucket(s)*.

    (q_id, neighbor_id, bucket, cosine, rank). Recall trades against the
    number of planes; candidates shrink ~2^-P per bucket so the pairwise
    stage touches a constant fraction of the corpus. The candidate join
    keys on the bucket — at scale, a partition-pruned scan.

    ``probe_hamming=1`` is the multi-probe recall knob: each query also
    probes the P buckets at Hamming distance 1 (one sign bit flipped —
    the buckets a near neighbor most likely fell into when its dot with
    one hyperplane landed on the other side of zero). Candidate cost
    grows ×(P+1) buckets ≈ ×(P+1)/2^P of the corpus — still bucket-keyed
    and partition-pruned; each corpus vector lives in exactly one bucket,
    so no candidate dedup stage is needed.
    """
    if probe_hamming not in (0, 1):
        raise ValueError("probe_hamming must be 0 or 1")
    # r15 (guide §2.4): bucket computed in-row (literal planes) — no
    # bucket join; the candidate join keys the in-row bucket directly.
    v = _vectors(embeddings)
    vb = _with_buckets(v, dim=dim).select("vec_id", "e", "norm2", "bucket")
    q = vb.filter(query_pred).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
        F.col("bucket"),
    )
    if probe_hamming == 1:
        flips = ", ".join(f"bucket ^ {1 << i}" for i in range(n_planes))
        q = q.select(
            "q_id",
            "qe",
            "qn",
            F.explode(F.expr(f"array(bucket, {flips})")).alias("bucket"),
        )
    scored = (
        F.broadcast(q)
        .join(vb, "bucket")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            "bucket",
            (
                F.expr(dot_fold("qe", "e"))
                / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "bucket", "cosine", "rank")
    )


TABLE_SEED_STRIDE = 101  # table t hashes with seed PLANE_SEED + t·stride


def ann_lsh_multitable(
    spark: SparkSession,
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    dim: int = EMB_DIM,
    n_tables: int = 4,
) -> DataFrame:
    """Multi-table LSH ANN: L independent hyperplane tables, candidates
    OR-combined — the *production* recall lever (recall = 1−(1−p^P)^L vs
    a single table's p^P; at p=0.9, P=8: 0.43 → 0.90 with L=4).

    (q_id, neighbor_id, cosine, rank). Each table is its own bucket
    column — at scale, L bucket-partitioned index tables, each probed
    with one partition-pruned scan; candidate lists union and dedup on
    (q_id, vec_id) before the (unchanged) scoring/rank stage, so a pair
    found by several tables is scored once.
    """
    if n_tables < 1:
        raise ValueError("n_tables must be >= 1")
    v = _vectors(embeddings)
    qv = v.filter(query_pred).select(
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    cands = None
    for t in range(n_tables):
        # r15: per-table buckets in-row (literal planes) on both sides —
        # the per-table bucket join against the corpus disappears.
        bt = _with_buckets(
            v, dim=dim, seed=PLANE_SEED + t * TABLE_SEED_STRIDE
        ).select("vec_id", "bucket")
        qb = bt.filter(query_pred).select(
            F.col("vec_id").alias("q_id"), "bucket"
        )
        ct = F.broadcast(qb).join(bt, "bucket").select("q_id", "vec_id")
        cands = ct if cands is None else cands.union(ct)
    cands = cands.filter(F.col("q_id") != F.col("vec_id")).distinct()
    scored = (
        cands.join(F.broadcast(qv), "q_id")
        .join(v.select("vec_id", "e", "norm2"), "vec_id")
        .select(
            "q_id",
            "vec_id",
            (
                F.expr(dot_fold("qe", "e")) / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


N_IVF_SEEDS = 8
NEAR_DUP_COSINE = 0.95


def embedding_near_dups(
    spark: SparkSession,
    embeddings: DataFrame,
    threshold: float = NEAR_DUP_COSINE,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cosine).

    Scale path: candidates are restricted to same-LSH-bucket pairs (near
    duplicates at cosine ≥ 0.95 almost surely agree on every hyperplane
    sign), so the pairwise stage runs within buckets — ~2^-P of the
    all-pairs cost — and the bucket is the shuffle/partition key.
    """
    v = _vectors(embeddings)
    vb = _with_buckets(v, dim=dim).select(
        "vec_id", "e", "norm2", "bucket"
    ).repartition("bucket")  # exchange barrier → self-join reuses one computation
    a = vb.alias("a")
    b = vb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        (
            F.expr(dot_fold("a.e", "b.e"))
            / (F.sqrt(F.col("a.norm2")) * F.sqrt(F.col("b.norm2")))
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def embedding_decontaminate(
    spark: SparkSession,
    embeddings: DataFrame,
    eval_pred: "Column",
    threshold: float = NEAR_DUP_COSINE,
    dim: int = EMB_DIM,
) -> DataFrame:
    """Semantic decontamination: find TRAIN vectors that are
    near-duplicates (cosine ≥ threshold) of any EVAL vector — the
    embedding-space sibling of n-gram decontamination
    (``decontaminate_ngrams``), catching paraphrased benchmark leakage
    that exact n-grams miss (the check modern training pipelines run
    against eval sets; see e.g. the GPT-3/Llama contamination
    appendices).

    ``eval_pred`` is a boolean Column over the embeddings frame marking
    the eval side; everything else is train. Asymmetric LSH-bucket
    join: both sides get the same hyperplane signature, candidates are
    same-bucket (train, eval) pairs only — at 100 TB the cost is
    Σ|train_bucket|·|eval_bucket|, not |train|·|eval|, and the bucket
    is the shuffle key. Same exact fixed-point dot machinery as
    ``embedding_near_dups``, so the result is engine-exact.

    Returns (train_id, eval_id, cosine) — one row per leaking pair;
    downstream either drops the train docs or audits the pairs.
    """
    v = _vectors(embeddings)
    vb = _with_buckets(v, dim=dim).select(
        "vec_id", "e", "norm2", "bucket", eval_pred.alias("__is_eval")
    ).repartition("bucket")
    t = vb.filter(~F.col("__is_eval")).alias("t")
    q = vb.filter(F.col("__is_eval")).alias("q")
    pairs = t.join(
        q, F.col("t.bucket") == F.col("q.bucket")
    ).select(
        F.col("t.vec_id").alias("train_id"),
        F.col("q.vec_id").alias("eval_id"),
        (
            F.expr(dot_fold("t.e", "q.e"))
            / (F.sqrt(F.col("t.norm2")) * F.sqrt(F.col("q.norm2")))
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def ivf_cells(embeddings: DataFrame, n_seeds: int = N_IVF_SEEDS) -> DataFrame:
    """vec_id → IVF cell (nearest seed by cosine).

    Seeds are the first ``n_seeds`` vectors by vec_id — deterministic
    coarse quantizer initialization (a production index would k-means
    them; the partition/search mechanics are identical and this keeps
    the assignment exactly reproducible in any engine). Cell assignment
    uses the same exact dot fold, so the partitioning is engine-exact.
    """
    v = _vectors(embeddings)
    # r15 (guide §2.4): seeds are n_seeds bounded rows — collect them
    # and assign in-row (projection; no crossJoin, no argmax exchange).
    # Same dots, same tie rule → identical assignments.
    seed_rows = (
        v.filter(F.col("vec_id") < n_seeds)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("e").alias("ce"),
            F.col("norm2").alias("cn"),
        )
        .collect()
    )
    return _with_cells_lit(v, seed_rows).select("vec_id", "cell")


def _sql_double(x: float) -> str:
    """Shortest-round-trip double literal (``repr`` → Java
    ``parseDouble`` is IEEE-exact both ways), ``D``-suffixed."""
    return repr(float(x)) + "D"


def _cents_arr(cent_rows) -> "F.Column":
    """Literal ``array<struct<cell,ce,cn>>`` from collected centroid
    rows — the K-row driver-side centroid state every Lloyd round
    already materializes (``ivf_cells_kmeans``), re-entered into the
    plan as a literal so assignment can run IN-ROW (guide §2.4: the
    crossJoin + argmax-aggregate exchange disappears; see
    :func:`_with_cells_lit`). Doubles round-trip driver↔plan
    bit-exactly (same IEEE values), so results are unchanged.

    Built as ONE parsed SQL expression, not per-element ``F.lit``
    composition: K·d literals as individual py4j Column calls cost
    seconds of driver time PER QUERY CONSTRUCTION (measured — the
    first spelling of this refactor was driver-bound, guide §7.3);
    one ``expr()`` parse of the same text is milliseconds. The
    optimizer constant-folds the parsed tree to a single Literal."""
    return F.expr(
        "array("
        + ",".join(
            "named_struct('cell', CAST({c} AS BIGINT), 'ce', array({ce}),"
            " 'cn', {cn})".format(
                c=int(r["cell"]),
                ce=",".join(_sql_double(x) for x in r["ce"]),
                cn=_sql_double(r["cn"]),
            )
            for r in cent_rows
        )
        + ")"
    )


def _with_cells_lit(v: DataFrame, cent_rows) -> DataFrame:
    """``v`` + its nearest-centroid ``cell`` column, computed IN-ROW
    over a literal centroid array — a pure projection: zero exchanges,
    zero joins (guide §2.4 "remove shuffles outright"). The cosine is
    the ``dot_fold`` fixed-point expression, and ``array_max`` over
    ``struct(cos_to_seed, neg_cell)`` picks the max cosine, ties →
    lowest cell; :func:`nearest_cell_np` is its numpy twin.
    """
    dot = dot_fold("e", "c.ce")
    best = F.expr(
        "array_max(transform(__cents, c -> struct("
        f"{dot} / (sqrt(norm2) * sqrt(c.cn)) AS cos_to_seed, "
        "-c.cell AS neg_cell)))"
    )
    return (
        v.withColumn("__cents", _cents_arr(cent_rows))
        .withColumn("__best", best)
        .withColumn("cell", -F.col("__best.neg_cell"))
        .drop("__cents", "__best")
    )


def _probe_cells_lit(q: DataFrame, cent_rows, nprobe: int) -> DataFrame:
    """Per-query top-``nprobe`` centroids by cosine, IN-ROW (explode of
    a sorted literal-array slice) — replaces the broadcast-cross +
    row_number window of the probe stage with a projection (guide
    §2.4). ``array_sort`` on ``struct(neg_cos, cell)`` is the window
    order ``(cos_to_seed DESC, cell)``.

    ``q`` must carry ``qe``/``qn``; output adds ``cell``, one row per
    probed cell.
    """
    dot = dot_fold("qe", "c.ce")
    probes = F.expr(
        f"slice(array_sort(transform(__cents, c -> struct("
        f"-({dot} / (sqrt(qn) * sqrt(c.cn))) AS neg_cos, "
        f"c.cell AS cell))), 1, {int(nprobe)})"
    )
    return (
        q.withColumn("__cents", _cents_arr(cent_rows))
        .withColumn("__p", F.explode(probes))
        .select(*q.columns, F.col("__p.cell").alias("cell"))
    )


KMEANS_ITERS = 2
MEAN_SCALE = "1000000000000.0"  # fixed-point scale for exact centroid means

# Quantizer TRAINING sample (VERDICT r04 item 2): Lloyd refinement runs
# on a deterministic hash sample of the corpus, not the corpus — the
# FAISS practice (train on a bounded sample, assign/encode everything).
# The sample is a pure function of vec_id (same md5-bucket scheme as
# operators.sampling.hash_bucket), so membership is identical across
# engines, partitionings, and re-runs, and the DuckDB oracles apply the
# same predicate. At 100 TB this turns the n_iters training scans from
# full-corpus passes into sample passes; assignment and encoding still
# see every vector.
TRAIN_FRACTION = 0.5
TRAIN_SALT = "qtrain"
_TRAIN_BUCKETS = 10_000


def _train_sample(df: DataFrame, fraction: float = TRAIN_FRACTION) -> DataFrame:
    """Deterministic Bernoulli training sample keyed on vec_id."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"train fraction must be in (0,1], got {fraction}")
    if fraction >= 1.0:
        return df
    cutoff = int(round(fraction * _TRAIN_BUCKETS))
    h = F.expr(
        f"conv(substring(md5(concat('{TRAIN_SALT}|', "
        f"CAST(vec_id AS STRING))), 1, 8), 16, 10)"
    ).cast("bigint")
    return df.filter((h % _TRAIN_BUCKETS) < cutoff)


def ivf_cells_kmeans(
    embeddings: DataFrame,
    n_seeds: int = N_IVF_SEEDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMB_DIM,
    train_fraction: float = TRAIN_FRACTION,
) -> tuple[DataFrame, DataFrame]:
    """Production coarse quantizer: deterministic seeded Lloyd k-means
    (VERDICT r02 item 6). Returns (cells, centroids) where cells =
    (vec_id, cell) and centroids = (cell, ce, cn).

    Init = the first ``n_seeds`` vectors by vec_id (same deterministic
    seeding as :func:`ivf_cells`); each Lloyd round reassigns the
    TRAINING SAMPLE (``train_fraction`` of the corpus by deterministic
    vec_id hash — see :func:`_train_sample`) to the nearest centroid
    and recomputes centroids as the per-cell, per-dimension mean of
    exact fixed-point sums (see :func:`_lloyd`). Engine-exact:
    scaled-int sums and a pinned divide order make every centroid
    component bit-identical in the DuckDB oracle, so cell assignments —
    and therefore search results — hash-match. Cells that lose all
    sampled members drop out (deterministically, in both engines).

    At 100 TB this is the index-build step: n_iters bounded scans of
    the persisted training sample (FAISS practice: train on a sample,
    assign everything), then ONE full-corpus assignment pass. Each
    round's centroid table (K rows — bounded regardless of corpus size)
    is driver state, the same as Spark MLlib's KMeans keeps; re-entering
    it as a literal keeps the lineage from growing with n_iters.
    """
    va, cents = kmeans_vectors(embeddings, n_seeds, n_iters, dim, train_fraction)
    return va.select("vec_id", "cell"), cents


def kmeans_vectors(
    embeddings: DataFrame,
    n_seeds: int = N_IVF_SEEDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMB_DIM,
    train_fraction: float = TRAIN_FRACTION,
) -> tuple[DataFrame, DataFrame]:
    """:func:`ivf_cells_kmeans` with the full vector columns kept:
    returns (va, cents) where ``va`` is :func:`_vectors` of the corpus
    PLUS its ``cell`` column — computed in ONE in-row projection over
    the literal centroids (r15, guide §2.4), so callers that need
    (e, norm2, cell) together (the IVF search lists, SemDeDup's
    within-cell join) pay no ``v.join(cells, "vec_id")`` shuffle."""
    va, cent_rows = _kmeans_state(embeddings, n_seeds, n_iters, dim, train_fraction)
    cents = embeddings.sparkSession.createDataFrame(
        cent_rows, schema="cell bigint, ce array<double>, cn double"
    )
    return va, cents


def _kmeans_state(
    embeddings: DataFrame,
    n_seeds: int = N_IVF_SEEDS,
    n_iters: int = KMEANS_ITERS,
    dim: int = EMB_DIM,
    train_fraction: float = TRAIN_FRACTION,
) -> tuple[DataFrame, list]:
    """(va, cent_rows): the Lloyd-trained centroid ROWS (cell, ce, cn)
    and the corpus vectors with their in-row nearest ``cell``."""
    del dim  # the width comes from the data
    q, _ = _fit(embeddings, n_seeds, n_iters, None, 0, None, train_fraction)
    cent_rows = q.cent_rows()
    return _with_cells_lit(_spread(_vectors(embeddings)), cent_rows), cent_rows


def ivf_topk_kmeans(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_seeds: int = N_IVF_SEEDS,
    n_iters: int = KMEANS_ITERS,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search over the k-means quantizer (q_id, neighbor_id, cell,
    cosine, rank): rank the Lloyd centroids per query, probe the top
    ``nprobe`` cells, exact top-k within the probed lists. Identical
    search mechanics to :func:`ivf_topk`; only the quantizer (and hence
    cell quality/balance) differs."""
    if nprobe < 1 or nprobe > n_seeds:
        raise ValueError("nprobe must be in 1..n_seeds")
    # r15 (guide §2.4): the quantizer returns vectors WITH their cell —
    # a projection — so the probed-list side needs no vec_id re-join;
    # probe ranking is the in-row sorted-slice over literal centroids
    # instead of a broadcast cross + row_number window. Search results
    # are bit-identical (same dots, same tie order).
    va, cent_rows = _kmeans_state(embeddings, n_seeds, n_iters)
    vc = va.select("vec_id", "e", "norm2", "cell")
    q = _probe_cells_lit(
        va.filter(query_pred).select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("norm2").alias("qn"),
        ),
        cent_rows,
        nprobe,
    ).select("q_id", "qe", "qn", "cell")
    scored = (
        F.broadcast(q)
        .join(vc, "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            "cell",
            (
                F.expr(dot_fold("qe", "e")) / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", F.col("vec_id").alias("neighbor_id"), "cell", "cosine", "rank"
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_seeds: int = N_IVF_SEEDS,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: top-k cosine within the query's ``nprobe`` nearest
    cells (q_id, neighbor_id, cell, cosine, rank).

    At scale the cell is the physical partition key of the index table:
    a query reads ``nprobe`` cells' lists (nprobe/n_seeds of the corpus
    on average), never the full corpus. ``nprobe`` is the standard
    recall/cost knob; ``nprobe=1`` degenerates to the query's own cell.
    Each corpus vector is assigned to exactly one cell and the probed
    cells are distinct, so candidates are already unique — the rank
    window is unchanged.
    """
    if nprobe < 1 or nprobe > n_seeds:
        raise ValueError("nprobe must be in 1..n_seeds")
    v = _vectors(embeddings)
    cells = ivf_cells(embeddings, n_seeds)
    vc = v.join(cells, "vec_id").select("vec_id", "e", "norm2", "cell")
    if nprobe == 1:
        q = vc.filter(query_pred).select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("norm2").alias("qn"),
            F.col("cell"),
        )
    else:
        # rank every seed per query by cosine (same exact arithmetic as
        # the cell assignment) and probe the top-nprobe cells
        seeds = v.filter(F.col("vec_id") < n_seeds).select(
            F.col("vec_id").alias("cell"),
            F.col("e").alias("se"),
            F.col("norm2").alias("sn"),
        )
        qs = (
            v.filter(query_pred)
            .select(
                F.col("vec_id").alias("q_id"),
                F.col("e").alias("qe"),
                F.col("norm2").alias("qn"),
            )
            .crossJoin(F.broadcast(seeds))
            .select(
                "q_id",
                "qe",
                "qn",
                "cell",
                (
                    F.expr(dot_fold("qe", "se")) / (F.sqrt("qn") * F.sqrt("sn"))
                ).alias("cos_to_seed"),
            )
        )
        wq = Window.partitionBy("q_id").orderBy(
            F.col("cos_to_seed").desc(), F.col("cell")
        )
        q = (
            qs.withColumn("__rn", F.row_number().over(wq))
            .filter(F.col("__rn") <= nprobe)
            .select("q_id", "qe", "qn", "cell")
        )
    scored = (
        F.broadcast(q)
        .join(vc, "cell")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            "cell",
            (
                F.expr(dot_fold("qe", "e")) / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cell", "cosine", "rank")
    )


# --- product quantization (PQ / ADC search) ------------------------------

# Hyperparameters picked by a measured recall sweep on the synthetic
# embeddings (iid noise — the worst case for any quantizer): finer
# subspaces dominate everything else. (M, K, iters) → recall@3 vs exact
# cosine at sf0.01: (8,16,1)=0.40, (16,32,2)=0.53, (32,16,1)=0.67,
# (32,32,1)=0.67-0.73. 32 subspaces of 2 dims, 32 codes: 8× compression.
PQ_M = 32                      # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M    # dims per subspace
PQ_K = 32                      # codes per sub-codebook
PQ_ITERS = 1                   # Lloyd refinement rounds per sub-quantizer
ADC_SCALE = "1000000000.0"     # fixed-point scale for the ADC score sum

# --- exact numpy twins of the fixed-point folds --------------------------
#
# The quantizer passes (Lloyd rounds, encode, ADC scoring) run as numpy
# kernels over Arrow batches (``mapInArrow``). Each twin below performs
# the IEEE operations of one SQL spelling in the same order, with the
# same BIGINT folds and the same ANSI errors, so every centroid, code and
# score is bit-identical to the SQL arithmetic the DuckDB oracles run
# (pinned against the Spark spellings in tests/test_ann_kernels.py).

_I64_MAX = 2**63 - 1
_I64_MIN = -(2**63)
_ROWS = 1024  # rows per numpy step: bounds the (rows, M, K, sub) temporaries


def _floor_long(a: np.ndarray) -> np.ndarray:
    """``floor(double)`` → BIGINT: floor, then the JVM's saturating cast
    (past BIGINT → its bound, NaN → 0)."""
    f = np.floor(a)
    hi, lo = f >= 2.0**63, f < -(2.0**63)
    out = np.where(hi | lo | np.isnan(f), 0.0, f).astype(np.int64)
    out[hi] = _I64_MAX
    out[lo] = _I64_MIN
    return out


def _fold_sum(t: np.ndarray) -> np.ndarray:
    """BIGINT terms summed over the last axis left to right, as
    ``aggregate(…, acc + t)`` adds them under ANSI: a partial sum outside
    BIGINT raises ``[ARITHMETIC_OVERFLOW]``. Terms too small to overflow
    in any order skip the exact check."""
    n = t.shape[-1]
    if t.size and max(int(t.max()), -int(t.min())) * n > _I64_MAX:
        for row in t.reshape(-1, n).tolist():
            acc = 0
            for x in row:
                acc += x
                if not _I64_MIN <= acc <= _I64_MAX:
                    raise ArithmeticError("[ARITHMETIC_OVERFLOW] long overflow")
    return t.sum(axis=-1)


def dot_fold_np(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """:func:`dot_fold` over the last axis of two float64 arrays."""
    scale = float(DOT_SCALE)
    return _fold_sum(_floor_long((a * b) * scale)).astype(np.float64) / scale


def _divide(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """Double division under ANSI: a zero divisor raises."""
    if np.any(den == 0):
        raise ArithmeticError("[DIVIDE_BY_ZERO] Division by zero")
    return num / den


def nearest_cell_np(
    e: np.ndarray, norm2: np.ndarray, ce: np.ndarray, cn: np.ndarray
) -> np.ndarray:
    """Index of each vector's nearest centroid by cosine (centroids
    sorted by cell) — :func:`_with_cells_lit`'s ``array_max`` over
    ``struct(cos, -cell)``: ``argmax`` takes the first maximum (ties →
    lowest cell) and, like Spark's ordering, ranks NaN highest."""
    cos = _divide(
        dot_fold_np(e[:, None, :], ce[None]),
        np.sqrt(norm2)[:, None] * np.sqrt(cn),
    )
    return np.argmax(cos, axis=1)


def nearest_code_np(
    x: np.ndarray, xn: np.ndarray, cb: np.ndarray, cbn: np.ndarray
) -> np.ndarray:
    """(n, M) index of each subvector's nearest sub-codeword (codewords
    sorted by code) by d² = (‖x‖² − 2·x·c) + ‖c‖², ties → lowest code:
    the max over ``struct(-d², -code)`` of the SQL spelling. ``x`` is
    (n, M, sub), ``xn`` (n, M), ``cb`` (M, K, sub), ``cbn`` (M, K)."""
    d2 = (xn[..., None] - 2.0 * dot_fold_np(x[:, :, None, :], cb[None])) + cbn
    return np.argmax(-d2, axis=-1)


def adc_terms_np(lut: np.ndarray) -> np.ndarray:
    """The ADC's fixed-point term per table entry: ``floor(v·1e9 + 0.5)``."""
    return _floor_long(lut * float(ADC_SCALE) + 0.5)


def adc_np(terms: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """ADC score of code rows ``codes`` (n, M) against one query's term
    table ``terms`` (M, K): Σₛ terms[s, code_s] as a BIGINT fold, then
    one double division."""
    t = terms[np.arange(terms.shape[0]), codes]
    return _fold_sum(t).astype(np.float64) / float(ADC_SCALE)


def _cents_np(rows) -> tuple:
    """(cells, ce, cn) arrays of centroid rows (cell, ce, cn), sorted by
    cell so that an ``argmax`` index is the lowest cell on ties."""
    rows = sorted((int(c), list(ce), float(cn)) for c, ce, cn in rows)
    return tuple(np.array(col) for col in zip(*rows))


def _book_np(rows) -> tuple:
    """(codes, cb, cbn) arrays of codeword rows (s, code, ce, cn): per
    subspace sorted by code (ties → lowest code), padded to one width
    with an unreachable codeword (code ``_I64_MAX``, ‖c‖² = +inf)."""
    by_s: dict[int, list] = {}
    for s, code, ce, cn in rows:
        by_s.setdefault(int(s), []).append((int(code), list(ce), float(cn)))
    m, width = max(by_s) + 1, max(len(v) for v in by_s.values())
    sub = len(by_s[min(by_s)][0][1])
    codes = np.full((m, width), _I64_MAX, np.int64)
    cb = np.zeros((m, width, sub))
    cbn = np.full((m, width), np.inf)
    for s, words in by_s.items():
        words.sort()
        codes[s, : len(words)] = [w[0] for w in words]
        cb[s, : len(words)] = [w[1] for w in words]
        cbn[s, : len(words)] = [w[2] for w in words]
    return codes, cb, cbn


def _by_rows(fn, a: np.ndarray) -> np.ndarray:
    """``fn`` over row chunks of ``a`` (bounds the (rows, M, K, sub)
    temporaries), concatenated."""
    return np.concatenate(
        [fn(c) for c in np.array_split(a, max(1, -(-len(a) // _ROWS)))]
    )


class _Quantizer:
    """Trained IVF-PQ state as numpy arrays, shipped to the kernels in
    their closure: ``cents`` from :func:`_cents_np`, ``book`` from
    :func:`_book_np`. Either level may be None: plain PQ has no cells,
    the coarse quantizer alone no codes."""

    def __init__(self, cents: tuple | None = None, book: tuple | None = None):
        self.cents, self.book = cents, book

    def cent_rows(self) -> list:
        cells, ce, cn = self.cents
        return [
            Row(cell=int(c), ce=e.tolist(), cn=float(n))
            for c, e, n in zip(cells, ce, cn)
        ]

    def cb_rows(self) -> list:
        codes, cb, cbn = self.book
        return [
            (s, int(codes[s, j]), cb[s, j].tolist(), float(cbn[s, j]))
            for s in range(len(codes))
            for j in range(codes.shape[1])
            if codes[s, j] != _I64_MAX
        ]

    def residual(self, e: np.ndarray):
        """(cell index or None, e minus its nearest centroid)."""
        if self.cents is None:
            return None, e
        _, ce, cn = self.cents
        cell = _by_rows(lambda c: nearest_cell_np(c, dot_fold_np(c, c), ce, cn), e)
        return cell, e - ce[cell]

    def subvectors(self, r: np.ndarray) -> np.ndarray:
        """(n, M, sub) contiguous subvectors of residuals ``r``."""
        m, sub = PQ_M, PQ_SUBDIM
        if self.book is not None:
            m, sub = self.book[1].shape[0], self.book[1].shape[2]
        return r[:, : m * sub].reshape(len(r), m, sub)

    def encode(self, x: np.ndarray) -> np.ndarray:
        """(n, M) nearest-code indices of subvectors ``x``."""
        _, cb, cbn = self.book
        return _by_rows(
            lambda c: nearest_code_np(c, dot_fold_np(c, c), cb, cbn), x
        ).astype(np.int64)

    def lut(self, r: np.ndarray) -> np.ndarray:
        """The (M, K) integer ADC table of one query residual ``r``."""
        _, cb, _ = self.book
        x = self.subvectors(r[None])[0]
        return adc_terms_np(dot_fold_np(x[:, None, :], cb))

    def refit(self, rows) -> "_Quantizer":
        """This quantizer with its finest level replaced by the means of
        the collected Lloyd sums (s, g, p, n, t): component p of group
        g's mean is ``CAST(t AS DOUBLE) / 1e12 / n``, its norm the
        ``dot_fold`` of the mean with itself."""
        scale = float(MEAN_SCALE)
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            means.setdefault((r["s"], r["g"]), {})[r["p"]] = (
                float(r["t"]) / scale / r["n"]
            )
        keys = sorted(means)
        ce = np.array([[means[k][p] for p in sorted(means[k])] for k in keys])
        cn = dot_fold_np(ce, ce)
        if self.book is None:
            return _Quantizer(_cents_np((g, e, n) for (_, g), e, n in zip(keys, ce, cn)))
        return _Quantizer(
            self.cents, _book_np((s, g, e, n) for (s, g), e, n in zip(keys, ce, cn))
        )


def _arrow_vectors(batch) -> tuple[np.ndarray, np.ndarray]:
    """(vec_id int64, embedding as float64 (n, d)) of an Arrow batch."""
    ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
    col = batch.column("embedding")
    n = len(ids)
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    d = len(flat) // n if n else 0
    lens = col.value_lengths().to_numpy(zero_copy_only=False)
    if col.null_count or (n and (lens != d).any()):
        raise ValueError("embeddings must be non-null and of one width")
    return ids.astype(np.int64), flat.reshape(n, d)


def _partials(keys: np.ndarray, vals: np.ndarray):
    """Exact per-key (key, count, Σ vals) over row chunks small enough
    that no int64 sum can wrap: each chunk is its own partial, and Spark
    adds the partials as decimal(38,0)."""
    hi = max(1, int(vals.max()), -int(vals.min())) if vals.size else 1
    step = max(1, _I64_MAX // hi)
    for lo in range(0, len(keys), step):
        k, v = keys[lo : lo + step], vals[lo : lo + step]
        order = np.argsort(k, kind="stable")
        k = k[order]
        starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
        counts = np.diff(np.r_[starts, len(k)])
        yield k[starts], counts, np.add.reduceat(v[order], starts, axis=0)


def _lloyd_arrow(q: _Quantizer):
    """``mapInArrow`` kernel of one Lloyd round of ``q``'s finest level:
    assign each training vector to its nearest cell — or, with a
    codebook, each residual subvector to its nearest code — and emit the
    batch's exact partial sums of ``floor(v·1e12)`` per (s, g, p) with
    member counts: the map-side combine of the grouped decimal mean.
    Coarse rows carry s = 0, g = cell; PQ rows s = subspace, g = code."""
    scale = float(MEAN_SCALE)

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            _, e = _arrow_vectors(batch)
            if not len(e):
                continue
            cell, r = q.residual(e)
            if q.book is None:
                s_of = np.zeros(len(q.cents[0]), np.int32)
                g_of, keys, vals = q.cents[0], cell, _floor_long(e * scale)
            else:
                x = q.subvectors(r)
                m, width = q.book[0].shape
                s_of = np.repeat(np.arange(m, dtype=np.int32), width)
                g_of = q.book[0].ravel()
                keys = (np.arange(m) * width + q.encode(x)).ravel()
                vals = _floor_long(x * scale).reshape(len(keys), -1)
            p = vals.shape[1]
            for k, n, t in _partials(keys, vals):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.repeat(s_of[k], p)),
                        pa.array(np.repeat(g_of[k], p)),
                        pa.array(np.tile(np.arange(p, dtype=np.int32), len(k))),
                        pa.array(np.repeat(n, p).astype(np.int64)),
                        pa.array(t.ravel()),
                    ],
                    names=["s", "g", "p", "n", "t"],
                )

    return fn


def _lloyd(sample: DataFrame, q: _Quantizer, n_iters: int) -> _Quantizer:
    """THE Lloyd trainer, for the coarse centroids and the PQ codebooks
    alike: ``n_iters`` rounds over the training sample, each ONE Arrow
    pass emitting exact integer partials, summed per (s, g, p) in
    decimal(38,0) — a BIGINT sum would overflow past ~9.2M members of
    one group under ANSI — and collected as the bounded K·d (or M·K·sub)
    rows the driver turns into the next means. Groups that lose all
    members drop out, in both engines."""
    for _ in range(n_iters):
        rows = (
            sample.mapInArrow(
                _lloyd_arrow(q), "s int, g bigint, p int, n bigint, t bigint"
            )
            .groupBy("s", "g", "p")
            .agg(
                F.sum("n").alias("n"),
                F.sum(F.col("t").cast("decimal(38,0)")).alias("t"),
            )
            .collect()
        )
        q = q.refit(rows)
    return q


def _fit(
    embeddings: DataFrame,
    n_seeds: int | None,
    kmeans_iters: int,
    n_codes: int | None,
    pq_iters: int,
    query_pred: str | None = None,
    train_fraction: float = TRAIN_FRACTION,
) -> tuple[_Quantizer, list]:
    """Train the quantizers: returns (quantizer, [(q_id, qe)] query rows).

    ONE bounded collect brings the driver every row it needs — the
    ``n_seeds`` coarse seeds and ``n_codes`` PQ seeds (the first vectors
    by vec_id, whose residual subvectors seed each sub-codebook) and the
    ``query_pred`` rows. Then ``kmeans_iters`` coarse and ``pq_iters``
    PQ Lloyd rounds run over the persisted deterministic training sample
    (:func:`_train_sample`). ``n_seeds=None`` trains plain PQ (no
    cells), ``n_codes=None`` the coarse level alone."""
    first = max(n_seeds or 0, n_codes or 0)
    isq = F.lit(False) if query_pred is None else F.coalesce(
        F.expr(query_pred), F.lit(False)
    )
    head, queries = {}, []
    for r in (
        embeddings.filter((F.col("vec_id") < first) | isq)
        .select("vec_id", "embedding", isq.alias("__q"))
        .collect()
    ):
        e = np.array(r["embedding"], np.float64)
        head[int(r["vec_id"])] = e
        if r["__q"]:
            queries.append((int(r["vec_id"]), e))
    sample = _train_sample(_vec_frame(embeddings), train_fraction).persist()
    q = _Quantizer()
    if n_seeds is not None:
        seeds = [(i, e, dot_fold_np(e, e)) for i, e in head.items() if i < n_seeds]
        q = _lloyd(sample, _Quantizer(_cents_np(seeds)), kmeans_iters)
    if n_codes is not None:
        ids = sorted(i for i in head if i < n_codes)
        x = q.subvectors(q.residual(np.array([head[i] for i in ids]))[1])
        xn = dot_fold_np(x, x)
        init = [
            (s, i, x[j, s], xn[j, s])
            for j, i in enumerate(ids)
            for s in range(x.shape[1])
        ]
        q = _lloyd(sample, _Quantizer(q.cents, _book_np(init)), pq_iters)
    sample.unpersist()
    return q, queries


def _probes(q: _Quantizer, queries: list, nprobe: int) -> list:
    """Per query, its ``nprobe`` nearest cells in the ascending
    (−cosine, cell) order of :func:`_probe_cells_lit`, each with q·c and
    the ADC term table of the query's residual: [(q_id, cell, qdotc,
    terms)]. Plain PQ: one entry per query with cell and qdotc None."""
    out = []
    for q_id, qe in queries:
        if q.cents is None:
            out.append((q_id, None, None, q.lut(qe)))
            continue
        cells, ce, cn = q.cents
        neg = -_divide(
            dot_fold_np(qe[None], ce), np.sqrt(dot_fold_np(qe, qe)) * np.sqrt(cn)
        )
        for j in np.lexsort((cells, neg))[:nprobe]:
            qdotc = float(dot_fold_np(qe, ce[j]))
            out.append((q_id, int(cells[j]), qdotc, q.lut(qe - ce[j])))
    return out


def _batch_codes(q: _Quantizer, batch):
    """(vec_id, cell label or None, code indices) of a batch of raw
    vectors (``embedding``), or of stored codes (``cell``, ``codes``)."""
    if "codes" in batch.schema.names:
        ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
        cell = batch.column("cell").to_numpy(zero_copy_only=False)
        labels = (
            batch.column("codes").flatten().to_numpy(zero_copy_only=False)
            .reshape(len(ids), -1)
        )
        book = q.book[0]
        codes = np.stack(
            [np.searchsorted(book[s], labels[:, s]) for s in range(labels.shape[1])],
            axis=1,
        ).clip(0, book.shape[1] - 1)
        if (np.take_along_axis(book.T, codes, axis=0) != labels).any():
            raise ValueError("stored code not in the stored codebook")
        return ids.astype(np.int64), cell.astype(np.int64), codes
    ids, e = _arrow_vectors(batch)
    cell, r = q.residual(e)
    if cell is not None:
        cell = q.cents[0][cell]
    return ids, cell, q.encode(q.subvectors(r))


def _codes_arrow(q: _Quantizer):
    """``mapInArrow`` kernel of the encode pass: (vec_id, cell, codes)."""

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            ids, cell, codes = _batch_codes(q, batch)
            labels = q.book[0][np.arange(codes.shape[1]), codes]
            offsets = np.arange(0, labels.size + 1, codes.shape[1], dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids),
                    pa.array(cell),
                    pa.ListArray.from_arrays(offsets, pa.array(labels.ravel())),
                ],
                names=["vec_id", "cell", "codes"],
            )

    return fn


def _topk_arrow(q: _Quantizer, probes: list, k: int):
    """``mapInArrow`` kernel of the search pass: score every vector of a
    probed cell against each probing query's ADC table (plus q·c), skip
    the query itself, and keep each query's batch-local top-k under the
    final order (score DESC, vec_id) — the local half of the
    local-then-global top-k (Continuously Adaptive Similarity Search,
    SIGMOD 2020): the global top-k is a subset of the union of the
    local ones, so the rank window over them returns it exactly."""

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            ids, cell, codes = _batch_codes(q, batch)
            hits: dict[int, list] = {}
            for q_id, c, qdotc, terms in probes:
                mask = ids != q_id
                if c is not None:
                    mask &= cell == c
                at = np.flatnonzero(mask)
                if len(at):
                    score = adc_np(terms, codes[at])
                    if qdotc is not None:
                        score = qdotc + score
                    hits.setdefault(q_id, []).append((at, score))
            for q_id, parts in hits.items():
                at = np.concatenate([a for a, _ in parts])
                score = np.concatenate([s for _, s in parts])
                keep = np.lexsort((ids[at], -score))[:k]
                at, score = at[keep], score[keep]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(len(at), q_id, np.int64)),
                        pa.array(ids[at]),
                        pa.nulls(len(at), pa.int64())
                        if cell is None
                        else pa.array(cell[at]),
                        pa.array(score),
                    ],
                    names=["q_id", "vec_id", "cell", "score"],
                )

    return fn


def _ranked(frame: DataFrame, q: _Quantizer, probes: list, k: int) -> DataFrame:
    """The global half of the top-k: the locals of one Arrow pass over
    ``frame``, ranked per query by (score DESC, vec_id)."""
    local = frame.mapInArrow(
        _topk_arrow(q, probes, k),
        "q_id bigint, vec_id bigint, cell bigint, score double",
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .withColumnRenamed("vec_id", "neighbor_id")
    )


def _vec_frame(embeddings: DataFrame) -> DataFrame:
    return embeddings.select(F.col("vec_id").cast("bigint"), "embedding")


def pq_codebooks(
    embeddings: DataFrame,
    n_codes: int = PQ_K,
    n_iters: int = PQ_ITERS,
) -> DataFrame:
    """Train the PQ sub-codebooks: (s, code, ce, cn), one K-entry
    codebook per subspace (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011).

    Init = the subvectors of the first ``n_codes`` vectors by vec_id
    (deterministic, mirroring ivf_cells_kmeans seeding), refined by
    ``n_iters`` Lloyd rounds run for ALL subspaces at once (:func:`_lloyd`
    — M sub-quantizers never cost M separate passes). Codewords that
    lose all members drop out deterministically in both engines. At
    100 TB the codebook is M·K rows (bounded) and the training scans are
    passes over the persisted deterministic sample (FAISS practice —
    encode everything, train on a sample)."""
    q, _ = _fit(embeddings, None, 0, n_codes, n_iters)
    return embeddings.sparkSession.createDataFrame(
        q.cb_rows(), schema="s int, code bigint, ce array<double>, cn double"
    )


def pq_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_codes: int = PQ_K,
    n_iters: int = PQ_ITERS,
) -> DataFrame:
    """PQ/ADC approximate top-k by inner product: (q_id, neighbor_id,
    approx_dot, rank).

    The compressed index is M small codes per vector instead of EMB_DIM
    floats (here M=32 codes over 64 floats, K=32 codewords per
    sub-codebook: 32 bytes vs 256, 8× compression at byte codes; ADVICE
    r04). Search is asymmetric distance computation: each query's M·K
    lookup table of exact subspace dots against the codebook is built on
    the driver, and ONE Arrow pass encodes the corpus and scores every
    vector as the fixed-point Σ over its M looked-up entries, keeping a
    local top-k per query; the rank window merges the locals. No
    full-width vector is touched at search time by a stored index
    (:func:`search_ivfpq_index`); at 100 TB the scan reads M bytes per
    vector, not the embeddings.

    Ranking is by the ADC approximation of the raw inner product
    (standard PQ practice; a production pipeline re-ranks the short
    list with exact dots — composable here as cosine_topk over the
    candidate ids).
    """
    q, queries = _fit(embeddings, None, 0, n_codes, n_iters, query_pred)
    return _ranked(_vec_frame(embeddings), q, _probes(q, queries, 1), k).select(
        "q_id", "neighbor_id", F.col("score").alias("approx_dot"), "rank"
    )


# --- IVF-PQ: coarse cells + PQ-coded residuals (the FAISS IVFPQ layout) --


def ivfpq_topk(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    n_seeds: int = N_IVF_SEEDS,
    kmeans_iters: int = KMEANS_ITERS,
    n_codes: int = PQ_K,
    pq_iters: int = PQ_ITERS,
    nprobe: int = 2,
    cache_registry: list | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k by inner product: the canonical
    100 TB vector index (Jégou et al. 2011; the FAISS ``IVFPQ``
    layout). The coarse Lloyd quantizer partitions the corpus into
    cells; each vector stores only its cell id + M sub-codes of its
    RESIDUAL (x − centroid); search probes the ``nprobe`` nearest
    cells and scores candidates as q·x ≈ q·c + Σₛ LUT[s, code_s],
    where the lookup table holds exact dots of the query's per-cell
    residual against the residual codebook.

    Decomposition is exact: q·x = q·c + q·r with r = x − c, and the
    only approximation is r → its codeword — the standard IVFPQ error
    model. Every arithmetic step (centroid means, residual subtract,
    dots, the ADC sum) is the engine-exact fixed-point machinery, so the
    full index hash-matches the DuckDB oracle.

    Jobs: one bounded collect (seeds, PQ seeds, queries), one Arrow pass
    per Lloyd round, then ONE pass over the corpus that encodes each
    vector, scores the probed cells against the queries' tables and
    keeps local top-k's, ranked by one window. Probe ranking, q·c and
    the tables are driver work over the K centroids and M·K codewords.

    ``cache_registry`` is kept for API compatibility: nothing outlives
    the call (the training sample unpersists once trained).
    """
    if nprobe < 1 or nprobe > n_seeds:
        raise ValueError("nprobe must be in 1..n_seeds")
    del cache_registry
    q, queries = _fit(
        embeddings, n_seeds, kmeans_iters, n_codes, pq_iters, query_pred
    )
    return _ranked(
        _vec_frame(embeddings), q, _probes(q, queries, nprobe), k
    ).select("q_id", "neighbor_id", "cell", F.col("score").alias("approx_ip"), "rank")


def _code_rows(frame: DataFrame, q: _Quantizer) -> DataFrame:
    """The stored code-table grain (vec_id, s, code, cell) of ``frame``."""
    return frame.mapInArrow(
        _codes_arrow(q), "vec_id bigint, cell bigint, codes array<bigint>"
    ).select("vec_id", F.posexplode("codes").alias("s", "code"), "cell")


def _stored_quantizer(spark: SparkSession, path: str) -> _Quantizer:
    cents = spark.read.parquet(f"{path}/centroids").select("cell", "ce", "cn")
    book = spark.read.parquet(f"{path}/codebooks").select("s", "code", "ce", "cn")
    return _Quantizer(_cents_np(cents.collect()), _book_np(book.collect()))


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_seeds: int = N_IVF_SEEDS,
    kmeans_iters: int = KMEANS_ITERS,
    n_codes: int = PQ_K,
    pq_iters: int = PQ_ITERS,
) -> None:
    """Materialize the IVF-PQ index: train once, search many — the
    production shape (ivfpq_topk rebuilds per call, which is the right
    thing for an oracle-gated query but not for a serving path).

    Layout under ``path``:
      centroids/   (cell, ce, cn)            — K rows
      codebooks/   (s, code, ce, cn)         — M·K rows
      codes/       cell=<c>/ (vec_id, s, code) — PARTITIONED BY cell,
                   so a search's probed cells prune to their own leaf
                   dirs at planning time: at 100 TB an nprobe=2 search
                   reads 2/K of the code table and nothing else.

    Doubles round-trip parquet bit-exactly, so a search over the stored
    index returns byte-identical results to the in-line operator
    (asserted in tests).
    """
    spark = embeddings.sparkSession
    q, _ = _fit(embeddings, n_seeds, kmeans_iters, n_codes, pq_iters)
    spark.createDataFrame(
        q.cent_rows(), schema="cell bigint, ce array<double>, cn double"
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        q.cb_rows(), schema="s int, code bigint, ce array<double>, cn double"
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    _code_rows(_vec_frame(embeddings), q).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{path}/codes")


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """ADC probe search over a stored IVF-PQ index (build_ivfpq_index).

    The centroid and codebook tables are bounded index metadata,
    collected once; probe ranking, q·c and the query tables are driver
    work, exactly as in :func:`ivfpq_topk`. The code table is read WITH
    the probed-cell predicate, which Spark turns into partition pruning
    on the ``cell=`` leaf dirs — the scan touches nprobe/K of the index.
    Each vector's M stored code rows are gathered back into its code
    array and scored by the same Arrow kernel as the in-line operator,
    so results match it exactly.
    """
    q = _stored_quantizer(spark, path)
    queries = [
        (int(r["vec_id"]), np.array(r["embedding"], np.float64))
        for r in embeddings.filter(query_pred).select("vec_id", "embedding").collect()
    ]
    probes = _probes(q, queries, nprobe)
    codes = (
        spark.read.parquet(f"{path}/codes")
        .filter(F.col("cell").isin(sorted({p[1] for p in probes})))
        .groupBy("vec_id", "cell")
        .agg(F.sort_array(F.collect_list(F.struct("s", "code"))).alias("__sc"))
        .select("vec_id", "cell", F.col("__sc.code").alias("codes"))
    )
    return _ranked(codes, q, probes, k).select(
        "q_id", "neighbor_id", "cell", F.col("score").alias("approx_ip"), "rank"
    )


def add_to_ivfpq_index(
    spark: SparkSession, path: str, new_embeddings: DataFrame
) -> None:
    """Incremental index maintenance: encode NEW vectors against the
    STORED quantizers (centroids + sub-codebooks are read back, never
    retrained — the standard IVFPQ add path: retraining is a scheduled
    rebuild, adds are cheap) and append their code rows to the
    partitioned code table. Append is per-cell leaf-dir parquet append —
    bounded by the new batch, never touching existing files.
    """
    q = _stored_quantizer(spark, path)
    _code_rows(_vec_frame(new_embeddings), q).write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{path}/codes")


KNN_K = 5  # neighbors per vector in the k-NN graph


def knn_join(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = KNN_K,
    dim: int = EMB_DIM,
) -> DataFrame:
    """k-NN GRAPH: the top-k most-cosine-similar same-LSH-bucket
    neighbors for EVERY vector — the all-vectors generalization of
    ``ann_lsh_topk``, and the primitive under SemDeDup-style dedup,
    near-dup clustering, and graph-based retrieval indexes.

    The scale shape differs from the few-queries ANN path on purpose:
    there the query set broadcasts; here every vector is a query, so
    the candidate stage is a bucket-keyed SELF-join (each vector lives
    in exactly one hyperplane-sign bucket → no candidate dedup), the
    same shape as ``embedding_near_dups``. Cost tracks Σ|bucket|², i.e.
    ~2^-P of all-pairs, with the bucket as the shuffle key; the per-q
    top-k window then keys on q_id. All candidates of a given q share
    q's bucket, so no row crosses buckets between the two stages.

    Exactness: cosine uses the fixed-point ``dot_fold`` (engine-exact),
    ranking ties break on neighbor id — a total order, so the graph is
    deterministic and oracle-comparable. Vectors whose bucket has fewer
    than k others return fewer edges (no padding).
    """
    v = _vectors(embeddings)
    vb = (
        _with_buckets(v, dim=dim)
        .select("vec_id", "e", "norm2", "bucket")
        .repartition("bucket")
    )
    q = vb.select(
        F.col("bucket"),
        F.col("vec_id").alias("q_id"),
        F.col("e").alias("qe"),
        F.col("norm2").alias("qn"),
    )
    scored = (
        q.join(vb, "bucket")
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.expr(dot_fold("qe", "e"))
                / (F.sqrt("qn") * F.sqrt("norm2"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
    )


# --- MMR-diversified rerank --------------------------------------------------

MMR_FANOUT = 20
MMR_K = 5
MMR_LAMBDA = 0.3   # low lambda => diversity term dominates; shared verbatim
                   # with the oracle ladder so the literal parses identically


def mmr_rerank(
    embeddings: DataFrame,
    query_pred: str = "vec_id < 5",
    k: int = MMR_K,
    fanout: int = MMR_FANOUT,
    lam: float = MMR_LAMBDA,
    candidate_ids: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance rerank over the ANN stack (Carbonell &
    Goldstein, SIGIR'98): per query, fetch ``fanout`` candidates by
    exact cosine (:func:`cosine_topk` — swap in any ANN candidate
    generator at scale), then greedily pick ``k`` of them maximizing
    ``lam*rel(q,d) - (1-lam)*max_{s in picked} sim(d,s)`` — relevance
    traded against redundancy with what's already picked.

    Exactness: every similarity is the scaled-integer ``dot_fold``
    (floor(x*y*1e12) summed as int — associative, engine-portable),
    and the greedy loop recomputes candidate-candidate sims in the UDF
    with the SAME fold (python floats are IEEE doubles; floor/mul/div
    ordering replicated term-for-term), so scores are bit-identical to
    the oracle's SQL ladder and tie-breaks (score DESC, vec_id ASC)
    decide identically.

    Scale: the greedy stage is grouped ``applyInPandas`` over
    (query, fanout-candidates) groups — O(k·fanout) work and
    O(fanout·dim) state per query, embarrassingly parallel across
    queries; the candidate stage is whatever ANN index serves top-N.
    The k x fanout pairwise-sim matrix never leaves the group.
    """
    import math

    import pandas as pd

    scale = float(DOT_SCALE)
    v = _vectors(embeddings)
    if candidate_ids is None:
        rel = cosine_topk(embeddings, query_pred=query_pred, k=fanout)
    else:
        # SERVING path: candidates came from an ANN index (ids only) —
        # rerank computes the TRUE cosine for just those pairs, which
        # then doubles as the MMR relevance. Same arithmetic as
        # cosine_topk, restricted to the candidate set.
        q = v.filter(query_pred).select(
            F.col("vec_id").alias("q_id"),
            F.col("e").alias("qe"),
            F.col("norm2").alias("qn"),
        )
        rel = (
            candidate_ids.select("q_id", "neighbor_id")
            .join(
                v.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("e").alias("ne"),
                    F.col("norm2").alias("nn"),
                ),
                "neighbor_id",
            )
            .join(F.broadcast(q), "q_id")
            .select(
                "q_id",
                "neighbor_id",
                (
                    F.expr(dot_fold("qe", "ne"))
                    / (F.sqrt("qn") * F.sqrt("nn"))
                ).alias("cosine"),
            )
        )
    cands = rel.join(
        v.select(F.col("vec_id").alias("neighbor_id"), "e", "norm2"),
        "neighbor_id",
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].tolist()
        rel = pdf["cosine"].tolist()
        es = [list(map(float, e)) for e in pdf["e"]]
        norms = [math.sqrt(float(n)) for n in pdf["norm2"]]

        def sim(i: int, j: int) -> float:
            acc = 0
            a, b = es[i], es[j]
            for x, y in zip(a, b):
                acc += math.floor((x * y) * scale)
            return (float(acc) / scale) / (norms[i] * norms[j])

        picked: list[int] = []
        out = []
        while len(picked) < min(k, len(ids)):
            best = None
            for i in range(len(ids)):
                if i in picked:
                    continue
                red = max((sim(i, j) for j in picked), default=0.0)
                score = lam * rel[i] - (1 - lam) * red
                key = (score, -ids[i])
                if best is None or key > best[0]:
                    best = (key, i, score)
            _, i, score = best
            picked.append(i)
            out.append(
                (
                    int(pdf["q_id"].iloc[0]),
                    len(picked),
                    ids[i],
                    rel[i],
                    score,
                )
            )
        return pd.DataFrame(
            out, columns=["q_id", "pick", "neighbor_id", "relevance", "mmr"]
        )

    return cands.groupBy("q_id").applyInPandas(
        _greedy,
        schema="q_id bigint, pick bigint, neighbor_id bigint, "
        "relevance double, mmr double",
    )
