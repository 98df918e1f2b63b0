"""SemDeDup — semantic deduplication over an embedding column (Abbas et
al. 2023, arXiv:2303.09540): partition the embedding space with k-means,
then inside each cluster drop every document whose cosine similarity to
a lower-id document reaches a threshold, keeping one representative per
semantic-duplicate group. Pairs across clusters are never compared —
that is the point: the cluster partition turns the quadratic all-pairs
problem into #clusters independent small ones.

Cross-engine exactness (full DuckDB oracle — the same fixed-point recipe
as ``similarity.kmeans_fit_exact``): vectors are quantized ONCE to
micro-unit integers with ``floor()``; every squared distance / dot
product is then a sum of integer-valued doubles bounded far below 2^53 —
bit-exact and summation-order-independent in every engine — and the only
rounding anywhere is the final IEEE sqrt/divide of the cosine, performed
identically by Spark, Python and DuckDB.

Scale shape: centroid assignment is a zero-shuffle codegen'd projection
over centroid literals (the :func:`similarity.nearest_centroid_expr`
pattern); within-cluster pair generation is ONE equi-join on the cluster
id whose per-cluster cost is quadratic in cluster size — the paper's
protocol (and this operator's contract) is #clusters ∝ corpus size so
expected cluster sizes stay CONSTANT as the corpus grows (SemDeDup uses
50k clusters for LAION-440M); survivors come back from one distinct on
the dropped ids + one anti join on the uniform id key. Nothing collects
to the driver except the ≤ n_clusters seed centroids.

No reference counterpart (csv-cruncher has no embedding tooling);
beyond-reference training-data layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .similarity import nearest_centroid_expr

__all__ = [
    "quantize_vectors",
    "seed_centroids",
    "assign_clusters",
    "semantic_dedup_pairs",
    "semantic_dedup",
]

def _dot_bigint_expr(a: str, b: str, dim: int | None) -> str:
    """Integer BIGINT dot product of two micro-quantized vectors — exact
    at any summation order (every partial sum is an integer). With
    ``dim`` known it is a flat UNROLLED codegen expression (Spark's
    higher-order fold is interpreted per element and dominated the pair
    stage — guide §1.2 per-task work), so the two forms are bit-identical;
    the case guard keeps zip_with's null/length-mismatch semantics on
    malformed rows via the fold, which is all ``dim=None`` gives."""
    fold = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    if not dim or dim <= 0:
        return fold
    terms = " + ".join(f"({a}[{i}] * {b}[{i}])" for i in range(dim))
    return (
        f"case when size({a}) = {dim} and size({b}) = {dim} "
        f"then cast(0 as bigint) + {terms} else {fold} end"
    )


def quantize_vectors(
    df: DataFrame, id_col: str, vec_col: str, micro: int = 1_000_000
) -> DataFrame:
    """``(_id, _vm)`` with ``_vm[i] = floor(vec[i] · micro)`` as BIGINT —
    floor, not round: identical semantics in every engine, no
    HALF_UP/HALF_EVEN divergence (kmeans_fit_exact's quantization)."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.expr(
            f"transform(cast({vec_col} as array<double>),"
            f" x -> cast(floor(x * {micro}) as bigint))"
        ).alias("_vm"),
    )


def seed_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_clusters: int, micro: int = 1_000_000
) -> list[list[float]]:
    """The ``n_clusters`` quantized vectors with the LOWEST id, as
    micro-unit exact-integer doubles — deterministic AND
    SQL-replayable (kmeans_fit_exact's init rule). For converged
    centroids run :func:`similarity.kmeans_fit_exact` and pass its
    micro-unit coordinates to ``centroids=`` instead; the dedup result
    stays fully oracled either way because the oracle replays whichever
    assignment was used."""
    init = (
        quantize_vectors(df, id_col, vec_col, micro)
        .orderBy("_id")
        .limit(n_clusters)
        .collect()
    )
    if len(init) < n_clusters:
        raise ValueError(f"need at least {n_clusters} vectors, got {len(init)}")
    return [[float(v) for v in r["_vm"]] for r in init]


def assign_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    micro: int = 1_000_000,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """``(_id, _vm, cid)`` — nearest-centroid id as a pure projection
    (strict ``<`` fold keeps the first minimum → ties to the lowest
    centroid id, the kmeans_fit_exact rule). Every distance term is an
    exact integer-difference square, so assignment is bit-identical in
    every engine."""
    if centroids is None:
        centroids = seed_centroids(df, id_col, vec_col, n_clusters, micro)
    vm = quantize_vectors(df, id_col, vec_col, micro)
    return vm.withColumn("cid", nearest_centroid_expr("_vm", centroids))


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_clusters: int = 8,
    micro: int = 1_000_000,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """All within-cluster pairs at cosine ≥ ``threshold``:
    ``(a_id, b_id, cid, cosine)`` with ``a_id < b_id``. The cosine is
    ``dot / (sqrt(|a|²) · sqrt(|b|²))`` on the micro-quantized integers:
    dot and both squared norms are exact BIGINTs (≤ dim · micro² ≪ 2^53),
    and the sqrt/multiply/divide tail is correctly-rounded IEEE — the
    same value in Spark and DuckDB bit for bit. Zero-norm vectors yield
    NULL cosine and never pair."""
    from .dedup import _pin

    if centroids is None:
        centroids = seed_centroids(df, id_col, vec_col, n_clusters, micro)
    dim = len(centroids[0]) if centroids else None
    assigned = assign_clusters(df, id_col, vec_col, n_clusters, micro, centroids)
    # pin the assigned+normed frame: it feeds BOTH sides of the pair join,
    # and each un-shared side re-ran the quantize + interpreted
    # nearest-centroid argmin fold (n_clusters × dim lambda steps per
    # row) — measured ~0.8 s per extra evaluation at sf0.1 (round-6,
    # guide §2.4). Release with dedup.release on the result.
    withnorm = assigned.withColumn(
        "_n", F.expr(_dot_bigint_expr("_vm", "_vm", dim))
    )
    a = withnorm.select(
        F.col("_id").alias("a_id"),
        F.col("_vm").alias("_va"),
        F.col("_n").alias("_na"),
        "cid",
    )
    b = withnorm.select(
        F.col("_id").alias("b_id"),
        F.col("_vm").alias("_vb"),
        F.col("_n").alias("_nb"),
        "cid",
    )
    dot = F.expr(_dot_bigint_expr("_va", "_vb", dim))
    cosine = F.when(
        (F.col("_na") > 0) & (F.col("_nb") > 0),
        dot.cast("double")
        / (F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double"))),
    )
    out = (
        a.join(b, "cid")
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", cosine)
        .where(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cid", "cosine")
    )
    return _pin(withnorm, out)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_clusters: int = 8,
    micro: int = 1_000_000,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Survivors of semantic dedup: every row whose id is NOT the larger
    side of any within-cluster pair at cosine ≥ threshold — i.e. the
    lowest-id member of each semantic-duplicate group survives (plus any
    middle member that only pairs transitively; SemDeDup's per-pair drop
    rule, not a connected-components collapse — chain closure is
    :func:`dedup.duplicate_groups`'s job when wanted). Returns the
    original rows unchanged."""
    pairs = semantic_dedup_pairs(
        df, id_col, vec_col, threshold, n_clusters, micro, centroids
    )
    dropped = pairs.select(F.col("b_id").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")
