"""ANN quality evaluation — recall@k of an approximate nearest-neighbour
candidate set against the exact cosine ground truth, plus the
multi-query IVF probe it evaluates. An index you cannot measure is an
index you cannot tune: this is the operator that turns ``n_probe`` /
``n_clusters`` choices into a number.

Cross-engine exactness: both the truth and the IVF side run on the same
micro-quantized integers as :mod:`semdedup` (dot products and norms are
exact BIGINTs, the cosine's sqrt/divide tail is correctly-rounded IEEE),
and every ranking is ordered ``(cosine DESC, id ASC)`` — deterministic
ties — so a DuckDB oracle replays the whole evaluation: cluster
assignment, probe selection, both top-k rankings, and the recall join.

Scale shape: the query set is the SMALL side everywhere — the exact
ground truth is a broadcast nested-loop of #queries against the corpus
(it is the expensive, run-rarely calibration leg, and it still never
shuffles the corpus); the IVF side explodes each query into its
``n_probe`` probed cluster ids and equi-joins the assignment table on
``cid``, so the corpus moves once, hashed on the cluster id; both top-k
windows ride narrow ``(query, id, cosine)`` frames, never payloads.

No reference counterpart; beyond-reference training-data layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .semdedup import _dot_bigint_expr, assign_clusters, quantize_vectors, seed_centroids
from .similarity import _centroid_d2s_expr

__all__ = ["exact_topk_multi", "ivf_topk_multi", "ann_recall"]


# the integer dots stay interpreted folds (dim None): on 500-2,000-vector
# corpora the unrolled form's compile cost outweighed its per-row gain
# (ivf_recall_at_k, 500 vectors, local[2] on a 4-core VM, best of 4:
# 1.66 s fold vs 2.31 s unrolled); integer sums are exact, so both forms
# give the same bits


def _queries_vm(queries: DataFrame, qid_col: str, qvec_col: str, micro: int) -> DataFrame:
    q = quantize_vectors(queries, qid_col, qvec_col, micro)
    return q.select(
        F.col("_id").alias("_qid"),
        F.col("_vm").alias("_qvm"),
        F.expr(_dot_bigint_expr("_vm", "_vm", None)).alias("_qn"),
    )


def _topk(cand: DataFrame, k: int) -> DataFrame:
    dot = F.expr(_dot_bigint_expr("_vm", "_qvm", None))
    cosine = F.when(
        (F.col("_n") > 0) & (F.col("_qn") > 0),
        dot.cast("double")
        / (F.sqrt(F.col("_n").cast("double")) * F.sqrt(F.col("_qn").cast("double"))),
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.asc("_id"))
    return (
        cand.withColumn("cosine", cosine)
        .where(F.col("cosine").isNotNull())
        .select("_qid", "_id", "cosine")
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select(
            F.col("_qid").alias("query_id"),
            F.col("_id").alias("vec_id"),
            "cosine",
            F.col("__rk").alias("rank"),
        )
    )


def _with_norm(vm: DataFrame) -> DataFrame:
    return vm.withColumn("_n", F.expr(_dot_bigint_expr("_vm", "_vm", None)))


def exact_topk_multi(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    micro: int = 1_000_000,
) -> DataFrame:
    """Exact cosine top-k per query — the ground truth:
    ``(query_id, vec_id, cosine, rank)``. The query frame is broadcast;
    the corpus is scanned once, never shuffled before the narrow top-k
    window."""
    corpus = _with_norm(quantize_vectors(df, id_col, vec_col, micro))
    q = F.broadcast(_queries_vm(queries, qid_col, qvec_col, micro))
    return _topk(corpus.crossJoin(q), k)


def ivf_topk_multi(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    k: int = 10,
    n_clusters: int = 8,
    n_probe: int = 2,
    micro: int = 1_000_000,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k per query: assign the corpus to
    ``n_clusters`` (semdedup's deterministic seed centroids unless
    ``centroids=`` is given), pick each query's ``n_probe`` nearest
    centroids (ties ``(distance, cid)`` — the array_sort of a
    ``struct(d, i)`` zip is exactly that order), and rank cosine inside
    the probed clusters only. ``n_probe == n_clusters`` degenerates to
    :func:`exact_topk_multi`."""
    if centroids is None:
        centroids = seed_centroids(df, id_col, vec_col, n_clusters, micro)
    if not 1 <= n_probe <= len(centroids):
        raise ValueError(f"n_probe must be in [1, {len(centroids)}], got {n_probe}")
    assigned = assign_clusters(df, id_col, vec_col, n_clusters, micro, centroids)
    corpus = _with_norm(assigned)
    d2 = _centroid_d2s_expr("_qvm", centroids)
    probe_arr = (
        f"transform(slice(array_sort(zip_with({d2},"
        f" sequence(0, {len(centroids) - 1}), (d, i) -> struct(d as d, i as i))),"
        f" 1, {n_probe}), s -> s.i)"
    )
    probes = _queries_vm(queries, qid_col, qvec_col, micro).withColumn(
        "cid", F.explode(F.expr(probe_arr))
    )
    cand = corpus.join(F.broadcast(probes), "cid")
    return _topk(cand, k)


def ann_recall(
    truth: DataFrame, approx: DataFrame, qid_col: str = "query_id", id_col: str = "vec_id"
) -> DataFrame:
    """Per-query recall of ``approx`` against ``truth`` (both shaped like
    the top-k outputs above): ``(query_id, n_truth, n_hits, recall)``.
    Queries whose approximate set missed everything still appear with
    recall 0 — the aggregation runs over the truth side."""
    t = truth.select(F.col(qid_col).alias("_q"), F.col(id_col).alias("_i"))
    a = approx.select(
        F.col(qid_col).alias("_q"), F.col(id_col).alias("_i")
    ).withColumn("__hit", F.lit(1))
    return (
        t.join(a, ["_q", "_i"], "left")
        .groupBy("_q")
        .agg(
            F.count("*").cast("long").alias("n_truth"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            F.col("_q").alias(qid_col),
            "n_truth",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 6).alias("recall"),
        )
    )
