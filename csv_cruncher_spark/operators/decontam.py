"""Test-set decontamination: find (and drop) training documents that
share word n-grams with an evaluation benchmark — the GPT-3-style
overlap screen every serious pretraining pipeline runs before training
(13-gram collision in the GPT-3 appendix; the same screen at smaller n
for short benchmarks).

Scale shape (the part that matters at 100 TB): the benchmark side is
always tiny — a few thousand eval documents, a few MB of distinct
n-grams — so the corpus-side n-gram stream is filtered through a
BROADCAST hash join BEFORE anything shuffles. The corpus itself never
repartitions: only the (rare) hit rows reach the per-doc aggregation,
and the final removal is a left-anti join against the (small) hit-id
frame, which AQE plans as a broadcast. Contrast with the naive
shuffle-join of two exploded n-gram streams, which repartitions the
whole corpus by n-gram.

No reference counterpart (csv-cruncher has no corpus tooling); this is
part of the training-data layer built beyond the reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _spread, shingles


def _ngram_stream(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, ngram) stream: lowercase word n-grams; docs shorter than n
    words contribute their whole text as one gram (shingles' greatest(,1)
    slice semantics), so short docs still screen instead of slipping
    through."""
    return _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(f"lower({text_col})", n)).alias("ngram"),
    )


def benchmark_ngrams(
    bench: DataFrame, text_col: str = "text", n: int = 13
) -> DataFrame:
    """The distinct n-gram set of the benchmark — the small frame the
    corpus is screened against. Compute once, reuse across corpus
    batches (it only changes when the benchmark suite does)."""
    return (
        bench.select(F.explode(shingles(f"lower({text_col})", n)).alias("ngram"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 13,
    bench_ngrams: DataFrame | None = None,
) -> DataFrame:
    """Per-contaminated-doc hit counts: (id, n_hit_ngrams) for every
    corpus document sharing at least one lowercase word n-gram with the
    benchmark; clean documents are absent. Pass ``bench_ngrams=`` (from
    :func:`benchmark_ngrams`) to amortize the benchmark scan across
    many corpus batches — the per-change-batch CDC admission shape.

    Plan: corpus n-gram stream → broadcast inner join with the distinct
    benchmark n-grams (narrow — the corpus never shuffles) → per-doc
    distinct-hit count over the surviving rows only (one small
    exchange)."""
    if bench_ngrams is None:
        bench_ngrams = benchmark_ngrams(bench, bench_text_col or text_col, n)
    hits = _ngram_stream(docs, id_col, text_col, n).join(
        F.broadcast(bench_ngrams), "ngram"
    )
    return hits.groupBy("id").agg(
        F.countDistinct("ngram").alias("n_hit_ngrams")
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 13,
    min_hits: int = 1,
    bench_ngrams: DataFrame | None = None,
) -> DataFrame:
    """The corpus minus contaminated documents (``>= min_hits`` distinct
    benchmark n-grams). The hit-id frame is small by construction, so
    the anti join broadcasts under AQE — full corpus schema passes
    through untouched, no corpus shuffle anywhere in the plan."""
    rep = contamination_report(
        docs, bench, id_col, text_col, bench_text_col, n, bench_ngrams
    )
    bad = rep.filter(F.col("n_hit_ngrams") >= min_hits).select(
        F.col("id").alias("__contaminated_id")
    )
    return docs.join(
        bad, docs[id_col] == bad["__contaminated_id"], "left_anti"
    )


def embedding_contamination_report(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """Embedding-space decontamination: corpus vectors whose cosine to
    ANY benchmark vector reaches ``threshold`` — the semantic companion
    to the n-gram screen above, catching paraphrased/reformatted eval
    leakage that shares no verbatim 13-gram (the screen used alongside
    exact overlap in modern decontamination audits).

    Returns ``(id, bench_id, max_cosine)``: one row per contaminated
    corpus vector, carrying its highest-cosine benchmark match. The
    threshold and the arg-max compare the RAW double cosine — the
    sequential-fold dot/norm arithmetic is bit-identical cross-engine,
    while rounding first would re-open the half-boundary divergence
    (Spark rounds half-up, DuckDB half-even) on a value that gates set
    membership. Only the REPORTED ``max_cosine`` is rounded to 6 dp;
    exact raw ties (e.g. identical benchmark vectors) break to the
    LOWEST benchmark id — deterministic, layout-independent.

    Scale shape: the benchmark side is tiny by construction (an eval
    suite — thousands of vectors, not billions), so it BROADCASTS and the
    corpus is scanned exactly once with no shuffle of the vectors: the
    plan is broadcast-nested-loop → sequential-fold dot product (JVM
    ``aggregate``/``zip_with``, deterministic summation order for oracle
    parity) → per-corpus-id partial-aggregated max — O(|corpus|·|bench|)
    flops but O(|corpus hits|) rows past the scan. Norms are computed
    once per side BEFORE the pairing. For a benchmark too big to
    broadcast, use the LSH/IVF candidate generators in
    ``operators/similarity.py`` instead of this exact form.

    Zero-norm (or null) vectors have no direction: null cosine on either
    side of a pair, never NaN (NaN sorts above every double in Spark and
    would pass every threshold), so such rows simply never flag."""
    from pyspark.sql import Window

    # deferred import: similarity pulls numpy/pandas at module top (its
    # LSH/matmul kernels need them); the n-gram screens above must stay
    # importable in a pyspark-only environment
    from .similarity import _dot_unrolled

    bid = bench_id_col or id_col
    # the sequential folds (dim 0: no dim is inferred, which would cost a job)
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        F.sqrt(F.expr(_dot_unrolled(vec_col, vec_col, 0))).alias("__cn"),
    )
    b = bench.select(
        F.col(bid).alias("__bid"),
        F.col(vec_col).alias("__bv"),
        F.sqrt(F.expr(_dot_unrolled(vec_col, vec_col, 0))).alias("__bn"),
    )
    denom = F.col("__cn") * F.col("__bn")
    cos = F.when(denom > 0, F.expr(_dot_unrolled("__cv", "__bv", 0)) / denom)
    pairs = (
        c.join(F.broadcast(b))
        .select(F.col("__cid"), F.col("__bid"), cos.alias("__cos"))
        .filter(F.col("__cos") >= threshold)
    )
    # arg-max via row_number over the (small) hits frame only — never a
    # struct-max with a negated id, which NULLs out on string ids (the
    # round-4 dedup()-tie-break lesson); works for any orderable id type
    w = Window.partitionBy("__cid").orderBy(F.desc("__cos"), F.asc("__bid"))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__cid").alias("id"),
            F.col("__bid").alias("bench_id"),
            F.round("__cos", 6).alias("max_cosine"),
        )
    )
