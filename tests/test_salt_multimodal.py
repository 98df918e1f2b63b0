"""Skew-handling (lake/salt.py) and multimodal plumbing
(operators/multimodal.py) tests.

Salting invariant: salted results are bit-identical to the unsalted plan —
salting is a physical rewrite only (SURVEY.md §2.D hot-key handling; the
generator's zipf domain skew is FIXTURES.md §A1's 'hot domains' rule).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csv_cruncher_spark.lake import salt
from csv_cruncher_spark.operators import multimodal, similarity


@pytest.fixture(scope="module")
def skewed(spark):
    # zipf-ish: key 'hot' gets ~70% of rows, deterministic
    return spark.range(2000).select(
        F.when(F.col("id") % 10 < 7, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 10).cast("string")))
        .alias("domain"),
        (F.col("id") % 97).alias("v"),
    )


def test_key_histogram_and_bucket_pick(skewed):
    hist = salt.key_histogram(skewed, "domain", top_k=3)
    assert hist[0][0] == "hot" and hist[0][1] == 1400
    assert salt.pick_salt_buckets(skewed, "domain", target_rows_per_task=500) == 3
    assert salt.pick_salt_buckets(skewed, "domain", target_rows_per_task=10**7) == 1


def test_salted_join_matches_plain_join(spark, skewed):
    dims = spark.createDataFrame(
        [("hot", "H"), ("k1", "A"), ("k5", "B")], ["domain", "label"]
    )
    plain = skewed.join(dims, "domain").groupBy("domain", "label").agg(
        F.sum("v").alias("s"), F.count("*").alias("n")
    )
    salted = salt.salted_join(skewed, dims, "domain", salt_buckets=4)
    got = salted.groupBy("domain", "label").agg(
        F.sum("v").alias("s"), F.count("*").alias("n")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))
    # salt column must not leak
    assert salt.SALT_COL not in salted.columns


def test_salted_join_left_outer(spark, skewed):
    dims = spark.createDataFrame([("k1", "A")], ["domain", "label"])
    plain = skewed.join(dims, "domain", "left").where(F.col("label").isNull()).count()
    got = (
        salt.salted_join(skewed, dims, "domain", how="left", salt_buckets=4)
        .where(F.col("label").isNull())
        .count()
    )
    assert got == plain


def test_salted_join_rejects_outer(spark, skewed):
    """right/full outer would duplicate unmatched small-side rows
    salt_buckets times (the small side is exploded) — must raise."""
    import pytest as _pytest

    dims = spark.createDataFrame([("k1", "A")], ["domain", "label"])
    for how in ("right", "full", "full_outer", "outer"):
        with _pytest.raises(ValueError, match="salted_join"):
            salt.salted_join(skewed, dims, "domain", how=how)


def test_salt_is_deterministic(skewed):
    a = salt.with_salt(skewed, 8).groupBy(salt.SALT_COL).count().collect()
    b = salt.with_salt(skewed, 8).groupBy(salt.SALT_COL).count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_salted_two_stage_agg(skewed):
    got = salt.salted_two_stage_agg(
        skewed, ["domain"], {"v": "sum"}, salt_buckets=4
    )
    plain = skewed.groupBy("domain").agg(F.sum("v").alias("sum_v"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))


# ------------------------------------------------------------- multimodal


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, multimodal.encode_fake_media(b"x" * 256, 64, 32)),
        (2, multimodal.encode_fake_media(b"y" * 512, 128, 64)),
        (3, None),
        (4, b"not-a-known-format-blob"),
    ]
    return spark.createDataFrame(rows, "media_id: int, media: binary")


def test_decode_metadata_fake_format(media):
    got = {r["media_id"]: r["meta"] for r in multimodal.decode_metadata(media).collect()}
    assert got[1]["format"] == "ccsm" and got[1]["width"] == 64 and got[1]["height"] == 32
    assert got[2]["n_bytes"] == 512 + 12
    assert got[3] is None or got[3]["format"] is None
    assert got[4]["format"] == "unknown"


def _png(width, height):
    import struct as _s

    return (
        b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR"
        + _s.pack(">II", width, height) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )


def _gif(width, height):
    import struct as _s

    return b"GIF89a" + _s.pack("<HH", width, height) + b"\x00" * 6


def _wav(rate):
    import struct as _s

    return (
        b"RIFF" + _s.pack("<I", 36) + b"WAVE" + b"fmt " + _s.pack("<I", 16)
        + _s.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16) + b"data" + _s.pack("<I", 0)
    )


def _jpeg(width, height):
    import struct as _s

    # SOI | APP0 (minimal) | SOF0 carrying the dimensions
    app0 = b"\xff\xe0" + _s.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + _s.pack(">H", 11) + b"\x08" + _s.pack(">HH", height, width) + b"\x01"
    return b"\xff\xd8" + app0 + sof0


def test_decode_real_format_headers(spark):
    """Real-format METADATA is a stdlib byte parse (PNG IHDR, GIF screen
    descriptor, JPEG SOF, RIFF/WAVE fmt) — no codec library needed; only
    pixel/sample work stays stubbed (round-1 verdict item 9)."""
    df = spark.createDataFrame(
        [
            (1, _png(640, 480)),
            (2, _gif(320, 200)),
            (3, _wav(44100)),
            (4, _jpeg(800, 600)),
        ],
        "media_id: int, media: binary",
    )
    got = {r["media_id"]: r["meta"] for r in multimodal.decode_metadata(df).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 640, 480)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("gif", 320, 200)
    assert (got[3]["format"], got[3]["sample_rate"]) == ("wav", 44100)
    assert (got[4]["format"], got[4]["width"], got[4]["height"]) == ("jpeg", 800, 600)


@pytest.mark.skipif(multimodal.HAS_PIL, reason="Pillow present: real resize active")
def test_resize_real_format_still_raises(spark):
    df = spark.createDataFrame(
        [(1, _png(640, 480))], "media_id: int, media: binary"
    )
    with pytest.raises(Exception, match="codec"):
        multimodal.resize_stub(df, width=10, height=10).collect()


@pytest.mark.skipif(not multimodal.HAS_PIL, reason="no Pillow in this environment")
def test_resize_real_png_with_pillow(spark):
    """With Pillow importable the real-image resize path activates
    (round-2 verdict #9): output is a valid PNG with the new dims."""
    from PIL import Image
    import io

    img = Image.new("RGB", (8, 6))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    df = spark.createDataFrame([(1, buf.getvalue())], "media_id: int, media: binary")
    out = multimodal.resize_stub(df, width=4, height=3).collect()[0]["media"]
    resized = Image.open(io.BytesIO(bytes(out)))
    assert resized.size == (4, 3)


def test_media_features_deterministic_and_partition_invariant(media):
    f1 = {
        r["media_id"]: r["features"]
        for r in multimodal.media_features(media, dim=8).collect()
    }
    f2 = {
        r["media_id"]: r["features"]
        for r in multimodal.media_features(media.repartition(7), dim=8).collect()
    }
    assert f1 == f2
    assert len(f1[1]) == 8 and all(0.0 <= x <= 1.0 for x in f1[1])
    assert f1[3] is None


def test_frame_sample_cardinality(media):
    frames = multimodal.frame_sample(
        media, frame_bytes=64, every_n=2
    ).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    # id=1: 256 bytes payload → 4 frames → sampled 0,2 → 2 frames
    assert len(by_id[1]) == 2
    assert [r["frame_idx"] for r in sorted(by_id[1], key=lambda r: r["frame_idx"])] == [0, 2]
    # id=2: 512 → 8 frames → 4 sampled
    assert len(by_id[2]) == 4
    assert all(len(r["frame"]) == 64 for r in frames)


def test_resize_stub_rewrites_header(media):
    out = multimodal.resize_stub(
        media.where(F.col("media_id") == 1), width=16, height=8
    ).collect()[0]["media"]
    meta = multimodal._decode_one(bytes(out))
    assert meta[1] == 16 and meta[2] == 8


# -------------------------------------------------------------------- IVF


def test_ivf_full_probe_equals_brute_force(spark):
    """n_probe == n_centroids ⇒ IVF degenerates to exact search."""
    import numpy as np

    from csv_cruncher_spark.operators import similarity

    rng = np.random.RandomState(3)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id: int, embedding: array<double>")
    q = [0.3] * 8
    exact = similarity.brute_force_topk(df, "vec_id", "embedding", q, k=10).collect()
    ivf = similarity.ivf_topk(
        df, "vec_id", "embedding", q, k=10, n_centroids=4, n_probe=4
    ).collect()
    assert [tuple(r) for r in ivf] == [tuple(r) for r in exact]


def test_ivf_assign_is_shuffle_free_and_weighted(spark):
    """Round-1 verdict fix: assignment must be a pure projection (no
    Exchange whose key is the embedding — in fact no Exchange at all),
    and duplicate vectors must each count toward their cluster mean."""
    from csv_cruncher_spark.operators import similarity

    rows = [(i, [float(i % 3), 1.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id: long, v: array<double>")
    cents = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [2.0, 1.0])], "centroid_id: int, centroid: array<double>"
    )
    assigned = similarity.ivf_assign(df, "vec_id", "v", cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"assignment plan shuffles:\n{plan}"
    got = {r["vec_id"]: r["centroid_id"] for r in assigned.collect()}
    # x=0 and x=1 → centroid 0 (d2 1 vs 4 / 0 vs 1); x=2 → centroid 1
    for i in range(30):
        assert got[i] == (0 if i % 3 < 2 else 1)

    # weighted means: 10 copies of [9,9] and 1 of [0,0] in one cluster →
    # mean is pulled to (90/11, 90/11), not the duplicate-collapsed 4.5
    dup = spark.createDataFrame(
        [(i, [9.0, 9.0]) for i in range(10)] + [(99, [0.0, 0.0])],
        "vec_id: long, v: array<double>",
    )
    trained = similarity.ivf_train_centroids(dup, "v", n_centroids=1, iterations=1)
    c = list(trained.collect()[0]["centroid"])
    assert abs(c[0] - 90.0 / 11.0) < 1e-9 and abs(c[1] - 90.0 / 11.0) < 1e-9


def test_ivf_partial_probe_recall(spark):
    """Probing half the lists keeps most of the true top-k (sane recall on
    clustered data) and returns exact cosines for what it finds."""
    import numpy as np

    from csv_cruncher_spark.operators import similarity

    rng = np.random.RandomState(4)
    centers = rng.normal(size=(4, 8)) * 3
    rows = []
    for i in range(400):
        c = centers[i % 4]
        rows.append((i, (c + rng.normal(size=8) * 0.2).tolist()))
    df = spark.createDataFrame(rows, "vec_id: int, embedding: array<double>")
    q = (centers[1] + 0.05).tolist()
    exact_ids = {
        r["vec_id"]
        for r in similarity.brute_force_topk(df, "vec_id", "embedding", q, k=10).collect()
    }
    ivf_ids = {
        r["vec_id"]
        for r in similarity.ivf_topk(
            df, "vec_id", "embedding", q, k=10, n_centroids=8, n_probe=4
        ).collect()
    }
    assert len(ivf_ids & exact_ids) >= 8  # ≥0.8 recall on well-clustered data


def test_zero_norm_and_null_vectors_are_guarded(spark):
    """Zero-norm vectors have NaN cosine, which Spark ranks above every
    double and passes through >= filters; null vectors crash a bare
    element_at argmin. Both must degrade to null, not pollute results."""
    from csv_cruncher_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 0.0]),  # zero norm
            (4, None),        # null vector
        ],
        "vec_id: int, embedding: array<double>",
    )
    top = sim.brute_force_topk(df, "vec_id", "embedding", [1.0, 0.0], k=4).collect()
    ids = [r["vec_id"] for r in top]
    # zero/null vectors sort LAST (null cosine), never first
    assert ids[0] == 1 and set(ids[:2]) == {1, 2}
    assert all(r["cosine"] is None for r in top if r["vec_id"] in (3, 4))

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id: int, centroid: array<double>"
    )
    assigned = {r["vec_id"]: r["centroid_id"]
                for r in sim.ivf_assign(df, "vec_id", "embedding", cents).collect()}
    assert assigned[1] == 0 and assigned[2] == 0
    assert assigned[4] is None  # null vector → null assignment, no crash


def test_knn_join_approximate_finds_planted_neighbors(spark):
    """knn_join's approximate path (n_probe < n_centroids): a positively
    rescaled copy of a vector shares its nearest cell, so every planted
    pair must be found at rank 1 with cosine 1.0 even at low probe
    count — while the candidate join stays cell-bounded."""
    import os as _os

    from csv_cruncher_spark.operators import similarity

    sf_dir = _os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    ).select(F.col("vec_id").alias("id_r"), F.expr(
        "transform(embedding, x -> cast(x AS double))").alias("embedding"))
    left = emb.filter(F.col("id_r") % 50 == 0).select(
        (F.col("id_r") + 10_000_000).alias("id_l"),
        F.expr("transform(embedding, x -> x * 1.5)").alias("embedding"),
    )
    j = similarity.knn_join(
        left, emb, "id_l", "id_r", "embedding", "embedding",
        k=1, n_centroids=8, n_probe=1,
    ).collect()
    got = {r["id_l"]: (r["id_r"], round(r["cosine"], 6)) for r in j}
    want_ids = [r["id_l"] for r in left.select("id_l").collect()]
    assert set(got) == set(want_ids)
    for lid in want_ids:
        assert got[lid] == (lid - 10_000_000, 1.0)


def test_knn_exact_fastpath_matches_trained(spark):
    """Round-6 pin: knn_join's exact mode (n_probe >= n_centroids) skips
    k-means training — the cell partitioning cannot change which pairs
    are compared (all of them, each exactly once), so hash-of-id cells
    must yield BIT-identical output to the trained-centroid path,
    including the degenerate rows (null vector, zero norm, wrong dim,
    NaN / ±Inf element, overflowing norm) the trained path drops at
    assignment time. A NaN or ±Inf right row once ranked first for every
    left row on the fast path: Spark orders NaN above every number, so
    ``NaN > 0`` let its cosine through."""
    import os as _os

    from csv_cruncher_spark.operators import similarity

    sf_dir = _os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    ).select(F.col("vec_id").alias("id"), F.expr(
        "transform(embedding, x -> cast(x AS double))").alias("embedding"))
    degenerate = spark.createDataFrame(
        [
            (10_000_001, None),                # null vector
            (10_000_002, [0.0] * 64),          # zero norm
            (10_000_003, [1.0, 2.0]),          # wrong dim
            (10_000_004, [float("nan")] + [1.0] * 63),  # NaN element
            (10_000_005, [float("inf")] + [1.0] * 63),  # +Inf element
            (10_000_006, [1.0] * 63 + [float("-inf")]),  # -Inf element
            (10_000_007, [1e200] * 64),        # squared norm overflows
        ],
        "id: bigint, embedding: array<double>",
    )
    bad = set(range(10_000_001, 10_000_008))
    right = emb.limit(200).unionByName(degenerate)
    left = emb.filter(F.col("id") % 25 == 0).select(
        F.col("id").alias("id_l"), "embedding"
    ).unionByName(degenerate.select(F.col("id").alias("id_l"), "embedding"))
    r_named = right.select(F.col("id").alias("id_r"), "embedding")

    fast = similarity.knn_join(
        left, r_named, "id_l", "id_r", "embedding", "embedding",
        k=5, n_centroids=8, n_probe=8,
    ).collect()
    # force the legacy trained path by passing pre-trained centroids,
    # trained on every right row: the degenerate ones must not seed or
    # skew a centroid (a non-finite one could not be planned)
    cents = similarity.ivf_train_centroids(r_named, "embedding", n_centroids=8)
    trained = similarity.knn_join(
        left, r_named, "id_l", "id_r", "embedding", "embedding",
        k=5, n_centroids=8, n_probe=8, centroids=cents,
    ).collect()

    key = lambda r: (r["id_l"], r["rank"])  # noqa: E731
    fast_m = {key(r): (r["id_r"], r["cosine"]) for r in fast}
    trained_m = {key(r): (r["id_r"], r["cosine"]) for r in trained}
    assert fast_m == trained_m and len(fast) == len(trained)
    # degenerate left/right ids never appear on either side of a pair
    assert not any(r["id_l"] in bad or r["id_r"] in bad for r in fast)


def test_ivf_topk_fullprobe_fastpath_matches_trained(spark):
    """Round-6 pin: ivf_topk's full-probe mode skips k-means training;
    output (including the exclusion of rows whose assignment would be
    NULL — null / wrong-dim / NaN or ±Inf element / overflowing vectors)
    must be identical to the trained path, here exercised on a corpus
    SHORTER than k so any extra null-cosine row would be visible in the
    tail, and a NaN-cosine one at the head."""
    import math as _math
    import os as _os

    from csv_cruncher_spark.operators import similarity

    sf_dir = _os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(
        _os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", F.expr(
        "transform(embedding, x -> cast(x AS double))").alias("embedding"))
    first = emb.orderBy("vec_id").limit(1).collect()[0]
    q = [float(x) for x in first["embedding"]]
    nan_vec = [float(x) for x in first["embedding"]]
    nan_vec[3] = float(_math.nan)
    degenerate = spark.createDataFrame(
        [
            (20_000_001, None),          # null vector
            (20_000_002, [1.0, 2.0]),    # wrong dim
            (20_000_003, nan_vec),       # NaN element
            (20_000_004, [float("inf")] + q[1:]),   # +Inf element
            (20_000_005, q[:-1] + [float("-inf")]),  # -Inf element
            (20_000_006, [1e200] * len(q)),          # squared norm overflows
        ],
        "vec_id: bigint, embedding: array<double>",
    )
    clean = emb.limit(10)
    corpus = clean.unionByName(degenerate)  # < k valid rows

    fast = similarity.ivf_topk(
        corpus, "vec_id", "embedding", q, k=20, n_centroids=4, n_probe=4
    ).collect()
    # trained on every row: the degenerate ones must neither seed nor
    # skew a centroid, and assignment-time exclusion must match
    cents = similarity.ivf_train_centroids(corpus, "embedding", n_centroids=4)
    trained = similarity.ivf_topk(
        corpus, "vec_id", "embedding", q, k=20, n_centroids=4, n_probe=4,
        centroids=cents,
    ).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in trained]
    assert len(fast) == 10  # degenerate rows excluded, not padded in

    # fewer rows than n_centroids: every vector would become a seed, and
    # an infinite one has no SQL literal for the next round's plan
    tiny = clean.limit(2).unionByName(
        degenerate.filter(F.col("vec_id") == 20_000_004)
    )
    cents = similarity.ivf_train_centroids(tiny, "embedding", n_centroids=4)
    assert cents.count() == 2
    fast = similarity.ivf_topk(
        tiny, "vec_id", "embedding", q, k=20, n_centroids=4, n_probe=4
    ).collect()
    trained = similarity.ivf_topk(
        tiny, "vec_id", "embedding", q, k=20, n_centroids=4, n_probe=4,
        centroids=cents,
    ).collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in trained]
    assert len(fast) == 2


# ---------------------------------------------------------------------------
# kmeans_fit_exact — bit-reproducible Lloyd (oracle twin of the IVF
# trainer): exact agreement with a sequential-fold pure-Python replay,
# layout independence, empty-cluster retention, validation.
# ---------------------------------------------------------------------------


def _lloyd_twin(vecs, k, iters, micro=1_000_000):
    """Pure-Python replay with the IDENTICAL arithmetic: floor-micro
    quantization, sequential-fold double distances, strict-< first-min
    ties, order-free integer sums closed by one double division."""
    import math

    vm = [[math.floor(x * micro) for x in v] for v in vecs]
    cents = [[float(c) for c in vm[i]] for i in range(k)]
    members = {}
    for _ in range(iters):
        sums = {}
        for row in vm:
            best, bd = -1, float("inf")
            for ci, c in enumerate(cents):
                d = 0.0
                for a, b in zip(row, c):
                    d = d + (float(a) - b) * (float(a) - b)
                if d < bd:
                    bd, best = d, ci
            s, n = sums.setdefault(best, ([0] * len(row), 0))
            sums[best] = ([x + y for x, y in zip(s, row)], n + 1)
        members = {ci: n for ci, (_, n) in sums.items()}
        cents = [
            [s / sums[ci][1] for s in sums[ci][0]] if ci in sums else prev
            for ci, prev in enumerate(cents)
        ]
    return {
        (ci, d + 1): (c[d], members.get(ci, 0))
        for ci, c in enumerate(cents)
        for d in range(len(c))
    }


def _km_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, v array<double>",
    )


def test_kmeans_exact_matches_python_twin_bitwise(spark):
    import random

    rng = random.Random(7)
    vecs = [[rng.uniform(-0.2, 0.2) for _ in range(6)] for _ in range(40)]
    out = similarity.kmeans_fit_exact(
        _km_df(spark, vecs), "vec_id", "v", n_centroids=3, iterations=2
    )
    got = {
        (r["centroid_id"], r["dim"]): (r["value"], r["n_members"])
        for r in out.collect()
    }
    assert got == _lloyd_twin(vecs, k=3, iters=2)


def test_kmeans_exact_layout_independent(spark):
    import random

    rng = random.Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(30)]
    base = _km_df(spark, vecs)
    a = similarity.kmeans_fit_exact(
        base.repartition(7), "vec_id", "v", n_centroids=4, iterations=3
    ).collect()
    b = similarity.kmeans_fit_exact(
        base.coalesce(1), "vec_id", "v", n_centroids=4, iterations=3
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kmeans_exact_empty_cluster_keeps_init(spark):
    # every vector is identical -> both init centroids coincide, ties
    # go to centroid 0 in every round; centroid 1 never wins a vector,
    # keeps its init coordinates, n_members == 0
    vecs = [[1.0, 1.0], [1.0, 1.0], [1.0, 1.0]]
    out = similarity.kmeans_fit_exact(
        _km_df(spark, vecs), "vec_id", "v", n_centroids=2, iterations=2
    )
    got = {
        (r["centroid_id"], r["dim"]): (r["value"], r["n_members"])
        for r in out.collect()
    }
    assert got[(1, 1)] == (1_000_000.0, 0)
    assert got[(1, 2)] == (1_000_000.0, 0)
    assert got[(0, 1)] == (1_000_000.0, 3)


def test_kmeans_exact_validation(spark):
    df = _km_df(spark, [[1.0, 2.0]])
    with pytest.raises(ValueError):
        similarity.kmeans_fit_exact(df, "vec_id", "v", n_centroids=0)
    with pytest.raises(ValueError):
        similarity.kmeans_fit_exact(df, "vec_id", "v", n_centroids=2)


def test_key_skew_report_exact_shares(spark):
    from csv_cruncher_spark.lake.salt import key_skew_report

    rows = [("hot",)] * 8 + [("warm",)] * 2 + [("cold",)] * 0 + [("c1",), ("c2",)]
    df = spark.createDataFrame(rows, "k STRING")
    got = {r.rank: r for r in key_skew_report(df, "k", top_k=3).collect()}
    assert [got[i].key for i in (1, 2, 3)] == ["hot", "warm", "c1"]
    assert got[1].share_micro == round(1e6 * 8 / 12)
    assert got[1].cum_share_micro == round(1e6 * 8 / 12)
    assert got[2].cum_share_micro == round(1e6 * 10 / 12)
    assert got[3].cum_share_micro == round(1e6 * 11 / 12)


def test_key_skew_report_layout_independent(spark):
    import pytest as _pytest

    from csv_cruncher_spark.lake.salt import key_skew_report

    rows = [(f"k{i % 13}",) for i in range(300)]
    df = spark.createDataFrame(rows, "k STRING")
    a = [tuple(r) for r in key_skew_report(df, "k", 5).orderBy("rank").collect()]
    b = [
        tuple(r)
        for r in key_skew_report(df.repartition(11), "k", 5).orderBy("rank").collect()
    ]
    assert a == b and len(a) == 5
    with _pytest.raises(ValueError):
        key_skew_report(df, "k", 0)
