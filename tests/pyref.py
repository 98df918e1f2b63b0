"""Pure-Python reference implementations ("twins") for the hash-sketch
operators (MinHash/LSH, SimHash, hyperplane-LSH ANN) whose Spark outputs
are not SQL-expressible, so the DuckDB oracle cannot check them. These
twins share NO code with the Spark implementations — they recompute the
same deterministic math from the published algorithm definitions, and
test_pyref_twins.py asserts bit-equality on real data.

xxh64 below is the public XXH64 algorithm (Cyan4973/xxHash spec); Spark's
``xxhash64(col)`` is XXH64(seed=42) over the UTF-8 bytes of a string
column, which test_pyref_twins.py::test_xxh64_matches_spark verifies
directly before anything builds on it.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` with ``seed``, returned as a SIGNED 64-bit int
    (matching Spark's LongType output)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k1 = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h ^= k1
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


# ---------------------------------------------------------------- sketches

_MERSENNE = (1 << 31) - 1


def perm_constants(n: int) -> list[tuple[int, int]]:
    """Same deterministic LCG-derived (a, b) affine-permutation constants
    as operators/dedup.py (recomputed here, not imported)."""
    out = []
    state = 0x9E3779B97F4A7C15
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state | 1) % _MERSENNE
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % _MERSENNE
        out.append((a, b))
    return out


def shingles(text: str, k: int = 3) -> list[str]:
    """Word k-gram shingles, matching dedup.shingles (Spark's
    transform(sequence(1, greatest(n-k+1, 1)), slice) semantics: short
    texts yield one truncated shingle)."""
    words = text.split(" ")
    n = max(len(words) - (k - 1), 1)
    return [" ".join(words[i : i + k]) for i in range(n)]


def minhash_signature(text: str, n_hashes: int = 64, shingle_k: int = 3) -> list[int]:
    hs = {
        xxh64(s.encode("utf-8")) % _MERSENNE for s in shingles(text, shingle_k)
    }  # python % on a negative signed hash == Spark pmod (non-negative)
    sig = []
    for a, b in perm_constants(n_hashes):
        sig.append(min((h * a + b) % _MERSENNE for h in hs))
    return sig


def lsh_band_hashes(sig: list[int], bands: int = 16) -> list[int]:
    rows = len(sig) // bands
    return [
        xxh64(",".join(str(v) for v in sig[b * rows : (b + 1) * rows]).encode("utf-8"))
        for b in range(bands)
    ]


def lsh_candidate_pairs(
    docs: dict[int, str],
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 500,
) -> set[tuple[int, int]]:
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, text in docs.items():
        sig = minhash_signature(text, n_hashes, shingle_k)
        for band, bh in enumerate(lsh_band_hashes(sig, bands)):
            buckets.setdefault((band, bh), []).append(doc_id)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if max_bucket is not None and len(ids) > max_bucket:
            continue
        for x in ids:
            for y in ids:
                if x < y:
                    pairs.add((x, y))
    return pairs


def est_jaccard(sig_a: list[int], sig_b: list[int]) -> float:
    return sum(1 for x, y in zip(sig_a, sig_b) if x == y) / len(sig_a)


def simhash(text: str, bits: int = 64) -> int:
    votes = [0] * bits
    for tok in text.lower().split(" "):
        h = xxh64(tok.encode("utf-8"))
        for j in range(bits):
            # python >> on negative ints is arithmetic, same as Java's >>
            votes[j] += 1 if (h >> j) & 1 else -1
    out = 0
    for j in range(bits):
        if votes[j] > 0:
            out |= 1 << j
    return out


def simhash_candidate_pairs(
    docs: dict[int, str], band_bits: int = 16, max_bucket: int | None = 500
) -> set[tuple[int, int]]:
    """Twin of dedup.simhash_candidates: ids sharing any band of their
    simhash (bands over max_bucket dropped)."""
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, text in docs.items():
        h = simhash(text)
        h_signed = h - (1 << 64) if h >= (1 << 63) else h
        for b in range(n_bands):
            # Java >> is arithmetic; python >> on signed ints matches
            val = (h_signed >> (b * band_bits)) & mask
            buckets.setdefault((b, val), []).append(doc_id)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if max_bucket is not None and len(ids) > max_bucket:
            continue
        for x in ids:
            for y in ids:
                if x < y:
                    pairs.add((x, y))
    return pairs


def _hyperplane_bucket(v: list[float], planes) -> int:
    b = 0
    for i, p in enumerate(planes):
        d = 0.0
        for x, y in zip(v, p):
            d += float(x) * float(y)
        if d > 0:
            b |= 1 << i
    return b


def banded_plane_keys(v: list[float] | None, planes, bands: int, bits: int) -> list[int] | None:
    """Twin of similarity.banded_plane_keys_udf with sequential-fold dots
    (no BLAS): bit i of band b = sign(v · planes[b*bits+i]) summed left
    to right from 0.0, folded MSB-first (acc*2 + bit). Null or
    wrong-dim vectors have no keys."""
    if v is None or len(v) != len(planes[0]):
        return None
    keys = []
    for b in range(bands):
        acc = 0
        for i in range(bits):
            d = 0.0
            for x, y in zip(v, planes[b * bits + i]):
                d += float(x) * float(y)
            acc = acc * 2 + (1 if d > 0 else 0)
        keys.append(acc)
    return keys


def embedding_near_dup_pairs(
    vecs: dict[int, list[float]],
    min_cosine: float = 0.5,
    bands: int = 8,
    bits_per_band: int = 16,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 500,
) -> dict[tuple[int, int], float]:
    """Twin of similarity.pairwise_topk_within_buckets: same seeded
    hyperplanes, same banded keys (MSB-first acc*2+bit fold), same
    over-``max_bucket`` drop, exact cosine on candidate pairs only."""
    import numpy as np

    if dim is None:
        dim = next(len(v) for v in vecs.values() if v)
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(bands * bits_per_band, dim))
    # numpy matmul like the Arrow UDF (a sign flip vs any other summation
    # order needs |v·p| ~ 1e-13 — measure-zero for Gaussian planes);
    # wrong-dim / empty vectors get no buckets, mirroring the UDF's nulls
    shifts = np.arange(bits_per_band - 1, -1, -1, dtype=np.int64)
    buckets: dict[tuple[int, int], list[int]] = {}
    for vid, v in vecs.items():
        if v is None or len(v) != dim:
            continue
        signs = (np.asarray(v, dtype=np.float64) @ planes.T) > 0
        keys = (signs.reshape(bands, bits_per_band).astype(np.int64) << shifts).sum(axis=1)
        for b in range(bands):
            buckets.setdefault((b, int(keys[b])), []).append(vid)

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        for x in a:
            na += float(x) * float(x)
        for y in b:
            nb += float(y) * float(y)
        return dot / (na**0.5 * nb**0.5)

    cand: set[tuple[int, int]] = set()
    for ids in buckets.values():
        if max_bucket is not None and len(ids) > max_bucket:
            continue
        for i, x in enumerate(ids):
            for y in ids[i + 1 :]:
                cand.add((x, y) if x < y else (y, x))
    out: dict[tuple[int, int], float] = {}
    for a, b in cand:
        c = cos(vecs[a], vecs[b])
        if c >= min_cosine:
            out[(a, b)] = c
    return out


def lsh_ann_topk(
    vecs: dict[int, list[float]],
    query: list[float],
    k: int = 20,
    n_planes: int = 8,
    seed: int = 42,
    n_probe_buckets: int = 1,
) -> list[tuple[int, float]]:
    """Twin of similarity.ann_lsh_topk: same seeded hyperplanes, same
    sign-bit bucket, same multi-probe flip order (lowest |margin| bits
    first), exact cosine rerank inside the probed buckets."""
    import numpy as np

    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, len(query)))

    def bucket(v):
        b = 0
        for i, p in enumerate(planes):
            # sequential fold, same summation order as the Spark aggregate
            d = 0.0
            for x, y in zip(v, p):
                d += float(x) * float(y)
            if d > 0:
                b |= 1 << i
        return b

    q = np.asarray(query, dtype=float)
    dots = planes @ q
    qb = 0
    for i, d in enumerate(dots):
        if float(d) > 0:
            qb |= 1 << i
    order = np.argsort(np.abs(dots), kind="stable")
    probe_set = {qb}
    for bit in order[: max(0, n_probe_buckets - 1)]:
        probe_set.add(qb ^ (1 << int(bit)))

    def cos(v):
        dot = 0.0
        nv = 0.0
        nq = 0.0
        for x, y in zip(v, query):
            dot += float(x) * float(y)
        for x in v:
            nv += float(x) * float(x)
        for y in query:
            nq += float(y) * float(y)
        return dot / (nv**0.5 * nq**0.5)

    cands = [
        (vid, round(cos(v), 6)) for vid, v in vecs.items() if bucket(v) in probe_set
    ]
    cands.sort(key=lambda t: (-t[1], t[0]))
    return cands[:k]


def incremental_lsh_pairs(
    corpus: dict[int, str],
    batch: dict[int, str],
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_bucket: int | None = 500,
) -> set[tuple[int, int]]:
    """Twin of dedup.incremental_lsh_pairs: batch docs probe the corpus's
    banded minhash index; corpus-side buckets over max_bucket dropped."""
    buckets: dict[tuple[int, int], list[int]] = {}
    for cid, text in corpus.items():
        sig = minhash_signature(text, n_hashes, shingle_k)
        for band, bh in enumerate(lsh_band_hashes(sig, bands)):
            buckets.setdefault((band, bh), []).append(cid)
    pairs: set[tuple[int, int]] = set()
    for bid, text in batch.items():
        sig = minhash_signature(text, n_hashes, shingle_k)
        for band, bh in enumerate(lsh_band_hashes(sig, bands)):
            ids = buckets.get((band, bh), [])
            if max_bucket is not None and len(ids) > max_bucket:
                continue
            for cid in ids:
                pairs.add((bid, cid))
    return pairs
