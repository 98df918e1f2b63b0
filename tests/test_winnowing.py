"""Winnowing local fingerprints (Schleimer et al. 2003): pure-Python
replay of the whole construction, the coverage guarantee (shared
substring >= k + w - 1 chars ⇒ shared fingerprint), short-doc and
empty-doc edges, pair mining with posting-list caps, and the
exchange-free Arrow plan of the fingerprint build."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from csv_cruncher_spark.operators.textstats import (
    winnowing_fingerprints,
    winnowing_near_dups,
)

K, W = 8, 4


def _norm(t: str) -> str:
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", t.lower())).strip()


def _py_fps(t: str, k=K, w=W) -> set[int]:
    n = _norm(t)
    if len(n) < k:
        return set()
    hs = [
        int(hashlib.md5(n[i : i + k].encode()).hexdigest()[:12], 16)
        for i in range(len(n) - k + 1)
    ]
    if len(hs) < w:
        return set()
    return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}


TEXTS = [
    ("d1", "The quick brown fox jumps over the lazy dog near the river bank."),
    ("d2", "A completely different sentence with its own vocabulary here."),
    ("d3", "Short."),
    ("d4", ""),
    ("d5", None),
    ("d6", "the QUICK brown FOX jumps!!! over the lazy dog near the river bank?"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id string, text string")


def test_matches_pure_python_replay(spark, docs):
    got = {}
    for r in winnowing_fingerprints(docs, "doc_id", "text", k=K, window=W).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for did, text in TEXTS:
        want = _py_fps(text) if text else set()
        assert got.get(did, set()) == want, did


def test_normalization_invariance(spark, docs):
    """d6 is d1 with case/punctuation noise — identical normalized text,
    identical fingerprint set."""
    fps = {}
    for r in winnowing_fingerprints(docs, "doc_id", "text").collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps["d1"] == fps["d6"]


def test_coverage_guarantee_on_shared_substring(spark):
    """Any shared run of >= k + w - 1 normalized chars must produce at
    least one shared fingerprint (the winnowing theorem), for several
    random-ish embeddings of the same snippet."""
    shared = "unique shared fragment of text"  # 30 chars > K + W - 1
    rows = [
        ("a", f"prefix one {shared} suffix alpha"),
        ("b", f"{shared} entirely different tail content"),
        ("c", f"zzz qqq www {shared}"),
        ("x", "no overlap with anything else at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    fps = {}
    for r in winnowing_fingerprints(df, "doc_id", "text").collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps["a"] & fps["b"]
    assert fps["a"] & fps["c"]
    assert fps["b"] & fps["c"]
    assert not (fps["x"] & fps["a"])


def test_near_dup_pairs_and_cap(spark):
    shared = "unique shared fragment of text common to the cluster"
    rows = [(f"d{i}", f"doc {i} body {shared} tail {i}") for i in range(5)]
    rows.append(("solo", "completely unrelated document body"))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in winnowing_near_dups(df, "doc_id", "text", min_shared=2).collect()
    }
    assert ("d0", "d1") in pairs
    assert not any("solo" in p for pair in pairs for p in pair)
    # cap of 1 doc per posting list kills every shared fingerprint
    none = winnowing_near_dups(df, "doc_id", "text", max_fp_docs=1).count()
    assert none == 0


def test_fingerprint_plan_is_arrow_batched_and_exchange_free(spark, docs):
    """Hashing + window minima + per-doc distinct run inside one
    Arrow-batched UDF (never row-at-a-time Python) with NO exchange at
    all: per-doc work needs no shuffle."""
    plan = (
        winnowing_fingerprints(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan  # Arrow-batched only
    assert "ArrowEvalPython" in plan
    assert "Exchange hashpartitioning" not in plan


def test_validation():
    with pytest.raises(ValueError):
        winnowing_fingerprints(None, "id", "t", k=1)


def test_screen_flags_partial_reuse_against_stored_corpus(spark):
    shared = "unique shared fragment of text long enough to guarantee"
    corpus = spark.createDataFrame(
        [("c1", f"corpus document one with {shared} inside it"),
         ("c2", "corpus document two, entirely original")],
        "doc_id string, text string",
    )
    fps = winnowing_fingerprints(corpus, "doc_id", "text")
    batch = spark.createDataFrame(
        [("b1", f"incoming page quoting {shared} verbatim"),
         ("b2", "incoming page with fresh content only")],
        "doc_id string, text string",
    )
    from csv_cruncher_spark.operators.textstats import winnowing_screen

    hits = winnowing_screen(batch, fps, "doc_id", "text", min_shared=2).collect()
    assert {(r.batch_id, r.corpus_id) for r in hits} == {("b1", "c1")}
    # the store is (id, fp) only — probing never touches corpus text
    assert set(fps.columns) == {"doc_id", "fp"}
