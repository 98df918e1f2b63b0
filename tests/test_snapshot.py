"""Crawl-snapshot diffing (operators/snapshot.py): classification,
fingerprint injectivity, the payload-free diff plan, and the round-trip
invariant apply(snapshot_to_changes(old, new), table@old) == new through
the REAL lake merge path. Cross-engine bit-exactness is the
`crawl_snapshot_diff` / `snapshot_cdc_batch` oracle entries
(tests/test_oracle_parity.py)."""

import datetime
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from csv_cruncher_spark.operators.snapshot import (  # noqa: E402
    snapshot_diff,
    snapshot_to_changes,
)


def _snapshots(spark):
    """old: u0..u9; new: u0..u3 unchanged, u4..u6 changed (html), u7..u9
    deleted, u10..u12 added."""
    def ts(i):
        return datetime.datetime(2026, 1, 1) + datetime.timedelta(hours=i)

    old_rows = [
        (f"https://ex.com/{i}", ts(i), f"<p>page {i}</p>".encode(), "en")
        for i in range(10)
    ]
    new_rows = (
        [(f"https://ex.com/{i}", ts(i), f"<p>page {i}</p>".encode(), "en") for i in range(4)]
        + [(f"https://ex.com/{i}", ts(100 + i), f"<p>page {i} v2</p>".encode(), "en") for i in range(4, 7)]
        + [(f"https://ex.com/{i}", ts(200 + i), f"<p>page {i}</p>".encode(), "en") for i in range(10, 13)]
    )
    schema = "url STRING, warc_ts TIMESTAMP, html BINARY, lang STRING"
    return (
        spark.createDataFrame(old_rows, schema),
        spark.createDataFrame(new_rows, schema),
        ts,
    )


def test_diff_classifies_all_four_statuses(spark):
    old, new, _ = _snapshots(spark)
    d = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    for i in range(4):
        assert d[f"https://ex.com/{i}"] == "unchanged"
    for i in range(4, 7):
        assert d[f"https://ex.com/{i}"] == "changed"
    for i in range(7, 10):
        assert d[f"https://ex.com/{i}"] == "deleted"
    for i in range(10, 13):
        assert d[f"https://ex.com/{i}"] == "added"
    assert len(d) == 13


def test_fingerprint_null_vs_empty_is_a_change(spark):
    """concat_ws would collide ('a', NULL) with ('a', '') — the NULL
    marker must keep them distinct."""
    old = spark.createDataFrame([("k", "a", None)], "url STRING, x STRING, y STRING")
    new = spark.createDataFrame([("k", "a", "")], "url STRING, x STRING, y STRING")
    [r] = snapshot_diff(old, new).collect()
    assert r["status"] == "changed"


def test_compare_cols_validated(spark):
    old = spark.createDataFrame([("k", 1)], "url STRING, x INT")
    new = spark.createDataFrame([("k", 1)], "url STRING, x INT")
    with pytest.raises(ValueError, match="absent"):
        snapshot_diff(old, new, compare_cols=["nope"])
    with pytest.raises(ValueError, match="share no"):
        snapshot_diff(
            old.select("url"), new.select("url", F.col("x").alias("z"))
        )


def test_delete_ts_required(spark):
    old, new, _ = _snapshots(spark)
    with pytest.raises(ValueError, match="delete_ts"):
        snapshot_to_changes(old, new)


def test_change_batch_ops_and_payload(spark):
    old, new, ts = _snapshots(spark)
    batch = snapshot_to_changes(old, new, delete_ts="2026-02-01 00:00:00")
    rows = {r["url"]: r for r in batch.collect()}
    # unchanged keys emit nothing — the 99%-unchanged recrawl stays small
    assert len(rows) == 9
    for i in range(4, 7):
        r = rows[f"https://ex.com/{i}"]
        assert r["op"] == "U" and b"v2" in r["html"] and r["warc_ts"] == ts(100 + i)
    for i in range(10, 13):
        assert rows[f"https://ex.com/{i}"]["op"] == "I"
    for i in range(7, 10):
        r = rows[f"https://ex.com/{i}"]
        assert r["op"] == "D" and r["html"] is None
        assert r["warc_ts"] == datetime.datetime(2026, 2, 1)


def test_diff_plan_is_payload_free(spark):
    """The html payload may feed the scan-side md5 projection, never the
    join exchange: every optimized-plan line mentioning the payload
    column must be an md5 fingerprint computation."""
    old, new, _ = _snapshots(spark)
    plan = snapshot_diff(old, new)._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        if "html" in line and "LogicalRDD" not in line and "Relation" not in line:
            assert "md5" in line, f"payload outside the fingerprint: {line}"
    assert "CartesianProduct" not in plan


def test_roundtrip_through_real_merge(spark, tmp_path):
    """Bootstrapping a lake table at the old snapshot and applying the
    generated batch through the REAL apply_batch_mor yields exactly the new
    snapshot — the invariant that makes the differ a valid CDC source."""
    from csv_cruncher_spark.cdc.extract import extract_text_udf
    from csv_cruncher_spark.cdc.pipeline import PAGES_FIELDS
    from csv_cruncher_spark.lake.merge import apply_batch_mor
    from csv_cruncher_spark.lake.table import LakeTable

    old, new, _ = _snapshots(spark)
    t = LakeTable.create(str(tmp_path / "lake"), PAGES_FIELDS, n_buckets=4)

    def as_batch(df):
        return df.withColumn(
            "row_idx", F.monotonically_increasing_id()
        )

    boot = as_batch(old.select(F.lit("I").alias("op"), "url", "warc_ts", "html", "lang"))
    apply_batch_mor(spark, t, boot, epoch_id=0, batch_id="boot")

    delta = as_batch(
        snapshot_to_changes(old, new, delete_ts="2026-02-01 00:00:00")
    )
    apply_batch_mor(spark, t, delta, epoch_id=1, batch_id="delta")

    got = sorted(
        tuple(r)
        for r in t.read(spark).select("url", "warc_ts", "lang", "text").collect()
    )
    want = sorted(
        tuple(r)
        for r in new.select(
            "url", "warc_ts", "lang", extract_text_udf(F.col("html")).alias("text")
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------- text reuse


def _reuse(spark, old_texts, new_rows, k=3):
    """old_texts: list[str]; new_rows: list[(key, text)]."""
    from csv_cruncher_spark.operators.snapshot import text_reuse_report

    old = spark.createDataFrame(
        [(f"o{i}", t) for i, t in enumerate(old_texts)], "url STRING, text STRING"
    )
    new = spark.createDataFrame(new_rows, "url STRING, text STRING")
    return {
        r["url"]: (r["n_shingles"], r["n_reused"], r["reuse_ratio"])
        for r in text_reuse_report(old, new, "url", "text", k=k).collect()
    }


def test_reuse_identical_snapshot_is_full(spark):
    texts = ["alpha beta gamma delta", "one two three four five"]
    got = _reuse(spark, texts, [(f"n{i}", t) for i, t in enumerate(texts)])
    assert got == {"n0": (2, 2, 1.0), "n1": (3, 3, 1.0)}


def test_reuse_disjoint_text_is_zero(spark):
    got = _reuse(spark, ["a b c d"], [("n", "x y z w")])
    assert got == {"n": (2, 0, 0.0)}


def test_reuse_cross_url_counts(spark):
    # the new doc copies old text from a DIFFERENT url — reuse is
    # corpus-level, not keyed
    got = _reuse(spark, ["p q r s t"], [("n", "p q r s t")])
    assert got == {"n": (3, 3, 1.0)}


def test_reuse_partial_overlap_exact_counts(spark):
    # new shingles of 'a b c d e': {a b c, b c d, c d e};
    # old corpus contains only 'a b c' (as the whole-short-doc shingle)
    got = _reuse(spark, ["a b c"], [("n", "a b c d e")])
    assert got == {"n": (3, 1, round(1 / 3, 6))}


def test_reuse_short_doc_single_shingle(spark):
    # < k words → ONE whole-text shingle (the shingles() contract)
    got = _reuse(spark, ["hi there"], [("same", "hi there"), ("diff", "bye now")])
    assert got == {"same": (1, 1, 1.0), "diff": (1, 0, 0.0)}


def test_reuse_null_and_empty_text_keep_rows(spark):
    got = _reuse(spark, ["a b c d"], [("nul", None), ("emp", ""), ("ok", "a b c")])
    assert got == {"nul": (0, None, None), "emp": (0, None, None), "ok": (1, 1, 1.0)}


def test_reuse_duplicate_new_keys_merge(spark):
    # two rows under one key: shingle sets union (distinct pairs)
    got = _reuse(spark, ["a b c"], [("n", "a b c"), ("n", "x y z")])
    assert got == {"n": (2, 1, 0.5)}


def test_reuse_plan_no_payload_in_semi_join(spark):
    from csv_cruncher_spark.operators.snapshot import text_reuse_report

    old = spark.createDataFrame([("o", "a b c d")], "url STRING, text STRING")
    new = spark.createDataFrame([("n", "a b c")], "url STRING, text STRING")
    plan = (
        text_reuse_report(old, new, "url", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


# -------------------------------------------------------- URL churn


def test_url_churn_report_counts(spark):
    from csv_cruncher_spark.operators.snapshot import url_churn_report

    old = spark.createDataFrame(
        [("h.com", "u1"), ("h.com", "u2"), ("h.com", "u3"),
         ("h.com", "u3"),                      # dup in-snapshot: distinct
         ("gone.com", "g1"),
         ("h.com", None)],                     # NULL url drops
        "host string, url string",
    )
    new = spark.createDataFrame(
        [("h.com", "u2"), ("h.com", "u3"), ("h.com", "u4"),
         ("fresh.com", "f1")],
        "host string, url string",
    )
    rep = {r.host: r for r in url_churn_report(old, new, "host", "url").collect()}
    h = rep["h.com"]
    assert (h.n_old, h.n_new, h.n_added, h.n_removed, h.n_kept) == (3, 3, 1, 1, 2)
    assert h.churn_micro == 500_000  # 2 changed of 4 ever-seen
    assert rep["gone.com"].churn_micro == 1_000_000
    assert rep["gone.com"].n_new == 0
    assert rep["fresh.com"].churn_micro == 1_000_000
    assert rep["fresh.com"].n_old == 0
    assert set(rep) == {"h.com", "gone.com", "fresh.com"}


def test_url_churn_report_no_join_in_plan(spark):
    from csv_cruncher_spark.operators.snapshot import url_churn_report

    a = spark.createDataFrame([("h", "u")], "host string, url string")
    b = spark.createDataFrame([("h", "u")], "host string, url string")
    plan = (
        url_churn_report(a, b, "host", "url")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
