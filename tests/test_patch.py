"""Partial-update placeholder resolution (cdc/patch.py): in-batch
carry with NULL-vs-unchanged distinction, delete barrier, table-state
fallback via point lookup, and the end-to-end CdcPipeline path where a
patched html re-extracts the right text."""

import base64
import csv
import os

import pytest
from pyspark.sql import functions as F

from csv_cruncher_spark.cdc.patch import (
    DEBEZIUM_PLACEHOLDER as PH,
    resolve_partial_updates,
)
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake.table import LakeTable

SCHEMA = "url string, warc_ts long, op string, text string, lang string, row_idx long"


def _resolve(df, fallback=None):
    return resolve_partial_updates(
        df, PH, key_col="url", ts_col="warc_ts", tiebreak_col="row_idx",
        payload_cols=["text", "lang"], fallback_state=fallback,
    )


def _vals(df):
    return {
        (r.url, r.warc_ts): (r.text, r.lang) for r in df.collect()
    }


def test_in_batch_carry_and_null_distinction(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, "I", "v1", "en", 0),
            ("a", 2, "U", PH, "de", 1),       # text unchanged -> v1
            ("a", 3, "U", None, PH, 2),       # text SET to NULL; lang unchanged -> de
            ("a", 4, "U", PH, PH, 3),         # text carries the NULL, lang de
        ],
        SCHEMA,
    )
    got = _vals(_resolve(df))
    assert got[("a", 1)] == ("v1", "en")
    assert got[("a", 2)] == ("v1", "de")
    assert got[("a", 3)] == (None, "de")
    assert got[("a", 4)] == (None, "de")


def test_delete_is_a_carry_barrier(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, "I", "old", "en", 0),
            ("a", 2, "D", None, None, 1),
            ("a", 3, "I", PH, "en", 2),  # must NOT resurrect "old"
        ],
        SCHEMA,
    )
    got = _vals(_resolve(df))
    assert got[("a", 3)] == (None, "en")


def test_fallback_state_for_first_event(spark):
    df = spark.createDataFrame(
        [
            ("a", 5, "U", PH, "en", 0),   # known key -> state text
            ("b", 5, "U", PH, PH, 1),     # unknown key -> NULLs
        ],
        SCHEMA,
    )
    state = spark.createDataFrame(
        [("a", "state-text", "cs")], "url string, text string, lang string"
    )
    got = _vals(_resolve(df, fallback=state))
    assert got[("a", 5)] == ("state-text", "en")
    assert got[("b", 5)] == (None, None)


def test_carry_beats_fallback(spark):
    df = spark.createDataFrame(
        [
            ("a", 1, "U", "fresh", "en", 0),
            ("a", 2, "U", PH, "en", 1),  # in-batch carry wins over state
        ],
        SCHEMA,
    )
    state = spark.createDataFrame(
        [("a", "stale", "cs")], "url string, text string, lang string"
    )
    got = _vals(_resolve(df, fallback=state))
    assert got[("a", 2)] == ("fresh", "en")


def test_no_placeholder_columns_is_identity(spark):
    df = spark.createDataFrame(
        [("a", 1, "I", 7)], "url string, warc_ts long, op string, n int"
    )
    out = resolve_partial_updates(
        df, PH, key_col="url", ts_col="warc_ts",
        tiebreak_col="warc_ts", payload_cols=["n"],
    )
    assert out is df  # int columns can't carry a string placeholder


# ---------- pipeline end-to-end ----------

def _write_batch(dirpath, seq, rows):
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"batch-{seq:05d}.csv")
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=["op", "url", "warc_ts", "html", "lang"])
        w.writeheader()
        w.writerows(rows)
    return path


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def test_pipeline_resolves_across_batches(spark, tmp_path):
    """Batch 1 inserts full rows; batch 2 patches with an elided html —
    the resolved row must keep batch-1 bytes and re-extract the SAME
    text, while the patched lang updates."""
    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [{
        "op": "I", "url": "https://x.example/a",
        "warc_ts": "2024-01-01 00:00:10",
        "html": _b64("<html><body>original body</body></html>"), "lang": "en",
    }])
    _write_batch(bdir, 1, [{
        "op": "U", "url": "https://x.example/a",
        "warc_ts": "2024-01-01 00:00:20",
        "html": _b64(PH),  # elided unchanged TOAST column
        "lang": "de",
    }])
    tpath = str(tmp_path / "lake")
    CdcPipeline(tpath, n_buckets=2, partial_updates=PH).run(spark, bdir)
    rows = LakeTable.load(tpath).read(spark).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.lang == "de"
    assert bytes(r.html) == b"<html><body>original body</body></html>"
    assert "original body" in r.text
    assert str(r.warc_ts).startswith("2024-01-01 00:00:20")


def test_pipeline_without_flag_applies_placeholder_verbatim(spark, tmp_path):
    """Default pipelines are unchanged: the placeholder lands as data
    (the pre-existing semantics; the flag is opt-in)."""
    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [{
        "op": "I", "url": "https://x.example/a",
        "warc_ts": "2024-01-01 00:00:10",
        "html": _b64(PH), "lang": "en",
    }])
    tpath = str(tmp_path / "lake")
    CdcPipeline(tpath, n_buckets=2).run(spark, bdir)
    r = LakeTable.load(tpath).read(spark).collect()[0]
    assert bytes(r.html) == PH.encode()


def test_resolution_runs_before_expectations(spark, tmp_path):
    """A payload rule must judge the RESOLVED value, not the Debezium
    placeholder: batch 2 elides lang (real value 'en', which passes
    lang_known) — evaluated-first ordering quarantined the legitimate
    row (review finding)."""
    from csv_cruncher_spark.cdc.expectations import Expectation

    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [{
        "op": "I", "url": "https://x.example/a",
        "warc_ts": "2024-01-01 00:00:10",
        "html": _b64("<html><body>v1</body></html>"), "lang": "en",
    }])
    _write_batch(bdir, 1, [{
        "op": "U", "url": "https://x.example/a",
        "warc_ts": "2024-01-01 00:00:20",
        "html": _b64("<html><body>v2</body></html>"), "lang": PH,
    }])
    rules = [Expectation("lang_known", "lang IN ('en','de')",
                         action="dlq", applies_to=("I", "U"))]
    tpath = str(tmp_path / "lake")
    ckpt = CdcPipeline(tpath, n_buckets=2, expectations=rules,
                       partial_updates=PH).run(spark, bdir)
    assert ckpt["expectation_violations"]["batch-00001.csv"]["quarantined"] == 0
    r = LakeTable.load(tpath).read(spark).collect()[0]
    assert r.lang == "en" and b"v2" in bytes(r.html)


def test_tailer_passes_partial_updates(spark, tmp_path):
    from csv_cruncher_spark.streaming.tailer import ChangeLogTailer

    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [{
        "op": "I", "url": "https://x.example/a",
        "warc_ts": "2024-01-01 00:00:10",
        "html": _b64("<html><body>v1</body></html>"), "lang": "en",
    }, {
        "op": "U", "url": "https://x.example/a",
        "warc_ts": "2024-01-01 00:00:20",
        "html": _b64(PH), "lang": "de",
    }])
    tailer = ChangeLogTailer(
        CdcPipeline(str(tmp_path / "lake"), n_buckets=2, partial_updates=PH),
        bdir,
    )
    tailer.poll_once(spark)
    r = LakeTable.load(str(tmp_path / "lake")).read(spark).collect()[0]
    assert bytes(r.html) == b"<html><body>v1</body></html>"
    assert r.lang == "de"
