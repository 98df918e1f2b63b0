"""WARC source (sources/warc.py): write/read round-trip, split-parallel
reading, header tolerance, the change-batch adapter through the REAL
merge path; sitemap source + recrawl planning (sources/sitemap.py).
Cross-engine bit-exactness is the `warc_roundtrip` / `recrawl_plan`
oracle entries (tests/test_oracle_parity.py)."""

import datetime
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from csv_cruncher_spark.sources.sitemap import (  # noqa: E402
    parse_sitemap,
    recrawl_plan,
)
from csv_cruncher_spark.sources.warc import (  # noqa: E402
    read_warc,
    warc_to_change_batch,
    write_warc,
)


def _pages(spark, n=5):
    rows = [
        (
            f"https://e.com/{i}",
            f"2026-01-0{i + 1}T00:00:0{i}Z",
            f"<html>page {i}\r\n\r\nblank-line body {'x' * i}</html>",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url STRING, warc_date STRING, payload STRING")


def test_warc_write_read_roundtrip(spark, tmp_path):
    pages = _pages(spark)
    write_warc(pages, str(tmp_path / "w"))
    got = read_warc(spark, str(tmp_path / "w")).orderBy("url")
    rows = got.collect()
    want = {r["url"]: r["payload"] for r in pages.collect()}
    assert {r["url"]: r["payload"] for r in rows} == want
    for r in rows:
        assert r["warc_type"] == "response"
        assert r["content_length"] == len(r["payload"].encode())
        assert r["warc_ts"] is not None


def test_warc_content_length_is_bytes_not_chars(spark, tmp_path):
    df = spark.createDataFrame(
        [("https://e.com/u", "2026-01-01T00:00:00Z", "héllo é世")],
        "url STRING, warc_date STRING, payload STRING",
    )
    write_warc(df, str(tmp_path / "w"))
    r = read_warc(spark, str(tmp_path / "w")).collect()[0]
    assert r["content_length"] == len("héllo é世".encode())
    assert r["payload"] == "héllo é世"


def test_warc_reading_splits_across_partitions(spark, tmp_path):
    """The scale claim: a big WARC file is consumed by MULTIPLE input
    splits (delimiter-scan from arbitrary offsets), all records intact."""
    rows = [
        (f"https://e.com/{i:04d}", "2026-01-01T00:00:00Z", f"<html>{'y' * 200} {i}</html>")
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "url STRING, warc_date STRING, payload STRING")
    write_warc(df.coalesce(1), str(tmp_path / "big"))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
        got = read_warc(spark, str(tmp_path / "big"))
        assert got.rdd.getNumPartitions() > 1  # really split
        assert got.count() == 300
        assert {r["url"] for r in got.select("url").collect()} == {
            r[0] for r in rows
        }
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_warc_header_case_insensitive_and_missing_uri(spark, tmp_path):
    raw = (
        "WARC/1.0\r\nwarc-type: warcinfo\r\ncontent-length: 2\r\n\r\nok\r\n\r\n"
        "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://e.com/a\r\n"
        "WARC-Date: not-a-date\r\nContent-Length: 4\r\n\r\nbody\r\n\r\n"
    )
    p = tmp_path / "h.warc"
    p.write_bytes(raw.encode())
    rows = {r["warc_type"]: r for r in read_warc(spark, str(p)).collect()}
    info = rows["warcinfo"]
    assert info["url"] is None and info["payload"] == "ok"
    resp = rows["response"]
    # malformed date: raw string kept, parsed ts NULL (try_ semantics)
    assert resp["warc_date"] == "not-a-date" and resp["warc_ts"] is None
    assert resp["payload"] == "body" and resp["content_length"] == 4


def test_warc_change_batch_through_real_merge(spark, tmp_path):
    from csv_cruncher_spark.cdc.pipeline import PAGES_FIELDS
    from csv_cruncher_spark.lake.merge import apply_batch_mor
    from csv_cruncher_spark.lake.table import LakeTable

    pages = _pages(spark, 4)
    write_warc(pages, str(tmp_path / "w"))
    warc = read_warc(spark, str(tmp_path / "w"))
    batch = warc_to_change_batch(warc).withColumn(
        "row_idx", F.monotonically_increasing_id()
    )
    t = LakeTable.create(str(tmp_path / "lake"), PAGES_FIELDS, n_buckets=2)
    apply_batch_mor(spark, t, batch, epoch_id=0, batch_id="warc-0")
    got = {
        r["url"]: r["html"] for r in t.read(spark).select("url", "html").collect()
    }
    want = {r["url"]: r["payload"].encode() for r in pages.collect()}
    assert got == {u: bytes(b) for u, b in want.items()}


def test_warc_change_batch_drops_non_response(spark):
    rows = [
        ("https://e.com/a", "d", datetime.datetime(2026, 1, 1), "response", 1, "x"),
        (None, "d", datetime.datetime(2026, 1, 1), "warcinfo", 1, "y"),
        ("https://e.com/b", "d", datetime.datetime(2026, 1, 1), "request", 1, "z"),
    ]
    df = spark.createDataFrame(
        rows,
        "url STRING, warc_date STRING, warc_ts TIMESTAMP, warc_type STRING,"
        " content_length LONG, payload STRING",
    )
    out = warc_to_change_batch(df).collect()
    assert [r["url"] for r in out] == ["https://e.com/a"]
    assert out[0]["op"] == "U" and bytes(out[0]["html"]) == b"x"


def test_warc_plan_is_python_free(spark, tmp_path):
    pages = _pages(spark, 2)
    write_warc(pages, str(tmp_path / "w"))
    plan = (
        read_warc(spark, str(tmp_path / "w"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------- sitemap


SITEMAP = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://e.com/a</loc>
    <lastmod>2026-02-01</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc> https://e.com/b </loc><lastmod>2026-02-03T10:20:30+00:00</lastmod></url>
  <url><loc>https://e.com/c</loc></url>
  <url><lastmod>2026-01-01</lastmod></url>
</urlset>"""


def test_parse_sitemap_fields(spark):
    df = spark.createDataFrame([(SITEMAP,)], "xml STRING")
    rows = {r["loc"]: r for r in parse_sitemap(df).collect()}
    assert set(rows) == {"https://e.com/a", "https://e.com/b", "https://e.com/c"}
    a = rows["https://e.com/a"]
    assert a["lastmod"] == "2026-02-01" and a["changefreq"] == "daily"
    assert a["priority"] == 0.8
    assert a["lastmod_ts"] == datetime.datetime(2026, 2, 1)
    b = rows["https://e.com/b"]  # loc whitespace trimmed, tz-full lastmod parsed
    assert b["lastmod_ts"] is not None
    c = rows["https://e.com/c"]
    assert c["lastmod"] is None and c["lastmod_ts"] is None


def test_parse_sitemap_carries_source(spark):
    df = spark.createDataFrame(
        [("https://e.com/sitemap.xml", SITEMAP)], "sm STRING, xml STRING"
    )
    out = parse_sitemap(df, source_col="sm").collect()
    assert all(r["sm"] == "https://e.com/sitemap.xml" for r in out)


def _plan(spark, state_rows, sitemap_rows):
    state = spark.createDataFrame(state_rows, "url STRING, warc_ts TIMESTAMP")
    sm = spark.createDataFrame(sitemap_rows, "loc STRING, lastmod_ts TIMESTAMP")
    return {
        r["url"]: r["status"]
        for r in recrawl_plan(state, sm).collect()
    }


def test_recrawl_plan_all_statuses(spark):
    t = datetime.datetime
    got = _plan(
        spark,
        [
            ("https://e.com/fresh", t(2026, 3, 1)),
            ("https://e.com/stale", t(2026, 1, 1)),
            ("https://e.com/unlisted", t(2026, 1, 1)),
            ("https://e.com/nodate", t(2026, 1, 1)),
        ],
        [
            ("https://e.com/fresh", t(2026, 2, 1)),
            ("https://e.com/stale", t(2026, 2, 1)),
            ("https://e.com/new", t(2026, 2, 1)),
            ("https://e.com/nodate", None),
        ],
    )
    assert got == {
        "https://e.com/fresh": "fresh",
        "https://e.com/stale": "stale",
        "https://e.com/unlisted": "unlisted",
        "https://e.com/nodate": "fresh",
        "https://e.com/new": "new",
    }


def test_recrawl_plan_duplicate_claims_take_newest(spark):
    t = datetime.datetime
    got = _plan(
        spark,
        [("https://e.com/x", t(2026, 2, 1))],
        [("https://e.com/x", t(2026, 1, 1)), ("https://e.com/x", t(2026, 3, 1))],
    )
    assert got == {"https://e.com/x": "stale"}


def test_recrawl_equal_lastmod_is_fresh(spark):
    t = datetime.datetime
    got = _plan(
        spark,
        [("https://e.com/x", t(2026, 2, 1))],
        [("https://e.com/x", t(2026, 2, 1))],
    )
    assert got == {"https://e.com/x": "fresh"}


# ------------------------------------------------------- CDX / SURT


def test_surt_key_forms(spark):
    from csv_cruncher_spark.functions.urls import surt_key
    from pyspark.sql import functions as F

    cases = [
        ("https://www.example.com/a?b=1", "com,example)/a?b=1"),
        ("https://Example.COM/", "com,example)/"),
        ("https://example.com", "com,example)/"),          # empty path -> /
        ("http://a.b.example.com/x", "com,example,b,a)/x"),
        ("https://example.com:8443/x", "com,example:8443)/x"),  # port kept
        ("https://example.com/x#frag", "com,example)/x"),   # fragment drops
        ("https://www.www.example.com/x", "com,example,www)/x"),  # one www
        ("not a url", None),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.s for r in df.select(surt_key("url").alias("s")).collect()]
    assert got == [e for _, e in cases]


def test_cdx_index_roundtrip(spark, tmp_path):
    from csv_cruncher_spark.sources.warc import cdx_index, cdx_lookup
    from pyspark.sql import functions as F

    rows = [
        ("https://www.b.com/2", 200, "payload-b2"),
        ("https://a.com/1", 100, "payload-a1"),
        ("https://a.com/1", 150, "payload-a1b"),  # revisit, later ts
        (None, 300, "dropped"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts long, payload string"
    )
    idx = cdx_index(pages)
    got = idx.orderBy("surt", "ts").collect()
    assert [r.surt for r in got] == [
        "com,a)/1", "com,a)/1", "com,b)/2"
    ]
    assert [r.ts for r in got] == [100, 150, 200]
    assert got[0].length_bytes == len("payload-a1")
    assert got[0].digest != got[1].digest  # revisit changed content
    # domain prefix lookup over the persisted index prunes via the key
    p = str(tmp_path / "cdx")
    idx.write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p)
    hits = cdx_lookup(back, "com,a)").collect()
    assert {r.url for r in hits} == {"https://a.com/1"}
    plan = cdx_lookup(back, "com,a)")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "StartsWith" in plan, plan
