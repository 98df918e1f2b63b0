"""Property-based LWW merge semantics (hypothesis): for RANDOM op
sequences — duplicate in-batch events, null/equal/regressing timestamps,
delete-then-reinsert, multi-batch interleavings — the merge-on-read
replay must produce the same final table state as a trivial sequential
Python fold."""

from __future__ import annotations

import base64
import csv as _csv
import os
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from csv_cruncher_spark.cdc.fixtures import BATCH_COLUMNS_V1
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake.table import LakeTable

URLS = [f"https://prop.example.com/p{i}" for i in range(3)]
TS_CHOICES = [None, "2024-01-01 00:00:01", "2024-01-01 00:00:02", "2024-01-01 00:00:03"]
LANGS = ["en", "de"]

event_st = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.integers(0, len(URLS) - 1),
    st.integers(0, len(TS_CHOICES) - 1),
    st.integers(0, len(LANGS) - 1),
)
batches_st = st.lists(st.lists(event_st, min_size=1, max_size=6), min_size=1, max_size=3)


def _html(url: str, ts_i: int, lang_i: int) -> bytes:
    return f"<p>{url} {ts_i} {lang_i}</p>".encode()


def _python_fold(batches) -> dict:
    """Sequential reference: in-batch LWW by (ts, row_idx) with null ts
    smallest; apply iff no current row, current version null, or event
    version non-null and >= current."""
    state: dict = {}
    for batch in batches:
        winners: dict = {}
        for idx, (op, u, t, lg) in enumerate(batch):
            url = URLS[u]
            ts = TS_CHOICES[t]
            order = (ts is not None, ts or "", idx)
            if url not in winners or order >= winners[url][0]:
                winners[url] = (order, op, ts, lg)
        for url, (_o, op, ts, lg) in winners.items():
            cur = state.get(url)
            applies = cur is None or cur[0] is None or (ts is not None and ts >= cur[0])
            if not applies:
                continue
            if op == "D":
                state.pop(url, None)
            else:
                state[url] = (ts, LANGS[lg], _html(url, TS_CHOICES.index(ts) if ts else 0, lg))
    return state


def _write_batches(d: str, batches) -> None:
    for i, batch in enumerate(batches):
        with open(os.path.join(d, f"batch-{i:05d}.csv"), "w", newline="") as f:
            w = _csv.writer(f)
            w.writerow(BATCH_COLUMNS_V1)
            for op, u, t, lg in batch:
                url = URLS[u]
                ts = TS_CHOICES[t]
                h = base64.b64encode(_html(url, t if ts else 0, lg)).decode()
                w.writerow([op, url, ts or "", h, LANGS[lg]])


def _final(spark, table_path: str) -> dict:
    from pyspark.sql import functions as F

    df = LakeTable.load(table_path).read(spark)
    df = df.withColumn("warc_ts", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"))
    return {
        r["url"]: (r["warc_ts"], r["lang"], bytes(r["html"]) if r["html"] is not None else None)
        for r in df.collect()
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=batches_st)
def test_mor_replay_agrees_with_python_fold(spark, batches):
    work = tempfile.mkdtemp(prefix="lww_prop_")
    try:
        bdir = os.path.join(work, "batches")
        os.makedirs(bdir)
        _write_batches(bdir, batches)
        p = os.path.join(work, "lake")
        CdcPipeline(p, n_buckets=2).run(spark, bdir)
        got = _final(spark, p)
        want = _python_fold(batches)
        assert set(got) == set(want), batches
        for url, (ts, lang, html) in want.items():
            gts, glang, ghtml = got[url]
            assert gts == ts, (url, batches)
            assert glang == lang, (url, batches)
            assert ghtml == html, (url, batches)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=batches_st)
def test_change_feed_matches_python_prefix_diff(spark, batches):
    """Property: for EVERY split epoch e, changes_between(e) equals the
    diff of the sequential fold at the prefix vs the full log — net
    I/U/D only, touched-but-net-unchanged keys suppressed (stale events,
    identical re-applies, within-range insert+delete)."""
    work = tempfile.mkdtemp(prefix="feed_prop_")
    try:
        bdir = os.path.join(work, "batches")
        os.makedirs(bdir)
        _write_batches(bdir, batches)
        p = os.path.join(work, "lake")
        CdcPipeline(p, n_buckets=2).run(spark, bdir)
        t = LakeTable.load(p)
        full = _python_fold(batches)
        from pyspark.sql import functions as F

        for e in range(-1, len(batches) - 1):
            pre = _python_fold(batches[: e + 1]) if e >= 0 else {}
            want = {}
            for u in set(pre) | set(full):
                if u not in pre:
                    want[u] = ("I", full[u][0], full[u][1])
                elif u not in full:
                    want[u] = ("D", None, None)
                elif pre[u] != full[u]:
                    want[u] = ("U", full[u][0], full[u][1])
            feed = t.changes_between(spark, from_epoch=e).withColumn(
                "warc_ts", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss")
            )
            got = {
                r["url"]: (r["__op"], r["warc_ts"], r["lang"])
                for r in feed.collect()
            }
            assert got == want, (e, batches)
    finally:
        shutil.rmtree(work, ignore_errors=True)
