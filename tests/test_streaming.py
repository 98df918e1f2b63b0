"""Streaming layer tests: incremental tailing (exactly-once across polls)
and watermarked Structured Streaming rollup."""

from __future__ import annotations

import os

import pytest

from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log, reference_fold
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake.table import LakeTable
from csv_cruncher_spark.streaming import ChangeLogTailer
from csv_cruncher_spark.streaming.rollup import run_rollup_to_memory


def _gen(out_dir: str, n_batches: int, seed: int = 11) -> list[str]:
    return generate_change_log(
        ChangeLogSpec(
            n_urls=150,
            n_batches=n_batches,
            events_per_batch=200,
            seed=seed,
            out_dir=out_dir,
        )
    )


def test_tailer_applies_incrementally(spark, tmp_path):
    """Files appearing between polls are picked up exactly once, and the
    final state equals a full offline replay of the same log."""
    bdir = str(tmp_path / "batches")
    all_paths = _gen(bdir, 4)
    # hide the last two batches: simulate 'not yet arrived'
    hidden = []
    for p in all_paths[2:]:
        os.rename(p, p + ".hidden")
        hidden.append(p)

    tailer = ChangeLogTailer(CdcPipeline(str(tmp_path / "lake"), n_buckets=4), bdir)
    first = tailer.poll_once(spark)
    assert len(first) == 2

    # nothing new → idle poll applies nothing
    assert tailer.poll_once(spark) == []

    for p in hidden:
        os.rename(p + ".hidden", p)
    second = tailer.poll_once(spark)
    assert len(second) == 2
    assert set(first).isdisjoint(second)

    got = {
        r["url"]: r["text"]
        for r in LakeTable.load(str(tmp_path / "lake")).read(spark).collect()
    }
    want = reference_fold(all_paths)
    assert got == {u: s["text"] for u, s in want.items()}


def test_tailer_run_until_idle(spark, tmp_path):
    bdir = str(tmp_path / "batches")
    _gen(bdir, 3, seed=12)
    tailer = ChangeLogTailer(CdcPipeline(str(tmp_path / "lake"), n_buckets=4), bdir)
    n = tailer.run_until_idle(spark, poll_interval_s=0.01, idle_polls=2, max_polls=10)
    assert n == 3
    # a second tail session resumes from checkpoint and applies nothing
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=4)
    n2 = ChangeLogTailer(pipe, bdir).run_until_idle(
        spark, poll_interval_s=0.01, idle_polls=1, max_polls=3
    )
    assert n2 == 0


@pytest.mark.filterwarnings("ignore")
def test_streaming_rollup_windows(spark, tmp_path):
    """Watermarked tumbling windows over the change stream: counts match a
    batch groupBy of the same files for windows the watermark finalized."""
    bdir = str(tmp_path / "batches")
    _gen(bdir, 4, seed=13)
    run_rollup_to_memory(spark, bdir, table_name="rollup_t")
    got = {
        (r["window_start"], r["op"]): r["n_events"]
        for r in spark.sql("SELECT * FROM rollup_t").collect()
    }
    assert got, "no finalized windows — watermark never advanced"

    from pyspark.sql import functions as F

    batch = (
        spark.read.option("header", True)
        .csv(bdir)
        .withColumn("warc_ts", F.to_timestamp("warc_ts"))
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "op")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "op", "n")
    )
    want = {(r["ws"], r["op"]): r["n"] for r in batch.collect()}
    for k, v in got.items():
        assert want.get(k) == v, f"window {k}: stream={v} batch={want.get(k)}"


def test_stateful_lww_state_matches_reference_fold(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: the per-url LWW
    state change feed, replayed batch-by-batch, converges to the same
    final state as the sequential reference fold (deletes evict)."""
    import pandas as pd

    from csv_cruncher_spark.cdc.fixtures import (
        ChangeLogSpec,
        generate_change_log,
        reference_fold,
    )
    from csv_cruncher_spark.streaming.rollup import read_change_stream
    from csv_cruncher_spark.streaming.stateful import lww_state_changes

    paths = generate_change_log(
        ChangeLogSpec(
            n_urls=80, n_batches=3, events_per_batch=120, seed=11,
            out_dir=str(tmp_path / "batches"),
        )
    )
    stream = read_change_stream(spark, str(tmp_path / "batches"), max_files_per_trigger=1)
    feed = lww_state_changes(stream)

    got: dict = {}
    def sink(df, _bid):
        for r in df.collect():  # later micro-batches overwrite older state
            got[r["url"]] = (r["warc_ts_us"], r["lang"], r["present"])

    q = feed.writeStream.outputMode("append").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = reference_fold(paths)
    present = {u: (ts, lang) for u, (ts, lang, p) in got.items() if p}
    assert set(present) == set(want)
    for url, w in want.items():
        ts_us, lang = present[url]
        assert lang == w["lang"], url
        assert ts_us == pd.Timestamp(w["warc_ts"]).value // 1000, url


def test_stateful_lww_null_ts_event_loses(spark, tmp_path):
    """A null-timestamp event (unparseable warc_ts) must not crash the
    state worker nor overwrite a non-null state — same rule as all three
    batch merge strategies."""
    import base64

    from csv_cruncher_spark.streaming.rollup import read_change_stream
    from csv_cruncher_spark.streaming.stateful import lww_state_changes

    bdir = tmp_path / "nb"
    bdir.mkdir()
    u = "https://s.example.com/page/1"
    h = base64.b64encode(b"<p>x</p>").decode()
    (bdir / "batch-00000.csv").write_text(
        f"op,url,warc_ts,html,lang\nI,{u},2024-01-02 00:00:00,{h},en\n"
    )
    (bdir / "batch-00001.csv").write_text(
        f"op,url,warc_ts,html,lang\nU,{u},,{h},de\n"
        f"I,https://s.example.com/page/2,,{h},fr\n"
    )
    stream = read_change_stream(spark, str(bdir), max_files_per_trigger=1)
    feed = lww_state_changes(stream)
    got: dict = {}

    def sink(df, _bid):
        for r in df.collect():
            got[r["url"]] = (r["warc_ts_us"], r["lang"], r["present"])

    q = feed.writeStream.outputMode("append").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got[u][1] == "en" and got[u][2] is True  # null-ts update lost
    # null-ts insert on a fresh key applied, with null version
    assert got["https://s.example.com/page/2"] == (None, "fr", True)


def test_stateful_lww_multi_file_trigger_matches_reference_fold(spark, tmp_path):
    """With maxFilesPerTrigger > 1, a micro-batch carries SEVERAL change
    files; the state function must replay them file-at-a-time in filename
    order (merging their events into one ts-sort diverges from sequential
    application around delete-floor resets). Final state must still equal
    the sequential reference fold."""
    import pandas as pd

    from csv_cruncher_spark.cdc.fixtures import (
        ChangeLogSpec,
        generate_change_log,
        reference_fold,
    )
    from csv_cruncher_spark.streaming.rollup import read_change_stream
    from csv_cruncher_spark.streaming.stateful import lww_state_changes

    paths = generate_change_log(
        ChangeLogSpec(
            n_urls=60, n_batches=4, events_per_batch=100, seed=19,
            out_dir=str(tmp_path / "batches"),
        )
    )
    # all four files land in (at most) two triggers
    stream = read_change_stream(spark, str(tmp_path / "batches"), max_files_per_trigger=2)
    feed = lww_state_changes(stream)

    got: dict = {}

    def sink(df, _bid):
        for r in df.collect():
            got[r["url"]] = (r["warc_ts_us"], r["lang"], r["present"])

    q = feed.writeStream.outputMode("append").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = reference_fold(paths)
    present = {u: (ts, lang) for u, (ts, lang, p) in got.items() if p}
    assert set(present) == set(want)
    for url, w in want.items():
        ts_us, lang = present[url]
        assert lang == w["lang"], url
        assert ts_us == pd.Timestamp(w["warc_ts"]).value // 1000, url


def test_stateful_lww_delete_of_absent_key_emits_nothing(spark, tmp_path):
    """A D tombstone for a never-present key must not emit a spurious
    delete change record (the batch change feed suppresses it too)."""
    import base64 as _b64

    from csv_cruncher_spark.streaming.rollup import read_change_stream
    from csv_cruncher_spark.streaming.stateful import lww_state_changes

    bdir = tmp_path / "b"
    bdir.mkdir()
    h = _b64.b64encode(b"<p>x</p>").decode()
    (bdir / "batch-00000.csv").write_text(
        "op,url,warc_ts,html,lang\n"
        "D,https://never.example.com/x,2024-01-01 00:00:00,,\n"
        f"I,https://real.example.com/y,2024-01-01 00:00:01,{h},en\n"
    )
    stream = read_change_stream(spark, str(bdir), max_files_per_trigger=1)
    feed = lww_state_changes(stream)
    rows = []

    def sink(df, _bid):
        rows.extend(df.collect())

    q = feed.writeStream.outputMode("append").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    urls = {r["url"] for r in rows}
    assert urls == {"https://real.example.com/y"}


def test_stateful_lww_stale_prefix_then_live_tail(spark, tmp_path):
    """Pins the vectorized per-file fold's core claim: when the version
    floor rejects a PREFIX of a file's (ts-sorted) events but a later
    event clears it, the file's final state is its last row — and a
    delete mid-file lowers the bar for a subsequent same-ts re-insert."""
    import base64

    from csv_cruncher_spark.streaming.rollup import read_change_stream
    from csv_cruncher_spark.streaming.stateful import lww_state_changes

    bdir = tmp_path / "sp"
    bdir.mkdir()
    u = "https://s.example.com/p"
    h = base64.b64encode(b"<p>x</p>").decode()
    (bdir / "batch-00000.csv").write_text(
        f"op,url,warc_ts,html,lang\nI,{u},2024-01-05 00:00:00,{h},en\n"
    )
    # file 2: two stale events (and a null-ts) below the floor, then a
    # delete at the floor, then an update
    (bdir / "batch-00001.csv").write_text(
        "op,url,warc_ts,html,lang\n"
        f"U,{u},,{h},xx\n"                       # null ts: loses
        f"U,{u},2024-01-03 00:00:00,{h},yy\n"     # stale: loses
        f"D,{u},2024-01-05 00:00:00,{h},\n"       # equal ts: delete applies
        f"I,{u},2024-01-05 00:00:00,{h},cs\n"     # re-insert after delete
    )
    stream = read_change_stream(spark, str(bdir), max_files_per_trigger=1)
    feed = lww_state_changes(stream)
    got: dict = {}

    def sink(df, _bid):
        for r in df.collect():
            got[r["url"]] = (r["warc_ts_us"], r["lang"], r["present"])

    q = feed.writeStream.outputMode("append").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import pandas as pd

    want_ts = pd.Timestamp("2024-01-05 00:00:00").value // 1000
    assert got[u] == (want_ts, "cs", True)


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark on the ingest edge: a re-delivered
    batch file (same events, later micro-batch) adds ZERO rows, and no
    (url, warc_ts) key is emitted twice."""
    import shutil

    from csv_cruncher_spark.streaming.dedup import run_dedup_to_memory

    bdir = str(tmp_path / "batches")
    files = _gen(bdir, 3, seed=17)
    # transport re-delivery: batch 1's file arrives again under a new name
    shutil.copy(files[1], os.path.join(bdir, "redelivered-copy.csv"))
    # wide watermark: every duplicate is inside the dedup window, so the
    # drop is guaranteed (not best-effort late-data behavior)
    run_dedup_to_memory(spark, bdir, table_name="dedup_t", watermark="48 hours")
    out = spark.sql("SELECT url, warc_ts, count(*) AS n FROM dedup_t GROUP BY url, warc_ts")
    assert out.filter("n > 1").count() == 0
    from pyspark.sql import functions as F

    expected = (
        spark.read.option("header", True)
        .csv(bdir)
        .withColumn("warc_ts", F.to_timestamp("warc_ts"))
        .select("url", "warc_ts")
        .distinct()
        .count()
    )
    assert spark.sql("SELECT count(*) FROM dedup_t").collect()[0][0] == expected
