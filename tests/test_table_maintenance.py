"""Snapshot time travel and retention (LakeTable.snapshot_at /
expire_snapshots) — the table-maintenance surface compaction relies on
for space reclamation."""

from __future__ import annotations

import os

from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log, reference_fold
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake.table import LakeTable, bucket_expr


def _mk_log(tmp_path, n_batches=3, seed=31):
    return generate_change_log(
        ChangeLogSpec(
            n_urls=120,
            n_batches=n_batches,
            events_per_batch=150,
            seed=seed,
            out_dir=str(tmp_path / "batches"),
        )
    )


def test_time_travel_reads_past_epochs(spark, tmp_path):
    paths = _mk_log(tmp_path)
    p = str(tmp_path / "lake")
    CdcPipeline(p, n_buckets=4).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)

    # state as of epoch 0 == reference fold of the first batch only
    want0 = reference_fold(paths[:1])
    snap0 = t.snapshot_at(0)
    got0 = {r["url"] for r in t.read(spark, snap=snap0).collect()}
    assert got0 == set(want0)

    # full history == fold of everything
    got_all = {r["url"] for r in t.read(spark).collect()}
    assert got_all == set(reference_fold(paths))


def test_expire_snapshots_reclaims_files(spark, tmp_path):
    paths = _mk_log(tmp_path, seed=32)
    p = str(tmp_path / "lake")
    pipe = CdcPipeline(p, n_buckets=4, compact_every=10**6)
    pipe.run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    t.compact(spark)  # replaced delta files stay on disk for time travel

    before_state = sorted(
        tuple(r) for r in t.read(spark).select("url", "lang").collect()
    )
    n_snaps_before = len(t.snapshot_history())
    assert n_snaps_before >= 4  # create + 3 batches + compaction

    stats = t.expire_snapshots(keep_last=1)
    assert stats["snapshots_removed"] == n_snaps_before - 1
    assert stats["files_removed"] > 0
    assert len(t.snapshot_history()) == 1

    # current view unaffected; every referenced file still exists
    after_state = sorted(
        tuple(r) for r in t.read(spark).select("url", "lang").collect()
    )
    assert after_state == before_state
    for f in t.snapshot()["files"]:
        assert os.path.exists(os.path.join(p, f["path"]))


def test_expire_keeps_time_travel_window(spark, tmp_path):
    paths = _mk_log(tmp_path, seed=33)
    p = str(tmp_path / "lake")
    CdcPipeline(p, n_buckets=4).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    t.expire_snapshots(keep_last=2)
    hist = t.snapshot_history()
    assert len(hist) == 2
    # the retained older snapshot is still readable
    older = hist[0]
    assert t.read(spark, snap=older).count() >= 0


def test_read_keys_point_lookup(spark, tmp_path):
    """Keyed lookup prunes to the buckets the keys hash into and returns
    exactly the current rows for those keys (deltas resolved)."""
    paths = _mk_log(tmp_path, seed=34)
    p = str(tmp_path / "lake")
    CdcPipeline(p, n_buckets=8, compact_every=10**6).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    want = reference_fold(paths)
    some = sorted(want)[:3] + ["https://nowhere.example.com/missing"]
    buckets = sorted({
        r[0] for r in spark.createDataFrame([(u,) for u in some], "url string")
        .select(bucket_expr("url", 8)).collect()
    })
    got = {r["url"]: r["lang"] for r in t.read_keys(spark, some, buckets).collect()}
    assert set(got) == set(some) - {"https://nowhere.example.com/missing"}
    for u in got:
        assert got[u] == want[u]["lang"]
    # the key predicate reaches the parquet scans (PushedFilters In),
    # so resolution folds only the looked-up keys, not whole buckets
    plan = t.read_keys(spark, some, buckets)._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "In(url" in plan, plan


def test_resolution_modes_agree_and_narrow_plan_never_shuffles_payloads(spark, tmp_path):
    """Read-time resolution is payload-adaptive (LakeTable.RESOLVE_MODE):

    - narrow two-phase: fold (key, version, op, epoch) per key, broadcast
      anti-join the base against the kill-key set (dirty keys whose winner
      is not the base row), broadcast-semi-join delta payloads against the
      delta winners. Payload columns (html/text) must appear in NO shuffle
      exchange and no fold buffer, and each side's payload bytes are
      scanned exactly ONCE.
    - widefold single-pass: full rows through the per-key sort+fold (the
      fast path for narrow rows).
    - fallback: guards failed — no broadcasts, shuffled semi-join.

    All three must produce EXACTLY the same state — including keys whose
    only delta is a delete and keys that exist only in deltas — and the
    tiny fixture payloads must make "auto" pick the widefold."""
    paths = _mk_log(tmp_path, n_batches=4, seed=35)
    p = str(tmp_path / "lake")
    # compact the first batches into base files, leave the tail as deltas
    # so the read path has BOTH a base and a delta pile to split over
    pipe = CdcPipeline(p, n_buckets=4, compact_every=3)
    pipe.run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    snap = t.snapshot()
    assert any(f.get("kind") == "delta" for f in snap["files"]), "need live deltas"

    def state(df):
        return sorted(
            (r["url"], r["lang"], r["text"]) for r in df.select("url", "lang", "text").collect()
        )

    orig_mode = LakeTable.RESOLVE_MODE
    orig_rows = LakeTable.RESOLVE_SPLIT_DELTA_ROWS
    orig_bytes = LakeTable.RESOLVE_SPLIT_DELTA_BYTES
    try:
        # ~400 B fixture rows → auto must dispatch to the widefold
        auto_plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" in auto_plan and "LeftAnti" in auto_plan
        auto_state = state(t.read(spark))

        LakeTable.RESOLVE_MODE = "narrow"
        narrow_df = t.read(spark)
        plan = narrow_df._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line or "collect_list" in line:
                assert "html" not in line and "text" not in line, line
        # exactly two full-width scans: base payload once, delta payload once
        wide_scans = [
            ln
            for ln in plan.splitlines()
            if "Scan parquet" in ln or "FileScan parquet" in ln
            if "html" in ln
        ]
        assert len(wide_scans) == 2, plan
        narrow_state = state(narrow_df)

        LakeTable.RESOLVE_MODE = "widefold"
        wide_state = state(t.read(spark))

        # force the non-broadcast fallback (both guards fail)
        LakeTable.RESOLVE_MODE = "narrow"
        LakeTable.RESOLVE_SPLIT_DELTA_ROWS = -1
        LakeTable.RESOLVE_SPLIT_DELTA_BYTES = -1
        full_df = t.read(spark)
        full_plan = full_df._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" not in full_plan
        full_state = state(full_df)
    finally:
        LakeTable.RESOLVE_MODE = orig_mode
        LakeTable.RESOLVE_SPLIT_DELTA_ROWS = orig_rows
        LakeTable.RESOLVE_SPLIT_DELTA_BYTES = orig_bytes

    assert narrow_state == full_state == wide_state == auto_state
    want = reference_fold(paths)
    assert {u for (u, _, _) in narrow_state} == set(want)
    for url, lang, text in narrow_state:
        assert (lang, text) == (want[url]["lang"], want[url]["text"]), url


def test_bytes_triggered_bucket_compaction(spark, tmp_path):
    """compact_delta_bytes: a bucket whose stacked deltas exceed the byte
    cap is compacted bucket-pruned, independent of epoch depth (hot-key
    version pile-up bound). With a 1-byte cap every batch compacts its
    touched buckets, so no deltas survive and state still matches the
    reference fold."""
    paths = _mk_log(tmp_path, n_batches=3, seed=33)
    table_path = str(tmp_path / "lake_bytes")
    pipe = CdcPipeline(
        table_path, n_buckets=4, compact_every=10**6, compact_delta_bytes=1
    )
    pipe.run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(table_path)
    snap = t.snapshot()
    assert not any(f.get("kind") == "delta" for f in snap["files"])
    assert t.delta_bytes_per_bucket(snap) == {}
    # state equivalence preserved
    got = {
        r["url"]: r["text"] for r in t.read(spark).select("url", "text").collect()
    }
    want = reference_fold(paths)
    assert set(got) == set(want)
    for url, w in want.items():
        assert got[url] == w["text"], url
    # depth-only pipeline on the same input agrees
    p2 = str(tmp_path / "lake_depth")
    CdcPipeline(p2, n_buckets=4, compact_every=10**6).run(
        spark, os.path.dirname(paths[0])
    )
    t2 = LakeTable.load(p2)
    assert any(f.get("kind") == "delta" for f in t2.snapshot()["files"])
    got2 = {
        r["url"]: r["text"] for r in t2.read(spark).select("url", "text").collect()
    }
    assert got2 == got


def test_changes_between_matches_sequential_diff(spark, tmp_path):
    """Incremental change feed: changes_between(a, b) must equal the diff
    of two sequential reference folds — net I/U/D per key, suppressing
    touched-but-net-unchanged keys — including after compaction rewrote
    the current snapshot (range delta files located via history)."""
    paths = _mk_log(tmp_path, n_batches=4, seed=36)
    p = str(tmp_path / "lake")
    # compact_every=3 → a compaction lands inside the feed range
    CdcPipeline(p, n_buckets=4, compact_every=3).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)

    def ref_diff(k_from, k_to):
        a = reference_fold(paths[:k_from]) if k_from > 0 else {}
        b = reference_fold(paths[:k_to])
        out = {}
        for u in set(a) | set(b):
            if u not in a:
                out[u] = ("I", b[u]["lang"], b[u]["text"])
            elif u not in b:
                out[u] = ("D", None, None)
            elif a[u] != b[u]:
                out[u] = ("U", b[u]["lang"], b[u]["text"])
        return out

    for k_from, k_to in [(1, 4), (0, 4), (2, 3), (1, 3)]:
        feed = {
            r["url"]: (r["__op"], r["lang"], r["text"])
            for r in t.changes_between(
                spark, from_epoch=k_from - 1, to_epoch=k_to - 1
            ).collect()
        }
        assert feed == ref_diff(k_from, k_to), (k_from, k_to)

    # empty range → empty feed with the change schema
    assert t.changes_between(spark, 2, 2).count() == 0
    # out-of-range epochs rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.changes_between(spark, -2)
    with _pytest.raises(ValueError):
        t.changes_between(spark, 1, 99)


def test_changes_between_keyed_reads_prune_scans(spark, tmp_path):
    """The feed's endpoint reads are keyed BEFORE resolution, so the plan
    never folds untouched keys. Small touched sets take the LIST path
    (keys pushed into the parquet scans as an In filter — row-group
    pruning on the key-sorted files); large sets keep keys distributed
    and filter every scan with a broadcast semi-join."""
    paths = _mk_log(tmp_path, n_batches=3, seed=37)
    p = str(tmp_path / "lake")
    CdcPipeline(p, n_buckets=4, compact_every=10**6).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    # list path (touched << FEED_COLLECT_KEYS_LIMIT)
    df = t.changes_between(spark, from_epoch=1)
    lplan = df._jdf.queryExecution().toString()
    assert "PushedFilters" in lplan and "In(url" in lplan, lplan
    small_state = sorted(map(tuple, df.collect()))
    # DataFrame path (limit forced to -1)
    orig = LakeTable.FEED_COLLECT_KEYS_LIMIT
    try:
        LakeTable.FEED_COLLECT_KEYS_LIMIT = -1
        df2 = t.changes_between(spark, from_epoch=1)
        plan = df2._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, plan
        assert sorted(map(tuple, df2.collect())) == small_state
    finally:
        LakeTable.FEED_COLLECT_KEYS_LIMIT = orig


def test_bucket_files_are_key_sorted(spark, tmp_path):
    """Data files are written sorted by key within each bucket file, so
    parquet row-group min/max stats are tight on the key and keyed reads'
    pushed In filters can skip row groups (order is irrelevant to
    correctness: the read fold orders events per key explicitly)."""
    import pyarrow.parquet as pq

    paths = _mk_log(tmp_path, seed=38)
    p = str(tmp_path / "lake")
    CdcPipeline(p, n_buckets=4, compact_every=2).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    files = t.snapshot()["files"]
    assert files
    for f in files:
        urls = pq.read_table(os.path.join(p, f["path"]), columns=["url"])["url"].to_pylist()
        assert urls == sorted(urls), f["path"]


def _restage_commit(t, epoch, edit_metrics):
    """Re-stage ``epoch``'s committing snapshot as an older writer left it:
    without the epoch's delta files, its metrics passed through
    ``edit_metrics``."""
    name, snap = next(
        (n, s) for n, s in t._history_with_names()
        if s["epoch_id"] == epoch and s["batch_id"]
    )
    doctored = dict(snap, metrics=edit_metrics(snap["metrics"]))
    doctored["files"] = [f for f in snap["files"] if f.get("epoch") != epoch]
    t.catalog.stage_snapshot(name, doctored)


def test_changes_between_rejects_cow_epochs(spark, tmp_path):
    """A copy-on-write apply, as tables written by earlier versions hold,
    rewrote base files — its changes are not delta-coded, so the feed must
    refuse with a specific error instead of silently emitting an
    empty/wrong feed. The history is built as such a writer left it: every
    epoch's state in base files (compaction after each batch), and epoch
    1's committing snapshot with no delta files and a COW strategy."""
    import pytest as _pytest

    paths = _mk_log(tmp_path, n_batches=2, seed=39)
    p = str(tmp_path / "lake_cow")
    CdcPipeline(p, n_buckets=4, compact_every=1).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    _restage_commit(t, 1, lambda m: {**m, "last_batch_strategy": "broadcast"})
    with _pytest.raises(ValueError, match="not delta-coded"):
        t.changes_between(spark, from_epoch=0)
    # bootstrap (-1) still works: it needs no deltas
    assert t.changes_between(spark, from_epoch=-1).count() == t.read(spark).count()
    # explicit opt-in: the O(2 full reads) snapshot diff matches the
    # sequential reference diff even though the range is COW-applied
    a = reference_fold(paths[:1])
    b = reference_fold(paths)
    want = {}
    for u in set(a) | set(b):
        if u not in a:
            want[u] = ("I", b[u]["lang"])
        elif u not in b:
            want[u] = ("D", None)
        elif a[u] != b[u]:
            want[u] = ("U", b[u]["lang"])
    feed = {
        r["url"]: (r["__op"], r["lang"])
        for r in t.changes_between(
            spark, from_epoch=0, allow_snapshot_diff=True
        ).collect()
    }
    assert feed == want


def test_changes_between_refuses_pre_metric_snapshots(spark, tmp_path):
    """A snapshot with no delta files and NO last_batch_* metrics (written
    before those metrics existed) is ambiguous — it could be a pre-metric
    COW apply — so the feed must refuse it (round-2 advice), not silently
    treat it as an empty batch; allow_snapshot_diff=True still works."""
    import pytest as _pytest

    paths = _mk_log(tmp_path, n_batches=2, seed=41)
    p = str(tmp_path / "lake_premetric")
    CdcPipeline(p, n_buckets=4).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    # strip the batch metrics from epoch 1's committing snapshot, like a
    # round-1-era writer would have left it, and drop its delta files
    _restage_commit(
        t, 1, lambda m: {k: v for k, v in m.items() if not k.startswith("last_batch")}
    )
    with _pytest.raises(ValueError, match="not delta-coded"):
        t.changes_between(spark, from_epoch=0, to_epoch=1)
    # the explicit opt-in fallback still resolves the range
    assert t.changes_between(
        spark, from_epoch=0, to_epoch=1, allow_snapshot_diff=True
    ).count() >= 0
