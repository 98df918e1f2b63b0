"""State-equivalence after full change-log replay (SURVEY.md §5 implication
(a)): the Spark CDC pipeline's final table state must equal a single-process
reference fold — exact rows, byte-identical extracted text per url."""

import os

import pytest

from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log, reference_fold
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake.table import LakeTable


@pytest.fixture(scope="module")
def change_log(tmp_path_factory):
    d = tmp_path_factory.mktemp("cdc")
    spec = ChangeLogSpec(
        n_urls=300, n_batches=5, events_per_batch=400, seed=7, out_dir=str(d / "batches")
    )
    paths = generate_change_log(spec)
    return d, paths


def _table_state(spark, table_path):
    from pyspark.sql import functions as F

    df = LakeTable.load(table_path).read(spark)
    # format timestamps JVM-side so the comparison is tz-conversion-free
    df = df.withColumn("warc_ts", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"))
    rows = df.collect()
    return {
        r["url"]: {
            "warc_ts": r["warc_ts"],
            "text": r["text"],
            "lang": r["lang"],
            "html": bytes(r["html"]) if r["html"] is not None else None,
        }
        for r in rows
    }


def test_full_replay_matches_reference_fold(spark, change_log):
    d, paths = change_log
    table_path = str(d / "lake")
    pipe = CdcPipeline(table_path, n_buckets=8)
    ckpt = pipe.run(spark, os.path.dirname(paths[0]))
    assert len(ckpt["batches_applied"]) == len(paths)

    got = _table_state(spark, table_path)
    want = reference_fold(paths)

    assert set(got) == set(want), (
        f"url sets differ: extra={set(got) - set(want)} missing={set(want) - set(got)}"
    )
    for url, w in want.items():
        g = got[url]
        assert g["text"] == w["text"], f"text mismatch for {url}"
        assert g["html"] == w["html"], f"html mismatch for {url}"
        assert g["lang"] == w["lang"], f"lang mismatch for {url}"
        assert g["warc_ts"] == w["warc_ts"], url


def test_replay_is_deterministic_across_parallelism(spark, change_log):
    """Partition-count independence: same input, different shuffle width →
    identical state (SURVEY.md §7.5 trap 5)."""
    d, paths = change_log
    p1 = str(d / "lake_p1")
    CdcPipeline(p1, n_buckets=3).run(spark, os.path.dirname(paths[0]))
    s1 = _table_state(spark, p1)
    s2 = _table_state(spark, str(d / "lake"))
    assert s1 == s2


def test_no_deleted_urls_survive(spark, change_log):
    d, paths = change_log
    want = reference_fold(paths)
    got = _table_state(spark, str(d / "lake"))
    assert set(got) == set(want)


def test_row_idx_order_correct_under_split_parallel_read(spark, change_log):
    """read_change_batch's row_idx must follow file line order even when
    the file is read as many splits (block_start*2^20 + local counter —
    pipeline.py read_change_batch). Forces tiny splits and compares
    against the file's actual line order."""
    import csv as _csv

    from pyspark.sql import functions as F

    from csv_cruncher_spark.cdc.pipeline import read_change_batch

    _d, paths = change_log
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
        df = read_change_batch(spark, paths[0])
        assert df.rdd.getNumPartitions() > 1, "expected a split-parallel scan"
        got = [
            (r["url"], r["op"])
            for r in df.orderBy("row_idx").select("url", "op").collect()
        ]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    with open(paths[0], newline="") as f:
        want = [(row["url"], row["op"]) for row in _csv.DictReader(f)]
    assert got == want


def test_read_change_batch_rejects_oversized_splits(spark, change_log):
    """The row_idx gap math assumes <= 1M lines per split; the reader must
    refuse a session configured past the 128 MiB bound rather than
    silently mis-ordering LWW ties on tombstone-heavy batches. Every
    unit spelling Spark accepts is read ('128mb' is the bound itself)."""
    from csv_cruncher_spark.cdc.pipeline import read_change_batch

    _d, paths = change_log
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128mb")
        read_change_batch(spark, paths[0])
        for oversized in ("512m", "1gb"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", oversized)
            with pytest.raises(ValueError, match="maxPartitionBytes"):
                read_change_batch(spark, paths[0])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_null_warc_ts_winner_agrees_across_strategies(spark, tmp_path):
    """An event whose warc_ts fails to parse (to_timestamp → NULL) must be
    treated as stale against any non-null existing row by the MOR read
    fold, and still apply to a url with no row yet — the round-1 advice
    found a merge silently applying it (a NULL comparison dropped the row
    from the stale set)."""
    import base64
    import csv as _csv

    from csv_cruncher_spark.cdc.fixtures import BATCH_COLUMNS_V1, make_html

    bdir = tmp_path / "batches"
    bdir.mkdir()
    u1 = "https://d1.example.com/page/1"
    u2 = "https://d1.example.com/page/2"
    h0 = make_html(u1, 1_704_100_000, 3)
    h1 = make_html(u1, 1_704_200_000, 9)
    h2 = make_html(u2, 1_704_300_000, 5)
    rows0 = [("I", u1, "2024-01-02 00:00:00", base64.b64encode(h0).decode(), "en")]
    rows1 = [
        # null-ts update for an EXISTING url: must lose to the old row
        ("U", u1, "not-a-timestamp", base64.b64encode(h1).decode(), "de"),
        # null-ts insert for a NEW url: must apply (no old row to lose to)
        ("I", u2, "also-garbage", base64.b64encode(h2).decode(), "fr"),
    ]
    for i, rows in enumerate((rows0, rows1)):
        with open(bdir / f"batch-{i:05d}.csv", "w", newline="") as f:
            w = _csv.writer(f)
            w.writerow(BATCH_COLUMNS_V1)
            w.writerows(rows)

    p = str(tmp_path / "lake")
    CdcPipeline(p, n_buckets=2).run(spark, str(bdir))
    state = _table_state(spark, p)
    # the non-null old row survived the null-ts update
    assert state[u1]["lang"] == "en"
    assert state[u1]["html"] == h0
    # the null-ts insert on a fresh url applied
    assert state[u2]["lang"] == "fr"
    assert state[u2]["warc_ts"] is None


def test_mor_replay_matches_reference_and_cow(spark, change_log):
    """Merge-on-read (delta + read-time resolution) with every delta still
    uncompacted must equal the sequential reference fold, and so must
    the base files compaction writes from it: compaction must not
    change the view."""
    d, paths = change_log
    bdir = os.path.dirname(paths[0])
    pm = str(d / "lake_mor")
    CdcPipeline(pm, n_buckets=4, compact_every=10**6).run(spark, bdir)
    t = LakeTable.load(pm)
    assert any(f.get("kind") == "delta" for f in t.snapshot()["files"]), (
        "expected uncompacted deltas for this test"
    )
    got = _table_state(spark, pm)
    want = reference_fold(paths)
    assert set(got) == set(want)
    for url, w in want.items():
        assert got[url]["text"] == w["text"], url
        assert got[url]["html"] == w["html"], url
    # compaction folds deltas into base without changing the view
    t.compact(spark)
    assert not any(f.get("kind") == "delta" for f in t.snapshot()["files"])
    assert _table_state(spark, pm) == got


def test_mor_auto_compaction_triggers(spark, change_log):
    d, paths = change_log
    bdir = os.path.dirname(paths[0])
    p = str(d / "lake_mor_auto")
    CdcPipeline(p, n_buckets=4, compact_every=2).run(spark, bdir)
    t = LakeTable.load(p)
    # 5 batches, compact at depth ≥2 → at most 1 uncompacted epoch remains
    assert t.delta_epoch_depth() <= 1
    assert _table_state(spark, p) == {
        u: {
            "warc_ts": s["warc_ts"],
            "text": s["text"],
            "lang": s["lang"],
            "html": s["html"],
        }
        for u, s in reference_fold(paths).items()
    }


def test_mor_delete_then_older_reinsert(spark, tmp_path):
    """The trap that breaks naive max-by-timestamp MOR resolution: after a
    delete, a re-insert with an OLDER warc_ts must still land (the eager
    rule applies events against *current state*, and a delete clears the
    version floor). reference_fold and the MOR replay agree."""
    import base64 as b64

    bdir = tmp_path / "batches"
    bdir.mkdir()
    h = b64.b64encode(b"<p>x</p>").decode()
    (bdir / "batch-00000.csv").write_text(
        "op,url,warc_ts,html,lang\n"
        f"I,https://e.com/a,2024-01-01 00:00:12,{h},en\n"
    )
    (bdir / "batch-00001.csv").write_text(
        "op,url,warc_ts,html,lang\n"
        "D,https://e.com/a,2024-01-01 00:00:13,,\n"
    )
    (bdir / "batch-00002.csv").write_text(
        "op,url,warc_ts,html,lang\n"
        f"I,https://e.com/a,2024-01-01 00:00:11,{h},en\n"
    )
    want = reference_fold(sorted(str(p) for p in bdir.glob("*.csv")))
    assert "https://e.com/a" in want  # the older re-insert survives
    p = str(tmp_path / "lake")
    CdcPipeline(p, n_buckets=2).run(spark, str(bdir))
    got = _table_state(spark, p)
    assert list(got) == ["https://e.com/a"]
    assert got["https://e.com/a"]["warc_ts"] == "2024-01-01 00:00:11"


def test_json_change_batches_equivalent(spark, tmp_path):
    """CSV and JSON-lines encodings of the same change batch replay to
    the same state (read_change_batch handles both; html base64 in
    transit for each)."""
    import base64 as b64
    import json as _json

    from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log

    csv_dir = tmp_path / "csv_batches"
    paths = generate_change_log(
        ChangeLogSpec(n_urls=80, n_batches=2, events_per_batch=120, seed=21,
                      out_dir=str(csv_dir))
    )
    # re-encode each batch as JSON-lines with identical content and order
    json_dir = tmp_path / "json_batches"
    json_dir.mkdir()
    import csv as _csv

    for p in paths:
        name = os.path.basename(p).replace(".csv", ".json")
        with open(p, newline="") as f, open(json_dir / name, "w") as out:
            for row in _csv.DictReader(f):
                out.write(_json.dumps(row) + "\n")

    CdcPipeline(str(tmp_path / "lake_csv"), n_buckets=4).run(spark, str(csv_dir))
    CdcPipeline(str(tmp_path / "lake_json"), n_buckets=4).run(spark, str(json_dir))
    assert _table_state(spark, str(tmp_path / "lake_csv")) == _table_state(
        spark, str(tmp_path / "lake_json")
    )


def test_compaction_is_bucket_pruned(spark, tmp_path):
    """Compaction only rewrites buckets that carry deltas; untouched
    buckets keep their original base files (by path identity)."""
    import base64 as b64

    bdir = tmp_path / "batches"
    bdir.mkdir()
    h = b64.b64encode(b"<p>base</p>").decode()
    # batch 0: many urls spread over all buckets (becomes base after compact)
    rows = [f"I,https://e.com/p{i},2024-01-01 00:00:0{i % 10},{h},en" for i in range(40)]
    (bdir / "batch-00000.csv").write_text("op,url,warc_ts,html,lang\n" + "\n".join(rows) + "\n")
    p = str(tmp_path / "lake")
    pipe = CdcPipeline(p, n_buckets=8, compact_every=10**6)
    pipe.run(spark, str(bdir), max_batches=1)
    t = LakeTable.load(p)
    t.compact(spark)  # all-base snapshot
    base_before = {
        f["bucket"]: sorted(x["path"] for x in t.snapshot()["files"] if x["bucket"] == f["bucket"])
        for f in t.snapshot()["files"]
    }

    # batch 1: a single url → deltas land in exactly one bucket
    (bdir / "batch-00001.csv").write_text(
        "op,url,warc_ts,html,lang\n"
        f"U,https://e.com/p0,2024-01-02 00:00:00,{h},en\n"
    )
    pipe.run(spark, str(bdir))
    t = LakeTable.load(p)
    touched = {f["bucket"] for f in t.snapshot()["files"] if f.get("kind") == "delta"}
    assert len(touched) == 1
    state_before = _table_state(spark, p)
    t.compact(spark)
    snap = t.snapshot()
    assert not any(f.get("kind") == "delta" for f in snap["files"])
    for f in snap["files"]:
        if f["bucket"] not in touched:
            assert f["path"] in base_before[f["bucket"]], (
                "untouched bucket was rewritten by compaction"
            )
    assert _table_state(spark, p) == state_before
