"""Schema-evolution tests mirroring the reference's sample-changedSchema
corpus (additive mid-stream column, FilesUtils.kt:297-327) plus the north
rule's rename evolution — table metadata evolves in lockstep with the
stream, old rows stay readable, final state matches the oracle."""

import os

import pytest

from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log, reference_fold
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake.table import LakeTable


@pytest.fixture(scope="module")
def evolving_log(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("evo")
    spec = ChangeLogSpec(
        n_urls=150,
        n_batches=6,
        events_per_batch=200,
        seed=23,
        out_dir=str(tmp / "b"),
        schema_v2_from_batch=2,  # + fetch_status
        schema_v3_from_batch=4,  # lang → language
    )
    return tmp, generate_change_log(spec)


def test_additive_and_rename_evolution(spark, evolving_log):
    tmp, paths = evolving_log
    table_path = str(tmp / "lake")
    CdcPipeline(table_path, n_buckets=4).run(spark, os.path.dirname(paths[0]))

    table = LakeTable.load(table_path)
    snap = table.snapshot()
    names = [f["name"] for f in table.current_fields(snap)]
    assert "fetch_status" in names, "additive column missing"
    assert "language" in names and "lang" not in names, "rename not applied"
    # rename kept the field id (metadata-only rewrite)
    v1 = {f["name"]: f["id"] for f in snap["schemas"]["1"]}
    cur = {f["name"]: f["id"] for f in table.current_fields(snap)}
    assert cur["language"] == v1["lang"]
    assert snap["schema_version"] == 3

    df = table.read(spark)
    want = reference_fold(paths)
    rows = {r["url"]: r for r in df.collect()}
    assert set(rows) == set(want)
    for url, w in want.items():
        g = rows[url]
        assert g["text"] == w["text"], url
        # 'lang' values written pre-rename must surface under 'language'
        assert g["language"] == w["lang"], url
        assert g["fetch_status"] == w["fetch_status"], url


def test_pre_evolution_rows_readable_with_null_new_column(spark, evolving_log):
    """Rows last written before fetch_status existed read back as null;
    rows written after have it populated."""
    tmp, paths = evolving_log
    table = LakeTable.load(str(tmp / "lake"))
    df = table.read(spark)
    want = reference_fold(paths)
    with_status = [u for u, w in want.items() if w["fetch_status"] is not None]
    without = [u for u, w in want.items() if w["fetch_status"] is None]
    assert with_status, "fixture should produce post-evolution rows"
    assert without, "fixture should retain pre-evolution rows"
    got_null = {r["url"] for r in df.filter(df.fetch_status.isNull()).collect()}
    assert got_null == set(without)


def test_schema_epoch_split_never_concatenates_across_header_change(tmp_path):
    """Driver-side epoch split parity with util/FilesUtils.kt:288-327 —
    including the order-sensitive 'revert opens a new epoch' rule."""
    from csv_cruncher_spark.sources.discovery import split_schema_epochs

    headers = {
        "a.csv": ["op", "url"],
        "b.csv": ["op", "url"],
        "c.csv": ["op", "url", "new_col"],
        "d.csv": ["op", "url"],  # revert — still a NEW epoch
    }
    epochs = split_schema_epochs("grp", list(headers), headers.get)
    assert [e.files for e in epochs] == [["a.csv", "b.csv"], ["c.csv"], ["d.csv"]]
    assert [e.name for e in epochs] == ["grp_1", "grp_2", "grp_3"]

    single = split_schema_epochs("grp", ["a.csv", "b.csv"], headers.get)
    assert [e.name for e in single] == ["grp"]


def test_changes_between_spans_schema_evolution(spark, evolving_log):
    """A change feed whose range crosses additive AND rename schema
    boundaries emits rows in the CURRENT schema (old epochs' delta files
    projected by field id), matching the sequential reference-fold diff."""
    tmp, paths = evolving_log
    table_path = str(tmp / "lake_feed")
    CdcPipeline(table_path, n_buckets=4).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(table_path)

    # range (0, 5]: epoch 1 is pre-fetch_status, epochs 2-3 add it,
    # epochs 4-5 are post-rename — one feed spans all three schemas
    a = reference_fold(paths[:1])
    b = reference_fold(paths)
    want = {}
    for u in set(a) | set(b):
        if u not in a:
            want[u] = ("I", b[u]["lang"], b[u]["fetch_status"])
        elif u not in b:
            want[u] = ("D", None, None)
        elif a[u] != b[u]:
            want[u] = ("U", b[u]["lang"], b[u]["fetch_status"])

    feed_df = t.changes_between(spark, from_epoch=0)
    assert "language" in feed_df.columns and "lang" not in feed_df.columns
    assert "fetch_status" in feed_df.columns
    feed = {
        r["url"]: (r["__op"], r["language"], r["fetch_status"])
        for r in feed_df.collect()
    }
    assert feed == want


def test_identity_column_rename_rejected(spark, tmp_path):
    """Renaming the key or version column would brick every later
    read/merge (the acceptance rule and bucketing are keyed on them) —
    evolve_schema must refuse loudly, as must rename-to-existing."""
    spec = ChangeLogSpec(n_urls=30, n_batches=1, events_per_batch=40,
                         seed=71, out_dir=str(tmp_path / "b"))
    paths = generate_change_log(spec)
    p = str(tmp_path / "lake")
    CdcPipeline(p, n_buckets=2).run(spark, os.path.dirname(paths[0]))
    t = LakeTable.load(p)
    with pytest.raises(ValueError, match="identity column"):
        t.evolve_schema(renames={"url": "page_url"})
    with pytest.raises(ValueError, match="identity column"):
        t.evolve_schema(renames={"warc_ts": "fetched_at"})
    with pytest.raises(ValueError, match="already exists"):
        t.evolve_schema(renames={"lang": "text"})


def test_lossy_type_drift_fails_the_batch_before_any_write(spark, tmp_path):
    """Data files carry the manifest's column types, because readers scan
    them with the manifest schema. In a JSON log a column first added as
    long may later arrive as double; casting 2.5 to 2 would lose data,
    so that batch fails and leaves table and checkpoint as they were."""
    import base64
    import json

    bdir = tmp_path / "b"
    bdir.mkdir()

    def batch(seq, score):
        html = base64.b64encode(b"<html><body>p</body></html>").decode()
        ev = {"op": "I", "url": "https://x.example/1",
              "warc_ts": f"2024-01-01 00:00:{10 + seq}", "html": html,
              "lang": "en", "score": score}
        (bdir / f"batch-{seq:05d}.json").write_text(json.dumps(ev) + "\n")

    batch(0, 3)
    batch(1, 2.5)
    tpath = str(tmp_path / "lake")
    pipe = CdcPipeline(tpath, n_buckets=2)
    with pytest.raises(TypeError, match="'score' is double.*long"):
        pipe.run(spark, str(bdir))
    ckpt = pipe.load_checkpoint()
    assert ckpt["batches_applied"] == ["batch-00000.json"]
    rows = LakeTable.load(tpath).read(spark).collect()
    assert [(r.url, r.score) for r in rows] == [("https://x.example/1", 3)]
