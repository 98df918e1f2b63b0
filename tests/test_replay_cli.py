"""End-to-end tests of the ``replay.py`` spark-submit entry point run
in-process (``get_spark`` reuses the active test session, so no second
JVM is spawned). Covers the operational loop a cluster user runs:
replay the change log, then keep a downstream aggregate fresh with
``--maintain-agg`` — the maintained view must equal a full recompute
after every invocation, including an incremental second run that only
folds the new epochs."""

import json
import os
import sys

import pytest

from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log


@pytest.fixture()
def change_log(tmp_path):
    spec = ChangeLogSpec(
        n_urls=120,
        n_batches=4,
        events_per_batch=150,
        seed=31,
        out_dir=str(tmp_path / "batches"),
    )
    paths = generate_change_log(spec)
    return tmp_path, paths


def _run_replay(monkeypatch, capsys, argv):
    import replay

    monkeypatch.setattr(sys, "argv", ["replay.py", *argv])
    rc = replay.main()
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def _recomputed_agg(spark, table_path):
    from pyspark.sql import functions as F

    from csv_cruncher_spark.lake.table import LakeTable

    df = LakeTable.load(table_path).read(spark)
    return {
        r["lang"]: (r["n_pages"], r["sum_text_len"])
        for r in df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("text")).alias("sum_text_len"),
        )
        .collect()
    }


def _stored_agg(spark, store):
    from csv_cruncher_spark.lake.ivm import MaintainedAggregate

    mv = MaintainedAggregate(None, store, ["lang"], {"sum_text_len": "text_len"})
    df = mv.read(spark)
    return {r["lang"]: (r["n_pages"], r["sum_text_len"]) for r in df.collect()}


def test_replay_cli_maintain_agg_matches_recompute(
    spark, change_log, monkeypatch, capsys
):
    tmp_path, paths = change_log
    table = str(tmp_path / "lake")
    store = str(tmp_path / "agg")
    bdir = os.path.dirname(paths[0])

    # first invocation: replay 3 of the 4 batches, bootstrap the aggregate
    res = _run_replay(
        monkeypatch,
        capsys,
        [
            "--table", table, "--batches", bdir, "--buckets", "4",
            "--max-batches", "3", "--maintain-agg", store,
        ],
    )
    assert res["applied_batches"] == 3
    assert res["maintained_epoch"] == res["epoch_id"]
    assert _stored_agg(spark, store) == _recomputed_agg(spark, table)

    # second invocation: the remaining batch lands; the refresh must fold
    # only the new epochs (incremental, not a re-bootstrap) and still
    # equal a full recompute
    res2 = _run_replay(
        monkeypatch,
        capsys,
        ["--table", table, "--batches", bdir, "--buckets", "4",
         "--maintain-agg", store],
    )
    assert res2["applied_batches"] == 1
    assert res2["maintained_epoch"] == res2["epoch_id"] > res["epoch_id"]
    assert _stored_agg(spark, store) == _recomputed_agg(spark, table)

    # idempotent: nothing new applied, epoch unchanged, state intact
    res3 = _run_replay(
        monkeypatch,
        capsys,
        ["--table", table, "--batches", bdir, "--buckets", "4",
         "--maintain-agg", store],
    )
    assert res3["applied_batches"] == 0
    assert res3["maintained_epoch"] == res2["maintained_epoch"]
    assert _stored_agg(spark, store) == _recomputed_agg(spark, table)


def test_replay_cli_agg_group_multi_column(spark, change_log, monkeypatch, capsys):
    """--agg-group accepts a comma-separated list; grouping by a
    two-column key exercises the split path end-to-end."""
    from pyspark.sql import functions as F

    from csv_cruncher_spark.lake.ivm import MaintainedAggregate
    from csv_cruncher_spark.lake.table import LakeTable

    tmp_path, paths = change_log
    table = str(tmp_path / "lake2")
    store = str(tmp_path / "agg2")
    bdir = os.path.dirname(paths[0])

    _run_replay(
        monkeypatch,
        capsys,
        ["--table", table, "--batches", bdir, "--buckets", "4",
         "--maintain-agg", store, "--agg-group", "lang,url"],
    )
    mv = MaintainedAggregate(None, store, ["lang", "url"], {"sum_text_len": "text_len"})
    got = {
        (r["lang"], r["url"]): r["n_pages"] for r in mv.read(spark).collect()
    }
    want = {
        (r["lang"], r["url"]): r["n"]
        for r in LakeTable.load(table)
        .read(spark)
        .groupBy("lang", "url")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_replay_build_corpus(spark, change_log, monkeypatch, capsys, tmp_path):
    """--build-corpus: one command from change batches to a labeled
    training corpus. The written parquet must equal build_corpus run by
    hand over the final table state (same salts -> same membership)."""
    base, _ = change_log
    table = str(base / "lake_corpus")
    out_dir = str(tmp_path / "corpus_out")
    res = _run_replay(
        monkeypatch,
        capsys,
        ["--table", table, "--batches", str(base / "batches"),
         "--buckets", "4", "--build-corpus", out_dir,
         "--corpus-min-tokens", "2", "--corpus-target", "0.5"],
    )
    assert res["corpus_rows"] is not None and res["corpus_rows"] > 0

    from csv_cruncher_spark.lake.table import LakeTable
    from csv_cruncher_spark.operators import corpus as corpus_mod

    pages = LakeTable.load(table).read(spark)
    expect = corpus_mod.build_corpus(
        pages, "url", "text", "lang", min_tokens=2,
        temperature={"alpha": 0.5, "target_fraction": 0.5},
        splits={"train": 8.0, "val": 1.0, "test": 1.0},
    ).select("url", "lang", "split")
    got = spark.read.parquet(out_dir)
    assert got.count() == res["corpus_rows"] == expect.count()
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_replay_maintain_corpus_incremental(spark, change_log, monkeypatch, capsys, tmp_path):
    """--maintain-corpus across two invocations: the second replays only
    the remaining batches and the refreshed store must equal a full
    build_corpus (fixed quotas) over the final table state."""
    base, _ = change_log
    table = str(base / "lake_mc")
    store = str(tmp_path / "mc_store")
    common = ["--table", table, "--batches", str(base / "batches"),
              "--buckets", "4", "--maintain-corpus", store,
              "--corpus-min-tokens", "2"]
    r1 = _run_replay(monkeypatch, capsys, [*common, "--max-batches", "2"])
    assert r1["corpus_epoch"] == r1["epoch_id"]
    r2 = _run_replay(monkeypatch, capsys, common)
    assert r2["corpus_epoch"] == r2["epoch_id"] > r1["corpus_epoch"]

    from csv_cruncher_spark.lake.corpus_view import MaintainedCorpus
    from csv_cruncher_spark.lake.table import LakeTable
    from csv_cruncher_spark.operators import corpus as corpus_mod

    mc = MaintainedCorpus(table, store, min_tokens=2,
                          splits={"train": 8.0, "val": 1.0, "test": 1.0})
    got = {(r["url"], r["split"]) for r in mc.read(spark).collect()}
    pages = LakeTable.load(table).read(spark)
    expect = {
        (r["url"], r["split"])
        for r in corpus_mod.build_corpus(
            pages, "url", "text", "lang", min_tokens=2,
            splits={"train": 8.0, "val": 1.0, "test": 1.0},
        ).select("url", "split").collect()
    }
    assert got == expect and got


def test_replay_maintain_vocab_incremental(spark, change_log, monkeypatch, capsys, tmp_path):
    """--maintain-vocab keeps the (token, tf, df) store equal to a full
    recompute across an incremental two-stage replay."""
    import shutil

    from csv_cruncher_spark.lake import vocab_view
    from csv_cruncher_spark.lake.table import LakeTable

    base, paths = change_log
    table = str(base / "lake")
    store = str(base / "vocab")
    staged = tmp_path / "staged"
    staged.mkdir()

    for cut in (2, len(paths)):
        for p in paths[:cut]:
            dst = staged / os.path.basename(p)
            if not dst.exists():
                shutil.copy(p, dst)
        out = _run_replay(
            monkeypatch,
            capsys,
            ["--table", table, "--batches", str(staged),
             "--maintain-vocab", store],
        )
        t = LakeTable.load(table)
        assert out["vocab_epoch"] == t.snapshot()["epoch_id"]
        mv = vocab_view.MaintainedVocabulary(table, store)
        want = {
            (r["token"], r["tf"], r["df"])
            for r in vocab_view.compute_vocab(
                t.read(spark), "url", "text"
            ).collect()
        }
        got = {(r["token"], r["tf"], r["df"]) for r in mv.read(spark).collect()}
        assert got == want


def test_replay_maintain_minmax_incremental(spark, change_log, monkeypatch, capsys, tmp_path):
    """--maintain-minmax keeps the per-lang text_len extrema store equal
    to a full recompute across an incremental two-stage replay (deletes
    in the fixture log exercise the endangered-group rescan)."""
    import shutil

    from pyspark.sql import functions as F

    from csv_cruncher_spark.lake.table import LakeTable

    base, paths = change_log
    table = str(base / "lake")
    store = str(base / "mmx")
    staged = tmp_path / "staged"
    staged.mkdir()

    for cut in (2, len(paths)):
        for p in paths[:cut]:
            dst = staged / os.path.basename(p)
            if not dst.exists():
                shutil.copy(p, dst)
        out = _run_replay(
            monkeypatch,
            capsys,
            ["--table", table, "--batches", str(staged),
             "--maintain-minmax", store],
        )
        t = LakeTable.load(table)
        assert out["minmax_epoch"] == t.snapshot()["epoch_id"]
        from csv_cruncher_spark.lake.ivm import MaintainedExtrema

        mx = MaintainedExtrema(
            table, store, ["lang"],
            mins={"min_text_len": "text_len"},
            maxs={"max_text_len": "text_len"},
            count_col="n_pages",
        )
        want = {
            r["lang"]: (r["n_pages"], r["min_text_len"], r["max_text_len"])
            for r in t.read(spark)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_pages"),
                F.min(F.length("text")).alias("min_text_len"),
                F.max(F.length("text")).alias("max_text_len"),
            )
            .collect()
        }
        got = {
            r["lang"]: (r["n_pages"], r["min_text_len"], r["max_text_len"])
            for r in mx.read(spark).collect()
        }
        assert got == want


def test_replay_maintain_sketch_incremental(spark, change_log, monkeypatch, capsys, tmp_path):
    """--maintain-sketch keeps the per-lang HLL registers equal to a
    fresh hll_build across an incremental two-stage replay, and the
    printed estimate matches hll_estimate over a recompute."""
    import shutil

    from csv_cruncher_spark.lake import sketch_view
    from csv_cruncher_spark.lake.table import LakeTable
    from csv_cruncher_spark.operators import sketch as sk

    base, paths = change_log
    table = str(base / "lake")
    store = str(base / "hll")
    staged = tmp_path / "staged"
    staged.mkdir()

    for cut in (2, len(paths)):
        for p in paths[:cut]:
            dst = staged / os.path.basename(p)
            if not dst.exists():
                shutil.copy(p, dst)
        out = _run_replay(
            monkeypatch,
            capsys,
            ["--table", table, "--batches", str(staged),
             "--maintain-sketch", store, "--sketch-groups", "lang"],
        )
        t = LakeTable.load(table)
        assert out["sketch_epoch"] == t.snapshot()["epoch_id"]
        mv = sketch_view.MaintainedSketch(table, store, group_cols=["lang"])
        want = sk.hll_build(t.read(spark), "url", m=1024, group_cols=("lang",))
        got = {
            (r["lang"], r["bucket"], r["r"])
            for r in mv.registers(spark).collect()
        }
        assert got == {(r["lang"], r["bucket"], r["r"]) for r in want.collect()}
        want_est = {
            r["lang"]: r["est_distinct"]
            for r in sk.hll_estimate(want, m=1024, group_cols=("lang",)).collect()
        }
        assert out["sketch_estimate"] == want_est


def test_replay_maintain_links_incremental(spark, change_log, monkeypatch, capsys, tmp_path):
    """--maintain-links keeps the (src, dst) edge store equal to a fresh
    extract over table state across an incremental two-stage replay."""
    import shutil

    from csv_cruncher_spark.lake import links_view
    from csv_cruncher_spark.lake.table import LakeTable

    base, paths = change_log
    table = str(base / "lake")
    store = str(base / "edges")
    staged = tmp_path / "staged"
    staged.mkdir()

    for cut in (2, len(paths)):
        for p in paths[:cut]:
            dst = staged / os.path.basename(p)
            if not dst.exists():
                shutil.copy(p, dst)
        out = _run_replay(
            monkeypatch,
            capsys,
            ["--table", table, "--batches", str(staged),
             "--maintain-links", store],
        )
        t = LakeTable.load(table)
        assert out["links_epoch"] == t.snapshot()["epoch_id"]
        lv = links_view.MaintainedLinkGraph(table, store)
        got = {(r["src"], r["dst"]) for r in lv.read(spark).collect()}
        want = {
            (r["src"], r["dst"])
            for r in links_view.compute_link_graph(t.read(spark)).collect()
        }
        assert got == want
        assert out["links_edges"] == len(got)


def test_replay_maintain_scd2(spark, change_log, monkeypatch, capsys, tmp_path):
    from csv_cruncher_spark.lake.scd_view import MaintainedScd2
    from csv_cruncher_spark.lake.table import LakeTable

    tp, paths = change_log
    table = str(tp / "lake")
    store = str(tp / "scd2")
    bdir = os.path.dirname(paths[0])

    res = _run_replay(
        monkeypatch, capsys,
        ["--table", table, "--batches", bdir, "--buckets", "4",
         "--maintain-scd2", store],
    )
    assert res["scd2_versions"] >= res["scd2_current"] > 0
    mv = MaintainedScd2(store)
    cur = {r.url for r in mv.current(spark).select("url").collect()}
    tbl = {r.url for r in LakeTable.load(table).read(spark).select("url").collect()}
    assert cur == tbl
    # second invocation re-delivers every batch: a pure no-op
    res2 = _run_replay(
        monkeypatch, capsys,
        ["--table", table, "--batches", bdir, "--buckets", "4",
         "--maintain-scd2", store],
    )
    assert res2["scd2_versions"] == res["scd2_versions"]
    assert res2["applied_batches"] == 0


def test_replay_expectations_flag(spark, change_log, monkeypatch, capsys):
    tp, paths = change_log
    bdir = os.path.dirname(paths[0])
    res = _run_replay(
        monkeypatch, capsys,
        ["--table", str(tp / "lake"), "--batches", bdir, "--buckets", "4",
         "--expect", "https_only:drop:url LIKE 'https://%'",
         "--expect", "lang_known:dlq:IU:lang IN ('en','de','cs','fr','es')"],
    )
    ev = res["expectation_violations"]
    assert ev and all(
        set(v["rules"]) == {"https_only", "lang_known"} for v in ev.values()
    )
    # payload rule scoped to IU: deletes applied, so no quarantined deletes
    from csv_cruncher_spark.lake.table import LakeTable

    langs = {
        r.lang
        for r in LakeTable.load(str(tp / "lake")).read(spark).select("lang").collect()
    }
    assert langs <= {"en", "de", "cs", "fr", "es"}


def test_replay_tail_honours_compaction_triggers(spark, change_log, monkeypatch, capsys):
    """--tail builds the same pipeline as an offline replay: a one-byte
    --compact-delta-bytes compacts every bucket a batch touched, so no
    delta file outlives its batch even with the epoch trigger out of
    reach."""
    from csv_cruncher_spark.lake.table import LakeTable

    tp, paths = change_log
    table = str(tp / "lake_tail")
    res = _run_replay(
        monkeypatch, capsys,
        ["--table", table, "--batches", os.path.dirname(paths[0]),
         "--buckets", "4", "--tail", "--poll-interval", "0",
         "--compact-every", "1000000", "--compact-delta-bytes", "1"],
    )
    assert res["applied_batches"] == len(paths)
    files = LakeTable.load(table).snapshot()["files"]
    assert files and not any(f.get("kind") == "delta" for f in files)
