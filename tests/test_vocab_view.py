"""Incrementally-maintained corpus vocabulary (lake/vocab_view.py).

The load-bearing invariant, against the REAL table feed and against
pure-DataFrame diffs:

    apply_vocab_delta(compute_vocab(pre), vocab_delta(changes(pre->post)))
        == compute_vocab(post)

including token death (tf -> 0 drops the row), df decrement on content
updates, and the durable MaintainedVocabulary following a multi-batch
replay batch-by-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake import ivm, vocab_view
from csv_cruncher_spark.lake.table import LakeTable


def _vdict(df):
    return {r["token"]: (r["tf"], r["df"]) for r in df.collect()}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_delta_fold_equals_recompute_on_diff(spark):
    pre = _docs(
        spark,
        [
            ("u1", "apple banana apple"),
            ("u2", "banana cherry"),
            ("u3", "date"),
        ],
    )
    post = _docs(
        spark,
        [
            ("u1", "apple cherry"),      # apple 2->1, banana leaves doc
            ("u2", "banana cherry"),     # unchanged
            ("u4", "egg egg"),           # u3 deleted, u4 inserted
        ],
    )
    changes = ivm.diff_states(pre, post, "url")
    got = vocab_view.apply_vocab_delta(
        vocab_view.compute_vocab(pre, "url", "text"),
        vocab_view.vocab_delta(changes, "url", "text"),
    )
    want = vocab_view.compute_vocab(post, "url", "text")
    assert _vdict(got) == _vdict(want)
    d = _vdict(got)
    assert "date" not in d            # token death with its document
    assert d["apple"] == (1, 1)       # tf decrement within a kept doc
    assert d["egg"] == (2, 1)         # insert contributes tf=2, df=1


def test_unchanged_tokens_produce_no_delta_rows(spark):
    pre = _docs(spark, [("u1", "alpha beta"), ("u2", "alpha")])
    post = _docs(spark, [("u1", "alpha gamma"), ("u2", "alpha")])
    delta = vocab_view.vocab_delta(
        ivm.diff_states(pre, post, "url"), "url", "text"
    )
    rows = {r["token"]: (r["tf_delta"], r["df_delta"]) for r in delta.collect()}
    # u1 kept one 'alpha' before and after -> alpha cancels exactly
    assert rows == {"beta": (-1, -1), "gamma": (1, 1)}


def test_maintained_vocabulary_follows_replay(spark, tmp_path):
    paths = generate_change_log(
        ChangeLogSpec(
            n_urls=60,
            n_batches=3,
            events_per_batch=100,
            seed=23,
            out_dir=str(tmp_path / "batches"),
        )
    )
    lake = str(tmp_path / "lake")
    store = str(tmp_path / "vocab")
    mv = vocab_view.MaintainedVocabulary(lake, store)
    # replay batch-by-batch: stage one more file each round (the
    # exactly-once fence applies only the new one), refresh, compare
    # against a full recompute of the table state
    import shutil

    staged = tmp_path / "staged"
    staged.mkdir()
    for i, p in enumerate(paths):
        shutil.copy(p, staged / os.path.basename(p))
        CdcPipeline(lake, n_buckets=4).run(spark, str(staged))
        epoch = mv.refresh(spark)
        table = LakeTable.load(lake)
        assert epoch == table.snapshot()["epoch_id"]
        want = vocab_view.compute_vocab(table.read(spark), "url", "text")
        assert _vdict(mv.read(spark)) == _vdict(want), f"after batch {i}"
    # idempotent: nothing new -> same epoch, same state
    before = _vdict(mv.read(spark))
    assert mv.refresh(spark) == epoch
    assert _vdict(mv.read(spark)) == before


def test_delta_doc_identity_from_preimage_on_delete(spark):
    # review finding: when id_col is not the feed key, D rows null the
    # post-side id and all deletions collapsed onto __doc=NULL,
    # under-counting df retractions — the pre-image must supply the id
    pre = spark.createDataFrame(
        [("u1", 101, "x y"), ("u2", 102, "x z"), ("u3", 103, "kept")],
        "url string, doc_id long, text string",
    )
    post = spark.createDataFrame(
        [("u3", 103, "kept")], "url string, doc_id long, text string"
    )
    changes = ivm.diff_states(pre, post, "url")
    got = vocab_view.apply_vocab_delta(
        vocab_view.compute_vocab(pre, "doc_id", "text"),
        vocab_view.vocab_delta(changes, "doc_id", "text"),
    )
    want = vocab_view.compute_vocab(post, "doc_id", "text")
    assert _vdict(got) == _vdict(want)
    # and the raw delta retracts df for BOTH deleted docs
    d = {
        r["token"]: (r["tf_delta"], r["df_delta"])
        for r in vocab_view.vocab_delta(changes, "doc_id", "text").collect()
    }
    assert d["x"] == (-2, -2)


def test_tailer_loop_keeps_vocabulary_current(spark, tmp_path):
    """The operational loop: tailer applies each newly-arriving batch,
    MaintainedVocabulary.refresh() folds the feed — after every poll
    the stored vocabulary equals a full recompute of the table."""
    import shutil

    from csv_cruncher_spark.streaming.tailer import ChangeLogTailer

    paths = generate_change_log(
        ChangeLogSpec(
            n_urls=50,
            n_batches=3,
            events_per_batch=80,
            seed=31,
            out_dir=str(tmp_path / "all"),
        )
    )
    bdir = tmp_path / "incoming"
    bdir.mkdir()
    lake = str(tmp_path / "lake")
    tailer = ChangeLogTailer(CdcPipeline(lake, n_buckets=4), str(bdir))
    mv = vocab_view.MaintainedVocabulary(lake, str(tmp_path / "vocab"))
    for p in paths:
        shutil.copy(p, bdir / os.path.basename(p))
        applied = tailer.poll_once(spark)
        assert len(applied) == 1
        mv.refresh(spark)
        table = LakeTable.load(lake)
        want = vocab_view.compute_vocab(table.read(spark), "url", "text")
        assert _vdict(mv.read(spark)) == _vdict(want)
    # idle poll applies nothing and refresh is a no-op
    assert tailer.poll_once(spark) == []
    e = mv.refresh(spark)
    assert e == LakeTable.load(lake).snapshot()["epoch_id"]
