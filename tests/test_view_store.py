"""Crash at the pointer swap of the shared maintained-view store
(lake/view_store.py): a publish that fails after the new data dir is
written must leave the previous state readable, and the re-run must reach
the same view as an uninterrupted run — for each store shape (one
``agg-<epoch>`` dir, one ``hist-<seq>`` dir with ``batches_applied``, and
the corpus's ``m-<epoch>/bucket=N`` map)."""

from __future__ import annotations

import os
import shutil

import pytest

from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake import view_store
from csv_cruncher_spark.lake.corpus_view import MaintainedCorpus
from csv_cruncher_spark.lake.ivm import MaintainedAggregate
from csv_cruncher_spark.lake.scd_view import MaintainedScd2

SHAPES = {
    "aggregate": lambda lake, store: MaintainedAggregate(lake, store, ["lang"], {}),
    "scd2": lambda lake, store: MaintainedScd2(store),
    "corpus": lambda lake, store: MaintainedCorpus(lake, store, n_buckets=4),
}


def _step(view, spark, bdir, include=None):
    if isinstance(view, MaintainedScd2):
        view.run(spark, bdir, include=include)
    else:
        view.refresh(spark)


def _rows(spark, view):
    return sorted(repr(tuple(r)) for r in view.read(spark).collect())


@pytest.fixture(scope="module")
def world(spark, tmp_path_factory):
    """Every shape's view stepped over the first two batches, plus a copy
    of its store as the uninterrupted reference; the lake then takes the
    third batch."""
    root = tmp_path_factory.mktemp("view_store")
    bdir = str(root / "batches")
    paths = generate_change_log(
        ChangeLogSpec(n_urls=40, n_batches=3, events_per_batch=80, seed=23, out_dir=bdir)
    )
    lake = str(root / "lake")
    pipe = CdcPipeline(lake, n_buckets=4)
    first_two = ".*/(" + "|".join(os.path.basename(p) for p in paths[:2]) + ")"
    pipe.run(spark, bdir, include=first_two)
    views = {}
    for shape, make in SHAPES.items():
        crash, ref = (str(root / f"{shape}-{side}") for side in ("crash", "ref"))
        _step(make(lake, crash), spark, bdir, first_two)
        shutil.copytree(crash, ref)  # state names its data dirs relatively
        views[shape] = (make(lake, crash), make(lake, ref))
    pipe.run(spark, bdir)
    return bdir, views


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_crash_at_pointer_swap_keeps_previous_state(spark, world, shape, monkeypatch):
    bdir, views = world
    view, ref = views[shape]
    before_state, before_rows = view.state(), _rows(spark, view)
    _step(ref, spark, bdir)
    want = _rows(spark, ref)
    assert want != before_rows  # the third batch moves the view

    real_write = view_store._atomic_write_json
    calls = []

    def crash_once(path, obj):
        calls.append(path)
        if len(calls) == 1:
            raise OSError("injected crash at the pointer swap")
        real_write(path, obj)

    monkeypatch.setattr(view_store, "_atomic_write_json", crash_once)
    with pytest.raises(OSError, match="injected"):
        _step(view, spark, bdir)
    assert view.state() == before_state
    assert _rows(spark, view) == before_rows

    _step(view, spark, bdir)
    assert len(calls) == 2
    assert _rows(spark, view) == want
    assert view.state() == ref.state()
