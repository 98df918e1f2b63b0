"""The one store and the one refresh loop behind every maintained view in
``lake`` — aggregates, extrema, HLL sketches, vocabularies, link graphs,
SCD2 history and the training corpus.

Store layout: ``<store>/state.json`` is the only file ever rewritten. It
names the data dir(s) the view currently reflects; every data dir has a
fresh name (``agg-<epoch>``, ``hist-<seq>``, ``m-<epoch>/bucket=N``) and
is written in full BEFORE the pointer swaps to it. :func:`publish` swaps
through :func:`~csv_cruncher_spark.lake.catalog._atomic_write_json` (temp
+ fsync + rename + dir fsync), the crash discipline of the lake pointer
and the pipeline checkpoint: a crash before the swap leaves the previous
state intact, and the re-run rewrites the orphan dir deterministically.
After the swap, data dirs with the store's prefix that neither the new
nor the previous state references are pruned (a reader that resolved the
previous pointer may still be scanning it).

:class:`EpochView` is the refresh loop of every view that follows a
:class:`~csv_cruncher_spark.lake.table.LakeTable` by epoch: no state →
bootstrap; table epoch unchanged → no-op; otherwise the net change feed
since the stored epoch goes to the view's fold. A view supplies only
``_build`` (bootstrap from a full read) and ``_fold`` (apply one feed);
refresh is idempotent per epoch, so a tailer loop calls it
unconditionally.
"""

from __future__ import annotations

import json
import os
import shutil

from .catalog import _atomic_write_json

STATE = "state.json"


def read_state(store_path: str) -> dict | None:
    """The store's state pointer, or None before the first publish."""
    path = os.path.join(store_path, STATE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def require_state(store_path: str, what: str, hint: str) -> dict:
    st = read_state(store_path)
    if st is None:
        raise ValueError(f"no maintained {what} at {store_path}; {hint}")
    return st


def _data_dirs(st: dict) -> set[str]:
    """Top-level data dirs a state references: its ``data`` version, or
    the version dir of every ``buckets`` entry (``m-<epoch>/bucket=N``)."""
    paths = [st["data"]] if "data" in st else st["buckets"].values()
    return {p.split("/")[0] for p in paths}


def publish(store_path: str, new_state: dict, prefix: str) -> None:
    """Durably swap the pointer to ``new_state`` (whose data dirs are
    already written), then prune the ``prefix`` dirs that neither it nor
    the previous state references."""
    os.makedirs(store_path, exist_ok=True)
    prev = read_state(store_path)
    _atomic_write_json(os.path.join(store_path, STATE), new_state)
    keep = _data_dirs(new_state) | (_data_dirs(prev) if prev else set())
    for name in os.listdir(store_path):
        if name.startswith(prefix) and name not in keep:
            shutil.rmtree(os.path.join(store_path, name), ignore_errors=True)


def publish_frame(store_path: str, df, prefix: str, n: int, **state) -> None:
    """Write ``df`` as the fresh data dir ``<prefix><n>`` and publish
    ``state`` pointing at it (``data``) — the single-version stores."""
    data = f"{prefix}{n:08d}"
    df.write.mode("overwrite").parquet(os.path.join(store_path, data))
    publish(store_path, {**state, "data": data}, prefix)


def read_frame(spark, store_path: str, what: str, hint: str):
    """The data dir the state of a single-version store points at."""
    st = require_state(store_path, what, hint)
    return spark.read.parquet(os.path.join(store_path, st["data"]))


class EpochView:
    """Bootstrap/refresh template over ``self.table_path`` with the state
    kept at ``self.store_path``; ``state["epoch"]`` is the table epoch the
    view reflects. Subclasses define ``_build(spark, table, epoch)`` and
    ``_fold(spark, table, st, feed, cur)``, each ending in a publish."""

    #: whether the refresh feed carries pre-images (``__before``)
    feed_preimages = True

    def state(self) -> dict | None:
        return read_state(self.store_path)

    def bootstrap(self, spark) -> int:
        """Full-scan initialization at the table's current epoch."""
        from .table import LakeTable

        table = LakeTable.load(self.table_path)
        epoch = table.snapshot()["epoch_id"]
        self._build(spark, table, epoch)
        return epoch

    def refresh(self, spark) -> int:
        """Fold every epoch committed since the last refresh into the
        view; returns the epoch now reflected. First call bootstraps; a
        call with nothing new is a cheap no-op."""
        from .table import LakeTable

        st = self.state()
        if st is None:
            return self.bootstrap(spark)
        table = LakeTable.load(self.table_path)
        cur = table.snapshot()["epoch_id"]
        if cur == st["epoch"]:
            return cur
        feed = table.changes_between(
            spark, from_epoch=st["epoch"], to_epoch=cur,
            with_before=self.feed_preimages,
        )
        self._fold(spark, table, st, feed, cur)
        return cur
