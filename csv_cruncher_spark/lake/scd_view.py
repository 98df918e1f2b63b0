"""Durable SCD Type 2 history maintained over the CDC binlog — a second
consumer of the SAME change batches the pipeline replays into the LWW
table.

Why it tails the BATCH directory and not the table's change feed: the
feed's 'D' rows carry only the pre-image (the deleted version), not the
delete event's own ``warc_ts`` — the lake stores no tombstones, so the
interval-closing timestamp exists only in the binlog. Consuming the
binlog directly keeps that timestamp and makes the history an exact
function of the change SET, batch-for-batch identical to a full
``scd2_history`` rebuild of the concatenated log (the equivalence
suite pins this after every batch).

One change log, two materializations:

- ``CdcPipeline`` → the LWW current-state table ("what is each url
  now"), and
- ``MaintainedScd2`` → the Type-2 history ("what was each url at any
  t"), whose ``is_current`` slice agrees with the table (cross-checked
  in tests).

Operational contract: the store is the one every maintained view shares
(``lake.view_store``) — each applied batch writes the updated history
as a NEW sequence-named parquet dir ``hist-<seq>``, then durably swaps
``state.json`` to it; a crash between the two leaves the previous
state intact and the re-run regenerates the orphan. Apply is idempotent
per batch id, so the tailer loop calls ``run`` unconditionally; ``run``
finds batches with the pipeline's own ``discover_batches``. Cost per
batch is ``scd2_apply``'s contract: the stored history passes through
broadcast anti/semi joins on the batch's key set and never shuffles;
only touched keys re-sort.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd import scd2_history, scd2_apply
from . import view_store

__all__ = ["MaintainedScd2"]

#: payload columns of the canonical pages change stream (cdc/pipeline.py)
DEFAULT_PAYLOAD = ["html", "lang"]


class MaintainedScd2:
    def __init__(
        self,
        store_path: str,
        key_col: str = "url",
        ts_col: str = "warc_ts",
        payload_cols: list[str] | None = None,
        collapse_unchanged: bool = False,
    ):
        self.store_path = store_path
        self.key_col = key_col
        self.ts_col = ts_col
        self.payload_cols = (
            list(payload_cols) if payload_cols is not None else list(DEFAULT_PAYLOAD)
        )
        self.collapse_unchanged = collapse_unchanged

    def state(self) -> dict | None:
        return view_store.read_state(self.store_path)

    def _persist(self, hist: DataFrame, applied: list[str]) -> None:
        prev = self.state()
        seq = (prev["seq"] + 1) if prev else 0
        view_store.publish_frame(
            self.store_path, hist, "hist-", seq, seq=seq, batches_applied=applied
        )

    def read(self, spark: SparkSession) -> DataFrame:
        return view_store.read_frame(
            spark, self.store_path, "history", "apply a batch (run/apply_batch) first"
        )

    def current(self, spark: SparkSession) -> DataFrame:
        """The LWW current-state slice of the history (what the lake
        table holds): open-interval versions only."""
        return self.read(spark).filter(F.col("is_current"))

    # -- maintenance ----------------------------------------------------
    def _batch_frame(self, batch: DataFrame) -> DataFrame:
        cols = [
            self.key_col,
            F.col(self.ts_col),
            "op",
            *self.payload_cols,
            F.col("row_idx").cast("long").alias("row_idx"),
        ]
        return batch.select(*cols)

    def apply_batch(
        self, spark: SparkSession, batch: DataFrame, batch_id: str
    ) -> bool:
        """Fold ONE change batch into the history; idempotent per
        ``batch_id`` (a re-delivery is a no-op). Returns whether the
        batch was applied."""
        st = self.state()
        applied = st["batches_applied"] if st else []
        if batch_id in applied:
            return False
        b = self._batch_frame(batch)
        if st is None:
            hist = scd2_history(
                b,
                self.key_col,
                self.ts_col,
                self.payload_cols,
                op_col="op",
                tiebreak_col="row_idx",
                collapse_unchanged=self.collapse_unchanged,
            )
        else:
            hist = scd2_apply(
                self.read(spark),
                b,
                self.key_col,
                self.ts_col,
                self.payload_cols,
                op_col="op",
                tiebreak_col="row_idx",
                collapse_unchanged=self.collapse_unchanged,
            )
        self._persist(hist, applied + [batch_id])
        return True

    def run(
        self,
        spark: SparkSession,
        batch_dir: str,
        include: str | None = None,
        exclude: str | None = None,
        max_batches: int | None = None,
    ) -> dict:
        """Tail the binlog directory in replay order (the pipeline's
        discovery rules, including its include/exclude/max-batches
        filters — pass the SAME values as the pipeline run or the
        current-slice-mirrors-the-table contract only holds up to the
        batch subset difference). The history is a view of the RAW
        binlog by design (delete timestamps exist only there); rows the
        pipeline's quality gates drop or quarantine still enter the
        history, so with gating on, the mirror contract is "table =
        current slice MINUS gated keys" (asserted exactly that way in
        tests/test_warehouse_cycle_integration.py). Returns the
        resulting state manifest."""
        from ..cdc.pipeline import discover_batches, read_change_batch

        files = discover_batches(batch_dir, include, exclude)
        applied = set((self.state() or {}).get("batches_applied", []))
        done = 0
        for path in files:
            if max_batches is not None and done >= max_batches:
                break
            if os.path.basename(path) in applied:
                continue
            if self.apply_batch(
                spark, read_change_batch(spark, path), os.path.basename(path)
            ):
                done += 1
        return self.state()
