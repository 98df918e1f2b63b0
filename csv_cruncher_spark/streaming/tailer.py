"""Continuous change-log tailing: the binlog/WAL "tail" of the north rule.

The reference is batch-only — "streaming" there means re-running the whole
tool over a directory that gained files (SURVEY.md §2.C last row). Here the
tail is an incremental driver loop over ``CdcPipeline``: every poll picks
up exactly the batches the checkpoint hasn't applied (replay order =
filename sort), applies them with the same exactly-once fencing as offline
replay, and stops — or keeps polling.

Why a driver loop and not ``spark.readStream``: the file stream source
hands micro-batches of *rows*, erasing file boundaries — but a change
batch is the commit unit (epoch = file, sidecar ``.meta.json`` schema
changes take effect exactly at its file's position in the order). A
``foreachBatch`` that regroups rows by ``input_file_name`` would rebuild
what the checkpoint manifest already provides, with weaker ordering
guarantees. Structured Streaming remains the right tool for *analytics*
over the stream (see rollup.py); the ingest commit loop needs the file as
the atomic unit. This mirrors how production lake ingesters treat binlog
segment files.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from ..cdc.pipeline import CdcPipeline


class ChangeLogTailer:
    """Poll ``batch_dir`` and apply new change batches incrementally
    through ``pipeline``, configured as for an offline replay."""

    def __init__(
        self,
        pipeline: CdcPipeline,
        batch_dir: str,
        include: str | None = None,
        exclude: str | None = None,
    ):
        self.pipeline = pipeline
        self.batch_dir = batch_dir
        self.include = include
        self.exclude = exclude

    def poll_once(self, spark: SparkSession) -> list[str]:
        """Apply all currently-visible unapplied batches; return the batch
        ids applied this poll (exactly-once: a batch seen twice is a no-op)."""
        before = set(self.pipeline.load_checkpoint()["batches_applied"])
        ckpt = self.pipeline.run(
            spark, self.batch_dir, include=self.include, exclude=self.exclude
        )
        return [b for b in ckpt["batches_applied"] if b not in before]

    def run_until_idle(
        self,
        spark: SparkSession,
        poll_interval_s: float = 1.0,
        idle_polls: int = 3,
        max_polls: int | None = None,
    ) -> int:
        """Tail until ``idle_polls`` consecutive polls find nothing new
        (or ``max_polls`` exhausted). Returns total batches applied."""
        applied = 0
        idle = 0
        polls = 0
        while idle < idle_polls and (max_polls is None or polls < max_polls):
            got = self.poll_once(spark)
            applied += len(got)
            idle = 0 if got else idle + 1
            polls += 1
            if idle and idle < idle_polls:
                time.sleep(poll_interval_s)
        return applied
