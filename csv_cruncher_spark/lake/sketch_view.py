"""Incrementally-maintained HyperLogLog registers over a
:class:`~csv_cruncher_spark.lake.table.LakeTable` — a LIVE distinct-key
count (distinct URLs per lang, distinct hosts per crawl) that follows
the CDC change feed at O(changed rows) per refresh instead of scanning
10^10 rows to re-answer "how many distinct URLs do we hold?".

The insight is that HLL maintenance IS extrema maintenance: a register
is MAX(rho) over the items hashing into it, so deriving (bucket, rho)
on both images of every change row (``ivm.derive``) and treating
``bucket`` as one more group column reduces the whole problem to
:class:`~csv_cruncher_spark.lake.ivm.MaintainedExtrema` — insertions
fold with ``greatest``, and a deletion that retracts a register's
stored maximum marks exactly that (group, bucket) register ENDANGERED
and re-aggregates it from table state through one semi-join (never an
unconditional rescan; a delete-free refresh stays O(|agg| + |changes|)).
Register death (count reaching 0) drops the row, matching a fresh
``hll_build`` exactly — the maintained registers are BIT-EQUAL to a
recompute after every refresh, which the tests assert batch by batch.

Same store and refresh loop as every maintained view here
(``lake.view_store``: epoch-named parquet versions behind a durably
swapped ``state.json`` pointer, idempotent per epoch, tailer-loop
compatible). Estimation reuses
``operators.sketch.hll_estimate`` unchanged.

Provenance: the reference engine (csv-cruncher) has no sketch or
incremental-view machinery; this composes the repo's IVM layer
(lake/ivm.py) with the HLL operator (operators/sketch.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .ivm import MaintainedExtrema

__all__ = ["MaintainedSketch"]

_BUCKET = "__hll_bucket"
_RHO = "__hll_rho"


class MaintainedSketch(MaintainedExtrema):
    """Durable maintained HLL register set for ``item_col``, optionally
    per ``group_cols``. ``registers(spark)`` returns the
    (group..., bucket, r) frame ``operators.sketch.hll_build`` would
    produce on the current table state; ``estimate(spark)`` returns the
    distinct-count estimate frame of ``hll_estimate``.

    ``item_col`` must be non-null on every table row (the default,
    ``url``, is the table's identity key, which the pipeline's
    malformed-row handling never admits as NULL) — a NULL item would
    derive a NULL register on the feed image, where ``hll_build``
    filters it."""

    def __init__(
        self,
        table_path: str,
        store_path: str,
        item_col: str = "url",
        m: int = 1024,
        group_cols: list[str] | None = None,
    ):
        from csv_cruncher_spark.operators.sketch import _check_m, hll_bucket_rho

        gc = list(group_cols or [])
        _check_m(m)
        derives = {
            _BUCKET: lambda c: hll_bucket_rho(c(item_col), m)[0],
            _RHO: lambda c: hll_bucket_rho(c(item_col), m)[1],
        }
        super().__init__(
            table_path,
            store_path,
            group_cols=gc + [_BUCKET],
            maxs={"r": _RHO},
            derives=derives,
        )
        self.item_col = item_col
        self.m = m
        self.sketch_group_cols = gc

    def registers(self, spark) -> DataFrame:
        """The maintained register set as (group..., bucket, r)."""
        return self.read(spark).select(
            *self.sketch_group_cols, F.col(_BUCKET).alias("bucket"), "r"
        )

    def estimate(self, spark) -> DataFrame:
        """Distinct-count estimate per group from the stored registers:
        (group..., present, zeros, z_scaled, est_distinct)."""
        from csv_cruncher_spark.operators.sketch import hll_estimate

        return hll_estimate(
            self.registers(spark),
            m=self.m,
            group_cols=tuple(self.sketch_group_cols),
        )
