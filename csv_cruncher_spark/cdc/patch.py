"""Partial-update (sparse) change events: Debezium/TOAST placeholder
resolution.

Real binlog streams don't always ship full rows: Postgres leaves
unchanged TOAST columns out of the WAL, and Debezium forwards them as a
fixed placeholder string (``__debezium_unavailable_value``) rather than
the value. Applying such a row as-is would OVERWRITE a page's html with
the placeholder. This module resolves placeholders before the merge:

1. **In-batch carry** — a patched column takes the nearest EARLIER
   value of the same key within the batch (ordered by (ts, tiebreak)),
   because that is the row state the patch was diffed against. The
   carry never crosses a delete: a 'D' row's NULL payload is itself the
   carried value, so a re-insert's placeholder resolves to NULL instead
   of resurrecting pre-delete bytes.
2. **State fallback** — placeholders still unresolved after the carry
   (the key's first in-batch event is a patch) take the CURRENT table
   value for that key, fetched with the lake's point lookup
   (``read_keys`` — bucket-pruned, key-pushed; only unresolved keys are
   read). A key with no current row resolves to NULL (the patch
   semantics of "unchanged" when nothing existed are "absent").

The NULL-vs-unchanged distinction is load-bearing: a patch can
legitimately set a column TO NULL, so the carry wraps candidate values
in a struct — ``last(struct(c)) ignorenulls`` skips only
placeholder rows (mapped to a NULL struct), never NULL values (a
non-null struct holding a NULL field). A plain ``last(c, ignorenulls)``
would silently turn "set to NULL" into "unchanged".

Plan shape: ONE window pass over the batch (partitioned by key —
group size = events-per-key-per-batch, small by construction) resolves
every in-batch carry for all columns at once; the state fallback is a
broadcast join of the unresolved keys' current rows (``read_keys``
collects at most the batch's key count, the same bound the change
feed's ``FEED_COLLECT_KEYS_LIMIT`` discipline uses). Cost is O(batch),
independent of table size.

Reference parity: csv-cruncher re-imports full files; sparse change
events are new-engine surface required the moment the binlog producer
is a real CDC connector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..lake.table import bucket_expr

#: Debezium's spelling; callers may use any sentinel
DEBEZIUM_PLACEHOLDER = "__debezium_unavailable_value"

#: columns of the canonical event frame that are never payload
_META_COLS = {"op", "row_idx", "__reject", "__ts_raw"}


def _ph_lit(dt: T.DataType, placeholder: str):
    """The placeholder rendered in a column's type: bytes for binary,
    the string itself otherwise (non-string payload types — ints,
    timestamps — cannot carry a string placeholder and are left
    untouched; connectors only elide variable-width columns)."""
    if isinstance(dt, T.BinaryType):
        return F.lit(placeholder.encode("utf-8"))
    if isinstance(dt, T.StringType):
        return F.lit(placeholder)
    return None


def resolve_partial_updates(
    batch: DataFrame,
    placeholder: str = DEBEZIUM_PLACEHOLDER,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str = "row_idx",
    payload_cols: list[str] | None = None,
    fallback_state: DataFrame | None = None,
) -> DataFrame:
    """Return the batch with every placeholder cell replaced by the
    value it stood for (see module docstring for the two-step rule).
    Schema and row set are unchanged — only placeholder cells move, so
    the result drops into the normal LWW merge untouched.

    ``fallback_state``: current rows (``key_col`` + payload columns)
    used for placeholders with no in-batch predecessor; omit for
    carry-only resolution (unresolved placeholders become NULL).
    """
    if payload_cols is None:
        payload_cols = [
            c
            for c in batch.columns
            if c not in _META_COLS and c not in (key_col, ts_col)
        ]
    typed = [
        (c, _ph_lit(batch.schema[c].dataType, placeholder))
        for c in payload_cols
    ]
    typed = [(c, ph) for c, ph in typed if ph is not None]
    if not typed:
        return batch

    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    carried = {}
    for c, ph in typed:
        # candidate = struct(value) on real rows, NULL on placeholder
        # rows; last(ignorenulls) then carries the nearest real value —
        # including values that are legitimately NULL (non-null struct,
        # null field). A delete row's NULL payload is a real value, so
        # it updates the carry to struct(NULL) and acts as the barrier
        # that stops a later re-insert's placeholder from resurrecting
        # pre-delete bytes — no segment bookkeeping needed.
        cand = F.when(
            F.col(c).isNull() | (F.col(c) != ph), F.struct(F.col(c).alias("v"))
        )
        carried[c] = F.last(cand, ignorenulls=True).over(w)

    resolved = batch.select(
        *[c for c in batch.columns if c not in dict(typed)],
        *[carried[c].alias(f"__carry_{c}") for c, _ in typed],
    )

    if fallback_state is not None:
        state = fallback_state.select(
            F.col(key_col).alias("__fb_key"),
            *[
                F.col(c).alias(f"__fb_{c}")
                for c, _ in typed
                if c in fallback_state.columns
            ],
        )
        # no forced broadcast: the state frame is batch-key-sized in the
        # point-lookup path (AQE broadcasts it on its own) but can carry
        # full html payloads for bulk batches in the semi-join fallback,
        # where a forced broadcast would materialize gigabytes per
        # executor
        resolved = resolved.join(
            state,
            resolved[key_col] == F.col("__fb_key"),
            "left",
        ).drop("__fb_key")

    final_cols = []
    for c in batch.columns:
        entry = next(((cc, ph) for cc, ph in typed if cc == c), None)
        if entry is None:
            final_cols.append(F.col(c))
            continue
        carry = F.col(f"__carry_{c}")
        val = carry.getField("v")
        if fallback_state is not None and f"__fb_{c}" in resolved.columns:
            # fallback ONLY when the carry found nothing at all (null
            # struct = no earlier in-batch row; an in-batch delete
            # leaves a non-null struct(NULL) and correctly blocks this)
            val = F.when(carry.isNull(), F.col(f"__fb_{c}")).otherwise(val)
        else:
            val = F.when(carry.isNull(), F.lit(None)).otherwise(val)
        final_cols.append(val.alias(c))
    return resolved.select(*final_cols)


def resolve_against_table(
    spark: SparkSession,
    batch: DataFrame,
    table,
    placeholder: str = DEBEZIUM_PLACEHOLDER,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str = "row_idx",
    collect_keys_limit: int = 100_000,
) -> DataFrame:
    """Pipeline form: resolve a batch's placeholders with the lake
    table as fallback state, reading ONLY the keys that still need a
    value after the in-batch carry (bucket-pruned ``read_keys`` point
    lookup — O(unresolved keys), never a table scan).

    The unresolved-key set is collected to the driver only up to
    ``collect_keys_limit`` (the change feed's bounded-collect
    discipline); a bulk batch above it resolves through a distributed
    semi-join against the full table read instead — correct at any
    size, trading the bucket pruning for no driver state."""
    typed_cols = [
        c
        for c in batch.columns
        if c not in _META_COLS
        and c not in (key_col, ts_col)
        and isinstance(batch.schema[c].dataType, (T.StringType, T.BinaryType))
    ]
    if not typed_cols:
        return batch
    ph_conds = []
    for c in typed_cols:
        ph = _ph_lit(batch.schema[c].dataType, placeholder)
        ph_conds.append(F.col(c) == ph)
    any_ph = ph_conds[0]
    for cond in ph_conds[1:]:
        any_ph = any_ph | cond
    # keys whose EARLIEST event carries a placeholder can need state;
    # a coarse but cheap superset: any key with a placeholder row
    need_df = batch.filter(any_ph).select(key_col).distinct()
    snap = table.snapshot()
    # each key's bucket id rides the same collect, so the point lookup
    # needs no job of its own to find the buckets it prunes to
    head = (
        need_df.select(key_col, bucket_expr(key_col, snap["n_buckets"]))
        .limit(collect_keys_limit + 1)
        .collect()
    )
    if not head:
        return batch
    if len(head) <= collect_keys_limit:
        state = table.read_keys(
            spark, [r[0] for r in head], sorted({r[1] for r in head}), snap=snap
        )
    else:
        state = table.read(spark, snap=snap).join(
            need_df, on=key_col, how="left_semi"
        )
    return resolve_partial_updates(
        batch,
        placeholder,
        key_col=key_col,
        ts_col=ts_col,
        tiebreak_col=tiebreak_col,
        fallback_state=state,
    )
