"""Keyed op-coded MERGE with last-writer-wins dedup.

Semantics (must match ``cdc.fixtures.reference_fold`` exactly):

1. **In-batch LWW**: for each url keep the event with the max
   ``(warc_ts, row_idx)``. Implemented as ``groupBy(url).agg(max_by(...))``
   — an *aggregation*, not a window. This matters at scale: the aggregate
   gets map-side partial combine, so a hot url whose events are spread
   over 1000 partitions reduces to 1000 partials before the shuffle — the
   skew a ``Window.partitionBy(url)`` would concentrate into one task
   never materializes (SURVEY.md §2.D "hot-key handling"; salting
   utilities in lake/salt.py cover the join-side case). Physical note:
   because the max_by buffer holds a struct, Spark plans SortAggregate,
   not HashAggregate (hash aggregation needs fixed-width mutable
   buffers); the partial/final split — the property that eats the skew —
   is unaffected, the cost is a per-partition sort by url.
2. **Apply vs table state**: the winner applies iff its ``warc_ts`` is >=
   the current row's ``warc_ts`` (a stale event loses; equal ts → the
   incoming event wins, because replay order makes it the later writer —
   the reference's monotone-counter discipline, Cruncher.kt:342-372).
   ``D`` removes the row, ``I``/``U`` upsert it.
3. **Bucket-scoped copy-on-write**: only buckets containing winner keys are
   read + rewritten.
4. **Two physical merge strategies**, picked per batch by winner count:

   - *broadcast merge* (default for normal batches): the deduped winner
     set is broadcast, so the TABLE SIDE NEVER SHUFFLES — surviving old
     rows come from a broadcast left join (rows stay where the scan put
     them), and the applies/stale decision comes from a column-pruned
     (url, warc_ts) scan joined against the broadcast winners. At 10^10
     table rows this removes the full-row table shuffle that would
     otherwise dominate every batch (html+text bytes crossing the wire);
     the extra cost is a second scan of the affected buckets that reads
     exactly two small columns.
   - *shuffle merge* (fallback): full-outer join on url for pathological
     batches whose winner set is too large to broadcast; AQE skew-join
     handles oversized partitions.

HTML→text extraction runs only on rows that actually get applied (so a
batch that's 90% stale costs 10% of the extraction work).

Reference parity: the op-coded upsert generalizes the DMS-style ``Op``
column of csv-cruncher's own test corpus
(src/test/data/sample-collab/session_telephony_pins, header cited at
it/OptionsCombinationsTest.kt:232-233).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.extract import extract_text_udf
from .table import LakeTable, bucket_expr, spark_type


def lww_winners(batch_df: DataFrame, key_col: str = "url") -> DataFrame:
    """In-batch LWW dedup via partial-aggregating max_by.

    batch_df must carry ``row_idx`` (a within-batch total order). Returns
    one row per key with the original event columns.
    """
    event_cols = [c for c in batch_df.columns if c != key_col]
    ord_struct = F.struct(F.col("warc_ts"), F.col("row_idx"))
    agg = batch_df.groupBy(key_col).agg(
        F.max_by(F.struct(*[F.col(c) for c in event_cols]), ord_struct).alias("_w")
    )
    return agg.select(key_col, *[F.col(f"_w.{c}").alias(c) for c in event_cols])


# above this many winner rows the broadcast merge would over-stress driver/
# executor memory (winners carry html bytes); fall back to the shuffle plan
BROADCAST_WINNER_LIMIT = 2_000_000


#: batch-column types a table column of the key type takes by a lossless cast
_LOSSLESS_TO = {
    T.LongType: (T.IntegerType, T.ShortType, T.ByteType),
    T.IntegerType: (T.ShortType, T.ByteType),
    T.DoubleType: (T.FloatType, T.IntegerType, T.ShortType, T.ByteType),
    T.TimestampType: (T.DateType,),
}


def _as_table_type(df: DataFrame, c: str, type_name: str) -> Column:
    """Batch column ``c`` in the type the table declares for it. Data
    files carry the manifest's types exactly, because readers scan them
    with the manifest schema instead of inferring it from a footer. A
    batch value is therefore cast only where the cast is lossless; any
    other mismatch (a JSON column first seen as long arriving as double,
    a struct under a string column) fails the batch before a write."""
    want = spark_type(type_name)
    have = df.schema[c].dataType
    if have == want:
        return F.col(c)
    if isinstance(have, T.NullType) or type(have) in _LOSSLESS_TO.get(type(want), ()):
        return F.col(c).cast(want).alias(c)
    raise TypeError(
        f"batch column {c!r} is {have.simpleString()}, the table stores it as "
        f"{type_name}; only a lossless widening is cast"
    )


def _winner_upsert_rows(
    winners_applied: DataFrame,
    key: str,
    cur_fields: list[dict],
    keep_op: bool = False,
) -> DataFrame:
    """Project winner events onto the current table schema: batch-borne
    columns pass through, table columns the batch doesn't carry become
    typed nulls, text is re-extracted from html (applied rows only —
    Arrow-batched pandas UDF). ``keep_op`` carries the op code through as
    ``__op`` (the MOR delta encoding); COW callers drop it. Shared by
    both merge families so the projection rules cannot diverge."""
    data_cols = [f["name"] for f in cur_fields]
    type_by_name = {f["name"]: f["type"] for f in cur_fields}
    have = set(winners_applied.columns)
    sel = [F.col(key)]
    for c in data_cols:
        if c == key or c == "text":
            continue
        if c in have and c not in ("op", "row_idx"):
            sel.append(_as_table_type(winners_applied, c, type_by_name[c]))
        else:
            sel.append(F.lit(None).cast(spark_type(type_by_name[c])).alias(c))
    extra = [F.col("op").alias("__op")] if keep_op else []
    out = winners_applied.select(*sel, "bucket", *extra)
    if "text" in data_cols:
        out = out.withColumn("text", extract_text_udf(F.col("html")))
    tail = ["bucket", "__op"] if keep_op else ["bucket"]
    return out.select(*data_cols, *tail)


def _merge_broadcast(
    old: DataFrame, winners: DataFrame, key: str, cur_fields: list[dict]
) -> tuple[DataFrame, list[DataFrame]]:
    """Zero-table-shuffle merge: the only state that crosses executors is
    the broadcast of the (tiny) per-url stale set and winner-url list.

    - scan 1, pruned to (key, warc_ts) by Catalyst: which winner urls are
      STALE (an existing row has a strictly newer warc_ts). Persisted —
      it is consumed by two broadcasts and must not recompute (each
      recompute would re-scan the table).
    - scan 2, full-width: survivors = old rows with no winner or a stale
      winner — one broadcast left join, rows never leave their scan task.
    - applied = winners minus the stale set (new urls pass through).

    Returns (result, [cached dfs to unpersist after the write action]).
    """
    data_cols = [f["name"] for f in cur_fields]
    wmeta = winners.select(F.col(key), F.col("warc_ts").alias("__w_ts"))
    # stale set: usually a tiny fraction of winners (late/out-of-order
    # events that lost to current state) — broadcast payload is just urls.
    # A null-__w_ts winner (unparseable warc_ts nulled by to_timestamp)
    # loses to any non-null existing row — same predicate as
    # _merge_shuffle's winner_applies and the MOR read fold, so all three
    # strategies produce identical table state for null-version events.
    stale = (
        old.select(key, "warc_ts")
        .join(F.broadcast(wmeta), key, "inner")
        .filter(
            F.col("warc_ts").isNotNull()
            & (F.col("__w_ts").isNull() | (F.col("__w_ts") < F.col("warc_ts")))
        )
        .select(key)
        .persist()
    )
    # survivors: url has no winner at all, OR its winner is stale
    no_winner = old.join(F.broadcast(wmeta.select(key)), key, "left_anti")
    stale_kept = old.join(F.broadcast(stale), key, "left_semi")
    keep = no_winner.unionByName(stale_kept).select(*data_cols, "bucket")
    applied = winners.join(F.broadcast(stale), key, "left_anti").filter(
        F.col("op") != F.lit("D")
    )
    return keep.unionByName(_winner_upsert_rows(applied, key, cur_fields)), [stale]


def _merge_shuffle(
    old: DataFrame, winners: DataFrame, key: str, cur_fields: list[dict]
) -> tuple[DataFrame, list[DataFrame]]:
    """Fallback for winner sets too large to broadcast: full-outer join on
    the key (both sides shuffle; AQE skew-join splits oversized partitions).
    """
    data_cols = [f["name"] for f in cur_fields]
    o = old.alias("o")
    w = winners.alias("w")
    joined = o.join(w, on=[F.col(f"o.{key}") == F.col(f"w.{key}")], how="full_outer")

    has_winner = F.col(f"w.{key}").isNotNull()
    has_old = F.col(f"o.{key}").isNotNull()
    # stale: an existing row with strictly newer warc_ts beats the event.
    # The w-side comparison must be NULL-SAFE: a null-__w_ts winner vs a
    # non-null old row would otherwise make winner_applies NULL, failing
    # BOTH the keep_old and applied filters and silently dropping the row
    # (same rule as the MOR fold: e.vcol IS NOT NULL AND e.vcol >= acc.vcol)
    winner_applies = has_winner & (
        ~has_old
        | F.col("o.warc_ts").isNull()
        | (F.col("w.warc_ts").isNotNull() & (F.col("w.warc_ts") >= F.col("o.warc_ts")))
    )
    keep_old = has_old & (~winner_applies)
    old_rows = joined.filter(keep_old).select(
        *[F.col(f"o.{c}").alias(c) for c in data_cols], F.col("o.bucket").alias("bucket")
    )
    applied = joined.filter(winner_applies & (F.col("w.op") != F.lit("D"))).select(
        *[F.col(f"w.{c}").alias(c) for c in winners.columns]
    )
    return old_rows.unionByName(_winner_upsert_rows(applied, key, cur_fields)), []


def apply_batch_mor(
    spark: SparkSession,
    table: LakeTable,
    batch_df: DataFrame,
    epoch_id: int,
    batch_id: str,
    staged_snapshot: dict | None = None,
    fail_after_data_write: bool = False,
) -> dict:
    """Merge-on-read apply: the production path for 10^10-event replays.

    Per batch the work is O(batch), NEVER O(table): in-batch LWW winners
    (incl. ``D`` tombstones) are extracted, projected to the table schema,
    and written as per-bucket DELTA files — the table is not read at all.
    Readers replay each key's deltas over its base row in epoch order
    (LakeTable.read), and ``LakeTable.compact`` periodically folds deltas
    into new base files. This is the Iceberg-v2/Hudi MOR shape: upsert
    cost proportional to the change stream, table-size cost amortized
    into compaction. The eager copy-on-write merge (``apply_batch``)
    remains as the compaction/bulk-load path.
    """
    snap = staged_snapshot or table.snapshot()
    if any(e["batch"] == batch_id for e in snap["lineage"]):
        return snap  # exactly-once fence

    key = snap["key_col"]
    n_buckets = snap["n_buckets"]
    schema_version = snap["schema_version"]
    cur_fields = snap["schemas"][str(schema_version)]

    winners = lww_winners(batch_df, key).withColumn("bucket", bucket_expr(key, n_buckets))
    # shared projection (keep_op: deltas carry the op code; D tombstones
    # carry null html → null text, extract_text is None-preserving)
    delta = _winner_upsert_rows(winners, key, cur_fields, keep_op=True).withColumn(
        "__epoch", F.lit(epoch_id).cast("long")
    )

    new_files = table.write_bucket_data(
        delta, schema_version, kind="delta", epoch=epoch_id
    )
    if fail_after_data_write:
        raise RuntimeError("injected crash between data write and manifest publish")
    affected = sorted({f["bucket"] for f in new_files})
    metrics = dict(snap.get("metrics", {}))
    metrics["last_batch_files"] = len(new_files)
    metrics["last_batch_strategy"] = "mor-delta"
    return table.commit(
        new_files,
        [],  # delta commit replaces nothing
        epoch_id,
        batch_id,
        staged_snapshot=snap,
        metrics={**metrics, "last_batch_buckets": len(affected)},
    )


def apply_batch(
    spark: SparkSession,
    table: LakeTable,
    batch_df: DataFrame,
    epoch_id: int,
    batch_id: str,
    staged_snapshot: dict | None = None,
    fail_after_data_write: bool = False,
    broadcast_winner_limit: int = BROADCAST_WINNER_LIMIT,
) -> dict:
    """Merge one change batch into the table and commit a snapshot.

    batch_df columns: url, warc_ts, html (binary), lang, row_idx
    [, fetch_status...] — extra columns must already exist in the (possibly
    staged) table schema. Returns the committed snapshot.

    ``fail_after_data_write`` injects a crash between data-file write and
    manifest publish — the exactly-once test hook (SURVEY.md §7.5 trap 1).
    """
    snap = staged_snapshot or table.snapshot()
    if any(e["batch"] == batch_id for e in snap["lineage"]):
        return snap  # already applied — exactly-once fence

    key = snap["key_col"]
    n_buckets = snap["n_buckets"]
    schema_version = snap["schema_version"]
    cur_fields = snap["schemas"][str(schema_version)]

    winners = lww_winners(batch_df, key).withColumn("bucket", bucket_expr(key, n_buckets))
    winners = winners.persist()
    try:
        bucket_counts = winners.groupBy("bucket").count().collect()
        affected = sorted(r["bucket"] for r in bucket_counts)
        n_winners = sum(r["count"] for r in bucket_counts)
        if not affected:
            # record the strategy explicitly: without it the PREVIOUS
            # batch's strategy (e.g. "broadcast") rides along on this
            # epoch's committing snapshot and changes_between would
            # misclassify a zero-change epoch as copy-on-write
            metrics = dict(snap.get("metrics", {}))
            metrics["last_batch_files"] = 0
            metrics["last_batch_strategy"] = "empty"
            return table.commit(
                [], [], epoch_id, batch_id, staged_snapshot=snap, metrics=metrics
            )

        old = table.read(spark, snap=snap, buckets=affected).withColumn(
            "bucket", bucket_expr(key, n_buckets)
        )
        merge = _merge_broadcast if n_winners <= broadcast_winner_limit else _merge_shuffle
        result, caches = merge(old, winners, key, cur_fields)

        new_files = table.write_bucket_data(result, schema_version)
        for c in caches:
            c.unpersist()
        if fail_after_data_write:
            raise RuntimeError("injected crash between data write and manifest publish")

        metrics = dict(snap.get("metrics", {}))
        metrics["last_batch_files"] = len(new_files)
        metrics["last_batch_strategy"] = (
            "broadcast" if merge is _merge_broadcast else "shuffle"
        )
        metrics["last_batch_winners"] = n_winners
        return table.commit(
            new_files,
            affected,
            epoch_id,
            batch_id,
            staged_snapshot=snap,
            metrics=metrics,
        )
    finally:
        winners.unpersist()
