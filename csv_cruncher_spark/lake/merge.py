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
3. **Merge-on-read**: a batch never reads the table. Its winners (``D``
   tombstones included) are written as per-bucket delta files;
   ``LakeTable.read`` applies rule 2 when it folds each key's deltas over
   its base row in epoch order, and ``LakeTable.compact`` writes that fold
   back as new base files.

HTML→text extraction runs once per in-batch winner, not once per event.

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


def _winner_upsert_rows(winners: DataFrame, key: str, cur_fields: list[dict]) -> DataFrame:
    """Project winner events onto the current table schema as delta rows:
    batch-borne columns pass through, table columns the batch doesn't
    carry become typed nulls, text is re-extracted from html
    (Arrow-batched pandas UDF), and the op code rides along as ``__op``
    (the MOR delta encoding)."""
    data_cols = [f["name"] for f in cur_fields]
    type_by_name = {f["name"]: f["type"] for f in cur_fields}
    have = set(winners.columns)
    sel = [F.col(key)]
    for c in data_cols:
        if c == key or c == "text":
            continue
        if c in have and c not in ("op", "row_idx"):
            sel.append(_as_table_type(winners, c, type_by_name[c]))
        else:
            sel.append(F.lit(None).cast(spark_type(type_by_name[c])).alias(c))
    out = winners.select(*sel, "bucket", F.col("op").alias("__op"))
    if "text" in data_cols:
        out = out.withColumn("text", extract_text_udf(F.col("html")))
    return out.select(*data_cols, "bucket", "__op")


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
    into compaction.

    ``fail_after_data_write`` injects a crash between data-file write and
    manifest publish — the exactly-once test hook (SURVEY.md §7.5 trap 1).
    """
    snap = staged_snapshot or table.snapshot()
    if any(e["batch"] == batch_id for e in snap["lineage"]):
        return snap  # exactly-once fence

    key = snap["key_col"]
    n_buckets = snap["n_buckets"]
    schema_version = snap["schema_version"]
    cur_fields = snap["schemas"][str(schema_version)]

    winners = lww_winners(batch_df, key).withColumn("bucket", bucket_expr(key, n_buckets))
    # D tombstones carry null html → null text (extract_text is
    # None-preserving)
    delta = _winner_upsert_rows(winners, key, cur_fields).withColumn(
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

