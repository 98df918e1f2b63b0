"""SCD Type 2 history tables from an op-coded change log.

The lake's merge path (``lake/merge.py``) is SCD **Type 1**: last-writer
wins, history destroyed. Warehouses ingesting the same CDC stream often
need **Type 2** — every version of a key kept as its own row with a
``[valid_from, valid_to)`` interval and an ``is_current`` flag — so a
query can ask "what did this url's page look like on March 3rd?" without
time-traveling table snapshots. This module builds that history shape
from the same op-coded change batches the CDC pipeline tails
(insert/update/delete keyed by url, ordered by warc_ts), and maintains
it incrementally: a new batch touches only its own keys.

Plan shape (the 100-TB contract):

- ``scd2_history`` is ONE hash shuffle on the key + a per-key sort.
  The windows partition by the natural key (url), whose group size is
  the number of versions of that url — bounded by recrawl cadence
  (tens), never by corpus size, so the skewed-window trap
  (``ranking.cap_per_group``'s round-4 finding) structurally cannot
  occur: there is no giant group. Both window passes (interval lead +
  collapse grouping) reuse the SAME partitioning/sort, so Catalyst
  plans one Exchange + one Sort for the whole build.
- ``scd2_apply`` is the incremental form: the existing history is
  touched only through ONE broadcast semi/anti join on the batch's
  (small) key set — history itself never shuffles; only the touched
  keys' rows (a few per url) are re-sorted. Cost is O(|batch| +
  versions-of-touched-keys), independent of history size.

Duplicate (key, ts) pairs collapse by last-writer-wins on a caller
tie-break column BEFORE interval assembly — the same in-batch LWW
discipline as ``lake/merge.py:57`` — so the history is a function of
the change SET, not of arrival order.

Reference parity: csv-cruncher (Cruncher.kt) materializes only
current-state tables; versioned history is new-engine surface motivated
by the north-rule's CDC replay (BASELINE.json: op-coded upserts keyed
by url ordered by warc_ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: op codes accepted in the change log, matching cdc/pipeline.py.
OPS = ("I", "U", "D")

#: ``scd2_apply`` broadcasts a batch's key set only up to this many keys
BROADCAST_KEYS_LIMIT = 2_000_000


def _lww_dedup(changes: DataFrame, key_col: str, ts_col: str, tiebreak_col: str | None) -> DataFrame:
    """Collapse duplicate (key, ts) rows to the last writer.

    ``tiebreak_col`` (e.g. the batch row index; must be non-negative —
    ``scd2_apply`` reserves -1 for replayed history) orders writers
    within a timestamp; without one the caller guarantees (key, ts)
    is unique and no dedup pass is planned at all.
    """
    if tiebreak_col is None:
        return changes
    w = Window.partitionBy(key_col, ts_col).orderBy(F.col(tiebreak_col).desc())
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd2_history(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    payload_cols: list[str],
    op_col: str | None = None,
    tiebreak_col: str | None = None,
    collapse_unchanged: bool = False,
) -> DataFrame:
    """Build a Type-2 history table from an op-coded change log.

    Each non-delete change row becomes one history row with:

    - ``valid_from`` — its own timestamp,
    - ``valid_to``  — the NEXT change's timestamp for the key (NULL if
      none): half-open ``[valid_from, valid_to)`` intervals, so a
      point-in-time lookup is ``valid_from <= t AND (valid_to IS NULL
      OR t < valid_to)`` and exactly one version matches any t,
    - ``is_current`` — true iff ``valid_to`` is NULL.

    A delete row ('D' in ``op_col``) closes the preceding version's
    interval at the delete timestamp and emits NO row of its own — a
    key deleted and re-inserted shows a gap, and a key whose LAST
    change is a delete has no current row. Without ``op_col`` every
    row is an upsert.

    ``collapse_unchanged=True`` merges consecutive versions whose
    payload is byte-identical (a recrawl that re-fetched the same
    bytes) into one interval: ``valid_from`` keeps the FIRST fetch's
    timestamp, ``valid_to`` extends to the next real change. Runs of
    equal payloads are found with one ``lag`` + running-sum group id
    over the same (key, ts) sort the interval pass uses.
    """
    if op_col is None:
        changes = changes.withColumn("__op", F.lit("U"))
        op_col = "__op"
    deduped = _lww_dedup(changes, key_col, ts_col, tiebreak_col)

    w = Window.partitionBy(key_col).orderBy(ts_col)
    if collapse_unchanged:
        # A row opens a new version group iff it is a delete, follows a
        # delete (re-insert after a gap), is the key's first row, or
        # changed payload. Group id = running count of openers.
        same_payload = F.lit(True)
        for c in payload_cols:
            # eqNullSafe: NULL ≡ NULL is true, value vs NULL is false —
            # plain == would leave the opener predicate NULL and the
            # running sum would silently skip the row.
            same_payload = same_payload & F.col(c).eqNullSafe(
                F.lag(F.col(c)).over(w)
            )
        prev_op = F.lag(F.col(op_col)).over(w)
        opener = (
            (F.col(op_col) == "D")
            | prev_op.isNull()
            | (prev_op == "D")
            | ~same_payload
        )
        grouped = deduped.withColumn(
            "__grp", F.sum(opener.cast("long")).over(w)
        )
        # One survivor per group: the earliest row (its ts is the
        # group's valid_from). Later members only re-confirmed the
        # payload; their timestamps must NOT split the interval.
        w_grp = Window.partitionBy(key_col, "__grp").orderBy(ts_col)
        deduped = (
            grouped.withColumn("__grn", F.row_number().over(w_grp))
            .filter(F.col("__grn") == 1)
            .drop("__grn", "__grp")
        )

    out = deduped.withColumn("valid_to", F.lead(F.col(ts_col)).over(w))
    out = (
        out.filter(F.col(op_col) != "D")
        .withColumn("is_current", F.col("valid_to").isNull())
        .withColumnRenamed(ts_col, "valid_from")
    )
    cols = [key_col, "valid_from", "valid_to", "is_current", *payload_cols]
    return out.select(*cols)


def history_to_changes(
    history: DataFrame,
    key_col: str,
    payload_cols: list[str],
    op_col: str = "op",
    ts_col: str = "ts",
) -> DataFrame:
    """Invert ``scd2_history``: reconstruct the change log a history
    table encodes (one 'U' per version at its ``valid_from``, plus one
    synthetic 'D' wherever an interval closed WITHOUT a successor
    starting at that instant — the key's last version, AND any
    mid-timeline gap left by a delete-then-reinsert).

    Round-trip contract (tested): ``scd2_history(history_to_changes(h))
    == h`` for any h built by ``scd2_history``. This is what lets
    ``scd2_apply`` rebuild a touched key from its stored history plus
    the new batch without keeping the original log around.
    """
    upserts = history.select(
        F.col(key_col),
        F.col("valid_from").alias(ts_col),
        F.lit("U").alias(op_col),
        *[F.col(c) for c in payload_cols],
    )
    # An interval that closed at t with no successor opening at t means
    # a delete happened at t (intervals never overlap, so the only
    # other closure cause — the next version — always opens AT t).
    w = Window.partitionBy(key_col).orderBy("valid_from")
    deletes = (
        history.withColumn("__next_from", F.lead("valid_from").over(w))
        .filter(
            F.col("valid_to").isNotNull()
            & (
                F.col("__next_from").isNull()
                | (F.col("__next_from") != F.col("valid_to"))
            )
        )
        .select(
            F.col(key_col),
            F.col("valid_to").alias(ts_col),
            F.lit("D").alias(op_col),
            *[F.lit(None).cast(history.schema[c].dataType).alias(c) for c in payload_cols],
        )
    )
    return upserts.unionByName(deletes)


def scd2_apply(
    history: DataFrame,
    batch: DataFrame,
    key_col: str,
    ts_col: str,
    payload_cols: list[str],
    op_col: str | None = None,
    tiebreak_col: str | None = None,
    collapse_unchanged: bool = False,
    broadcast_keys_limit: int = BROADCAST_KEYS_LIMIT,
) -> DataFrame:
    """Apply one new change batch to an existing Type-2 history,
    touching ONLY the batch's keys.

    Untouched keys pass through a broadcast LEFT ANTI join (the batch
    key set is the small side — history itself never shuffles); touched
    keys are rebuilt from ``history_to_changes`` of their stored rows
    unioned with the batch, through the same ``scd2_history`` kernel —
    so incremental-apply ≡ full-rebuild is an identity by construction,
    and the property test asserts it row-for-row.

    Late-arriving changes (a batch row OLDER than the key's current
    version) are handled exactly: the rebuild re-sorts the key's full
    version list, splicing the late row into the middle of the
    timeline rather than corrupting the head.

    ``broadcast_keys_limit``: the batch key set is broadcast for the
    anti/semi joins only below this count — a bulk-load batch above it
    falls back to ordinary shuffle joins, trading one history exchange
    for not materializing a giant broadcast on every executor. The
    check costs one count on the (already tiny) distinct-key frame.
    """
    keys = batch.select(key_col).distinct()
    if keys.count() <= broadcast_keys_limit:
        keys = F.broadcast(keys)
    untouched = history.join(keys, on=key_col, how="left_anti")
    touched_hist = history.join(keys, on=key_col, how="left_semi")
    op = op_col or "op"
    replay = history_to_changes(
        touched_hist, key_col, payload_cols, op_col=op, ts_col=ts_col
    )
    if tiebreak_col is not None:
        # Stored history replays BELOW any batch row at the same ts:
        # the batch is the newer writer.
        replay = replay.withColumn(tiebreak_col, F.lit(-1).cast("long"))
        batch = batch.withColumn(
            tiebreak_col, F.col(tiebreak_col).cast("long")
        )
    if op_col is None:
        batch = batch.withColumn(op, F.lit("U"))
    rebuilt = scd2_history(
        replay.unionByName(batch.select(*replay.columns)),
        key_col,
        ts_col,
        payload_cols,
        op_col=op,
        tiebreak_col=tiebreak_col,
        collapse_unchanged=collapse_unchanged,
    )
    return untouched.unionByName(rebuilt)


def asof_lookup(history: DataFrame, ts, ts_type: str = "long") -> DataFrame:
    """Point-in-time slice of a Type-2 history: the one version of each
    key whose interval covers ``ts`` (half-open, so a version starting
    exactly at ``ts`` matches and one ending at ``ts`` does not)."""
    t = F.lit(ts).cast(ts_type)
    return history.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (t < F.col("valid_to")))
    ).drop("is_current")


def prune_history(
    history: DataFrame,
    key_col: str,
    older_than,
    keep_last: int = 1,
) -> DataFrame:
    """Retention policy on a Type-2 history: drop versions whose
    interval ENDED before ``older_than`` (their ``valid_to`` — the
    moment they stopped being true — is older than the horizon),
    keeping (a) every open/current version — a history whose current
    state was pruned away is not a history; a GDPR-style full purge of
    a key is a plain filter (``history.filter(col(key) != ...)``) and
    needs no helper — and (b) the ``keep_last`` most recent
    CLOSED versions of each key even when expired, so a point-in-time
    query just behind the horizon still resolves (the Delta/Iceberg
    "keep N snapshots past retention" discipline at row granularity).

    Plan: one window (row_number over closed versions per key, ordered
    valid_to DESC — group size = versions-per-key, bounded) + one
    filter; no joins. The pruned frame remains a valid history for
    ``asof_lookup`` at any t ≥ the horizon (tested)."""
    w = Window.partitionBy(key_col).orderBy(F.col("valid_to").desc())
    closed_rank = F.when(
        F.col("valid_to").isNotNull(), F.row_number().over(w)
    )
    out = history.withColumn("__cr", closed_rank)
    keep = F.col("valid_to").isNull()
    keep = keep | (F.col("valid_to") >= F.lit(older_than))
    keep = keep | (F.col("__cr") <= F.lit(int(keep_last)))
    return out.filter(keep).drop("__cr")
