"""CDC replay pipeline: change-batch discovery → schema evolution → LWW
MERGE → exactly-once commit → checkpoint/resume.

This is the engine the north rule describes (BASELINE.json): it tails a
directory of CSV/JSON-encoded change batches (op ∈ {I,U,D} keyed by url),
applies each batch to a LakeTable via the keyed merge in lake/merge.py, and
records a checkpoint manifest after every committed batch with lineage and
per-partition metrics (FIXTURES.md §A4 shape). Re-running a committed batch
is a no-op at BOTH layers: the checkpoint skips it, and even without the
checkpoint the table's lineage fence rejects the duplicate commit.

Replay order = deterministic filename sort — the reference's input-sort
discipline (util/FilesUtils.kt:70-84) is the replay-order contract here.
Schema epochs: a batch whose header differs from the table schema triggers
additive evolution (new columns appended) and/or renames declared in the
batch's sidecar ``<batch>.meta.json`` (FIXTURES.md §A3), applied to table
metadata in lockstep BEFORE the batch data is merged — the reference's
epoch-split behavior (util/FilesUtils.kt:288-327) generalized from
"separate tables per epoch" to "one evolving table".
"""

from __future__ import annotations

import csv
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import LakeTable, _atomic_write_json
from ..session import conf_bytes
from ..sources.discovery import filter_paths

PAGES_FIELDS: list[tuple[str, str]] = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


def read_change_batch(
    spark: SparkSession, path: str, with_reject_reason: bool = False
) -> DataFrame:
    """Read one change-batch file into the canonical event frame:
    op, url, warc_ts(timestamp), html(binary), lang/…extras, row_idx.

    CSV batches carry html as base64 (FIXTURES.md §A2); JSON batches carry
    it as a base64 string field too.

    ``row_idx`` is the in-file order — the LWW tiebreak — and must stay
    correct under a SPLIT-PARALLEL scan (a 1 GiB binlog segment must not
    parse on one task). ``monotonically_increasing_id`` alone is wrong for
    that: Spark orders splits by size for bin-packing, so partition index
    does not follow file offset. Instead the order key is
    ``file_block_start * 2^20 + partition-local counter``: block start is
    the split's byte offset in the file (``_metadata`` column, constant
    per split), the local counter (low 33 bits of the monotonic id) is the
    in-split line number. Monotone in file order for any split order, any
    parallelism. The 2^20 factor is safe while a split holds < 1M lines —
    guaranteed by maxPartitionBytes ≤ 128 MiB and base64-html lines > 128 B.
    """
    _check_split_bound(spark)
    if path.endswith(".json"):
        # JSON-lines batches are split-parallel the same way
        raw = spark.read.json(path)
    else:
        # the header names the columns, all strings: read it here rather
        # than let Spark run a job for it
        with open(path, newline="", encoding="utf-8-sig") as f:
            header = next(csv.reader(f), [])
        raw = (
            spark.read.schema(
                T.StructType([T.StructField(c, T.StringType()) for c in header])
            )
            .option("header", True)
            .option("mode", "FAILFAST")
            .csv(path)
        )
    cols = raw.columns
    local_counter = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    df = raw.select(
        *cols,
        (
            F.col("_metadata.file_block_start") * F.lit(1 << 20) + local_counter
        ).alias("row_idx"),
    )
    # try_to_timestamp: malformed warc_ts → NULL (ANSI to_timestamp would
    # kill the replay); a null-version event loses LWW to any non-null
    # existing row — the same rule the MOR read fold applies
    df = df.withColumn("__ts_raw", F.col("warc_ts")).withColumn(
        "warc_ts", F.try_to_timestamp("warc_ts")
    )
    if with_reject_reason:
        # classification instead of silent tolerance — the DLQ path
        # (CdcPipeline(on_malformed="dlq")) quarantines these rows.
        # Null-handling is load-bearing: a NULL op makes isin() NULL
        # (not true), so the null test comes first or the row slips
        # through as clean; and a D-row's unparseable timestamp is NOT
        # exempt — a null-version delete silently loses LWW to any
        # existing row, which is exactly the kind of no-op the DLQ must
        # surface (empty timestamps stay fine: __ts_raw null ⇒ no claim
        # a value was malformed).
        reject = (
            F.when(F.col("url").isNull(), "null_key")
            .when(
                F.col("op").isNull() | ~F.col("op").isin("I", "U", "D"),
                "unknown_op",
            )
            .when(
                F.col("__ts_raw").isNotNull() & F.col("warc_ts").isNull(),
                "bad_timestamp",
            )
        )
        # __ts_raw is kept: the raw malformed value must travel with the
        # quarantined row — a DLQ entry whose bad timestamp was already
        # nulled can't be inspected or repaired
        df = df.withColumn("__reject", reject)
    else:
        # a keyless event is undeliverable: it can't hash to a bucket and
        # can't match any row — drop it with the same malformed-input
        # tolerance as try_to_timestamp (Spark reads an empty CSV field as
        # null; FAILFAST only checks token counts)
        df = df.filter(F.col("url").isNotNull())
        df = df.drop("__ts_raw")
    df = df.withColumn("html", F.unbase64(F.col("html")))
    for c in cols:
        if c in ("op", "url", "warc_ts", "html"):
            continue
        if c in ("fetch_status",):
            df = df.withColumn(c, F.col(c).cast("int"))
    return df


ROW_IDX_SPLIT_BOUND = 128 << 20  # 128 MiB: the bound the 2^20 gap math assumes


def _check_split_bound(spark: SparkSession) -> None:
    """Enforce the convention row_idx's gap math relies on (don't trust
    callers): with maxPartitionBytes > 128 MiB, a tombstone-heavy batch
    (~50-byte lines) could exceed 2^20 lines per split and the
    block_start*2^20 + local-counter key would stop being monotone in
    file order, silently mis-breaking LWW warc_ts ties."""
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    if conf_bytes(raw) > ROW_IDX_SPLIT_BOUND:
        raise ValueError(
            f"spark.sql.files.maxPartitionBytes={raw} exceeds the "
            f"{ROW_IDX_SPLIT_BOUND}-byte bound read_change_batch's row_idx "
            "ordering assumes (<= 1M lines per split); set it to 128m or "
            "lower (get_spark's default is safe)"
        )


def batch_meta(path: str) -> dict:
    meta_path = path + ".meta.json"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    return {}


def discover_batches(
    batch_dir: str, include: str | None = None, exclude: str | None = None
) -> list[str]:
    """The change batches under ``batch_dir`` in replay order: ``.csv`` and
    ``.json`` files (not ``.meta.json`` sidecars), filtered, sorted."""
    files = [
        os.path.join(batch_dir, f)
        for f in os.listdir(batch_dir)
        if f.endswith((".csv", ".json")) and not f.endswith(".meta.json")
    ]
    return sorted(filter_paths(files, include, exclude))


_EVENT_META_COLS = {"op", "row_idx"}


class CdcPipeline:
    """Replay a change log into a LakeTable with exactly-once commits.

    Per batch, the Spark actions run in this order, and each only when
    its feature is on:

    1. none for the batch read: ``read_change_batch`` takes a CSV
       batch's header from the file in Python, and the parse runs inside
       the actions below. The parsed batch is persisted with
       ``on_malformed='dlq'``, the evaluated batch with expectations, so
       later actions do not rescan the source;
    2. ``partial_updates``: one collect of the placeholder keys with their
       bucket ids, then the bucket-pruned point lookup, which scans with
       the manifest schema and so runs no footer-inference job;
    3. ONE counting aggregate (``expectations.violation_counts``) over the
       persisted evaluated batch: every rule's violations, the dropped and
       quarantined rows, and the parser's reject rows. With
       ``on_malformed='dlq'`` and no expectations this is a plain count of
       the reject rows;
    4. a ``fail`` rule with violations aborts here, before anything is
       written;
    5. the dead-letter write (``dlq/<batch_id>``) and the quarantine write
       (``dlq/<batch_id>.expect``), each only when its count is non-zero;
    6. the merge-on-read delta write and its snapshot commit, then a
       compaction when a trigger fires, and the checkpoint.
    """

    def __init__(
        self,
        table_path: str,
        checkpoint_path: str | None = None,
        n_buckets: int = 16,
        compact_every: int = 16,
        compact_delta_bytes: int = 4 << 30,
        keep_snapshots: int | None = None,
        catalog=None,
        on_malformed: str = "drop",
        expectations=None,
        partial_updates: str | None = None,
    ):
        """Each batch is an O(batch) merge-on-read delta append with
        read-time LWW resolution, auto-compacted every ``compact_every``
        stacked delta epochs OR when any single bucket accumulates
        ``compact_delta_bytes`` of deltas (hot-key version pile-up —
        the bytes trigger compacts just the overloaded buckets).
        ``keep_snapshots``: if set, expire older snapshots (and their
        orphaned files) after each compaction — bounds on-disk history
        for long replays. ``catalog``: a
        :class:`~csv_cruncher_spark.lake.catalog.SnapshotCatalog` for the
        table's snapshot-pointer storage (default: local-FS flock+rename;
        pass a conditional-write catalog on object stores).
        ``on_malformed``: ``'drop'`` (default) keeps the lenient
        semantics — keyless rows silently dropped, unparseable
        timestamps become null versions; ``'dlq'`` quarantines keyless /
        unknown-op / bad-timestamp rows to ``<table>/dlq/<batch_id>``
        parquet with a ``__reject`` reason instead of applying them, and
        records per-batch rejected counts in the checkpoint.
        ``expectations``: optional list of
        :class:`~csv_cruncher_spark.cdc.expectations.Expectation` row
        predicates evaluated on every parsed batch in one pass —
        ``warn`` counts, ``drop`` removes, ``dlq`` quarantines (to
        ``<table>/dlq/<batch_id>.expect``), ``fail`` aborts the batch
        before staging (table and checkpoint untouched; the batch
        retries on the next run). Per-rule violation counts land in the
        checkpoint under ``expectation_violations[batch_id]``.
        ``partial_updates``: a placeholder string (e.g.
        ``cdc.patch.DEBEZIUM_PLACEHOLDER``) marking elided unchanged
        columns in sparse change events (Postgres TOAST / Debezium);
        placeholders resolve from earlier in-batch rows first, then
        from the table's current row via a bucket-pruned point lookup
        (O(batch), never a table scan) — see ``cdc/patch.py``. Binary
        columns carry the placeholder as their decoded bytes."""
        if on_malformed not in ("drop", "dlq"):
            raise ValueError(
                f"on_malformed must be 'drop' or 'dlq', got {on_malformed!r}"
            )
        self.table_path = table_path
        self.checkpoint_path = checkpoint_path or os.path.join(table_path, "checkpoint.json")
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        self.compact_delta_bytes = compact_delta_bytes
        self.keep_snapshots = keep_snapshots
        self.catalog = catalog
        self.on_malformed = on_malformed
        self.partial_updates = partial_updates
        self.expectations = list(expectations or [])
        if self.expectations:
            from .expectations import Expectation

            for e in self.expectations:
                if not isinstance(e, Expectation):
                    raise TypeError(f"expected Expectation, got {type(e)!r}")
        # test hooks (SURVEY.md §7.5 trap 1)
        self.fail_after_data_write_on: set[str] = set()
        self.fail_before_checkpoint_on: set[str] = set()

    # ---------- checkpoint ----------

    def load_checkpoint(self) -> dict:
        if os.path.exists(self.checkpoint_path):
            with open(self.checkpoint_path) as f:
                return json.load(f)
        return {
            "epoch_id": -1,
            "batches_applied": [],
            "per_partition": {},
            "lineage": [],
            "schema_version": 1,
        }

    def _write_checkpoint(self, ckpt: dict) -> None:
        _atomic_write_json(self.checkpoint_path, ckpt)

    # ---------- table ----------

    def ensure_table(self) -> LakeTable:
        t = LakeTable(self.table_path, self.catalog)
        if t.catalog.load_pointer() is not None:
            return t
        return LakeTable.create(
            self.table_path,
            PAGES_FIELDS,
            key_col="url",
            n_buckets=self.n_buckets,
            catalog=self.catalog,
        )

    # ---------- replay ----------

    def run(
        self,
        spark: SparkSession,
        batch_dir: str,
        include: str | None = None,
        exclude: str | None = None,
        max_batches: int | None = None,
    ) -> dict:
        """Apply all un-applied batches in replay order; resumable at any
        point. Returns the final checkpoint dict."""
        table = self.ensure_table()
        ckpt = self.load_checkpoint()
        applied = set(ckpt["batches_applied"])
        batches = discover_batches(batch_dir, include, exclude)
        done = 0
        for path in batches:
            batch_id = os.path.basename(path)
            if batch_id in applied:
                continue
            if max_batches is not None and done >= max_batches:
                break
            # optimistic-concurrency retry: if another writer advanced the
            # manifest between staging and publish, reprocess the batch
            # against the new tip — identical machinery to crash-resume,
            # and the commit fence makes a racer's SAME-batch commit turn
            # the retry into a no-op. Failed attempts leave orphan data
            # files, like crashes (harmless, never referenced).
            from ..lake.table import ConcurrentCommitError

            for attempt in range(3):
                try:
                    self._apply_one(spark, table, path, batch_id, ckpt)
                    break
                except ConcurrentCommitError:
                    if attempt == 2:
                        raise
            applied.add(batch_id)
            done += 1
        return ckpt

    def _apply_one(
        self, spark: SparkSession, table: LakeTable, path: str, batch_id: str, ckpt: dict
    ) -> None:
        rejected = 0
        parsed = bad = None
        if self.on_malformed == "dlq":
            # persist the parsed batch: the reject count, the quarantine
            # write and the apply below would otherwise each rescan the
            # source
            parsed = read_change_batch(spark, path, with_reject_reason=True).persist()
            bad = parsed.filter(F.col("__reject").isNotNull()).withColumnRenamed(
                "__ts_raw", "warc_ts_raw"
            )
            df = parsed.filter(F.col("__reject").isNull()).drop(
                "__reject", "__ts_raw"
            )
        else:
            df = read_change_batch(spark, path)
        meta = batch_meta(path)
        renames = meta.get("renames") or {}

        counts = None
        ev = None
        if self.partial_updates:
            # resolve sparse events BEFORE the quality gate: a payload
            # rule must judge the value the placeholder stands for, not
            # the placeholder string — evaluated-first ordering
            # quarantined legitimate rows (or fail-aborted the batch
            # unretryably) whenever both features were on
            from .patch import resolve_against_table

            df = resolve_against_table(
                spark, df, table, placeholder=self.partial_updates
            )
        if self.expectations:
            from .expectations import (
                ExpectationFailed,
                evaluate,
                route,
                violation_counts,
            )

            # rules are written against the column names the operator
            # knows: a renamed column still answers to its pre-rename
            # name, for evaluation only
            shadow = _pre_rename_aliases(table, renames, df.columns)
            # one evaluated+persisted frame serves the counting aggregate,
            # the routing filters, and the apply below — the batch source
            # is scanned once. The aggregate also counts the parser's
            # reject rows, so the batch runs one counting action in all.
            ev = (
                evaluate(
                    df.select("*", *[F.col(n).alias(o) for o, n in shadow.items()]),
                    self.expectations,
                )
                .drop(*shadow)
                .persist()
            )
            counts = violation_counts(ev, self.expectations, rejected=bad)
            rejected = counts.rejected
            fail_counts = {
                r.name: counts.rules[r.name]
                for r in self.expectations
                if r.action == "fail" and counts.rules[r.name]
            }
            if fail_counts:
                ev.unpersist()
                if parsed is not None:
                    parsed.unpersist()
                # nothing staged, nothing written, nothing committed: the
                # batch simply has not happened yet; a re-run retries it
                raise ExpectationFailed(batch_id, fail_counts)
        elif bad is not None:
            rejected = bad.count()
        if rejected:
            bad.write.mode("overwrite").parquet(
                os.path.join(self.table_path, "dlq", batch_id)
            )
        if counts is not None:
            passed, _dropped, quarantined = route(ev, self.expectations)
            if counts.quarantined:
                quarantined.withColumn(
                    "__reject",
                    F.concat(
                        F.lit("expect:"), F.array_join(F.col("__viol"), ",")
                    ),
                ).write.mode("overwrite").parquet(
                    os.path.join(self.table_path, "dlq", batch_id + ".expect")
                )
            df = passed

        # --- schema evolution in lockstep with the stream ---
        snap = table.snapshot()
        cur_names = {f["name"] for f in table.current_fields(snap)}
        batch_extra = [
            c for c in df.columns if c not in cur_names and c not in _EVENT_META_COLS
        ]
        # a renamed column arrives under its new name; don't treat it as additive
        rename_targets = set(renames.values())
        add_cols = [
            (c, _infer_lake_type(df.schema[c].dataType))
            for c in batch_extra
            if c not in rename_targets
        ]
        effective_renames = {
            old: new for old, new in renames.items() if old in cur_names
        }
        if add_cols or effective_renames:
            snap = table.evolve_schema(add_columns=add_cols, renames=effective_renames)

        epoch_id = snap["epoch_id"] + 1 if snap["epoch_id"] >= 0 else 0
        # looked up per call, so a wrapper installed on lake.merge (the
        # per-layer tracer of perfbench/) sees every apply
        from ..lake.merge import apply_batch_mor

        new_snap = apply_batch_mor(
            spark,
            table,
            df,
            epoch_id=epoch_id,
            batch_id=batch_id,
            staged_snapshot=snap,
            fail_after_data_write=batch_id in self.fail_after_data_write_on,
        )
        heavy = sorted(
            b
            for b, n in table.delta_bytes_per_bucket(new_snap).items()
            if n >= self.compact_delta_bytes
        )
        if table.delta_epoch_depth(new_snap) >= self.compact_every:
            new_snap = table.compact(spark)  # full fold on depth trigger
        elif heavy:
            # bytes trigger: bucket-pruned compaction of just the
            # overloaded buckets (hot-key version pile-up; cost is
            # proportional to the touched slices, not the table)
            new_snap = table.compact(spark, buckets=heavy)
        if new_snap.get("batch_id") is None and self.keep_snapshots is not None:
            table.expire_snapshots(keep_last=self.keep_snapshots)
        if batch_id in self.fail_before_checkpoint_on:
            raise RuntimeError("injected crash between commit and checkpoint write")

        # --- checkpoint manifest (FIXTURES.md §A4) ---
        per_part: dict[str, dict] = {}
        for f in new_snap["files"]:
            slot = per_part.setdefault(
                str(f["bucket"]),
                {"offset": new_snap["epoch_id"], "rows": 0, "bytes": 0, "files": 0},
            )
            r = f.get("rows")
            slot["rows"] = None if (r is None or slot["rows"] is None) else slot["rows"] + r
            slot["bytes"] += int(f.get("bytes", 0))
            slot["files"] += 1
        if parsed is not None:
            parsed.unpersist()
        if ev is not None:
            ev.unpersist()
        ckpt["epoch_id"] = new_snap["epoch_id"]
        ckpt["batches_applied"] = ckpt["batches_applied"] + [batch_id]
        if self.on_malformed == "dlq":
            rej = dict(ckpt.get("rejected_rows", {}))
            rej[batch_id] = rejected
            ckpt["rejected_rows"] = rej
        if counts is not None:
            exp = dict(ckpt.get("expectation_violations", {}))
            exp[batch_id] = {
                "rules": counts.rules,
                "dropped": counts.dropped,
                "quarantined": counts.quarantined,
            }
            ckpt["expectation_violations"] = exp
        ckpt["per_partition"] = per_part
        ckpt["lineage"] = new_snap["lineage"]
        ckpt["schema_version"] = new_snap["schema_version"]
        self._write_checkpoint(ckpt)


def _pre_rename_aliases(
    table: LakeTable, renames: dict[str, str], cols: list[str]
) -> dict[str, str]:
    """Earlier name -> batch column, for each batch column that had another
    name before: renamed by this batch's sidecar (not applied yet), or by
    an earlier batch's (an earlier schema version gave the field id
    another name; later batches need not carry the sidecar). An earlier
    name a current column took over is not aliased."""
    snap = table.snapshot()
    cur = {f["id"]: f["name"] for f in table.current_fields(snap)}
    cur_names = set(cur.values())
    prior = dict(renames)
    for fields in snap["schemas"].values():
        for f in fields:
            new = cur.get(f["id"])
            if new is not None and f["name"] != new and f["name"] not in cur_names:
                prior.setdefault(f["name"], new)
    return {
        old: new for old, new in prior.items() if new in cols and old not in cols
    }


def _infer_lake_type(dt: T.DataType) -> str:
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return "string"
