"""Incremental materialized-view maintenance over the change feed.

A CDC table's downstream aggregates should not be recomputed from a full
table scan every time a batch lands. With pre-images
(``changes_between(..., with_before=True)``, the Delta-CDF
``update_preimage`` shape) every *distributive* aggregate — COUNT, SUM,
and AVG as SUM/COUNT — can be maintained exactly by applying
O(changed keys) retractions (+1 per appearing row, -1 per disappearing
row), the classic counting algorithm from the materialized-view
literature (Gupta/Mumick et al.). MIN/MAX are not self-maintainable
under deletion (a retraction of the current extremum needs a rescan of
the group), so they live behind a separate API —
:func:`apply_changes_to_minmax` — whose signature TAKES the post-batch
state and re-aggregates ONLY the endangered groups through a semi-join:
the rescan is explicit and bounded, never a table scan hidden inside an
"incremental" call.

Scale shape at 100 TB: the maintained aggregate is typically orders of
magnitude smaller than the table and a change batch is batch-sized, so
the whole update is one partial-combined ``groupBy`` over
``|agg| + 2·|changes|`` rows — no table scan, shuffle bounded by the
aggregate's own size. For an aggregate too large to rewrite,
:func:`agg_delta` returns only the NET per-group deltas so the caller
can upsert the touched groups into a keyed store (e.g. a second
``LakeTable``) instead of folding into a full frame.

Durable views: :class:`MaintainedAggregate` and every view built on it
(:class:`MaintainedExtrema`, the HLL sketch, vocabulary and link-graph
views) persist through :mod:`.view_store` — one crash-safe state pointer
— and refresh through its one bootstrap/refresh loop; each class supplies
only its aggregate algebra (``_compute``/``_apply``).

The reference engine has no incremental layer at all — every query
recomputes from the freshly imported tables
(/root/reference/src/main/kotlin/cz/dynawest/csvcruncher/Cruncher.kt:59);
this module is part of the from-scratch CDC surface the north rule asks
for, built on the feed the manifest lake and the Iceberg changelog both
provide.

Exactness notes (these make the maintained result BIT-EQUAL to a
recompute, which the DuckDB-oracled entry ``ivm_event_type_stats``
checks):

- per SUM measure a non-null count ``<name>_nn`` is maintained, and the
  sum is NULLed whenever its non-null count is 0 — SQL's ``SUM`` over
  no (non-null) rows is NULL, while naive retraction would leave a
  stored 0. Nulling is self-consistent: with nothing left to retract,
  the next maintenance round's ``SUM`` simply restarts from the new
  contributions.
- retraction arithmetic over floating-point measures is exact only up
  to float associativity; for hash-exact parity with a recompute use
  integer measures (the oracle entry sums value-cents as BIGINT).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from . import view_store
from .view_store import EpochView


def diff_states(pre: DataFrame, post: DataFrame, key: str) -> DataFrame:
    """NET I/U/D diff of two keyed states with pre-images — the same
    output contract as ``LakeTable.changes_between(with_before=True)``
    (``__op`` + post's columns + ``__before`` struct), computed from two
    arbitrary DataFrames instead of table history. Use it to feed
    :func:`apply_changes_to_agg` when the endpoints come from somewhere
    other than a lake table (snapshot exports, a reprocessed partition,
    the oracle entry's pure-DataFrame pipeline).

    One full-outer equi-join on the key; content comparison is a single
    ``xxhash64`` over all columns (null-safe), so unchanged keys are
    suppressed without comparing column-by-column. Both sides must share
    the schema (same columns/types).
    """
    cols = post.columns
    if pre.columns != cols:
        raise ValueError(
            f"diff_states needs identical schemas; pre={pre.columns} "
            f"post={cols}"
        )
    if key not in cols:
        raise ValueError(f"key column {key!r} not in {cols}")
    struct_all = F.struct(*[F.col(c) for c in cols])
    pre_f = pre.select(
        F.col(key).alias("__pk"),
        F.xxhash64(struct_all).alias("__h_old"),
        struct_all.alias("__before"),
    )
    post_f = post.withColumn("__h_new", F.xxhash64(struct_all))
    j = post_f.join(pre_f, post_f[key] == pre_f["__pk"], "full_outer")
    op = (
        F.when(F.col("__pk").isNull(), F.lit("I"))
        .when(F.col(key).isNull(), F.lit("D"))
        .when(F.col("__h_new") != F.col("__h_old"), F.lit("U"))
    )
    out = j.withColumn("__op", op).filter(F.col("__op").isNotNull())
    keyed = [
        F.coalesce(F.col(c), F.col("__pk")).alias(c) if c == key else F.col(c)
        for c in cols
    ]
    # D rows: non-key data columns nulled (feed parity), old content in
    # __before; I rows: __before is the null struct from the outer join
    data = [
        F.when(F.col("__op") == "D", F.lit(None)).otherwise(c_expr).alias(c)
        if c != key
        else c_expr
        for c, c_expr in zip(cols, keyed)
    ]
    return out.select("__op", *data, "__before")


def derive(changes: DataFrame, **exprs) -> DataFrame:
    """Add derived measure columns to BOTH the post-image row and the
    ``__before`` pre-image struct, preserving the feed shape — for
    measures computed from payload columns (e.g. ``length(text)``) that
    are not physically stored in the table. Each value is a callable
    taking a column resolver, so the same expression evaluates against
    either image::

        derive(feed, text_len=lambda c: F.length(c("text")))

    D rows get a NULL post-image derivation (their payload columns are
    null), which is correct: a delete contributes only a retraction.
    """
    bt = changes.schema["__before"].dataType
    out = changes
    new_before = [F.col(f"__before.{f.name}").alias(f.name) for f in bt.fields]
    for name, fn in exprs.items():
        out = out.withColumn(name, fn(lambda c: F.col(c)))
        new_before.append(
            fn(lambda c: F.col(f"__before.{c}")).alias(name)
        )
    return out.withColumn(
        "__before",
        F.when(F.col("__before").isNotNull(), F.struct(*new_before)),
    )


def _nn(name: str) -> str:
    return f"{name}_nn"


def _contrib(
    changes: DataFrame,
    group_cols: list[str],
    sums: dict[str, str],
    count_col: str,
    side: str,
) -> DataFrame:
    """± contribution rows for one side of the feed: ``before`` retracts
    the pre-image (weight -1), ``after`` adds the post-image (weight +1,
    D rows excluded — a delete has no post-image)."""
    if side == "before":
        src = changes.filter(F.col("__before").isNotNull())
        get = lambda c: F.col(f"__before.{c}")  # noqa: E731
        w = -1
    else:
        src = changes.filter(F.col("__op") != "D")
        get = F.col
        w = 1
    proj: list[Column] = [get(g).alias(g) for g in group_cols]
    proj.append(F.lit(w).cast("long").alias(count_col))
    for name, src_col in sums.items():
        v = get(src_col)
        # a NULL measure contributes nothing to the sum (SQL SUM skips
        # nulls) and nothing to the non-null count — in either direction
        proj.append((F.lit(w) * v).alias(name))
        proj.append(
            F.when(v.isNotNull(), F.lit(w)).otherwise(F.lit(0))
            .cast("long")
            .alias(_nn(name))
        )
    return src.select(*proj)


def compute_agg(
    state: DataFrame,
    group_cols: list[str],
    sums: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Bootstrap the maintainable aggregate from a full state read:
    ``group_cols`` + row count + one (SUM, non-null count) pair per
    measure. ``sums`` maps output column name -> source column. The
    result is what :func:`apply_changes_to_agg` expects and returns, so
    maintenance can chain batch after batch."""
    aggs = [F.count(F.lit(1)).alias(count_col)]
    for name, src_col in sums.items():
        aggs.append(F.sum(src_col).alias(name))
        aggs.append(F.count(src_col).alias(_nn(name)))
    return state.groupBy(*group_cols).agg(*aggs)


def agg_delta(
    changes: DataFrame,
    group_cols: list[str],
    sums: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """NET per-group aggregate delta of one change batch: the weighted
    union of retractions and additions, combined per group. All-zero
    groups (an update that left this aggregate unchanged, e.g. same
    group and same measure values) are suppressed so a downstream
    keyed upsert touches only groups that actually moved."""
    contrib = _contrib(changes, group_cols, sums, count_col, "before").unionByName(
        _contrib(changes, group_cols, sums, count_col, "after")
    )
    names = [count_col] + [c for n in sums for c in (n, _nn(n))]
    out = contrib.groupBy(*group_cols).agg(
        *[F.sum(n).alias(n) for n in names]
    )
    nonzero = F.lit(False)
    for n in [count_col] + [_nn(n) for n in sums] + list(sums):
        nonzero = nonzero | (F.coalesce(F.col(n), F.lit(0)) != 0)
    return out.filter(nonzero)


def apply_changes_to_agg(
    agg: DataFrame,
    changes: DataFrame,
    group_cols: list[str],
    sums: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Fold one change batch (``__op`` + row + ``__before``, from
    ``changes_between(with_before=True)`` or :func:`diff_states`) into a
    maintained aggregate produced by :func:`compute_agg` (or a previous
    call of this function). Returns the updated aggregate:

    - groups whose row count reaches 0 are dropped (group death),
    - a SUM whose non-null count reaches 0 becomes NULL (recompute
      parity — see module docstring).

    One union + one partial-combined groupBy; never scans the table.
    """
    names = [count_col] + [c for n in sums for c in (n, _nn(n))]
    for n in names:
        if n not in agg.columns:
            raise ValueError(
                f"aggregate is missing maintained column {n!r} — build it "
                f"with compute_agg(group_cols={group_cols}, sums={sums})"
            )
    contrib = _contrib(changes, group_cols, sums, count_col, "before").unionByName(
        _contrib(changes, group_cols, sums, count_col, "after")
    )
    merged = agg.select(*group_cols, *names).unionByName(contrib)
    out = merged.groupBy(*group_cols).agg(
        *[F.sum(n).alias(n) for n in names]
    )
    out = out.filter(F.col(count_col) > 0)
    fixed = [
        F.when(F.col(_nn(n)) > 0, F.col(n)).otherwise(F.lit(None)).alias(n)
        if n in sums
        else F.col(n)
        for n in [count_col] + [c for s in sums for c in (s, _nn(s))]
    ]
    return out.select(*group_cols, *fixed)


class MaintainedAggregate(EpochView):
    """A durable, incrementally-maintained aggregate over a
    :class:`~csv_cruncher_spark.lake.table.LakeTable` — the piece that
    turns the primitives above into an operational materialized view:
    pair it with the change-log tailer and the aggregate follows the
    table (``tailer.poll_once(spark); mv.refresh(spark)``) at
    O(changed keys) per poll, never a table scan after bootstrap.

    Persistence and the refresh loop are :mod:`.view_store`'s: each
    refresh writes the updated aggregate as a NEW parquet dir
    ``agg-<epoch>``, then durably swaps ``state.json`` to it. Subclasses
    change only the aggregate algebra, through ``_compute`` (bootstrap)
    and ``_apply`` (one feed).

    ``derives`` handles measures that are functions of payload columns
    rather than stored columns (e.g. text length): each expression is
    applied to the bootstrap state AND to both images of every change
    (via :func:`derive`), so retractions use the same math as additions.
    """

    def __init__(
        self,
        table_path: str,
        store_path: str,
        group_cols: list[str],
        sums: dict[str, str],
        count_col: str = "n_rows",
        derives: dict | None = None,
    ):
        self.table_path = table_path
        self.store_path = store_path
        self.group_cols = group_cols
        self.sums = sums
        self.count_col = count_col
        self.derives = derives or {}

    def _persist(self, agg: DataFrame, epoch: int) -> None:
        view_store.publish_frame(self.store_path, agg, "agg-", epoch, epoch=epoch)

    def read(self, spark) -> DataFrame:
        return view_store.read_frame(
            spark, self.store_path, "aggregate", "call refresh() (or bootstrap()) first"
        )

    def _prepared_state(self, table, spark) -> DataFrame:
        df = table.read(spark)
        for name, fn in self.derives.items():
            df = df.withColumn(name, fn(lambda c: F.col(c)))
        return df

    def _compute(self, state_df: DataFrame) -> DataFrame:
        return compute_agg(
            state_df, self.group_cols, self.sums, count_col=self.count_col
        )

    def _apply(self, agg: DataFrame, feed: DataFrame, table, spark) -> DataFrame:
        return apply_changes_to_agg(
            agg, feed, self.group_cols, self.sums, count_col=self.count_col
        )

    def _build(self, spark, table, epoch: int) -> None:
        self._persist(self._compute(self._prepared_state(table, spark)), epoch)

    def _fold(self, spark, table, st: dict, feed: DataFrame, cur: int) -> None:
        if self.derives:
            feed = derive(feed, **self.derives)
        self._persist(self._apply(self.read(spark), feed, table, spark), cur)


class MaintainedExtrema(MaintainedAggregate):
    """Durable incrementally-maintained MIN/MAX view — the
    :class:`MaintainedAggregate` store and refresh loop with
    :func:`apply_changes_to_minmax` as the maintenance step. Each refresh folds insertions with
    least/greatest and re-aggregates only the groups whose stored
    extremum was retracted, reading the table through ONE semi-join on
    those group keys — after bootstrap there is never an unconditional
    table scan, and a refresh whose feed endangers nothing stays
    O(|agg| + |changes|)."""

    def __init__(
        self,
        table_path: str,
        store_path: str,
        group_cols: list[str],
        mins: dict[str, str] | None = None,
        maxs: dict[str, str] | None = None,
        count_col: str = "n_rows",
        derives: dict | None = None,
    ):
        super().__init__(
            table_path,
            store_path,
            group_cols,
            sums={},
            count_col=count_col,
            derives=derives,
        )
        self.mins, self.maxs = mins or {}, maxs or {}
        if not self.mins and not self.maxs:
            raise ValueError("MaintainedExtrema needs at least one of mins/maxs")

    def _compute(self, state_df: DataFrame) -> DataFrame:
        return compute_minmax(
            state_df,
            self.group_cols,
            mins=self.mins,
            maxs=self.maxs,
            count_col=self.count_col,
        )

    def _apply(self, agg: DataFrame, feed: DataFrame, table, spark) -> DataFrame:
        return apply_changes_to_minmax(
            agg,
            feed,
            self._prepared_state(table, spark),
            self.group_cols,
            mins=self.mins,
            maxs=self.maxs,
            count_col=self.count_col,
        )


def compute_minmax(
    state: DataFrame,
    group_cols: list[str],
    mins: dict[str, str] | None = None,
    maxs: dict[str, str] | None = None,
    count_col: str = "n_rows",
) -> DataFrame:
    """Bootstrap a maintainable MIN/MAX aggregate from a full state
    read: ``group_cols`` + row count + one column per requested extremum
    (``mins``/``maxs`` map output name -> source column). The result is
    what :func:`apply_changes_to_minmax` expects and returns."""
    mins, maxs = mins or {}, maxs or {}
    if not mins and not maxs:
        raise ValueError("compute_minmax needs at least one of mins/maxs")
    aggs = [F.count(F.lit(1)).alias(count_col)]
    aggs += [F.min(c).alias(n) for n, c in mins.items()]
    aggs += [F.max(c).alias(n) for n, c in maxs.items()]
    return state.groupBy(*group_cols).agg(*aggs)


def apply_changes_to_minmax(
    agg: DataFrame,
    changes: DataFrame,
    state: DataFrame,
    group_cols: list[str],
    mins: dict[str, str] | None = None,
    maxs: dict[str, str] | None = None,
    count_col: str = "n_rows",
) -> DataFrame:
    """Fold one change batch into a maintained MIN/MAX aggregate — the
    self-maintainability gap the module docstring refuses to paper over,
    closed HONESTLY: MIN/MAX are self-maintainable under insertion
    (fold with least/greatest) but not under deletion, so retractions
    that touch a group's stored extremum mark the group ENDANGERED and
    only those groups are re-aggregated from ``state`` — the rescan is
    in the API signature, not hidden inside an "incremental" call.

    ``state`` must be the POST-batch table state (e.g.
    ``LakeTable.read``); it is touched through ONE semi-join on the
    endangered group keys, so the physical read is bounded by the
    endangered groups' rows (broadcastable key set in the common case,
    partition-prunable when the table is laid out by the group key).
    A batch with no extremum-touching retraction costs O(|agg| +
    |changes|) and never opens ``state``'s files at all (the semi-join
    side is empty).

    Group lifecycle matches :func:`apply_changes_to_agg`: born groups
    fold from their insertions, groups whose maintained row count
    reaches 0 are dropped, and an endangered-but-alive group whose
    surviving measures are all NULL gets a NULL extremum (recompute
    parity). MIN/MAX retraction has no float-associativity caveat —
    extrema are order-independent — so the maintained result is
    bit-equal to a recompute for ANY measure type, which the oracled
    entry checks end to end.

    Returns ``group_cols`` + ``count_col`` + the maintained extrema.
    """
    mins, maxs = mins or {}, maxs or {}
    if not mins and not maxs:
        raise ValueError("apply_changes_to_minmax needs at least one of mins/maxs")
    both = {**mins, **maxs}
    names = [count_col] + list(both)
    for n in names:
        if n not in agg.columns:
            raise ValueError(
                f"aggregate is missing maintained column {n!r} — build it "
                f"with compute_minmax(group_cols={group_cols}, mins={mins}, "
                f"maxs={maxs})"
            )
    if len(both) != len(mins) + len(maxs):
        raise ValueError("mins and maxs must use distinct output names")

    before = changes.filter(F.col("__before").isNotNull())
    after = changes.filter(F.col("__op") != "D")
    bg = [F.col(f"__before.{g}").alias(g) for g in group_cols]

    # --- row-count maintenance (the counting algorithm's count leg) ----
    cnt_delta = (
        before.select(*bg, F.lit(-1).cast("long").alias("__w"))
        .unionByName(after.select(*group_cols, F.lit(1).cast("long").alias("__w")))
        .groupBy(*group_cols)
        .agg(F.sum("__w").alias("__dc"))
    )
    alive = (
        agg.select(*group_cols, count_col)
        .join(cnt_delta, group_cols, "full_outer")
        .select(
            *group_cols,
            (
                F.coalesce(F.col(count_col), F.lit(0))
                + F.coalesce(F.col("__dc"), F.lit(0))
            ).alias(count_col),
        )
        .filter(F.col(count_col) > 0)
    )

    # --- insertion fold: self-maintainable side --------------------------
    ins = after.groupBy(*group_cols).agg(
        *[F.min(c).alias(f"__ins_{n}") for n, c in mins.items()],
        *[F.max(c).alias(f"__ins_{n}") for n, c in maxs.items()],
    )
    folded = (
        agg.select(*group_cols, *both)
        .join(ins, group_cols, "full_outer")
        .select(
            *group_cols,
            *[
                # least/greatest skip NULLs: an untouched side passes
                # the other through
                (
                    F.least(F.col(n), F.col(f"__ins_{n}"))
                    if n in mins
                    else F.greatest(F.col(n), F.col(f"__ins_{n}"))
                ).alias(n)
                for n in both
            ],
        )
    )

    # --- endangered groups: a retraction at (or past) the stored
    # extremum, or a retraction from a group this aggregate has never
    # seen (inconsistent inputs — rescan rather than trust)
    b_vals = before.select(
        *bg, *[F.col(f"__before.{c}").alias(f"__d_{n}") for n, c in both.items()]
    )
    j = b_vals.join(
        agg.select(*group_cols, *both, F.lit(True).alias("__in_agg")),
        group_cols,
        "left",
    )
    danger = F.col("__in_agg").isNull()
    for n in mins:
        danger = danger | (F.col(f"__d_{n}") <= F.col(n))
    for n in maxs:
        danger = danger | (F.col(f"__d_{n}") >= F.col(n))
    endangered = j.filter(danger).select(*group_cols).distinct()

    rescan = (
        state.join(endangered, group_cols, "left_semi")
        .groupBy(*group_cols)
        .agg(
            *[F.min(c).alias(f"__rs_{n}") for n, c in mins.items()],
            *[F.max(c).alias(f"__rs_{n}") for n, c in maxs.items()],
        )
        .withColumn("__rescanned", F.lit(True))
    )

    return (
        alive.join(folded, group_cols, "left")
        .join(rescan, group_cols, "left")
        .select(
            *group_cols,
            count_col,
            *[
                F.when(F.col("__rescanned"), F.col(f"__rs_{n}"))
                .otherwise(F.col(n))
                .alias(n)
                for n in both
            ],
        )
    )
