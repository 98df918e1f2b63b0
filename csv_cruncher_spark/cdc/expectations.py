"""Declarative data-quality expectations for the CDC ingest path.

A change stream from a crawl fleet carries rows that parse fine but are
semantically bad — an https url with an empty host, a warc_ts from 1970,
a lang code outside the fleet's contract, text above the size cap. The
DLQ layer (``on_malformed``) catches rows the PARSER rejects; this layer
lets the operator declare per-ROW predicates the parsed data must
satisfy, with a per-rule action:

- ``warn``  — count violations in the checkpoint, let the rows through,
- ``drop``  — remove violating rows, count them,
- ``dlq``   — quarantine violating rows next to the malformed ones
  (``<table>/dlq/<batch_id>``, ``__reject = 'expect:<rule>'``),
- ``fail``  — abort the whole batch BEFORE anything is staged: the
  table keeps its previous snapshot, the checkpoint does not advance,
  and a re-run retries the batch (exactly-once preserved — failing is
  just "this batch never happened yet").

Plan shape: all rules evaluate in ONE projection over the batch (each
rule is a boolean column — pure JVM expressions, no Python), and every
count a batch needs comes from ONE aggregation pass over it
(``violation_counts``, map-side combined): each rule's violations, the
rows the routing sends to drop and to quarantine (the same severity
predicates ``route`` filters on, as conditional counts), and — when the
caller passes the parser's reject rows — the dead-letter count too.
The routing filters reuse the same boolean columns, so the whole layer
costs a single scan of the batch regardless of rule count. Rows
violating several rules route by the SEVEREST action (fail > dlq >
drop > warn) and every violated rule is named in the quarantine row's
``__viol`` array.

In ``CdcPipeline`` a warehouse-mode batch therefore runs, in order: the
partial-update key collect (when placeholders are on), ONE counting
aggregate over the persisted evaluated batch, the ``fail`` check (an
abort writes nothing), the dead-letter and quarantine writes (each only
when its count is non-zero), and the table write.

Reference parity: csv-cruncher has no row-quality gating (bad rows
flow into HSQLDB or abort the whole run on parse); this is new-engine
surface in the Delta-Live-Tables "expectations" tradition, re-expressed
as one-pass Catalyst projections.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ACTIONS = ("warn", "drop", "dlq", "fail")
#: routing precedence: the severest violated rule decides the row's fate
_SEVERITY = {a: i for i, a in enumerate(ACTIONS)}


class ExpectationFailed(RuntimeError):
    """Raised when a ``fail``-action rule has violations in a batch."""

    def __init__(self, batch_id: str, counts: dict[str, int]):
        self.batch_id = batch_id
        self.counts = counts
        failing = ", ".join(f"{k}={v}" for k, v in sorted(counts.items()))
        super().__init__(
            f"batch {batch_id!r} violates fail-action expectations: {failing}"
        )


@dataclass(frozen=True)
class Expectation:
    """One named predicate rows must satisfy.

    ``condition`` is a SQL boolean expression string (evaluated with
    ``F.expr``) or a ``Column``; a row PASSES when the condition is
    TRUE — NULL counts as a violation (ternary logic would otherwise
    let a NULL url slip through ``length(url) > 0``).

    ``applies_to``: which change ops the rule gates, when the frame has
    an ``op`` column. A delete event legitimately carries NULL payload
    columns, so a payload rule like ``lang IN (...)`` applied to 'D'
    rows quarantines the delete and the doomed row SURVIVES — caught
    live the first time this layer ran against the CDC fixtures.
    Payload rules should say ``applies_to=("I", "U")``; key/metadata
    rules keep the default (every op). On frames without ``op`` the
    scope is ignored.
    """

    name: str
    condition: str | Column
    action: str = "drop"
    applies_to: tuple = ("I", "U", "D")

    def __post_init__(self):
        if self.action not in ACTIONS:
            raise ValueError(
                f"action must be one of {ACTIONS}, got {self.action!r}"
            )
        import re

        # names are embedded in column references (__ok_<name>) and a
        # single-agg alias next to "__n": a dotted name parses as struct
        # field access downstream, and "__n" collides with the internal
        # row-count alias — validate strictly instead of failing deep in
        # an AnalysisException mid-batch
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_-]*", self.name) or self.name == "__n":
            raise ValueError(
                f"invalid expectation name {self.name!r}: use letters/"
                "digits/underscore/dash, starting alphanumeric"
            )
        bad_ops = set(self.applies_to) - {"I", "U", "D"}
        if bad_ops or not self.applies_to:
            raise ValueError(
                f"applies_to must be a non-empty subset of I/U/D, got "
                f"{self.applies_to!r}"
            )

    def ok_col(self, has_op: bool = False) -> Column:
        cond = (
            F.expr(self.condition)
            if isinstance(self.condition, str)
            else self.condition
        )
        ok = cond.isNotNull() & cond
        if has_op and set(self.applies_to) != {"I", "U", "D"}:
            # out-of-scope ops pass vacuously; a NULL op is in scope
            # (the malformed-op DLQ classifies it separately)
            return F.when(
                F.col("op").isin(*self.applies_to) | F.col("op").isNull(),
                ok,
            ).otherwise(F.lit(True))
        return ok


def _flag(name: str) -> str:
    return f"__ok_{name}"


def evaluate(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """ONE projection adding a boolean ``__ok_<name>`` per rule plus a
    ``__viol`` array of the violated rule names (empty when clean)."""
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate expectation names: {names}")
    has_op = "op" in df.columns
    out = df.select(
        "*", *[r.ok_col(has_op).alias(_flag(r.name)) for r in rules]
    )
    viol = F.array_compact(
        F.array(
            *[
                F.when(~F.col(_flag(r.name)), F.lit(r.name))
                for r in rules
            ]
        )
    )
    return out.withColumn("__viol", viol)


class BatchCounts(NamedTuple):
    """Everything ``violation_counts`` counts in its one pass."""

    #: violations per rule name
    rules: dict[str, int]
    #: rows of the evaluated frame
    rows: int
    #: rows ``route`` sends to the dropped leg
    dropped: int
    #: rows ``route`` sends to the quarantined leg
    quarantined: int
    #: rows of the ``rejected`` frame (0 without one)
    rejected: int


def _routing(rules: list[Expectation]) -> tuple[Column, Column]:
    """(violates a drop rule, violates a dlq or fail rule) — the severity
    predicates shared by ``route`` and ``violation_counts``."""

    def _any_violated(action_set):
        out = F.lit(False)
        for r in rules:
            if r.action in action_set:
                out = out | ~F.col(_flag(r.name))
        return out

    return _any_violated({"drop"}), _any_violated({"dlq", "fail"})


def violation_counts(
    df: DataFrame, rules: list[Expectation], rejected: DataFrame | None = None
) -> BatchCounts:
    """Per-rule violations, evaluated rows, and the rows ``route`` drops
    and quarantines, in ONE aggregation pass over an ``evaluate``-d frame.
    ``rejected`` (rows the parser already dead-lettered) is unioned in
    with passing flags, so its row count rides the same pass without
    touching any other count."""
    flags = [_flag(r.name) for r in rules]
    rows = df.select(*flags, F.lit(False).alias("__rej"))
    if rejected is not None:
        rows = rows.unionByName(
            rejected.select(
                *[F.lit(True).alias(f) for f in flags], F.lit(True).alias("__rej")
            )
        )
    v_drop, v_dlq = _routing(rules)
    aggs = [F.count_if(~F.col(f)).alias(r.name) for f, r in zip(flags, rules)] + [
        F.count_if(~F.col("__rej")).alias("__n"),
        F.count_if(v_drop & ~v_dlq).alias("__dropped"),
        F.count_if(v_dlq).alias("__quarantined"),
        F.count_if(F.col("__rej")).alias("__rejected"),
    ]
    d = rows.agg(*aggs).collect()[0].asDict()
    return BatchCounts(
        rules={r.name: int(d[r.name]) for r in rules},
        rows=int(d["__n"]),
        dropped=int(d["__dropped"]),
        quarantined=int(d["__quarantined"]),
        rejected=int(d["__rejected"]),
    )


def route(
    df: DataFrame, rules: list[Expectation]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split an ``evaluate``-d frame into (passed, dropped, quarantined)
    by each row's severest violated rule. ``warn`` rows pass. The
    returned frames keep the original columns plus ``__viol`` on the
    two violation legs."""
    flags = [_flag(r.name) for r in rules]
    v_drop, v_dlq = _routing(rules)
    passed = df.filter(~v_drop & ~v_dlq).drop("__viol", *flags)
    dropped = df.filter(v_drop & ~v_dlq).drop(*flags)
    quarantined = df.filter(v_dlq).drop(*flags)
    return passed, dropped, quarantined


def expectations_report(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Per-rule audit frame: (rule, action, n_rows, n_violations,
    n_passed) — ONE scan, ONE aggregation, rows in rule order."""
    ev = evaluate(df, rules)
    aggs = [
        F.sum((~F.col(_flag(r.name))).cast("long")).alias(_flag(r.name))
        for r in rules
    ] + [F.count(F.lit(1)).alias("__n")]
    totals = ev.agg(*aggs)
    pairs = []
    for i, r in enumerate(rules):
        pairs.append(
            F.struct(
                F.lit(i).alias("rule_idx"),
                F.lit(r.name).alias("rule"),
                F.lit(r.action).alias("action"),
                F.col("__n").alias("n_rows"),
                F.col(_flag(r.name)).alias("n_violations"),
                (F.col("__n") - F.col(_flag(r.name))).alias("n_passed"),
            )
        )
    return (
        totals.select(F.explode(F.array(*pairs)).alias("s"))
        .select("s.*")
        .orderBy("rule_idx")
        .drop("rule_idx")
    )
