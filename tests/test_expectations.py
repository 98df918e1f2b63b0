"""Declarative row-quality expectations (cdc/expectations.py): one-pass
evaluate/route semantics, NULL = violation, severest-action routing,
report counts, and the CdcPipeline integration — drop removes, dlq
quarantines with named reasons, warn counts but passes, fail aborts the
batch with table and checkpoint untouched."""

import base64
import csv
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from csv_cruncher_spark.cdc.expectations import (
    Expectation,
    ExpectationFailed,
    evaluate,
    expectations_report,
    route,
    violation_counts,
)
from csv_cruncher_spark.cdc.pipeline import CdcPipeline
from csv_cruncher_spark.lake.table import LakeTable

RULES = [
    Expectation("url_https", "url LIKE 'https://%'", action="drop"),
    Expectation("lang_known", "lang IN ('en','de','cs','fr','es')", action="dlq"),
    Expectation("text_short", "length(text) < 100", action="warn"),
]


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            ("https://a/1", "en", "ok"),
            ("http://a/2", "en", "ok"),            # drop: not https
            ("https://a/3", "xx", "ok"),           # dlq: unknown lang
            ("https://a/4", None, "ok"),           # dlq: NULL lang -> violation
            ("https://a/5", "en", "y" * 200),      # warn only: passes
            ("http://a/6", "xx", "ok"),            # drop+dlq -> severest = dlq
        ],
        "url string, lang string, text string",
    )


def test_route_severest_action_and_null_violation(spark, frame):
    ev = evaluate(frame, RULES)
    passed, dropped, quarantined = route(ev, RULES)
    assert {r.url for r in passed.collect()} == {"https://a/1", "https://a/5"}
    assert {r.url for r in dropped.collect()} == {"http://a/2"}
    q = {r.url: r["__viol"] for r in quarantined.collect()}
    assert set(q) == {"https://a/3", "https://a/4", "http://a/6"}
    assert q["http://a/6"] == ["url_https", "lang_known"]
    # passed frame carries no helper columns
    assert passed.columns == ["url", "lang", "text"]


def test_violation_counts_and_report(spark, frame):
    ev = evaluate(frame, RULES)
    c = violation_counts(ev, RULES)
    assert c.rows == 6
    assert c.rules == {"url_https": 2, "lang_known": 3, "text_short": 1}
    # the routing legs are counted in the same pass, by route()'s rule
    passed, dropped, quarantined = route(ev, RULES)
    assert (c.dropped, c.quarantined, c.rejected) == (
        dropped.count(), quarantined.count(), 0
    ) == (1, 3, 0)
    rep = expectations_report(frame, RULES).collect()
    assert [(r.rule, r.action, r.n_rows, r.n_violations, r.n_passed) for r in rep] == [
        ("url_https", "drop", 6, 2, 4),
        ("lang_known", "dlq", 6, 3, 3),
        ("text_short", "warn", 6, 1, 5),
    ]


def test_single_aggregation_plan(spark, frame):
    """The whole rule set costs one scan + one partial-combined agg."""
    ev = evaluate(frame, RULES)
    aggs = [
        F.sum((~F.col(f"__ok_{r.name}")).cast("long")).alias(r.name)
        for r in RULES
    ]
    plan = ev.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 2  # partial + final, nothing more
    assert "BatchEvalPython" not in plan


def test_bad_rule_validation(spark, frame):
    with pytest.raises(ValueError):
        Expectation("x", "true", action="explode")
    with pytest.raises(ValueError):
        Expectation("a/b", "true")
    with pytest.raises(ValueError):
        Expectation("url.https", "true")  # dotted -> struct access downstream
    with pytest.raises(ValueError):
        Expectation("__n", "true")  # collides with the count alias
    with pytest.raises(ValueError, match="duplicate"):
        evaluate(frame, [Expectation("x", "true"), Expectation("x", "false")])


# ---------- pipeline integration ----------

def _write_batch(dirpath: str, seq: int, rows: list[dict]):
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"batch-{seq:05d}.csv")
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=["op", "url", "warc_ts", "html", "lang"])
        w.writeheader()
        w.writerows(rows)
    return path


def _row(op="I", url="https://x.example/1", ts="2024-01-01 00:00:10",
         text="hello world page", lang="en"):
    return {
        "op": op, "url": url, "warc_ts": ts,
        "html": base64.b64encode(f"<html><body>{text}</body></html>".encode()).decode(),
        "lang": lang,
    }


PIPE_RULES = [
    Expectation("https_only", "url LIKE 'https://%'", action="drop"),
    Expectation("lang_known", "lang IN ('en','de','cs','fr','es')", action="dlq"),
    Expectation("ts_modern", "warc_ts >= timestamp'2020-01-01'", action="warn"),
]


def test_pipeline_drop_dlq_warn(spark, tmp_path):
    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [
        _row(url="https://x.example/a"),
        _row(url="http://x.example/b"),                      # dropped
        _row(url="https://x.example/c", lang="zz"),          # quarantined
        _row(url="https://x.example/d", ts="1999-01-01 00:00:00"),  # warned, applied
    ])
    tpath = str(tmp_path / "lake")
    pipe = CdcPipeline(tpath, n_buckets=2, expectations=PIPE_RULES)
    ckpt = pipe.run(spark, bdir)
    urls = {r.url for r in LakeTable.load(tpath).read(spark).select("url").collect()}
    assert urls == {"https://x.example/a", "https://x.example/d"}
    exp = ckpt["expectation_violations"]["batch-00000.csv"]
    assert exp == {
        "rules": {"https_only": 1, "lang_known": 1, "ts_modern": 1},
        "dropped": 1,
        "quarantined": 1,
    }
    q = spark.read.parquet(os.path.join(tpath, "dlq", "batch-00000.csv.expect"))
    rows = q.collect()
    assert len(rows) == 1 and rows[0].url == "https://x.example/c"
    assert rows[0]["__reject"] == "expect:lang_known"
    # checkpoint file round-trips the counts
    with open(pipe.checkpoint_path) as f:
        assert json.load(f)["expectation_violations"] == ckpt["expectation_violations"]


def test_pipeline_fail_aborts_before_commit(spark, tmp_path):
    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [_row(url="https://x.example/ok")])
    _write_batch(bdir, 1, [_row(url="http://bad.example/1")])
    tpath = str(tmp_path / "lake")
    rules = [Expectation("https_only", "url LIKE 'https://%'", action="fail")]
    pipe = CdcPipeline(tpath, n_buckets=2, expectations=rules)
    with pytest.raises(ExpectationFailed) as ei:
        pipe.run(spark, bdir)
    assert ei.value.counts == {"https_only": 1}
    t = LakeTable.load(tpath)
    # batch 0 committed; batch 1 never happened
    assert t.snapshot()["batch_id"] == "batch-00000.csv"
    ckpt = pipe.load_checkpoint()
    assert ckpt["batches_applied"] == ["batch-00000.csv"]
    # relaxing the rule lets the SAME pipeline resume the failed batch
    pipe2 = CdcPipeline(tpath, n_buckets=2)
    ckpt2 = pipe2.run(spark, bdir)
    assert ckpt2["batches_applied"] == ["batch-00000.csv", "batch-00001.csv"]
    urls = {r.url for r in t.read(spark).select("url").collect()}
    assert urls == {"https://x.example/ok", "http://bad.example/1"}


def test_payload_rule_scoped_to_upserts_lets_deletes_apply(spark, tmp_path):
    """A delete event carries NULL payload columns; a payload rule that
    gated 'D' rows would quarantine the delete and the doomed row would
    SURVIVE (found live against the CDC fixtures). applies_to=("I","U")
    is the contract for payload rules."""
    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [_row(url="https://x.example/a")])
    _write_batch(bdir, 1, [{
        "op": "D", "url": "https://x.example/a",
        "warc_ts": "2024-01-01 00:00:20", "html": "", "lang": "",
    }])
    rules = [Expectation("lang_known", "lang IN ('en','de')",
                         action="dlq", applies_to=("I", "U"))]
    tpath = str(tmp_path / "lake")
    ckpt = CdcPipeline(tpath, n_buckets=2, expectations=rules).run(spark, bdir)
    assert LakeTable.load(tpath).read(spark).count() == 0  # delete applied
    assert ckpt["expectation_violations"]["batch-00001.csv"]["quarantined"] == 0


def test_applies_to_validation():
    with pytest.raises(ValueError):
        Expectation("x", "true", applies_to=("I", "Z"))
    with pytest.raises(ValueError):
        Expectation("x", "true", applies_to=())


def test_pipeline_no_rules_checkpoint_unchanged(spark, tmp_path):
    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [_row()])
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=2)
    ckpt = pipe.run(spark, bdir)
    assert "expectation_violations" not in ckpt


def test_tailer_enforces_expectations(spark, tmp_path):
    from csv_cruncher_spark.streaming.tailer import ChangeLogTailer

    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [_row(url="https://x.example/a"),
                           _row(url="http://x.example/b")])
    rules = [Expectation("https_only", "url LIKE 'https://%'", action="drop")]
    tailer = ChangeLogTailer(
        CdcPipeline(str(tmp_path / "lake"), n_buckets=2, expectations=rules),
        bdir,
    )
    assert tailer.poll_once(spark) == ["batch-00000.csv"]
    urls = {r.url for r in LakeTable.load(str(tmp_path / "lake"))
            .read(spark).select("url").collect()}
    assert urls == {"https://x.example/a"}


def test_pipeline_rejects_non_expectation():
    with pytest.raises(TypeError):
        CdcPipeline("/tmp/x", expectations=["url IS NOT NULL"])


def test_pipeline_fail_abort_writes_nothing(spark, tmp_path):
    """A batch that trips a ``fail`` rule has not happened: no dead-letter
    rows of the parser, no quarantined rows of other rules, and the
    checkpoint and snapshot stay as they were — even though the batch
    also carries rows that would have gone to both."""
    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [_row(url="https://x.example/ok")])
    _write_batch(bdir, 1, [
        _row(url="https://x.example/a"),
        _row(url=""),                                  # parser dead-letter
        _row(url="https://x.example/z", lang="zz"),    # dlq rule
        _row(url="http://bad.example/1"),              # fail rule
    ])
    tpath = str(tmp_path / "lake")
    rules = [
        Expectation("https_only", "url LIKE 'https://%'", action="fail"),
        Expectation("lang_known", "lang IN ('en','de')", action="dlq"),
    ]
    pipe = CdcPipeline(tpath, n_buckets=2, on_malformed="dlq", expectations=rules)
    pipe.run(spark, bdir, max_batches=1)
    with open(pipe.checkpoint_path, "rb") as f:
        ckpt_before = f.read()
    snap_before = LakeTable.load(tpath).snapshot()["snapshot_id"]
    with pytest.raises(ExpectationFailed):
        pipe.run(spark, bdir)
    assert not os.path.exists(os.path.join(tpath, "dlq", "batch-00001.csv"))
    assert not os.path.exists(os.path.join(tpath, "dlq", "batch-00001.csv.expect"))
    with open(pipe.checkpoint_path, "rb") as f:
        assert f.read() == ckpt_before
    assert LakeTable.load(tpath).snapshot()["snapshot_id"] == snap_before


def test_rules_resolve_across_sidecar_renames(spark, tmp_path):
    """A rule names ``lang``; from batch 2 on the log renames it to
    ``language``. Only batch 2 carries the sidecar ``.meta.json``: later
    batches arrive under the new name after the table applied the
    rename. The rule still sees the column under its pre-rename name,
    every batch applies, and each batch's counts equal a plain Python
    count over its CSV."""
    from csv_cruncher_spark.cdc.fixtures import ChangeLogSpec, generate_change_log

    bdir = str(tmp_path / "batches")
    paths = generate_change_log(ChangeLogSpec(
        n_urls=60, n_batches=4, events_per_batch=40, seed=7,
        schema_v2_from_batch=1, schema_v3_from_batch=2, out_dir=bdir,
    ))
    os.remove(paths[3] + ".meta.json")
    known = ("en", "de", "cs")
    rules = [Expectation("lang_known", f"lang IN {known}", action="drop",
                         applies_to=("I", "U"))]
    tpath = str(tmp_path / "lake")
    ckpt = CdcPipeline(tpath, n_buckets=2, expectations=rules).run(spark, bdir)
    ids = [os.path.basename(p) for p in paths]
    assert ckpt["batches_applied"] == ids
    for p, bid in zip(paths, ids):
        with open(p, newline="") as f:
            rows = list(csv.DictReader(f))
        lang_col = "language" if "language" in rows[0] else "lang"
        want = sum(
            1 for r in rows if r["op"] in ("I", "U") and r[lang_col] not in known
        )
        assert want > 0
        assert ckpt["expectation_violations"][bid] == {
            "rules": {"lang_known": want}, "dropped": want, "quarantined": 0,
        }
    # the table carries the renamed column only; the alias never lands
    cols = LakeTable.load(tpath).read(spark).columns
    assert "language" in cols and "lang" not in cols


# ---------- Spark job budget of one warehouse-mode batch ----------

#: jobs one warehouse-mode batch may run (see the test's docstring)
BATCH_JOB_BUDGET = 14


def _jobs_of(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "one warehouse-mode batch")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warehouse_batch_job_budget(spark, tmp_path):
    """Each Spark action a batch runs costs a job plus its driver-side
    planning, which dominates the latency of small batches. Job counts
    repeat exactly for the same code and input, so a fixed budget catches
    an added action without any timing noise. The batch below exercises
    every counting and lookup phase: parser dead-letters, a drop rule, a
    dlq rule, a warn rule and a Debezium placeholder that resolves from
    table state.

    What the budget holds, per phase (the CSV header is read without a
    job): the placeholder key collect (bucket ids ride along, and the point lookup scans with
    the manifest schema, so neither needs a job of its own); ONE counting
    aggregate over the evaluated batch (rule violations, dropped,
    quarantined and parser rejects together, plus the jobs that
    materialize the persisted frame); the dead-letter and quarantine
    writes; the delta write."""
    from csv_cruncher_spark.cdc.patch import DEBEZIUM_PLACEHOLDER as PH

    bdir = str(tmp_path / "batches")
    _write_batch(bdir, 0, [_row(url=f"https://x.example/{i}") for i in range(6)])
    _write_batch(bdir, 1, [
        {**_row(op="U", url="https://x.example/1", ts="2024-01-01 00:00:20"),
         "html": base64.b64encode(PH.encode()).decode()},     # from table state
        _row(url="https://x.example/9", ts="2024-01-01 00:00:20"),
        _row(url=""),                                         # parser dead-letter
        _row(url="http://x.example/plain"),                   # drop rule
        _row(url="https://x.example/zz", lang="zz"),          # dlq rule
    ])
    tpath = str(tmp_path / "lake")
    pipe = CdcPipeline(
        tpath, n_buckets=4, on_malformed="dlq", partial_updates=PH,
        expectations=[
            Expectation("https_only", "url LIKE 'https://%'", action="drop"),
            Expectation("lang_known", "lang IN ('en','de')", action="dlq",
                        applies_to=("I", "U")),
            Expectation("has_html", "html IS NOT NULL", action="warn",
                        applies_to=("I", "U")),
        ],
    )
    pipe.run(spark, bdir, max_batches=1)
    jobs = _jobs_of(spark, lambda: pipe.run(spark, bdir, max_batches=1))

    # the batch did all of its work: the budget is not met by skipping any
    ckpt = pipe.load_checkpoint()
    assert ckpt["batches_applied"] == ["batch-00000.csv", "batch-00001.csv"]
    assert ckpt["rejected_rows"]["batch-00001.csv"] == 1
    assert ckpt["expectation_violations"]["batch-00001.csv"] == {
        "rules": {"https_only": 1, "lang_known": 1, "has_html": 0},
        "dropped": 1,
        "quarantined": 1,
    }
    assert os.path.isdir(os.path.join(tpath, "dlq", "batch-00001.csv"))
    assert os.path.isdir(os.path.join(tpath, "dlq", "batch-00001.csv.expect"))
    row = (
        LakeTable.load(tpath).read(spark)
        .filter("url = 'https://x.example/1'").collect()[0]
    )
    assert bytes(row.html) == b"<html><body>hello world page</body></html>"

    assert jobs <= BATCH_JOB_BUDGET, f"{jobs} Spark jobs for one batch"
