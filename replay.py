#!/usr/bin/env python
"""spark-submit entry point for the CDC replay engine (the north rule's
launch shape: ``spark-submit --py-files csv_cruncher_spark.zip replay.py``).

Cluster:
    zip -r csv_cruncher_spark.zip csv_cruncher_spark
    spark-submit --master <cluster> --py-files csv_cruncher_spark.zip \
        replay.py --table s3://lake/pages --batches s3://ingest/changes \
        --buckets 4096

Local:
    python replay.py --table /tmp/lake --batches /tmp/changes --master local[8]

Resumable: re-running continues from the checkpoint manifest; committed
batches are no-ops (exactly-once). ``--tail`` keeps polling for new
batches instead of exiting at the end of the log. ``--feed-from N``
additionally prints (to ``--feed-out``, default stdout as JSONL) the net
per-key change feed of epochs (N, current] after the replay — the
incremental-consumer handoff.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table", required=True, help="lake table path")
    ap.add_argument("--batches", required=True, help="change-batch directory")
    ap.add_argument("--master", default=None)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--compact-every", type=int, default=16)
    ap.add_argument("--compact-delta-bytes", type=int, default=4 << 30,
                    help="per-bucket delta byte cap triggering bucket-pruned compaction")
    ap.add_argument("--include", default=None)
    ap.add_argument("--exclude", default=None)
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument("--tail", action="store_true", help="keep polling for new batches")
    ap.add_argument("--poll-interval", type=float, default=5.0)
    ap.add_argument("--feed-from", type=int, default=None, metavar="EPOCH",
                    help="after the replay, emit the net change feed of epochs (EPOCH, current]")
    ap.add_argument("--feed-out", default=None,
                    help="write the feed as JSON lines here instead of stdout")
    ap.add_argument("--maintain-agg", default=None, metavar="STORE",
                    help="after the replay, refresh the maintained aggregate "
                         "stored at STORE (incremental, O(changed keys): "
                         "per-group page count + total text length; "
                         "group columns via --agg-group)")
    ap.add_argument("--agg-group", default="lang",
                    help="comma-separated group columns for --maintain-agg")
    ap.add_argument("--maintain-minmax", default=None, metavar="STORE",
                    help="after the replay, refresh a maintained per-group "
                         "MIN/MAX view of text_len (lake/ivm.py "
                         "MaintainedExtrema; groups from --agg-group): "
                         "insertions fold incrementally, extremum "
                         "retractions rescan ONLY the endangered groups")
    ap.add_argument("--expect", action="append", default=[],
                    metavar="NAME:ACTION[:OPS]:CONDITION",
                    help="row-quality expectation (repeatable): name, "
                         "action (warn|drop|dlq|fail), optional op scope "
                         "(e.g. IU), and a SQL boolean the row must "
                         "satisfy — e.g. "
                         "\"https_only:drop:url LIKE 'https://%%'\" or "
                         "\"lang_known:dlq:IU:lang IN ('en','de')\"")
    ap.add_argument("--partial-updates", default=None, metavar="PLACEHOLDER",
                    help="resolve Debezium/TOAST-style elided columns "
                         "carrying this placeholder (cdc/patch.py): "
                         "in-batch carry first, then a bucket-pruned "
                         "point lookup of the table's current rows")
    ap.add_argument("--on-malformed", choices=["drop", "dlq"], default="drop",
                    help="dlq: quarantine keyless/unknown-op/bad-timestamp "
                         "rows to <table>/dlq/<batch> instead of lenient "
                         "apply; counts land in the checkpoint")
    ap.add_argument("--maintain-corpus", default=None, metavar="STORE",
                    help="after replay, refresh an incrementally-"
                         "maintained corpus store (lake/corpus_view.py) "
                         "— O(changed fingerprint groups), no table "
                         "rescan; fixed quotas only")
    ap.add_argument("--corpus-near-dup", action="store_true",
                    help="with --maintain-corpus: LSH-screen additions "
                         "against stored members at every refresh "
                         "(config pinned at bootstrap; see corpus_view "
                         "docstring for the precedence/rebuild contract)")
    ap.add_argument("--maintain-vocab", default=None, metavar="STORE",
                    help="after replay, refresh an incrementally-"
                         "maintained (token, tf, df) vocabulary store "
                         "(lake/vocab_view.py) — only changed documents "
                         "explode, no table rescan")
    ap.add_argument("--maintain-links", default=None, metavar="STORE",
                    help="after replay, refresh an incrementally-"
                         "maintained (src, dst) outlink edge store "
                         "(lake/links_view.py) — only changed pages "
                         "re-parse, keyed edge replacement")
    ap.add_argument("--maintain-scd2", default=None, metavar="STORE",
                    help="maintain a durable SCD Type 2 history of the "
                         "SAME change batches (lake.MaintainedScd2): "
                         "versioned [valid_from, valid_to) intervals per "
                         "url; idempotent per batch; the is_current "
                         "slice mirrors the LWW table")
    ap.add_argument("--maintain-sketch", default=None, metavar="STORE",
                    help="after replay, refresh an incrementally-"
                         "maintained HyperLogLog register store "
                         "(lake/sketch_view.py) and print the live "
                         "distinct-count estimate — O(changed rows), "
                         "no table rescan unless a delete retracts a "
                         "stored register maximum")
    ap.add_argument("--sketch-item", default="url",
                    help="column the maintained sketch counts distinct "
                         "values of (default: url)")
    ap.add_argument("--sketch-groups", default=None,
                    help="comma-separated group columns for "
                         "--maintain-sketch (default: global)")
    ap.add_argument("--build-corpus", default=None, metavar="OUT",
                    help="after replay, run the corpus builder over the "
                         "table state and write (url, lang, split) parquet "
                         "to OUT — the one-command CDC-to-training-corpus "
                         "path")
    ap.add_argument("--corpus-min-tokens", type=int, default=10)
    ap.add_argument("--corpus-target", type=float, default=None,
                    help="temperature-mix target fraction (alpha 0.5); "
                         "omit for keep-all quotas")
    ap.add_argument("--corpus-splits", default="train:8,val:1,test:1",
                    help="split weights, e.g. train:8,val:1,test:1")
    args = ap.parse_args()

    from csv_cruncher_spark.session import get_spark

    spark = get_spark(app_name="cdc-replay", master=args.master)

    t0 = time.time()
    expectations = None
    if args.expect:
        from csv_cruncher_spark.cdc.expectations import Expectation

        expectations = []
        for spec in args.expect:
            parts = spec.split(":", 2)
            if len(parts) != 3:
                raise SystemExit(
                    f"--expect needs NAME:ACTION[:OPS]:CONDITION, got {spec!r}"
                )
            name, action, rest = parts
            ops_part, sep, cond = rest.partition(":")
            if sep and ops_part and set(ops_part) <= {"I", "U", "D"}:
                applies = tuple(ops_part)
            else:
                applies, cond = ("I", "U", "D"), rest
            expectations.append(
                Expectation(name, cond, action=action, applies_to=applies)
            )
    from csv_cruncher_spark.cdc.pipeline import CdcPipeline

    pipe = CdcPipeline(
        args.table,
        n_buckets=args.buckets,
        compact_every=args.compact_every,
        compact_delta_bytes=args.compact_delta_bytes,
        on_malformed=args.on_malformed,
        expectations=expectations,
        partial_updates=args.partial_updates,
    )
    if args.tail:
        from csv_cruncher_spark.streaming import ChangeLogTailer

        tailer = ChangeLogTailer(
            pipe, args.batches, include=args.include, exclude=args.exclude
        )
        applied = tailer.run_until_idle(
            spark, poll_interval_s=args.poll_interval, idle_polls=3
        )
        ckpt = pipe.load_checkpoint()
    else:
        before = set(pipe.load_checkpoint()["batches_applied"])
        ckpt = pipe.run(
            spark,
            args.batches,
            include=args.include,
            exclude=args.exclude,
            max_batches=args.max_batches,
        )
        applied = len([b for b in ckpt["batches_applied"] if b not in before])

    feed_rows = None
    if args.feed_from is not None:
        from csv_cruncher_spark.lake.table import LakeTable

        t = LakeTable.load(args.table)
        feed = t.changes_between(spark, from_epoch=args.feed_from)
        # stream through the driver without collecting the whole feed
        # (toLocalIterator pulls one partition at a time); html is binary —
        # emit its length, not the bytes
        out = open(args.feed_out, "w") if args.feed_out else sys.stdout
        feed_rows = 0
        # binary columns are found by TYPE, not by the name "html": schema
        # evolution allows renaming non-identity columns, so a feed from a
        # renamed table must not KeyError (round-2 advice); every binary
        # column is emitted as its byte length
        bin_cols = [f.name for f in feed.schema.fields if f.dataType.typeName() == "binary"]
        cols = [c for c in feed.columns if c not in bin_cols]
        for r in feed.toLocalIterator():
            d = {c: r[c] for c in cols}
            for bc in bin_cols:
                d[f"{bc}_bytes"] = len(r[bc]) if r[bc] is not None else None
            for c, v in list(d.items()):
                if hasattr(v, "isoformat"):
                    d[c] = v.isoformat()
            out.write(json.dumps(d) + "\n")
            feed_rows += 1
        if args.feed_out:
            out.close()

    maintained_epoch = None
    if args.maintain_agg:
        from pyspark.sql import functions as F

        from csv_cruncher_spark.lake.ivm import MaintainedAggregate

        mv = MaintainedAggregate(
            args.table,
            args.maintain_agg,
            args.agg_group.split(","),
            {"sum_text_len": "text_len"},
            count_col="n_pages",
            derives={"text_len": lambda c: F.length(c("text"))},
        )
        maintained_epoch = mv.refresh(spark)

    minmax_epoch = None
    if args.maintain_minmax:
        from pyspark.sql import functions as F

        from csv_cruncher_spark.lake.ivm import MaintainedExtrema

        mx = MaintainedExtrema(
            args.table,
            args.maintain_minmax,
            args.agg_group.split(","),
            mins={"min_text_len": "text_len"},
            maxs={"max_text_len": "text_len"},
            count_col="n_pages",
            derives={"text_len": lambda c: F.length(c("text"))},
        )
        minmax_epoch = mx.refresh(spark)

    corpus_epoch = None
    if args.maintain_corpus:
        from csv_cruncher_spark.lake.corpus_view import MaintainedCorpus

        splits = {
            name: float(w)
            for name, w in (p.split(":") for p in args.corpus_splits.split(","))
        }
        mc = MaintainedCorpus(
            args.table,
            args.maintain_corpus,
            min_tokens=args.corpus_min_tokens,
            splits=splits,
            near_dup=args.corpus_near_dup,
        )
        corpus_epoch = mc.refresh(spark)

    vocab_epoch = None
    links_epoch = None
    links_edges = None
    sketch_epoch = None
    sketch_estimate = None
    scd2_versions = None
    scd2_current = None
    if args.maintain_vocab:
        from csv_cruncher_spark.lake.vocab_view import MaintainedVocabulary

        vv = MaintainedVocabulary(args.table, args.maintain_vocab)
        vocab_epoch = vv.refresh(spark)

    if args.maintain_links:
        from csv_cruncher_spark.lake.links_view import MaintainedLinkGraph

        lv = MaintainedLinkGraph(args.table, args.maintain_links)
        links_epoch = lv.refresh(spark)
        links_edges = lv.read(spark).count()

    if args.maintain_scd2:
        from csv_cruncher_spark.lake.scd_view import MaintainedScd2

        sv2 = MaintainedScd2(args.maintain_scd2)
        sv2.run(spark, args.batches, include=args.include,
                exclude=args.exclude, max_batches=args.max_batches)
        h = sv2.read(spark)
        scd2_versions = h.count()
        scd2_current = h.filter("is_current").count()

    if args.maintain_sketch:
        from csv_cruncher_spark.lake.sketch_view import MaintainedSketch

        groups = (
            [g for g in args.sketch_groups.split(",") if g]
            if args.sketch_groups
            else []
        )
        sv = MaintainedSketch(
            args.table, args.maintain_sketch,
            item_col=args.sketch_item, group_cols=groups,
        )
        sketch_epoch = sv.refresh(spark)
        if groups:
            # display key; group values containing '|' are the caller's
            # own ambiguity — the authoritative frame is sv.estimate()
            sketch_estimate = {
                "|".join(str(row[g]) for g in groups): row["est_distinct"]
                for row in sv.estimate(spark).collect()
            }
        else:
            sketch_estimate = {
                "_all": row["est_distinct"]
                for row in sv.estimate(spark).collect()
            }

    corpus_rows = None
    if args.build_corpus:
        from csv_cruncher_spark.lake.table import LakeTable
        from csv_cruncher_spark.operators import corpus as corpus_mod

        pages = LakeTable.load(args.table).read(spark)
        splits = {
            name: float(w)
            for name, w in (p.split(":") for p in args.corpus_splits.split(","))
        }
        temperature = (
            {"alpha": 0.5, "target_fraction": args.corpus_target}
            if args.corpus_target is not None
            else None
        )
        selected = corpus_mod.build_corpus(
            pages,
            "url",
            "text",
            "lang",
            min_tokens=args.corpus_min_tokens,
            temperature=temperature,
            splits=splits,
        ).select("url", "lang", "split")
        selected.write.mode("overwrite").parquet(args.build_corpus)
        corpus_rows = spark.read.parquet(args.build_corpus).count()

    print(
        json.dumps(
            {
                "applied_batches": applied,
                "epoch_id": ckpt["epoch_id"],
                "total_batches": len(ckpt["batches_applied"]),
                "feed_rows": feed_rows,
                "maintained_epoch": maintained_epoch,
                "minmax_epoch": minmax_epoch,
                "corpus_epoch": corpus_epoch,
                "vocab_epoch": vocab_epoch,
                "links_epoch": links_epoch,
                "links_edges": links_edges,
                "sketch_epoch": sketch_epoch,
                "sketch_estimate": sketch_estimate,
                "scd2_versions": scd2_versions,
                "scd2_current": scd2_current,
                "expectation_violations": ckpt.get("expectation_violations"),
                "rejected_rows": sum((ckpt.get("rejected_rows") or {}).values())
                if args.on_malformed == "dlq" else None,
                "corpus_rows": corpus_rows,
                "seconds": round(time.time() - t0, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
