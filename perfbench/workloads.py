"""The benchmark's workloads.

Each workload builds its inputs from the seed, warms up with a fixed number
of untimed operations in the same process, runs a fixed amount of work in
the timed region, and checks the outputs outside it. The timed region is a
number of identical passes, so a run can time each operation at its
fastest over them. The amount of work depends only on ``--seconds``, not
on the clock, so every count a run reports repeats exactly across runs of
the same code and seed.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

from . import changelog
from .harness import dir_bytes


class Op:
    __slots__ = ("seconds", "rows", "ok", "pass_no")

    def __init__(self, seconds: float, rows: int, ok: bool, pass_no: int):
        self.seconds, self.rows, self.ok, self.pass_no = seconds, rows, ok, pass_no


class Workload:
    """Protocol: ``build_inputs`` → ``setup_rep`` × ``warmups`` → ``timed``
    → ``after`` (traced runs only) → ``gate``."""

    name = ""
    #: untimed warm-up passes before the timed region
    warmups = 1
    #: seconds of ``--seconds`` per timed pass: sets how many passes a run
    #: times, so the work depends on ``--seconds`` and not on the clock
    seconds_per_pass = 1.0

    def __init__(self, spark, work: str, seed: int, seconds: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ops: list[Op] = []
        #: at least three, so each operation's fastest pass is picked from
        #: several
        self.passes = max(3, round(seconds / self.seconds_per_pass))

    def build_inputs(self) -> None:
        raise NotImplementedError

    def setup_rep(self, rep: int) -> None:
        raise NotImplementedError

    def timed(self) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        """Drop the timed region's outputs so it can run again."""
        self.ops = []

    def after(self) -> None:
        """Untimed follow-up calls that only the traced run makes."""

    def gate(self) -> list[str]:
        raise NotImplementedError

    def written_bytes(self) -> int:
        raise NotImplementedError

    def result_bytes(self) -> int:
        raise NotImplementedError

    def _op(self, fn, rows: int, pass_no: int) -> None:
        t0 = time.perf_counter()
        ok = True
        try:
            fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            print(f"perfbench: {self.name} operation failed", file=sys.stderr)
            traceback.print_exc()
            ok = False
        self.ops.append(Op(time.perf_counter() - t0, rows, ok, pass_no))


# ------------------------------------------------------------- replays --


class ReplayTrickle(Workload):
    """Small batches in warehouse mode (DLQ, expectations, partial updates)
    across a column add and a rename, compacting on the third batch: fixed
    per-batch cost dominates. One pass replays the whole log onto a fresh
    table; the timed region makes several passes."""

    name = "replay_trickle"
    n_urls = 3_000
    events = 300
    #: batches in the log: schema v1, v2, and v3 with a compaction
    n_batches = 3
    compact_every = 3
    #: a pass takes about 8 s; three passes at ``--seconds 30`` keep the run
    #: within its share of the run budget
    seconds_per_pass = 10.0

    def build_inputs(self) -> None:
        self.bdir = os.path.join(self.work, "batches")
        self.paths, self.injected = changelog.warehouse_log(
            self.bdir, self.seed, self.n_batches, self.events, self.n_urls,
            v2_from=1, v3_from=2,
        )
        self.rows = [_data_rows(p) for p in self.paths]
        self.lakes: list[str] = []

    def pipeline(self, path: str):
        from csv_cruncher_spark.cdc.expectations import Expectation
        from csv_cruncher_spark.cdc.patch import DEBEZIUM_PLACEHOLDER
        from csv_cruncher_spark.cdc.pipeline import CdcPipeline

        return CdcPipeline(
            path,
            n_buckets=8,
            compact_every=self.compact_every,
            on_malformed="dlq",
            expectations=[
                Expectation("https_only", "url LIKE 'https://%'", action="drop"),
                # bench_extra.py's second rule names `lang`, which the v3
                # rename removes from the batch header, and expectations see
                # the header before renames apply: this rule survives it
                Expectation(
                    "has_payload", "html IS NOT NULL", action="warn", applies_to=("I", "U")
                ),
            ],
            partial_updates=DEBEZIUM_PLACEHOLDER,
        )

    def setup_rep(self, rep: int) -> None:
        # a whole pass, so every schema version and the compaction run warm
        lake = os.path.join(self.work, f"warm-{rep}")
        self.pipeline(lake).run(self.spark, self.bdir)
        shutil.rmtree(lake)

    def reset(self) -> None:
        super().reset()
        for lake in self.lakes:
            shutil.rmtree(lake, ignore_errors=True)
        self.lakes = []

    @property
    def lake(self) -> str:
        """The last pass's table."""
        return self.lakes[-1]

    def timed(self) -> None:
        for p in range(self.passes):
            self.lakes.append(os.path.join(self.work, f"lake-{p}"))
            pipe = self.pipeline(self.lake)
            for i in range(len(self.paths)):
                self._op(lambda: pipe.run(self.spark, self.bdir, max_batches=1), self.rows[i], p)

    def after(self) -> None:
        from csv_cruncher_spark.lake.table import LakeTable

        table = LakeTable.load(self.lake)
        with self.tracer.span("lake.read"):
            table.read(self.spark).count()
        epoch = table.snapshot()["epoch_id"]
        with self.tracer.span("lake.feed"):
            table.changes_between(self.spark, from_epoch=max(-1, epoch - 4)).count()

    def gate(self) -> list[str]:
        from pyspark.sql import functions as F

        from csv_cruncher_spark.lake.table import LakeTable

        fails = []
        want = changelog.oracle_digest(self.paths, True)
        for lake in self.lakes:
            table = LakeTable.load(lake)
            got = [
                (r[0], r[1], r[2])
                for r in table.read(self.spark)
                .select("url", F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss"), "text")
                .collect()
            ]
            fails += [f"{os.path.basename(lake)}: {f}" for f in check_state(got, want)]
        table = LakeTable.load(self.lake)
        pipe = self.pipeline(self.lake)
        ckpt = pipe.load_checkpoint()
        before = table.snapshot()["snapshot_id"]
        pipe.run(self.spark, self.bdir)  # every batch applied: must be a no-op
        fails += check_exactly_once(
            ckpt, [os.path.basename(p) for p in self.paths],
            before, table.snapshot()["snapshot_id"],
        )
        fails += check_dlq(ckpt, self.injected, self.lake)
        return fails

    def written_bytes(self) -> int:
        return dir_bytes(self.lake)

    def result_bytes(self) -> int:
        from csv_cruncher_spark.lake.table import LakeTable

        snap = LakeTable.load(self.lake).snapshot()
        return sum(os.path.getsize(os.path.join(self.lake, f["path"])) for f in snap["files"])


def _data_rows(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f) - 1


# --------------------------------------------------------------- gates --


def check_state(got_rows, expected: tuple[int, str]) -> list[str]:
    n, h = changelog.digest(got_rows)
    if (n, h) != expected:
        return [f"table state differs from the oracle: {n} rows {h[:12]} "
                f"vs {expected[0]} rows {expected[1][:12]}"]
    return []


def check_exactly_once(ckpt: dict, batch_ids: list[str], snap_before: int, snap_after: int) -> list[str]:
    fails = []
    if ckpt["batches_applied"] != batch_ids:
        fails.append(f"batches_applied {ckpt['batches_applied'][:3]}... != replay order")
    if snap_after != snap_before:
        fails.append(f"re-run advanced the snapshot {snap_before} -> {snap_after}")
    return fails


def check_dlq(ckpt: dict, injected: dict, lake: str) -> list[str]:
    import pyarrow.parquet as pq

    fails = []
    for bid, inj in injected.items():
        rejected = ckpt.get("rejected_rows", {}).get(bid)
        if rejected != inj["malformed"]:
            fails.append(f"{bid}: {rejected} rows rejected, {inj['malformed']} injected")
        dropped = ckpt.get("expectation_violations", {}).get(bid, {}).get("dropped")
        if dropped != inj["http"]:
            fails.append(f"{bid}: {dropped} rows dropped by expectations, {inj['http']} injected")
        dlq = os.path.join(lake, "dlq", bid)
        on_disk = pq.ParquetDataset(dlq).read().num_rows if os.path.isdir(dlq) else 0
        if on_disk != inj["malformed"]:
            fails.append(f"{bid}: {on_disk} dead-letter rows on disk, {inj['malformed']} injected")
    return fails


# ------------------------------------------------------------- queries --


#: an iterative loop (exact Lloyd k-means) and an Arrow pandas-UDF
#: kernel, so the Python boundary is measured on the operator side
CORPUS_ENTRIES = ("kmeans_centroids", "winnowing_dups")


class CorpusOps(Workload):
    """Operator entries over a seeded corpus, no lake: one pass runs a fixed
    suite of ``__spark_entry__`` entries and writes each result out."""

    name = "corpus_ops"
    n_docs = 500
    n_vecs = 500
    entries = CORPUS_ENTRIES
    #: a pass takes about 3 s, and its latency keeps falling over the first
    #: few passes after the cold one (JIT, codegen, Python workers), so the
    #: fastest pass is one of the last. Five passes at ``--seconds 30``
    #: keep the run within its share of the run budget.
    seconds_per_pass = 6.0

    def build_inputs(self) -> None:
        from . import corpus

        self.sf = os.path.join(self.work, "corpus")
        corpus.write_tables(self.sf, self.seed, self.n_docs, self.n_vecs)
        sizes = corpus.table_rows(self.sf)
        import __spark_entry__ as entrymod

        self.queries = entrymod.queries()
        self.rows = sum(
            sizes["embeddings" if e == "kmeans_centroids" else "documents"]
            for e in self.entries
        )
        self.out = os.path.join(self.work, "out")

    def _pass(self, root: str) -> None:
        for e in self.entries:
            self.spark.catalog.clearCache()
            with self.tracer.span(f"operators.{e}", entry=e):
                self.queries[e](self.spark, self.sf).write.parquet(os.path.join(root, e))
        self.spark.catalog.clearCache()

    def setup_rep(self, rep: int) -> None:
        root = os.path.join(self.work, f"warm-{rep}")
        self._pass(root)
        shutil.rmtree(root)

    def reset(self) -> None:
        super().reset()
        shutil.rmtree(self.out, ignore_errors=True)

    def timed(self) -> None:
        for p in range(self.passes):
            self._op(lambda: self._pass(os.path.join(self.out, f"pass-{p}")), self.rows, p)
        self.last = os.path.join(self.out, f"pass-{self.passes - 1}")

    def gate(self) -> list[str]:
        from . import corpus

        want = corpus.oracle_digests(self.sf, list(self.entries))
        fails = []
        for p in range(self.passes):
            root = os.path.join(self.out, f"pass-{p}")
            got = {e: corpus.parquet_digest(os.path.join(root, e)) for e in self.entries}
            fails += [f"pass-{p}: {f}" for f in check_entries(got, want)]
        return fails

    def written_bytes(self) -> int:
        return dir_bytes(self.out)

    def result_bytes(self) -> int:
        return dir_bytes(self.last)


def check_entries(got: dict, want: dict) -> list[str]:
    """Per entry, row count and rounded digest must equal the DuckDB
    oracle's over the same tables."""
    return [
        f"{e}: {g[0]} rows {g[1][:12]} vs oracle {want[e][0]} rows {want[e][1][:12]}"
        for e, g in got.items()
        if g != want[e]
    ]


WORKLOADS = {w.name: w for w in (ReplayTrickle, CorpusOps)}
