"""Spans around calls into the library's layers, joined to Spark's task
metrics through the event log.

The tracer patches each public call where its caller looks it up, records
spans ``{id, name, start, end, parent, run_id}`` in memory, and sets the
Spark local property ``perfbench.span`` to the innermost span's id, so every
job (and stage) a span submits carries it. After the session stops, the
event log is parsed and each stage's task metrics are summed onto the span
that submitted it. Spark is lazy, so a batch's CSV parse runs inside the
write job of ``write_bucket_data``; the stages of that job that scan CSV
are counted as ``cdc.parse`` and the rest as ``lake.write``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import uuid
from collections import defaultdict

from .harness import MB

SPAN_PROPERTY = "perfbench.span"
PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


class NullTracer:
    """Untraced runs: spans cost nothing and nothing is recorded."""

    session_start_s = 0.0

    def spark_conf(self) -> dict[str, str]:
        return {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    def __init__(self, work: str):
        self.event_dir = os.path.join(work, "eventlog")
        os.makedirs(self.event_dir, exist_ok=True)
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self._sc = None
        self.session_start_s = 0.0
        self.window = (0.0, 0.0)

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.event_dir,
            "spark.eventLog.compress": "false",
        }

    # ---------------------------------------------------------- spans --

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if self._sc is None:  # not installed: warm-up and the untraced passes
            yield None
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._mark(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._mark(self._stack[-1]["id"] if self._stack else None)

    def _mark(self, span_id) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    def _wrap(self, owner, attr: str, name, on_exit=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span_name = name(args) if callable(name) else name
            with tracer.span(span_name) as sp:
                out = orig(*args, **kwargs)
                if on_exit is not None:
                    on_exit(sp, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self, spark) -> None:
        """Patch each layer's public calls where their callers look them up."""
        import csv_cruncher_spark.cdc.expectations as expectations
        import csv_cruncher_spark.cdc.patch as patch
        import csv_cruncher_spark.cdc.pipeline as pipeline
        import csv_cruncher_spark.lake.merge as merge
        from csv_cruncher_spark.lake.table import ConcurrentCommitError, LakeTable

        self._sc = spark.sparkContext
        tracer = self

        def files_out(sp, args, kwargs, out):
            sp["attrs"]["files"] = len(out)
            sp["attrs"]["bytes"] = sum(int(f.get("bytes", 0)) for f in out)

        def snapshot_size(sp, args, kwargs, out):
            table = args[0]
            path = os.path.join(table.path, "snapshots", table.catalog.load_pointer())
            sp["attrs"]["meta_bytes"] = os.path.getsize(path)

        def key_count(sp, args, kwargs, out):
            if tracer.inside("cdc.patch"):
                keys = args[2] if len(args) > 2 else kwargs.get("keys", [])
                sp["attrs"]["keys"] = len(keys)

        self._wrap(pipeline.CdcPipeline, "run", "cdc.batch")
        self._wrap(pipeline, "read_change_batch", "cdc.read")
        for fn in ("evaluate", "violation_counts", "route"):
            self._wrap(expectations, fn, "cdc.expect")
        self._wrap(patch, "resolve_against_table", "cdc.patch")
        self._wrap(merge, "apply_batch_mor", "lake.merge")
        self._wrap(
            LakeTable, "write_bucket_data",
            lambda args: "lake.compact.write" if tracer.inside("lake.compact") else "lake.write",
            files_out,
        )
        self._wrap(LakeTable, "compact", "lake.compact")
        self._wrap(LakeTable, "read_keys", "lake.read_keys", key_count)

        orig_commit = LakeTable.commit

        @functools.wraps(orig_commit)
        def commit(*args, **kwargs):
            with tracer.span("lake.commit") as sp:
                try:
                    out = orig_commit(*args, **kwargs)
                except ConcurrentCommitError:
                    sp["attrs"]["retry"] = 1
                    raise
                snapshot_size(sp, args, kwargs, out)
                return out

        LakeTable.commit = commit
        self._patches.append((LakeTable, "commit", orig_commit))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self._mark(None)
        self._sc = None

    def timed_window(self, start: float, end: float) -> None:
        self.window = (start, end)

    # ------------------------------------------------------ event log --

    def _event_log(self) -> tuple[dict, dict, dict]:
        """(task sums per stage, span and scan kind per stage, span per job)
        from the event log."""
        logs = sorted(
            os.path.join(d, f)
            for d, _dirs, files in os.walk(self.event_dir)
            for f in files
            if not f.startswith(".")
        )
        stages: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
        info: dict[tuple, dict] = {}
        jobs: dict[int, str | None] = {}
        for fn in logs:
            with open(fn) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    elif kind == "SparkListenerStageSubmitted":
                        si = ev["Stage Info"]
                        key = (si["Stage ID"], si["Stage Attempt ID"])
                        scopes = []
                        for rdd in si.get("RDD Info", []):
                            try:
                                scopes.append(json.loads(rdd.get("Scope") or "{}").get("name", ""))
                            except ValueError:
                                pass
                            scopes.append(rdd.get("Name", ""))
                        info[key] = {
                            "span": (ev.get("Properties") or {}).get(SPAN_PROPERTY),
                            "scan_csv": any("csv" in s.lower() and "scan" in s.lower() for s in scopes),
                        }
                    elif kind == "SparkListenerTaskEnd":
                        key = (ev["Stage ID"], ev["Stage Attempt ID"])
                        tm = ev.get("Task Metrics") or {}
                        m = stages[key]
                        m["tasks"] += 1
                        m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                        m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                        m["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                        sw = tm.get("Shuffle Write Metrics") or {}
                        m["shuffle_b"] += sw.get("Shuffle Bytes Written", 0)
                        m["input_b"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                            if acc.get("Name") in PYTHON_ACCUMULABLES:
                                try:
                                    m["python_b"] += float(acc.get("Update") or 0)
                                except (TypeError, ValueError):
                                    pass
        return stages, info, jobs

    # --------------------------------------------------------- report --

    def report(self, wl, wall: float, untraced_walls: list[float]) -> dict[str, tuple[float, str]]:
        """Every per-layer metric by name → (value, unit)."""
        from .workloads import CORPUS_ENTRIES

        spans = [s for s in self.spans if s["end"] is not None]
        by_id = {s["id"]: s for s in spans}
        children = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)

        def dur(s):
            return s["end"] - s["start"]

        def self_time(s):
            return dur(s) - sum(dur(c) for c in children[s["id"]])

        for s in spans:
            s["self_s"] = self_time(s)

        def desc_ids(s):
            out, todo = [], [s]
            while todo:
                x = todo.pop()
                out.append(x["id"])
                todo.extend(children[x["id"]])
            return out

        stages, info, jobs = self._event_log()
        own = defaultdict(lambda: defaultdict(float))  # span id -> task sums
        own_scan = defaultdict(lambda: defaultdict(float))
        for key, m in stages.items():
            st = info.get(key, {})
            sid = st.get("span")
            if sid is None:
                continue
            dst = own_scan if st.get("scan_csv") else own
            for k, v in m.items():
                dst[int(sid)][k] += v
        job_count = defaultdict(int)
        for sid in jobs.values():
            if sid is not None:
                job_count[int(sid)] += 1

        def named(name):
            return [s for s in spans if s["name"] == name]

        def incl(name, field, scan=None):
            total = 0.0
            for s in named(name):
                for i in desc_ids(s):
                    if scan is not False:
                        total += own_scan[i][field]
                    if scan is not True:
                        total += own[i][field]
            return total

        def jobs_incl(name):
            return sum(job_count[i] for s in named(name) for i in desc_ids(s))

        def busy(name):
            return sum(dur(s) for s in named(name))

        def self_sum(name):
            return sum(s["self_s"] for s in named(name))

        def attr_sum(name, key):
            return sum(s["attrs"].get(key, 0) for s in named(name))

        # write spans outside compaction (those are "lake.compact.write")
        w_ids = [i for s in named("lake.write") for i in desc_ids(s)]

        def write_sum(field, scan):
            src = own_scan if scan else own
            return sum(src[i][field] for i in w_ids)

        ckpt = os.path.join(getattr(wl, "lake", ""), "checkpoint.json")
        ckpt_kb, dlq_rows = 0.0, 0
        if os.path.exists(ckpt):
            ckpt_kb = os.path.getsize(ckpt) / 1024.0
            with open(ckpt) as f:
                dlq_rows = sum(json.load(f).get("rejected_rows", {}).values())

        read_files = read_delta = 0
        if os.path.exists(ckpt):
            from csv_cruncher_spark.lake.table import LakeTable

            files = LakeTable.load(wl.lake).snapshot()["files"]
            read_files = len(files)
            read_delta = sum(1 for f in files if f.get("kind") == "delta")

        commits = named("lake.commit")
        lo, hi = self.window
        top = [s for s in spans if s["parent"] is not None and by_id[s["parent"]]["name"] == "timed"]
        covered = sum(dur(s) for s in top if s["start"] >= lo and s["end"] <= hi + 1e-6)
        all_ids = [s["id"] for s in spans]

        def spark_sum(field):
            return sum(own[i][field] + own_scan[i][field] for i in all_ids)

        m: dict[str, tuple[float, str]] = {
            "cdc.batch.self_s": (self_sum("cdc.batch"), "s"),
            "cdc.batch.jobs": (jobs_incl("cdc.batch"), "count"),
            "cdc.checkpoint.kb": (ckpt_kb, "KB"),
            "cdc.parse.task_s": (incl("cdc.batch", "task_s", scan=True), "s"),
            "cdc.parse.input_mb": (incl("cdc.batch", "input_b", scan=True) / MB, "MB"),
            "cdc.expect.busy_s": (busy("cdc.expect"), "s"),
            "cdc.expect.jobs": (jobs_incl("cdc.expect"), "count"),
            "cdc.patch.busy_s": (busy("cdc.patch"), "s"),
            "cdc.patch.keys": (attr_sum("lake.read_keys", "keys"), "count"),
            "cdc.dlq.rows": (dlq_rows, "count"),
            "lake.merge.self_s": (self_sum("lake.merge"), "s"),
            "lake.write.task_s": (write_sum("task_s", False), "s"),
            "lake.write.cpu_s": (write_sum("cpu_s", False), "s"),
            "lake.write.shuffle_mb": (write_sum("shuffle_b", False) / MB, "MB"),
            "lake.write.spill_mb": (write_sum("spill_b", False) / MB, "MB"),
            "lake.write.files": (attr_sum("lake.write", "files"), "count"),
            "lake.write.mb": (attr_sum("lake.write", "bytes") / MB, "MB"),
            "lake.commit.busy_s": (busy("lake.commit"), "s"),
            "lake.commit.meta_kb": (
                attr_sum("lake.commit", "meta_bytes") / 1024.0 / max(1, len(commits)), "KB"
            ),
            "lake.commit.retries": (attr_sum("lake.commit", "retry"), "count"),
            "lake.compact.calls": (len(named("lake.compact")), "count"),
            "lake.compact.busy_s": (busy("lake.compact"), "s"),
            "lake.compact.rewritten_mb": (attr_sum("lake.compact.write", "bytes") / MB, "MB"),
            "lake.read.task_s": (incl("lake.read", "task_s"), "s"),
            "lake.read.busy_s": (busy("lake.read"), "s"),
            "lake.read.files": (read_files, "count"),
            "lake.read.delta_files": (read_delta, "count"),
            "lake.feed.busy_s": (busy("lake.feed"), "s"),
        }
        # reported on every workload, zero where the entries do not run
        for e in CORPUS_ENTRIES:
            m[f"operators.{e}.wall_s"] = (busy(f"operators.{e}"), "s")
            m[f"operators.{e}.task_s"] = (incl(f"operators.{e}", "task_s"), "s")
            m[f"operators.{e}.shuffle_mb"] = (incl(f"operators.{e}", "shuffle_b") / MB, "MB")
        m.update({
            "spark.jobs": (sum(job_count.values()), "count"),
            "spark.tasks": (spark_sum("tasks"), "count"),
            "spark.task_s": (spark_sum("task_s"), "s"),
            "spark.cpu_s": (spark_sum("cpu_s"), "s"),
            "spark.gc_s": (spark_sum("gc_s"), "s"),
            "spark.shuffle_mb": (spark_sum("shuffle_b") / MB, "MB"),
            "spark.spill_mb": (spark_sum("spill_b") / MB, "MB"),
            "spark.python_mb": (spark_sum("python_b") / MB, "MB"),
            "session.start_s": (self.session_start_s, "s"),
            "trace.wall_s": (wall, "s"),
            "trace.overhead_s": (wall - sum(untraced_walls) / len(untraced_walls), "s"),
            "trace.coverage": (covered / wall if wall else 0.0, "ratio"),
        })
        return m

    def dump(self, per_layer: dict) -> dict:
        return {
            "run_id": self.run_id,
            "window": list(self.window),
            "spans": [
                {k: s[k] for k in ("id", "name", "parent", "run_id", "start", "end", "attrs")}
                | {"self_s": s.get("self_s")}
                for s in self.spans
            ],
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
        }
