#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload replay_trickle --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs one timed pass untraced, traced and untraced
again, prints the per-layer metrics, and writes spans and counters to
``.perfbench_out/trace-<workload>-<seed>.json``. Scratch files live under
``.perfbench_work/`` and are removed on exit. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "csv_cruncher_spark")):
        print(f"perfbench: no csv_cruncher_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        # pin before anything imports pyspark or reads the temp directory
        conf = harness.pin_environment(work)
        from perfbench import tracing, workloads

        cls = workloads.WORKLOADS.get(args.workload)
        if cls is None:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        if args.seconds < 1:
            print("perfbench: --seconds must be at least 1", file=sys.stderr)
            return 2
        harness.emit({"perfbench_host": harness.host_record(ROOT, "start")})
        tracer = tracing.Tracer(work) if args.trace else tracing.NullTracer()
        conf.update(tracer.spark_conf())
        result = run_workload(cls, args, work, conf, tracer)
        harness.emit({"perfbench_host": harness.host_record(ROOT, "end")})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    harness.emit(result)
    return 0


def run_workload(cls, args, work, conf, tracer) -> dict:
    from perfbench import harness

    from csv_cruncher_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    session_s = time.perf_counter() - T_START
    tracer.session_start_s = time.perf_counter() - t
    # the memory peak covers warm-up and the timed region, not the gate
    mem = harness.TreeMemorySampler()
    try:
        wl = cls(spark, work, args.seed, args.seconds, tracer)
        if args.trace:
            # per-layer figures are per pass; three passes of the timed
            # region (untraced, traced, untraced) must fit the time limit
            wl.passes = 1
        t = time.perf_counter()
        wl.build_inputs()
        inputs_s = time.perf_counter() - t
        mem.start()
        reps = []
        for rep in range(wl.warmups):
            t = time.perf_counter()
            wl.setup_rep(rep)
            reps.append(time.perf_counter() - t)
        setup_s = time.perf_counter() - T_START
        harness.emit({"perfbench_setup": {
            "session_s": session_s, "inputs_s": inputs_s, "warmups_s": reps,
        }})

        untraced_walls = []
        if args.trace:
            untraced_walls.append(timed_wall(wl))
            wl.reset()
            tracer.install(spark)
        t0 = time.perf_counter()
        with tracer.span("timed"):
            wl.timed()
        wall = time.perf_counter() - t0
        mem.stop()
        if args.trace:
            tracer.timed_window(t0, t0 + wall)
            wl.after()
            tracer.uninstall()
            # untraced passes on both sides of the traced one, so warming
            # that goes on during the run does not read as tracer overhead
            wl.reset()
            untraced_walls.append(timed_wall(wl))
        written = wl.written_bytes()
        result_b = wl.result_bytes()
        gate_fails = wl.gate()
    finally:
        mem.stop()
        stop_spark(spark)

    for f in gate_fails:
        print(f"perfbench: gate: {f}", flush=True)
    ops = wl.ops
    harness.emit({"perfbench_ops_s": [o.seconds for o in ops]})
    failed = sum(1 for o in ops if not o.ok) + (1 if gate_fails else 0)
    attempted = len(ops) + 1
    if args.trace:
        per_layer = tracer.report(wl, wall=wall, untraced_walls=untraced_walls)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(tracer.dump(per_layer), f, indent=1)
        metrics = {k: harness.metric(v, u) for k, (v, u) in per_layer.items()}
    else:
        best = best_of_passes(ops)
        lat = [sec for _rows, sec in best]
        metrics = {
            "setup_s": harness.metric(setup_s, "s"),
            "rows_per_s": harness.metric(sum(r for r, _sec in best) / sum(lat), "1/s"),
            "op_p50_s": harness.metric(statistics.median(lat), "s"),
            "peak_rss_mb": harness.metric(mem.peak_mb - harness.DRIVER_HEAP_MB, "MB"),
            "written_mb": harness.metric(written / harness.MB, "MB"),
            "result_mb": harness.metric(result_b / harness.MB, "MB"),
        }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def best_of_passes(ops) -> list[tuple[int, float]]:
    """(rows, seconds) of each operation of one pass, each at its fastest
    over the identical timed passes. Load from elsewhere on the host only
    ever slows an operation, and its episodes last seconds to tens of
    seconds, so the fastest of a few passes varies least from run to run."""
    by_pass: dict[int, list] = {}
    for o in ops:
        by_pass.setdefault(o.pass_no, []).append(o)
    return [(same[0].rows, min(o.seconds for o in same)) for same in zip(*by_pass.values())]


def timed_wall(wl) -> float:
    t = time.perf_counter()
    wl.timed()
    return time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (and with it the Python
    workers), and wait until they have exited."""
    from perfbench.harness import tree_pids

    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall through to kill
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
