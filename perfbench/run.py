#!/usr/bin/env python3
"""Seeded benchmark of the s2spark engine.

    python3 perfbench/run.py --workload tile_join_scan --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. One client drives a local[n] session
(n = the CPUs in this process's affinity set) with one Spark action at a
time. The run sets the workload up several times, times whole passes of
its ops until ``--seconds`` have passed (at least one pass), checks every
op's output against a reference that does not go through the engine, and
prints one JSON object as the last line of standard output. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
RUNS = os.path.join(ROOT, ".perfbench_runs")
SETUP_REPS = 3


def op_latencies(op_times: list) -> list[float]:
    """one latency per op of a pass: the median of that op's times over
    the run's passes. The sample count is then fixed by the workload,
    whatever the number of passes, and a slow moment in one pass does
    not become the tail of the run."""
    by_op: dict[str, list[float]] = {}
    for name, t in op_times:
        by_op.setdefault(name, []).append(t)
    return [statistics.median(ts) for ts in by_op.values()]


def op_tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile of ``times`` that has
    at least ten samples beyond it; with ten or fewer samples, the max."""
    s = sorted(times)
    if len(s) <= 10:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


def timed_passes(wl, seconds: float, tracer) -> tuple[list, list, list]:
    """run whole passes until ``seconds`` have passed. Returns
    (pass seconds, [(op, seconds)], [(op, output)] of ops that
    returned)."""
    passes, op_times, outputs = [], [], []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        t_pass = time.perf_counter()
        for name, fn in wl.ops():
            t0 = time.perf_counter()
            try:
                with tracer.op(name):
                    out = fn()
            except Exception:  # an op that raises is a failed op
                traceback.print_exc(file=sys.stderr)
                op_times.append((name, time.perf_counter() - t0))
                continue
            op_times.append((name, time.perf_counter() - t0))
            outputs.append((name, out))
        passes.append(time.perf_counter() - t_pass)
    return passes, op_times, outputs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and its registry are imported from the checkout; a
    # directory without them fails here, before any result is printed
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401
    import s2spark  # noqa: F401
    from perfbench import box, trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    cpus, heap_mb = box.fit(cls.cpus_needed, cls.heap_mb_needed)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    tempfile.tempdir = os.path.join(WORK, "tmp")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    event_log = os.path.join(WORK, "eventlog") if args.trace else None

    with box.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = box.start_session(cpus, heap_mb, WORK, event_log)
        session_s = time.perf_counter() - t0
        try:
            tracer = trace.Tracer(spark) if args.trace else trace.NoTracer()
            wl = cls(spark, os.path.join(WORK, "data"), args.seed, cpus)
            setup_times = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                with tracer.op("setup"):
                    wl.setup()
                setup_times.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.op("setup"):
                wl.warm_up()
            warm_up_s = time.perf_counter() - t0
            cond = box.conditions(spark, cpus, heap_mb)
            passes, op_times, outputs = timed_passes(wl, args.seconds,
                                                     tracer)
            probes = tracer.probe_layers(wl) if args.trace else {}
        finally:
            box.stop_session(spark)

    verdicts = wl.check(outputs)
    attempted = len(op_times)
    failed = (attempted - len(outputs)) + verdicts.count(False)
    pass_s = statistics.median(passes)
    times = op_latencies(op_times)
    tail, tail_pct = op_tail(times)
    end_to_end = {
        "setup_s": (session_s + warm_up_s + statistics.median(setup_times),
                    "s"),
        "pass_s": (pass_s, "s"),
        "rows_per_s": (wl.input_rows / pass_s, "1/s"),
        "op_p50_s": (statistics.median(times), "s"),
        "op_tail_s": (tail, "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "config": wl.config(),
        "conditions": cond, "passes": len(passes),
        "pass_times_s": passes, "setup_times_s": setup_times,
        "session_start_s": session_s, "warm_up_s": warm_up_s,
        "peak_rss_processes": rss.peak_processes,
        "op_times_s": op_times,
        "op_tail_percentile": tail_pct, "op_samples": len(times),
        "failed_ops_ratio": failed / max(attempted, 1),
        "failed_ops": [n for (n, _), ok in zip(outputs, verdicts) if not ok],
    }
    os.makedirs(RUNS, exist_ok=True)
    if args.trace:
        metrics, extra = trace.layer_metrics(
            wl, tracer, event_log, passes, probes, cpus,
            trace.untraced_pass_s(RUNS, wl.name, wl.config()))
        detail.update(extra)
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end.items()}
    with open(os.path.join(RUNS, f"{wl.name}.jsonl"), "a") as f:
        f.write(json.dumps({**detail, "metrics": {
            k: m["value"] for k, m in metrics.items()}}) + "\n")
    shutil.rmtree(WORK, ignore_errors=True)

    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0 and len(verdicts) == len(outputs),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
