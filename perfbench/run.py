#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cashflow_forecast --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The library is imported from the
checkout; every file the run writes stays under ``.bench_work/``.

A run starts one Spark session at ``local[<cores>]``, builds the
workload's inputs from the seed, runs one untimed warm-up pass, then
timed passes until ``--seconds`` have gone by (at least
``MIN_PASSES``). Between passes the session memos, persisted blocks and
the workload's tables are reset, so that every pass does the same work.
After the passes the outputs are checked. The last line of standard
output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (medians over
the timed passes). With ``--trace 1`` passes alternate untraced and
traced; the metrics are per-layer self-times and counts from the
traced passes, and the spans go to
``.bench_work/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time
import warnings
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

WORKLOADS = {
    "cashflow_forecast": ("cashflow", "CashflowForecast"),
    "ledger_commits": ("ledger", "LedgerCommits"),
    "query_mix": ("query_mix", "QueryMix"),
}
MIN_PASSES = {0: 3, 1: 3}
WARMUP_PASSES = 1

PER_LAYER = {
    "session.start_s": "s",
    "generate.s": "s",
    "generate.series_per_s": "series/s",
    "preprocess.pre_processing_s": "s",
    "preprocess.post_processing_s": "s",
    "preprocess.r2_metrics_s": "s",
    "train.feed_s": "s",
    "train.fit_s": "s",
    "registry.register_s": "s",
    "scoring.score_s": "s",
    "scoring.series_per_s": "series/s",
    "deltalog.append_s": "s",
    "deltalog.merge_s": "s",
    "deltalog.delete_s": "s",
    "deltalog.snapshot_s": "s",
    "deltalog.read_s": "s",
    "deltalog.time_travel_s": "s",
    "deltalog.cdc_s": "s",
    "deltalog.checkpoint_s": "s",
    "deltalog.optimize_s": "s",
    "deltalog.vacuum_s": "s",
    "deltalog.live_files": "count",
    "deltalog.log_bytes": "B",
    "deltalog.data_bytes": "B",
    "delta_datasource.read_s": "s",
    "delta_datasource.partitions": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_environment(work: Path) -> None:
    """Scratch space and the import path of this process and its workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    path = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    sys.path[:0] = [str(ROOT), str(HERE)]


def _run(args, work: Path) -> dict:
    import harness
    from harness import Tracer, median, tree_cpu_s

    os.environ["SPARK_GRAFT_CPUS"] = str(harness.cores())
    module, cls = WORKLOADS[args.workload]
    workload_cls = getattr(importlib.import_module(module), cls)
    traced_run = bool(args.trace)
    tracer = Tracer(False)

    t0 = time.perf_counter()
    spark = harness.start_session(str(work), event_log=traced_run)
    session_s = time.perf_counter() - t0
    try:
        wl = workload_cls(spark, args.seed, str(work), tracer)
        tracer.enabled, tracer.trace_id = traced_run, "setup"
        t0 = time.perf_counter()
        wl.build_inputs()
        input_s = time.perf_counter() - t0
        tracer.enabled = False
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            wl.reset()
            harness.reset_spark_state(spark)
            wl.run_pass({})
        warm_s = time.perf_counter() - t0

        rec: dict = {}
        untraced_s, traced_s, cpu_s, traced_ids = [], [], [], []
        attempted = failed = 0
        loop_t0 = time.perf_counter()
        n = 0
        while n < MIN_PASSES[args.trace] or time.perf_counter() - loop_t0 < args.seconds:
            wl.reset()
            harness.reset_spark_state(spark)
            traced = traced_run and n % 2 == 1
            tracer.enabled, tracer.trace_id = traced, f"pass-{n}"
            c0, p0 = tree_cpu_s(), time.perf_counter()
            with tracer.span("pass"):
                excluded = wl.run_pass(rec) or (0.0, 0.0)
            wall = time.perf_counter() - p0 - excluded[0]
            cpu = tree_cpu_s() - c0 - excluded[1]
            tracer.enabled = False
            if traced:
                traced_s.append(wall)
                traced_ids.append(tracer.trace_id)
            else:
                untraced_s.append(wall)
                cpu_s.append(cpu)
            a, f = wl.after_pass(rec)
            attempted += a
            failed += f
            n += 1
        peak_rss = harness.tree_peak_rss_mb()
        problems = wl.check()

        figures = {
            "setup_s": (session_s + input_s + warm_s, "s"),
            "pass_s": (median(untraced_s), "s"),
            "cpu_s": (median(cpu_s), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        detail = {
            "passes": n,
            "session_s": session_s,
            "input_s": input_s,
            "warmup_s": warm_s,
            "pass_times_s": untraced_s,
            "workload": wl.report(rec, median),
        }
        if traced_run:
            figures = _layers(wl, tracer, traced_ids, session_s, work)
            detail["traced_pass_times_s"] = traced_s
            detail["tracing_overhead_s"] = median(traced_s) - median(untraced_s)
            _write_trace(args, tracer, traced_ids, detail)
    finally:
        harness.stop_session(spark)
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in figures.items()},
    }
    _print_report(args, result, detail, problems)
    return result


def _layers(wl, tracer, traced_ids, session_s, work) -> dict:
    """Per-layer figures: median over the traced passes of each span
    name's self-time, plus Spark's own counts for the same windows."""
    import harness

    layer_units = {**PER_LAYER, **getattr(wl, "extra_layers", {})}
    events = harness.read_event_log(str(work / "eventlog"))
    per_pass = []
    for tid in traced_ids:
        (root,) = tracer.named(tid, "pass")
        stats = harness.spark_job_stats(events, root["start"], root["end"])
        stats["per_query"] = [
            harness.spark_job_stats(events, s["start"], s["end"])
            for s in tracer.named(tid, "query")
        ]
        values = {name: 0.0 for name in layer_units}
        values.update(
            wl.layers(tracer.self_times(tid), stats, tracer.self_times("setup"))
        )
        values.update({
            "session.start_s": session_s,
            "spark.jobs": stats["jobs"],
            "spark.tasks": stats["tasks"],
            "spark.executor_run_s": stats["executor_run_s"],
            "spark.shuffle_write_mb": stats["shuffle_write_mb"],
            "spark.spill_mb": stats["spill_mb"],
        })
        per_pass.append(values)
    return {
        name: (harness.median([v[name] for v in per_pass]), unit)
        for name, unit in layer_units.items()
    }


def _write_trace(args, tracer, traced_ids, detail) -> None:
    out = ROOT / ".bench_work" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    payload = {
        "workload": args.workload,
        "seed": args.seed,
        "spans": tracer.spans,
        "self_times": {tid: tracer.self_times(tid) for tid in ["setup", *traced_ids]},
        **detail,
    }
    with open(out / f"{args.workload}-seed{args.seed}.json", "w") as f:
        json.dump(payload, f, indent=1, default=str)


def _print_report(args, result, detail, problems) -> None:
    print(
        f"{args.workload} seed {args.seed}: {detail['passes']} timed passes, "
        f"{result['attempted']} operations attempted, {result['failed']} failed"
    )
    print(
        f"  set-up: session {detail['session_s']:.2f} s, inputs "
        f"{detail['input_s']:.2f} s, warm-up pass {detail['warmup_s']:.2f} s; "
        f"passes " + " ".join(f"{t:.2f}" for t in detail["pass_times_s"]) + " s"
    )
    for name, m in result["metrics"].items():
        print(f"  {name:32s} {m['value']:14.6g} {m['unit']}")
    for name, (value, unit) in detail["workload"].items():
        print(f"  {name:32s} {value:14.6g} {unit}  (workload figure)")
    if "tracing_overhead_s" in detail:
        print(f"  tracing overhead: {detail['tracing_overhead_s']:+.3f} s per pass")
    for p in problems:
        print(f"  CHECK FAILED: {p}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "time_series_prediction_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no time_series_prediction_spark package under {ROOT}",
            file=sys.stderr,
        )
        return 2
    warnings.filterwarnings("ignore")
    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    _prepare_environment(work)
    result = _run(args, work)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
