"""Seeded benchmark of the harmonization engine.

    python3 perfbench/run.py --workload stream_harmonize --seed 1 --seconds 10 --trace 0

Run from the repository root. The seed fixes the generated input; the
input is written before timing starts and the program only reads the
written files. Passes of the workload repeat until ``--seconds`` have
elapsed, and the output of the passes is checked afterwards.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run repeats the
passes in a second Spark context that writes an event log, and the
metrics are the per-layer ones. The line before it carries the host,
Spark version, commit and every check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.harness import (  # noqa: E402
    RssSampler,
    tree_pids,
    host_meta,
    median,
    start_session,
)
from perfbench.workloads import CONFIG, WORKLOADS  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "records_per_s": "records/s",
    "batch_p50_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "mapping.run_ms": "ms",
    "mapping.cpu_ms": "ms",
    "mapping.gc_ms": "ms",
    "mapping.shuffle_write_bytes": "bytes",
    "mapping.tasks": "count",
    "mapping.compile_ms": "ms",
    "errors.rows_ok": "count",
    "errors.rows_err": "count",
    "errors.ok_ratio": "ratio",
    "bundles.run_ms": "ms",
    "bundles.cpu_ms": "ms",
    "bundles.shuffle_read_bytes": "bytes",
    "bundles.spill_bytes": "bytes",
    "bundles.task_ms_max_over_median": "ratio",
    "assembly.run_ms": "ms",
    "assembly.cpu_ms": "ms",
    "assembly.gc_ms": "ms",
    "assembly.python_bytes_sent": "bytes",
    "assembly.python_bytes_received": "bytes",
    "assembly.python_run_ms": "ms",
    "assembly.python_start_ms": "ms",
    "assembly.state_rows": "count",
    "assembly.state_memory_bytes": "bytes",
    "assembly.state_commit_ms": "ms",
    "assembly.rows_dropped_late": "count",
    "assembly.task_ms_max_over_median": "ratio",
    "sink.write_s": "s",
    "sink.bytes_written": "bytes",
    "sink.files": "count",
    "sink.batches_committed": "count",
    "engine.latest_offset_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.driver_gap_ms": "ms",
    "engine.jobs_per_batch": "count",
    "unattributed_ms": "ms",
    "trace.overhead_per_s": "records/s",
}


def measure(wl, spark, seconds: float):
    """Repeat passes for about ``seconds``: at least one, and a further one
    only while it would end nearer to ``seconds`` than stopping now."""
    passes = []
    t0 = time.perf_counter()
    with RssSampler() as rss:
        while not passes or time.perf_counter() - t0 + passes[-1].wall_s / 2 <= seconds:
            passes.append(wl.run_pass(spark))
    return passes, rss


def rate(wl, passes) -> float:
    return wl.records / median([p.wall_s for p in passes])


def compile_ms(repeats: int = 5) -> float:
    from healthcare_data_harmonization_dataflow_spark.functions.mapping_compile import (
        compile_mapping,
    )

    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        compile_mapping(CONFIG)
        times.append((time.perf_counter() - t0) * 1000)
    return median(times)


def traced_layers(wl, workdir: str, seconds: float, untraced_rate: float) -> dict:
    """Second context with the event log on: one warm pass, then measured
    passes whose stages, progress and sink timings give the layers."""
    log_dir = os.path.join(workdir, "eventlog")
    spark = start_session(workdir, event_log_dir=log_dir)
    wl.run_pass(spark)
    passes, _ = measure(wl, spark, seconds)
    layers = wl.layers(spark, passes)
    spark.stop()  # flushes the event log
    log = eventlog.parse(log_dir)
    report = eventlog.layer_report(log, [(p.t0_ms, p.t1_ms) for p in passes])
    layers |= report | wl.trace_layers(log, passes)
    layers["engine.jobs_per_batch"] = report["engine.jobs"] / max(
        1.0, layers.pop("engine.batches", 1.0)
    )
    layers["mapping.compile_ms"] = compile_ms()
    layers["trace.overhead_per_s"] = rate(wl, passes) - untraced_rate
    units = PER_LAYER_UNITS | wl.extra_units
    return {k: (float(layers.get(k, 0.0)), u) for k, u in units.items()}


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    pids = tree_pids(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def run(args) -> tuple[dict, dict]:
    workdir = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    wl = WORKLOADS[args.workload](workdir, args.seed)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.write_input(spark)
        write_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(wl.warmup_passes):  # at the measured size
            wl.run_pass(spark)
        warm_s = time.perf_counter() - t0

        passes, rss = measure(wl, spark, args.seconds)
        t0 = time.perf_counter()
        checks = wl.checks(spark, passes)
        checks_s = time.perf_counter() - t0
        batch_s = [b for p in passes for b in p.batch_s]
        e2e = {
            "setup_s": session_s + write_s + warm_s,
            "records_per_s": rate(wl, passes),
            "batch_p50_s": median(batch_s),
            "peak_rss_mb": rss.peak / 2**20,
        }
        info = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            **host_meta(),
            "records": wl.records,
            "passes": len(passes),
            "pass_s": [round(p.wall_s, 4) for p in passes],
            "median_pass_s": median([p.wall_s for p in passes]),  # suite_s on curate_ops
            "batch_samples": len(batch_s),
            "peak_rss_mb_by_process": {k: v / 2**20 for k, v in rss.peak_by_name.items()},
            f"{wl.unit_name}_per_s": e2e["records_per_s"],
            "setup_parts_s": {"session": session_s, "input_write": write_s,
                              "warmup": warm_s},
            "checks_s": checks_s,
            "checks": [c.__dict__ for c in checks],
        }
        if args.trace:
            spark.stop()
            layers = traced_layers(wl, workdir, args.seconds, e2e["records_per_s"])
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        failed = sum(not c.passed for c in checks)
        info["ops"], info["failed_ops"] = len(checks), failed
        result = {
            "correct": failed == 0,
            "attempted": len(checks),
            "failed": failed,
            "metrics": metrics,
        }
        return info, result
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    info, result = run(args)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
