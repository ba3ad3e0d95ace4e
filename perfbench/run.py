"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_frontdoors --seed 1 --seconds 16 --trace 0

Run from the root of a checkout of the repository. The engine is
imported from ``crate_spark/`` there; generated tables are cached
under ``.perfbench/`` and each run's scratch files (server storage,
Spark temp files, logs) live in a directory under it that is removed
when the run succeeds. A traced run leaves its spans in
``.perfbench/traces/``.

With ``--trace 0`` the last stdout line is a JSON object whose
``metrics`` are the end-to-end metrics of ``BENCHMARK.json``. With
``--trace 1`` the run times an untraced phase, then a traced phase,
each of half the seconds, and ``metrics`` are the per-layer metrics.
The line before it carries the details: sample counts, control
timings, error rate, and the ingest-only figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, stats  # noqa: E402
from perfbench.host import RssSampler  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

#: per-layer metrics and units, in BENCHMARK.json order; every traced
#: run prints all of them, 0 where the workload bypasses the layer
PER_LAYER = {
    "http_sql.request_ms": "ms",
    "pg_wire.lock_wait_ms": "ms",
    "pg_wire.encode_ms": "ms",
    "wire.bytes_out_per_op": "bytes",
    "engine.execute_self_ms": "ms",
    "engine.sysviews_rebuilds": "count",
    "engine.sysviews_ms": "ms",
    "engine.sysviews_rebuilds_per_catalog_stmt": "ratio",
    "dialect.rewrite_ms": "ms",
    "dialect.rewrite_calls_per_op": "ratio",
    "catalyst.parsing_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.ms": "ms",
    "exec.jobs_per_op": "ratio",
    "exec.stages_per_op": "ratio",
    "exec.tasks_per_op": "ratio",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.files_read_per_lookup": "ratio",
    "exec.rows_scanned_per_row_returned": "ratio",
    "operators.arrow_bytes_to_python": "bytes",
    "operators.arrow_rows_from_python": "count",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.state_rows": "count",
    "dml.insert_ms": "ms",
    "dml.refresh_ms": "ms",
    "storage.files_per_table": "count",
    "storage.bytes_per_user_byte": "ratio",
    "driver.py4j_calls_per_op": "ratio",
    "driver.py4j_ms": "ms",
    "ingest.rows_per_s": "1/s",
    "ingest.visible_ms": "ms",
    "host.control_py_ms": "ms",
    "host.control_spark_ms": "ms",
    "trace.overhead_ratio": "ratio",
}


def summarize(tally) -> dict:
    lat = tally.latencies
    out = {
        "throughput_ops_per_s": (tally.attempted - tally.failed) / tally.wall_s,
        "samples": len(lat),
        "attempted": tally.attempted,
        "failed": tally.failed,
        "error_rate": tally.failed / tally.attempted if tally.attempted else 1.0,
        "tail_percentile_with_10_beyond": stats.tail_percentile(len(lat)),
        "ingest_rows_per_s": tally.rows_acked / tally.wall_s,
        "visible_ms": statistics.median(tally.visible) * 1000 if tally.visible else 0.0,
        "wire_bytes_out_per_op": tally.bytes_in / max(tally.attempted, 1),
        "errors": tally.errors,
        "by_kind": {
            k: {"n": len(v), "median_ms": statistics.median(v) * 1000}
            for k, v in sorted(tally.by_kind.items())
        },
    }
    if lat:
        out["latency_p50_ms"] = statistics.median(lat) * 1000
        out["latency_p90_ms"] = stats.percentile(lat, 90) * 1000
    return out


def run(args) -> tuple[dict, dict]:
    if not os.path.isfile(os.path.join(ROOT, "crate_spark", "__init__.py")):
        raise SystemExit(f"no crate_spark package under {ROOT}: run from a checkout of the repository")
    cache = os.path.join(ROOT, ".perfbench")
    data = datagen.ensure_data(cache)
    work = os.path.join(cache, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cwd = os.getcwd()
    ctx = Ctx(root=ROOT, work=work, data=data, seed=args.seed, cpus=min(4, os.cpu_count() or 1))
    workload = WORKLOADS[args.workload](ctx)
    detail: dict = {"workload": args.workload, "seed": args.seed, "cpus": ctx.cpus}
    marks = [time.perf_counter()]
    try:
        workload.prepare()
        marks.append(time.perf_counter())
        try:
            workload.setup()
            marks.append(time.perf_counter())
            with RssSampler(workload.pid) as sampler:
                before = workload.control()
                # a traced run splits its time: untraced half, traced half
                seconds = args.seconds / 2 if args.trace else args.seconds
                tally = workload.phase(seconds)
                layers = None
                if args.trace:
                    workload.trace_start()
                    traced = workload.phase(seconds)
                    os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
                    spans = os.path.join(cache, "traces", f"{args.workload}-{args.seed}-{os.getpid()}.jsonl")
                    layers = workload.trace_stop(traced.attempted, spans)
                    detail["spans"] = spans
                after = workload.control()
            outside = workload.outside_layers()
            marks.append(time.perf_counter())
        finally:
            workload.close()
    finally:
        os.chdir(cwd)
    shutil.rmtree(work, ignore_errors=True)
    marks.append(time.perf_counter())
    setup_s = marks[2] - marks[1]
    detail["stage_s"] = dict(zip(("prepare", "setup", "measure", "close"),
                                 (b - a for a, b in zip(marks, marks[1:]))))

    summary = summarize(tally)
    detail.update(
        setup_s=setup_s,
        peak_rss_mb=sampler.peak_mb,
        host_control_before=before,
        host_control_after=after,
        **summary,
    )
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_ops_per_s": (summary["throughput_ops_per_s"], "ops/s"),
        "latency_p50_ms": (summary.get("latency_p50_ms", 0.0), "ms"),
        "peak_rss_mb": (sampler.peak_mb, "MB"),
    }
    attempted, failed = tally.attempted, tally.failed
    if not args.trace:
        metrics = e2e
    else:
        tsum = summarize(traced)
        layers.update(outside)
        layers["wire.bytes_out_per_op"] = tsum["wire_bytes_out_per_op"]
        layers["ingest.rows_per_s"] = tsum["ingest_rows_per_s"]
        layers["ingest.visible_ms"] = tsum["visible_ms"]
        layers["host.control_py_ms"] = (before["py_ms"] + after["py_ms"]) / 2
        layers["host.control_spark_ms"] = (before["spark_ms"] + after["spark_ms"]) / 2
        layers["trace.overhead_ratio"] = (
            tsum["throughput_ops_per_s"] / summary["throughput_ops_per_s"]
            if summary["throughput_ops_per_s"] else 0.0
        )
        metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
        detail["traced"] = tsum
        detail["end_to_end"] = {k: v for k, (v, _u) in e2e.items()}
        attempted += traced.attempted
        failed += traced.failed
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    detail, result = run(args)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
