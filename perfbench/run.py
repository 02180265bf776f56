"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_etl --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed``, computes the expected
results with the repository's DuckDB oracles, starts Spark on
``local[<cores>]`` and warms up (set-up, repeated and reported as a
median), then measures for ``--seconds`` and checks every output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures
half the window untraced and half traced, and reports the per-layer
metrics, the tracing overhead and, for ``batch_etl``, a single-core
baseline run in its own process. Every metric is printed to stderr by
name with its unit; the last line on stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("batch_etl", "stream_ingest", "curate_dedup")

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "setup_s": "s",
}

#: layers whose self time the traced run reports per operation
SELF_LAYERS = ("cli", "sources", "lognorm", "plugins", "sinks", "report",
               "streaming", "text", "dedup", "tables")

PER_LAYER = {
    # batch_etl
    "lognorm.scan_s": "s", "lognorm.parse_s": "s", "lognorm.normalize_s": "s",
    "plugins.filter_redact_s": "s", "sinks.render_s": "s", "sinks.file_write_s": "s",
    "sinks.dlq_write_s": "s", "report.report_s": "s",
    "cli.stage_parse_normalize_filter_ms": "ms", "cli.stage_write_ms": "ms",
    "cli.stage_report_ms": "ms",
    "lognorm.lines_in": "count", "lognorm.json_failed": "count",
    "lognorm.norm_failed": "count", "lognorm.written": "count",
    "lognorm.written_ratio": "ratio",
    # stream_ingest
    "streaming.trigger_s_p50": "s", "streaming.add_batch_s_p50": "s",
    "streaming.planning_s_p50": "s", "streaming.offsets_s_p50": "s",
    "streaming.commit_s_p50": "s", "streaming.queue_wait_s_p50": "s",
    "streaming.rows_per_batch": "count", "streaming.batches": "count",
    "streaming.backlog_end": "count", "loadgen.lag_s_max": "s",
    # curate_dedup
    "tables.spill_checkpoint_s": "s", "dedup.posting_pairs_s": "s",
    "dedup.candidate_pairs": "count", "dedup.near_dup_pairs": "count",
    "dedup.verify_ratio": "ratio", "text.exact_dups": "count",
    "sinks.parquet_write_s": "s",
    # batch_etl and curate_dedup (pipeline time and efficiency: batch_etl)
    "spark.pipeline_time_ms": "ms", "spark.task_time_ms": "ms",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.parallelism": "ratio", "spark.parallel_efficiency": "ratio",
    # every workload
    "jvm.gc_s": "s", "jvm.jit_compile_s": "s", "jvm.peak_rss_mb": "MB",
    "session.start_s": "s",
    "trace.overhead_s": "s", "trace.spans": "count",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--master", default=None,
                   help="Spark master (default local[<cores>])")
    p.add_argument("--setups", type=int, default=3,
                   help="set-ups per untraced run; setup_s is their median")
    return p.parse_args(argv)


def single_core_baseline(args) -> float:
    """batch_etl throughput under local[1], in its own process (started
    before this process launches its JVM, so the two never overlap)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "batch_etl",
           "--seed", str(args.seed), "--seconds", "1", "--trace", "0",
           "--master", "local[1]", "--setups", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=150, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError("single-core baseline produced wrong output")
    return result["metrics"]["throughput_per_s"]["value"]


def run(args) -> dict:
    import jvm
    import workloads
    from tracing import Tracer

    cores_total = jvm.cpu_count()
    master = args.master or f"local[{cores_total}]"
    cores = int(master[len("local["):-1])
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-c{cores}")
    os.makedirs(work, exist_ok=True)
    jvm.confine_to(work)

    wl = workloads.WORKLOADS[args.workload](args.seed, work, cores)
    wl.prepare(args.seconds)
    baseline = None
    if args.trace and args.workload == "batch_etl" and cores > 1:
        baseline = single_core_baseline(args)

    tracer = Tracer() if args.trace else None
    setups, spark = [], None
    try:
        # The oracle runs beside the first, cold set-up: the JVM launch is
        # mostly single-threaded, and the cold set-up is never the median.
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(wl.expect)
            for _ in range(1 if args.trace else max(args.setups, 1)):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                with tracer.span("session.start") if tracer else nullcontext():
                    spark = jvm.start_session(master, work)
                wl.warm_up(spark)
                setups.append(time.perf_counter() - t0)
            expected.result()
        probe = jvm.JvmProbe(spark)
        jvm.release(spark)
        probe.reset_peak_rss()
        if not args.trace:
            out = wl.measure(spark, args.seconds)
            metrics = {
                "throughput_per_s": statistics.median(out.rates),
                "latency_p50_s": statistics.median(out.latencies),
                "latency_p90_s": workloads.percentile(out.latencies, 0.9),
                "setup_s": statistics.median(setups),
            }
            units = END_TO_END
        else:
            # Untraced and traced windows in ABBA order, at least two
            # rounds, so both see the same JIT and cache state on average;
            # their difference is the tracing overhead.
            plain, out = workloads.Outcome(), workloads.Outcome()
            chunk = args.seconds / 4 if wl.trace_chunk_s is None else wl.trace_chunk_s
            deadline = time.perf_counter() + args.seconds
            rounds = 0
            while rounds < 2 or time.perf_counter() < deadline:
                for traced in ((False, True) if rounds % 2 == 0 else (True, False)):
                    if traced:
                        out.merge(wl.measure(spark, chunk, tracer, min_ops=1))
                    else:
                        plain.merge(wl.measure(spark, chunk, min_ops=1))
                rounds += 1
            peak_rss_mb = probe.peak_rss_mb()
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            layers = wl.layers(spark, tracer, out)
            unknown = set(layers) - set(PER_LAYER)
            if unknown:
                raise KeyError(f"unlisted per-layer metrics {sorted(unknown)}")
            metrics.update(layers)
            roots = {"cli.run_batch", "streaming.query", "cli.run_curate"}
            for layer, secs in tracer.self_time_by_layer(roots).items():
                if layer in SELF_LAYERS:
                    metrics[f"self.{layer}_s"] = secs / out.attempted
            metrics["session.start_s"] = tracer.total("session.start")
            metrics["trace.overhead_s"] = (statistics.median(out.latencies)
                                           - statistics.median(plain.latencies))
            metrics["trace.spans"] = float(len(tracer.spans))
            metrics["jvm.gc_s"] = probe.gc_s()
            metrics["jvm.jit_compile_s"] = probe.jit_compile_s()
            metrics["jvm.peak_rss_mb"] = peak_rss_mb
            if baseline:
                speedup = statistics.median(out.rates + plain.rates) / baseline
                metrics["spark.parallel_efficiency"] = speedup / cores
            out.merge(plain)
            units = PER_LAYER
            trace_path = os.path.join(work, f"trace-{tracer.run_id}.jsonl")
            tracer.write(trace_path)
            print(f"spans written to {trace_path}", file=sys.stderr)
    finally:
        if spark is not None:
            jvm.stop(spark)

    print(f"{args.workload} operation latencies (s, n={len(out.latencies)}): "
          + " ".join(f"{x:.3f}" for x in out.latencies), file=sys.stderr)
    print(f"{args.workload} set-ups (s): " + " ".join(f"{x:.3f}" for x in setups),
          file=sys.stderr)
    for problem in out.problems[:20]:
        print(f"WRONG OUTPUT: {problem}", file=sys.stderr)
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}", file=sys.stderr)
    print(f"{args.workload} correct = {out.failed == 0} "
          f"(attempted {out.attempted}, failed {out.failed})", file=sys.stderr)
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import k8s_log_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
