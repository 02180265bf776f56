"""Command-line entry point — the reference's user surface
(cmd/etl/main.go:28-209) re-expressed for Spark.

Same contract: flags (21-flag surface, main.go:30-52) over env over
config file over defaults (config.go:45-141); run the pipeline over a
JSONL file/dir/stdin; write records to stdout / file / rotating file /
HTTP sink with retry+DLQ; finish with a JSON report and optional
Prometheus text; print summary lines. `--stream` runs the identical
lineage under Structured Streaming over an input directory.

Usage:
    python -m k8s_log_etl_spark --input logs.jsonl \
        --filter-levels WARN,ERROR --redact-keys user_email,token \
        --output-type file --output-path out/ --report-path report.json
"""

from __future__ import annotations

import argparse
import sys
import time
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from k8s_log_etl_spark.config import (
    FIELD_TYPES, LOG_FORMATS, LOG_LEVELS, OUTPUT_TYPES, PipelineConfig, load_config,
)
from k8s_log_etl_spark.operators import lognorm, report as R
from k8s_log_etl_spark.session import get_spark
from k8s_log_etl_spark.sinks import writers
from k8s_log_etl_spark.sources import jsonl as sources


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="k8s-log-etl-spark", description=__doc__)
    p.add_argument("--input", default=None,
                   help="JSONL file/dir, or - for stdin (default: config input, "
                        "reference legacy examples/k8s_logs.jsonl)")
    p.add_argument("--config", default=None, help="JSON or YAML config file")
    p.add_argument("--filter-levels", default=None, help="comma/semicolon list")
    p.add_argument("--filter-services", default=None)
    p.add_argument("--redact-keys", default=None)
    p.add_argument("--output-type", default=None, choices=OUTPUT_TYPES)
    p.add_argument("--output-path", "--output", default=None)
    p.add_argument("--http-url", default=None, help="sink URL for output-type http")
    p.add_argument("--dlq-path", "--dlq", default=None)
    p.add_argument("--max-retries", "--sink-max-retries", type=int, default=None)
    p.add_argument("--backoff-base-ms", "--sink-backoff-base-ms", type=int, default=None)
    p.add_argument("--backoff-max-ms", "--sink-backoff-max-ms", type=int, default=None)
    p.add_argument("--jitter-pct", "--sink-backoff-jitter-pct", type=float, default=None)
    p.add_argument("--batch-size", type=int, default=None)
    p.add_argument("--flush-interval-ms", "--batch-flush-interval-ms", type=int, default=None)
    p.add_argument("--max-workers", type=int, default=None)
    p.add_argument("--queue-size", type=int, default=None)
    p.add_argument("--transforms", default=None,
                   help="comma list of registered transform names")
    p.add_argument("--rotate-max-bytes", "--output-max-bytes", type=int, default=None)
    p.add_argument("--rotate-max-files", "--output-max-files", type=int, default=None)
    p.add_argument("--shutdown-timeout-seconds", type=int, default=None)
    p.add_argument("--log-level", default=None, choices=LOG_LEVELS)
    p.add_argument("--log-format", default=None, choices=LOG_FORMATS)
    p.add_argument("--report-path", "--report", default=None, help="JSON report output")
    p.add_argument("--prometheus-path", default=None, help="Prometheus text output")
    p.add_argument("--stream", action="store_true", help="Structured Streaming over an input dir")
    p.add_argument("--sql", default=None,
                   help="run an ANSI SQL statement over the registered tables "
                        "(--sf-dir) and print JSONL rows to stdout")
    p.add_argument("--sf-dir", default=None,
                   help="table directory for --sql mode (parquet per table)")
    p.add_argument("--state-path", default=None,
                   help="curate mode: parquet dir of previously-kept canonical "
                        "hashes; new drops are deduped against it and the "
                        "state is extended with this run's survivors")
    p.add_argument("--curate", action="store_true",
                   help="corpus-curation mode: clean a documents parquet "
                        "(quality gate -> exact dedup -> near-dup removal) "
                        "and write the surviving docs as parquet")
    p.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    p.add_argument("--rollup", action="store_true",
                   help="continuous-aggregate mode: maintain the hourly "
                        "events rollup from --input (a dir of JSON events "
                        "with ts/event_type/value) into --output-path; "
                        "idempotent and incremental across invocations")
    p.add_argument("--rollup-serve", default=None, metavar="CUTOFF_TS",
                   help="with --rollup: after maintenance, print the merged "
                        "rollup+tail aggregate (materialized hours before "
                        "CUTOFF_TS 'yyyy-MM-dd HH:MM:SS', raw tail after) "
                        "as JSONL to stdout")
    p.add_argument("--compact", default=None, metavar="PATH",
                   help="compact small parquet files per partition dir "
                        "under PATH (use with --partition-col; atomic "
                        "per-partition swap)")
    p.add_argument("--partition-col", default="hour_key",
                   help="partition column name for --compact "
                        "(default hour_key, the rollup layout)")
    p.add_argument("--explain", default=None, metavar="QUERY",
                   help="print the optimized physical plan of a registered "
                        "query (by name) or, with --sql, of that statement; "
                        "no execution")
    p.add_argument("--master", default=None, help="Spark master override")
    return p


# Flags whose argparse dest differs from the config field they set. A
# flag whose dest IS a field name sets that field without an entry here.
_FLAG_RENAMES = {
    "input": "input_path",
    "rotate_max_bytes": "output_max_bytes",
    "rotate_max_files": "output_max_files",
}


def resolve_config(args: argparse.Namespace) -> PipelineConfig:
    overrides: dict[str, Any] = {}
    for dest, value in vars(args).items():
        field = _FLAG_RENAMES.get(dest, dest)
        if value is not None and field in FIELD_TYPES:
            overrides[field] = value
    return load_config(path=args.config, overrides=overrides)


def _write_sink(
    args: argparse.Namespace, cfg: PipelineConfig, written, spark: SparkSession
):
    """Dispatch on output_type (reference builder.go:15-55). Returns an
    attempts DataFrame for sinks that track per-record outcomes."""
    if cfg.output_type == "stdout":
        for row in writers.render_jsonl(written).toLocalIterator():
            print(row["value"])
        return None
    if cfg.output_type == "file":
        writers.write_jsonl_file(written, cfg.output_path)
        return None
    if cfg.output_type == "parquet":
        written.drop("m", "json_ok", "norm_error", "drop_reason").write.mode(
            "overwrite"
        ).parquet(cfg.output_path)
        return None
    if cfg.output_type in {"rotate", "rotating"}:
        rot = writers.RotatingJsonlWriter(
            cfg.output_path, cfg.output_max_bytes, cfg.output_max_files
        )
        rot.write_batch(written)
        return None
    if cfg.output_type in {"http", "webhook"}:
        # reference parity: the Go CLI routes the sink URL through
        # --output (README.md:108 `--output-type http --output
        # https://...`, builder.go); accept an http(s) output_path as
        # the URL so that invocation runs verbatim
        url = args.http_url or (
            cfg.output_path
            if (cfg.output_path or "").startswith(("http://", "https://"))
            else None
        )
        if not url:
            raise SystemExit("--http-url is required for output-type http")
        attempts = writers.post_records(
            writers.render_jsonl(written), url, writers.RetryPolicy.from_config(cfg)
        ).cache()
        attempts.count()  # materialize: posts happen now, observation fills
        if cfg.dlq_path:
            writers.write_dlq(attempts, cfg.dlq_path)
        return attempts
    if cfg.output_type == "s3":
        # named placeholder, reference builder.go:46-48 — Spark
        # natively supersedes it: pass an s3a:// path to --output-type
        # parquet/file with hadoop-aws on the classpath
        raise SystemExit(
            "open sink: S3 sink not yet implemented "
            "(use an s3a:// --output-path with the parquet/file sink)"
        )
    if cfg.output_type == "kafka":
        # named placeholder, reference builder.go:49-51 — Spark's
        # native kafka sink (df.write.format('kafka')) supersedes it
        raise SystemExit(
            "open sink: Kafka sink not yet implemented "
            "(use Spark's native format('kafka') writer)"
        )
    raise SystemExit(f"unsupported output type {cfg.output_type!r}")


def run_batch(args: argparse.Namespace, cfg: PipelineConfig, spark: SparkSession) -> R.RunReport:
    start = time.monotonic()
    if cfg.input_path == "-":
        lines = sources.read_stdin_lines(spark)
    else:
        lines = sources.read_jsonl(spark, cfg.input_path)
    df, obs = R.attach_observation(lognorm.run_pipeline(lines, cfg))
    df = df.cache()
    # Stage timings (reference O14, report.go StageTimings): Spark fuses
    # parse/normalize/filter into one codegen'd pass, so the honest
    # boundaries are the engine's real actions — build the lineage on
    # the driver, materialize the cached pipeline (scan→parse→normalize→
    # filter annotate), write from cache, the report tallies, then the
    # plan-metrics walk and DLQ write. Wall-clock around each; together
    # they cover the whole run. No extra pass (the cache build was
    # implicit in the sink action before).
    t0 = time.monotonic()
    df.count()
    t1 = time.monotonic()
    written = lognorm.written_records(df)
    attempts = _write_sink(args, cfg, written, spark)
    t2 = time.monotonic()
    # Counters were observed during the cache build — no extra pass;
    # only the level/service tallies run, as one (cache-served) group-by.
    rep = R.report_from_observation(obs, df)
    rep = R.merge_sink_stats(rep, attempts)
    t3 = time.monotonic()
    # Per-operator layer below the action boundaries (reference O14's
    # per-operator clocks): the cache build above ran the pipeline's
    # shared cached plan, so its node accumulators now hold the real
    # scan/parse/filter metrics — read them back engine-natively.
    from k8s_log_etl_spark.operators.plan_metrics import executed_plan_metrics

    rep.operator_metrics = executed_plan_metrics(df)
    # Parse/normalize failures also flow to the DLQ when configured
    # (reference main.go:318-326 routes only write failures; we add the
    # corrupt-record routing Spark gives for free).
    if cfg.dlq_path:
        bad = df.filter(f"NOT ({lognorm.OK_SQL})")
        writers.write_dlq(
            bad.selectExpr(
                "value",
                "0 AS retries",
                "CASE WHEN NOT json_ok THEN 'json parse failed' ELSE norm_error END AS error",
            ),
            cfg.dlq_path,
        )
        # `bad` is exactly the json-failed plus the normalize-failed
        # rows, both already counted by the observation: no count job.
        rep.dlq_written += rep.json_failed + rep.normalized_failed
    t4 = time.monotonic()
    rep.duration_sec = t4 - start
    rep.stage_timings_ms = {
        name: round((stop - begin) * 1000, 3)
        for name, begin, stop in (
            ("build", start, t0),
            ("parse_normalize_filter", t0, t1),
            ("write", t1, t2),
            ("report", t2, t3),
            ("dlq", t3, t4),
        )
    }
    df.unpersist()
    return rep


def run_stream(args: argparse.Namespace, cfg: PipelineConfig, spark: SparkSession) -> None:
    from k8s_log_etl_spark.streaming import pipeline as SP

    if not cfg.output_path:
        raise SystemExit("--output-path required in --stream mode")
    ckpt = args.checkpoint or (cfg.output_path.rstrip("/") + "_checkpoint")
    df = SP.stream_pipeline(spark, cfg.input_path, cfg)
    q = SP.start_file_sink(df, cfg.output_path, ckpt, cfg, trigger_once=True)
    q.awaitTermination()


def run_curate(args: argparse.Namespace, cfg: PipelineConfig, spark: SparkSession) -> None:
    """Corpus-curation mode: the §2c cleaning chain over a documents
    parquet (columns doc_id/lang/text/...), survivors written as
    parquet, per-language budget report to stderr (and --report-path).

    Incremental mode (--state-path): the production delta loop. The
    state table holds the canonical md5 of every document ever kept;
    new drops are anti-joined against it BEFORE the expensive
    clean/near-dup stages (keyed on the 32-byte digest — constant
    shuffle width regardless of document size), and the state is
    extended with this run's survivors. At 100 TB only the delta pays
    cleaning cost.

    What the state suppresses: any document whose canonical hash was
    kept before — a re-sent survivor or an exact duplicate of one.
    What it does not: the state holds no hash of a DROPPED document,
    so re-running the same drop is not a no-op. A near-duplicate
    dropped in run 1 (its hash differs from its kept partner's) finds
    that partner anti-joined away in run 2, survives, and is written
    and added to the state there.

    The survivors (and the anti-joined input) are materialized with
    `spill_checkpoint`, not `.cache()`: a cached plan keeps its final
    shuffle at the initial partition count (AQE does not coalesce
    cached plans here), so the write, the state append and the stats
    would each run that many tasks; and the state append would drop
    any cached plan reading the state path, re-running the chain
    against the extended state for the stats."""
    import os as _os

    from k8s_log_etl_spark.functions.textops import canonical_hash, words
    from k8s_log_etl_spark.queries.text import corpus_survivors
    from k8s_log_etl_spark.tables import spill_checkpoint

    if not cfg.output_path:
        raise SystemExit("--output-path required in --curate mode")
    docs = spark.read.parquet(cfg.input_path)

    n_seen_dropped = 0
    if args.state_path:
        docs = docs.withColumn("_h", canonical_hash(words(F.col("text"))))
        if _os.path.isdir(args.state_path) and _os.listdir(args.state_path):
            seen = spark.read.parquet(args.state_path).select("h").distinct()
            before = docs.count()
            docs = spill_checkpoint(
                docs.join(seen.withColumnRenamed("h", "_h"), "_h", "left_anti")
            )
            n_seen_dropped = before - docs.count()

    survivors = spill_checkpoint(corpus_survivors(docs))
    # Partitioned by lang: downstream per-language reads (sampling,
    # packing, mixing) prune to their partition instead of scanning the
    # whole cleaned corpus.
    survivors.drop("n_tokens").write.mode("overwrite").partitionBy("lang").parquet(
        cfg.output_path
    )
    if args.state_path:
        # Extend the state with this run's kept hashes (append-only,
        # tiny rows: one digest per survivor).
        (
            docs.join(survivors.select("doc_id"), "doc_id", "leftsemi")
            .select(F.col("_h").alias("h"))
            .distinct()
            .write.mode("append")
            .parquet(args.state_path)
        )
    stats = (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang")
        .collect()
    )
    report = {
        "seen_dropped": n_seen_dropped,
        "kept_docs": sum(r["n_docs"] for r in stats),
        "by_lang": {r["lang"]: {"n_docs": r["n_docs"], "total_tokens": r["total_tokens"]} for r in stats},
    }
    if args.report_path:
        import json as _json

        with open(args.report_path, "w", encoding="utf-8") as fh:
            _json.dump(report, fh, indent=2, sort_keys=True)
    for r in stats:
        print(f"curate: {r['lang']}: kept {r['n_docs']} docs, {r['total_tokens']} tokens", file=sys.stderr)


EVENTS_STREAM_SCHEMA = "ts timestamp, event_type string, value double"


def run_rollup(args: argparse.Namespace, spark: SparkSession) -> None:
    """Continuous-aggregate mode: one incremental maintenance pass of
    the hourly rollup (availableNow trigger — process what's there,
    finalize what the watermark allows, exit), then optionally serve
    the merged rollup+tail view. Re-invoking with the same checkpoint
    continues exactly where the last run stopped."""
    from k8s_log_etl_spark.streaming import rollup as RU

    if not args.input or not args.output_path:
        raise SystemExit("--rollup requires --input and --output-path")
    ckpt = args.checkpoint or (args.output_path.rstrip("/") + "_checkpoint")
    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).json(args.input)
    q = RU.maintain_rollup(spark, stream, args.output_path, ckpt)
    q.awaitTermination()
    if args.rollup_serve:
        raw = spark.read.schema(EVENTS_STREAM_SCHEMA).json(args.input)
        served = RU.rollup_with_tail(
            spark, args.output_path, raw, args.rollup_serve
        ).orderBy("hour_start", "event_type")
        for row in served.toJSON().toLocalIterator():
            print(row)


def run_sql(args: argparse.Namespace, spark: SparkSession) -> None:
    """SQL front door: register the star-schema tables from --sf-dir as
    temp views and execute one ANSI SQL statement, streaming the result
    to stdout as JSONL. The statement goes through the same Catalyst
    planning (pushdown, broadcast, AQE) as the DataFrame surface — the
    two APIs are one engine. Results are collected via toLocalIterator
    so the driver holds one partition at a time, not the full result."""
    from k8s_log_etl_spark.tables import DEFAULT_SF_DIR, register_views

    register_views(spark, args.sf_dir or DEFAULT_SF_DIR)
    df = spark.sql(args.sql)
    for row in df.toJSON().toLocalIterator():
        print(row)


def run_explain(args: argparse.Namespace, spark: SparkSession) -> None:
    """Operability front door for the plan-first philosophy: print the
    formatted physical plan (the same `.explain("formatted")` audit the
    repo's PLANS.md tables are built from) for a registered query by
    name, or for a --sql statement, without executing it. Lets a user
    check pushdown / broadcast / shuffle shape before paying for a run.
    """
    from k8s_log_etl_spark.plans.registry import load_all
    from k8s_log_etl_spark.tables import DEFAULT_SF_DIR, register_views

    sf_dir = args.sf_dir or DEFAULT_SF_DIR
    if args.explain == "sql":
        if not args.sql:
            raise SystemExit("--explain sql requires --sql <statement>")
        register_views(spark, sf_dir)
        df = spark.sql(args.sql)
    else:
        specs = load_all()
        if args.explain not in specs:
            raise SystemExit(
                f"unknown query {args.explain!r}; registered: "
                + ", ".join(sorted(specs))
            )
        df = specs[args.explain].fn(spark, sf_dir)
    df.explain(mode="formatted")


def main(argv: list[str] | None = None) -> int:
    from k8s_log_etl_spark.logging_setup import setup_logging

    args = build_parser().parse_args(argv)
    cfg = resolve_config(args)
    setup_logging(cfg.log_level, cfg.log_format)
    spark = get_spark(app_name="k8s-log-etl-spark", master=args.master)
    try:
        if args.explain:
            run_explain(args, spark)
            return 0
        if args.rollup:
            run_rollup(args, spark)
            return 0
        if args.compact:
            from k8s_log_etl_spark.operators import compaction as C

            todo = C.plan_compaction(spark, args.compact, args.partition_col)
            n = C.compact_partitions(spark, args.compact, args.partition_col, todo)
            print(f"compacted {n} partition(s) under {args.compact}", file=sys.stderr)
            return 0
        if args.sql:
            run_sql(args, spark)
            return 0
        if args.curate:
            run_curate(args, cfg, spark)
            return 0
        if args.stream:
            run_stream(args, cfg, spark)
            return 0
        rep = run_batch(args, cfg, spark)
        if args.report_path:
            rep.write_json(args.report_path)
        if args.prometheus_path:
            with open(args.prometheus_path, "w", encoding="utf-8") as fh:
                fh.write(rep.prometheus())
        # summary lines (reference main.go:166-208)
        print(
            f"processed {rep.total_lines} lines: "
            f"{rep.written_ok} written, {rep.normalized_failed} normalize-failed, "
            f"{rep.json_failed} json-failed, filtered={rep.filtered}",
            file=sys.stderr,
        )
        print(
            f"throughput {rep.throughput_lines_per_sec:.1f} lines/s "
            f"in {rep.duration_sec:.2f}s",
            file=sys.stderr,
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
