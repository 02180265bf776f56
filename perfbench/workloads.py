"""The benchmark's three workloads, each driven through the entry points a
user calls.

* ``batch_etl``: ``cli.run_batch`` over a directory of JSONL files with
  the file sink, a DLQ path and the default config. Closed loop: one
  batch run after another on the same input.
* ``stream_ingest``: ``streaming.pipeline.stream_pipeline`` plus
  ``start_file_sink`` on the default 1 s trigger. Open loop: a
  generator thread renames one file into the watched directory on a
  fixed schedule whether or not the query keeps up.
* ``curate_dedup``: ``cli.run_curate`` over a documents parquet. Closed
  loop like ``batch_etl``.

Each workload prepares its inputs and the oracle's expected results
from the seed before any timing, warms up (the warm-up is part of
set-up), and then measures operations until the window closes. An operation is one batch run, one streamed file or one curate
run; it fails when its output differs from the oracle.

With a tracer, ``measure`` records spans around the calls into each
layer and keeps what ``layers`` needs to report per-layer metrics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import threading
import time
from contextlib import ExitStack, nullcontext
from dataclasses import dataclass, field
from datetime import datetime

import gen
import jvm
import oracle
from tracing import Tracer, patched

from k8s_log_etl_spark import cli
from k8s_log_etl_spark.config import PipelineConfig


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1) of ``values``."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Outcome:
    """What one or more measurement windows produced."""

    latencies: list[float] = field(default_factory=list)
    rates: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: per-operation data the traced run turns into per-layer metrics
    details: list = field(default_factory=list)

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])

    def merge(self, other: Outcome) -> None:
        self.latencies += other.latencies
        self.rates += other.rates
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems += other.problems
        self.details += other.details


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else nullcontext()


def _cached(work: str, key_parts: list[str], compute):
    """JSON-cached oracle result keyed by a digest of the inputs and the
    oracle sources, so a seed measured twice in one checkout runs its
    oracle once."""
    from k8s_log_etl_spark.oracles import log_oracle
    from k8s_log_etl_spark.queries import text

    digest = hashlib.sha256()
    for module in (log_oracle, text):
        with open(module.__file__, "rb") as fh:
            digest.update(fh.read())
    for part in key_parts:
        digest.update(part.encode("utf-8"))
        digest.update(b"\0")
    path = os.path.join(os.path.dirname(work), "oracle-cache", digest.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


def _log_expectation(work: str, lines: list[str]) -> oracle.LogExpectation:
    def compute():
        exp = oracle.expect_logs(lines)
        return {"summary": exp.summary, "written_ids": sorted(exp.written_ids)}

    raw = _cached(work, ["logs", *lines], compute)
    return oracle.LogExpectation(raw["summary"], frozenset(raw["written_ids"]))


def _spark_layers(stage_deltas: list[dict], walls: list[float]) -> dict[str, float]:
    """Median per-operation task time, shuffle and spill bytes, and
    parallelism (task time / wall time) from the status store."""
    med = lambda key: statistics.median(d[key] for d in stage_deltas)  # noqa: E731
    return {
        "spark.task_time_ms": med("task_ms"),
        "spark.shuffle_bytes": med("shuffle_bytes"),
        "spark.spill_bytes": med("spill_bytes"),
        "spark.parallelism": statistics.median(
            d["task_ms"] / (w * 1000.0) for d, w in zip(stage_deltas, walls)),
    }


# ---------------------------------------------------------------------------
# batch_etl
# ---------------------------------------------------------------------------


class BatchEtl:
    name = "batch_etl"
    n_lines = 10_000
    #: the JIT is still speeding up the first measured runs; with three,
    #: the median is never the first
    min_ops = 3
    #: the traced run alternates untraced and traced windows of this length
    trace_chunk_s = 0.0

    def __init__(self, seed: int, work: str, cores: int) -> None:
        self.seed, self.work, self.cores = seed, work, cores
        self.input = os.path.join(work, "input")
        self.out = os.path.join(work, "out")
        self.dlq = os.path.join(work, "dlq")

    def prepare(self, seconds: float) -> None:
        self.lines = gen.log_lines(self.seed, self.n_lines)
        # at least one file per core, so the scan is parallel
        gen.write_log_dir(_fresh(self.input), self.lines, max(self.cores, 8))

    def expect(self) -> None:
        self.exp = _log_expectation(self.work, self.lines)

    def _args(self):
        args = cli.build_parser().parse_args([
            "--input", self.input, "--output-type", "file", "--output-path", self.out,
            "--dlq-path", self.dlq,
        ])
        return args, cli.resolve_config(args)

    def warm_up(self, spark) -> None:
        """One batch run over the measured input: a smaller one leaves
        the hot loops to be compiled during the first measured run."""
        _fresh(self.out), _fresh(self.dlq)
        cli.run_batch(*self._args(), spark)

    def measure(self, spark, seconds: float, tracer: Tracer | None = None,
                min_ops: int | None = None) -> Outcome:
        out = Outcome()
        args, cfg = self._args()
        stages = jvm.StageStats(spark) if tracer else None
        deadline = time.perf_counter() + seconds
        with self._traced(tracer):
            while out.attempted < (min_ops or self.min_ops) or time.perf_counter() < deadline:
                _fresh(self.out), _fresh(self.dlq)
                jvm.release(spark)
                if stages:
                    stages.mark()
                t0 = time.perf_counter()
                with _span(tracer, "cli.run_batch"):
                    rep = cli.run_batch(args, cfg, spark)
                dt = time.perf_counter() - t0
                out.latencies.append(dt)
                out.rates.append(rep.total_lines / dt)
                out.record(oracle.check_batch(rep, oracle.read_text_dir(self.out),
                                              oracle.read_text_dir(self.dlq), self.exp))
                if stages:
                    out.details.append((rep, stages.delta()))
        return out

    def _traced(self, tracer):
        if tracer is None:
            return nullcontext()
        from pyspark.sql.readwriter import DataFrameWriter

        from k8s_log_etl_spark.operators import plan_metrics
        from k8s_log_etl_spark.operators import report as R
        from k8s_log_etl_spark.sinks import writers
        from k8s_log_etl_spark.sources import jsonl

        def text_span(writer, path, *a, **kw):
            return "sinks.dlq_write" if path == self.dlq else "sinks.text_write"

        return patched(tracer, [
            (jsonl, "read_jsonl", "sources.read_jsonl"),
            (cli.lognorm, "run_pipeline", "lognorm.run_pipeline"),
            (writers, "write_jsonl_file", "sinks.file_write"),
            (DataFrameWriter, "text", text_span),
            (R, "report_from_observation", "report.report_from_observation"),
            (R, "merge_sink_stats", "report.merge_sink_stats"),
            (plan_metrics, "executed_plan_metrics", "report.executed_plan_metrics"),
        ])

    def layers(self, spark, tracer: Tracer, out: Outcome) -> dict[str, float]:
        reports = [rep for rep, _ in out.details]
        n = len(reports)
        layers = {
            "sinks.file_write_s": tracer.total("sinks.file_write") / n,
            "sinks.dlq_write_s": tracer.total("sinks.dlq_write") / n,
            "report.report_s": sum(tracer.total(f"report.{f}") for f in (
                "report_from_observation", "merge_sink_stats", "executed_plan_metrics")) / n,
        }
        for stage in ("parse_normalize_filter", "write", "report"):
            layers[f"cli.stage_{stage}_ms"] = statistics.median(
                r.stage_timings_ms[stage] for r in reports)
        rep = reports[-1]
        layers.update({
            "lognorm.lines_in": rep.total_lines,
            "lognorm.json_failed": rep.json_failed,
            "lognorm.norm_failed": rep.normalized_failed,
            "lognorm.written": rep.written_ok,
            "lognorm.written_ratio": rep.written_ok / rep.total_lines,
        })
        # run_batch's own plan walk of its cache build; nested codegen
        # stages each time their whole task, so take the largest
        layers["spark.pipeline_time_ms"] = statistics.median(
            max((row["metrics"].get("pipelineTime", 0) for row in r.operator_metrics), default=0)
            for r in reports)
        layers.update(_spark_layers([d for _, d in out.details], out.latencies))
        layers.update(self._prefix_layers(spark, tracer))
        return layers

    def _prefix_layers(self, spark, tracer: Tracer) -> dict[str, float]:
        """Prefix-timed noop actions outside the batch runs: each layer's
        cost is its prefix's time minus the previous prefix's (best of
        two). Rendering is timed over the cached annotated records."""
        from k8s_log_etl_spark import plugins
        from k8s_log_etl_spark.operators import lognorm
        from k8s_log_etl_spark.sinks import writers
        from k8s_log_etl_spark.sources import jsonl

        def noop(name: str, df) -> float:
            best = float("inf")
            for _ in range(2):
                jvm.release(spark)
                t0 = time.perf_counter()
                with tracer.span(name):
                    df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            return best

        cfg = PipelineConfig()
        scanned = lognorm.scan_lines(jsonl.read_jsonl(spark, self.input))
        parsed = lognorm.parse_json(scanned)
        normalized = lognorm.normalize(parsed)
        chained = plugins.apply_chain(normalized, cfg, cfg.transforms)
        layers, previous = {}, 0.0
        for name, df in (("lognorm.scan", scanned), ("lognorm.parse", parsed),
                         ("lognorm.normalize", normalized),
                         ("plugins.filter_redact", chained)):
            took = noop(name + "_prefix", df)
            layers[name + "_s"] = took - previous
            previous = took
        cached = chained.cache()
        try:
            cached.count()
            written = lognorm.written_records(cached)
            layers["sinks.render_s"] = (noop("sinks.render_prefix", writers.render_jsonl(written))
                                        - noop("lognorm.written_prefix", written))
        finally:
            cached.unpersist()
        return layers


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class StreamIngest:
    name = "stream_ingest"
    lines_per_file = 120
    interval_s = 0.06      # ~16.7 files/s = 2,000 lines/s
    drain_grace_s = 2.0    # two triggers after the last file is due
    warm_files = 16
    trace_chunk_s = None   # a quarter of the window each

    def __init__(self, seed: int, work: str, cores: int) -> None:
        self.seed, self.work, self.cores = seed, work, cores
        self.runs = 0

    def prepare(self, seconds: float) -> None:
        n_files = int(round(seconds / self.interval_s))
        lines = gen.log_lines(self.seed, n_files * self.lines_per_file)
        per = self.lines_per_file
        self.lines = lines
        self.files = ["".join(ln + "\n" for ln in lines[k * per:(k + 1) * per])
                      for k in range(n_files)]
        self.warm_dir = _fresh(os.path.join(self.work, "warm-input"))
        warm = gen.log_lines(self.seed, self.warm_files * per, first_id=len(lines))
        gen.write_log_dir(self.warm_dir, warm, self.warm_files)

    def expect(self) -> None:
        """The oracle's written line ids, per file."""
        self.want: dict[int, set[int]] = {k: set() for k in range(len(self.files))}
        for i in _log_expectation(self.work, self.lines).written_ids:
            self.want[i // self.lines_per_file].add(i)

    def warm_up(self, spark) -> None:
        """A few micro-batches through the same query shape, run to
        completion with an availableNow trigger."""
        from k8s_log_etl_spark.streaming import pipeline as SP

        run = _fresh(os.path.join(self.work, "warm-run"))
        cfg = PipelineConfig()
        df = SP.stream_pipeline(spark, self.warm_dir, cfg, max_files_per_trigger=4)
        SP.start_file_sink(df, os.path.join(run, "out"), os.path.join(run, "ckpt"),
                           cfg, trigger_once=True).awaitTermination()

    def measure(self, spark, seconds: float, tracer: Tracer | None = None,
                min_ops: int | None = None) -> Outcome:
        """One stream run of ``seconds``; every file is an operation."""
        from k8s_log_etl_spark.streaming import pipeline as SP

        self.runs += 1
        run = _fresh(os.path.join(self.work, f"run-{self.runs}"))
        watch, out_dir, ckpt = (os.path.join(run, d) for d in ("watch", "out", "ckpt"))
        os.makedirs(watch)
        n_files = min(len(self.files), max(int(round(seconds / self.interval_s)), 1))
        names = [os.path.join(watch, f"f-{k:05d}.jsonl") for k in range(n_files)]
        cfg = PipelineConfig()
        jvm.release(spark)
        with self._traced(tracer), _span(tracer, "streaming.query"):
            df = SP.stream_pipeline(spark, watch, cfg)
            query = SP.start_file_sink(df, out_dir, ckpt, cfg, trigger_once=False)
            try:
                # Processing-time triggers fire on whole multiples of the
                # trigger interval since the epoch; files are due half an
                # interval off that grid, so every run has the same phase.
                t0 = float(math.ceil(time.time() + 0.5))
                due = [t0 + self.interval_s / 2 + k * self.interval_s for k in range(n_files)]
                lags: list[float] = []
                loader = threading.Thread(target=self._drop_files, args=(names, due, lags))
                loader.start()
                loader.join()
                run_end = due[-1] + self.drain_grace_s
                time.sleep(max(0.0, run_end - time.time()))
                backlog = n_files - len(_committed_files(ckpt, names, until=run_end))
                deadline = time.time() + 30
                while len(_committed_files(ckpt, names)) < n_files and time.time() < deadline:
                    time.sleep(0.1)
                progress = list(query.recentProgress)
            finally:
                query.stop()
        return self._outcome(out_dir, ckpt, names, due, lags, backlog, progress)

    def _drop_files(self, names, due, lags) -> None:
        for k, (name, when) in enumerate(zip(names, due)):
            # hidden names are ignored by the file source until renamed
            tmp = os.path.join(os.path.dirname(name), "." + os.path.basename(name))
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(self.files[k])
            time.sleep(max(0.0, when - time.time()))
            os.rename(tmp, name)
            lags.append(time.time() - when)

    def _outcome(self, out_dir, ckpt, names, due, lags, backlog, progress) -> Outcome:
        out = Outcome()
        batch_of = _file_batches(ckpt)
        commit_at = _commit_times(ckpt)
        started_at = {p["batchId"]: _iso_epoch(p["timestamp"]) for p in progress}
        text = oracle.read_text_dir(out_dir)
        ids_by_file: dict[int, list[int]] = {}
        for i in oracle.written_ids(text):
            ids_by_file.setdefault(i // self.lines_per_file, []).append(i)
        leaked = any(key in text for key in oracle.REDACTED_KEYS)
        waits = []
        for k, (name, when) in enumerate(zip(names, due)):
            batch = batch_of.get(name)
            problems = []
            if batch not in commit_at:
                problems.append(f"file {k} never committed")
            else:
                out.latencies.append(commit_at[batch] - when)
                if batch in started_at:
                    waits.append(started_at[batch] - when)
            got, want = ids_by_file.get(k, []), self.want[k]
            if len(got) != len(want) or set(got) != want:
                problems.append(f"file {k}: sink has {len(got)} records, oracle {len(want)}")
            if leaked:
                problems.append("unredacted PII in sink")
            out.record(problems)
        span = max(commit_at.values(), default=due[-1]) - due[0]
        out.rates.append(len(names) * self.lines_per_file / span)
        out.details.append({"progress": progress, "waits": waits,
                            "backlog": backlog, "lag_max": max(lags)})
        return out

    def _traced(self, tracer):
        if tracer is None:
            return nullcontext()
        from pyspark.sql.readwriter import DataFrameWriter

        from k8s_log_etl_spark.streaming import pipeline as SP

        return patched(tracer, [
            (SP, "stream_pipeline", "streaming.stream_pipeline"),
            (SP, "start_file_sink", "streaming.start_file_sink"),
            (DataFrameWriter, "text", "sinks.stream_write"),
        ])

    def layers(self, spark, tracer: Tracer, out: Outcome) -> dict[str, float]:
        """Per-trigger costs from ``StreamingQuery.recentProgress`` over
        the triggers that processed data."""
        data = [p for d in out.details for p in d["progress"] if p.get("numInputRows", 0) > 0]
        waits = [w for d in out.details for w in d["waits"]]

        def p50(*keys) -> float:
            vals = [sum(p["durationMs"].get(k, 0) for k in keys) / 1000.0 for p in data]
            return statistics.median(vals) if vals else 0.0

        return {
            "streaming.trigger_s_p50": p50("triggerExecution"),
            "streaming.add_batch_s_p50": p50("addBatch"),
            "streaming.planning_s_p50": p50("queryPlanning"),
            "streaming.offsets_s_p50": p50("latestOffset", "getBatch"),
            "streaming.commit_s_p50": p50("walCommit", "commitOffsets"),
            "streaming.queue_wait_s_p50": statistics.median(waits) if waits else 0.0,
            "streaming.rows_per_batch": float(statistics.median(p["numInputRows"] for p in data)),
            "streaming.batches": float(len(data)),
            "streaming.backlog_end": float(max(d["backlog"] for d in out.details)),
            "loadgen.lag_s_max": max(d["lag_max"] for d in out.details),
        }


def _iso_epoch(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _file_batches(ckpt: str) -> dict[str, int]:
    """file path -> batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[re.sub(r"^file:/+", "/", entry["path"])] = int(entry["batchId"])
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    """batch id -> wall time its commit log entry was written."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        base = os.path.basename(p)
        if base.isdigit():
            out[int(base)] = os.stat(p).st_mtime_ns / 1e9
    return out


def _committed_files(ckpt: str, names, until: float | None = None) -> set[str]:
    batch_of = _file_batches(ckpt)
    commits = _commit_times(ckpt)
    return {
        n for n in names
        if batch_of.get(n) in commits and (until is None or commits[batch_of[n]] <= until)
    }


# ---------------------------------------------------------------------------
# curate_dedup
# ---------------------------------------------------------------------------


class CurateDedup:
    name = "curate_dedup"
    n_docs = 800
    warm_docs = 20
    min_ops = 1
    trace_chunk_s = 0.0

    def __init__(self, seed: int, work: str, cores: int) -> None:
        self.seed, self.work, self.cores = seed, work, cores
        self.input = os.path.join(work, "docs")
        self.warm_input = os.path.join(work, "warm-docs")
        self.out = os.path.join(work, "curated")
        self.report = os.path.join(work, "curate-report.json")

    def prepare(self, seconds: float) -> None:
        self.docs = gen.documents(self.seed, self.n_docs)
        gen.write_documents(_fresh(self.input), self.docs, max(self.cores, 8))
        gen.write_documents(_fresh(self.warm_input),
                            gen.documents(self.seed + 1_000_003, self.warm_docs), 2)

    def expect(self) -> None:
        docs = self.docs
        self.exp = _cached(self.work, ["docs", *docs["text"], *docs["lang"]],
                           lambda: oracle.expect_curate(docs))

    def _args(self):
        args = cli.build_parser().parse_args([
            "--curate", "--input", self.input, "--output-path", self.out,
            "--report-path", self.report,
        ])
        return args, cli.resolve_config(args)

    def warm_up(self, spark) -> None:
        """The curation chain over a few documents, written the way
        ``run_curate`` writes its survivors. A whole ``run_curate`` costs
        ~7 s at any size (its cached survivors keep the 256 initial
        shuffle partitions), which three set-ups per run cannot afford."""
        from k8s_log_etl_spark.queries.text import corpus_survivors

        docs = spark.read.parquet(self.warm_input)
        (corpus_survivors(docs).drop("n_tokens").write.mode("overwrite")
         .partitionBy("lang").parquet(_fresh(self.out)))

    def measure(self, spark, seconds: float, tracer: Tracer | None = None,
                min_ops: int | None = None) -> Outcome:
        out = Outcome()
        args, cfg = self._args()
        stages = jvm.StageStats(spark) if tracer else None
        deadline = time.perf_counter() + seconds
        while out.attempted < (min_ops or self.min_ops) or time.perf_counter() < deadline:
            _fresh(self.out)
            if os.path.exists(self.report):
                os.remove(self.report)
            jvm.release(spark)
            captured: dict[str, list] = {"pairs": [], "checkpoints": []}
            if stages:
                stages.mark()
            t0 = time.perf_counter()
            with self._traced(tracer, captured), _span(tracer, "cli.run_curate"):
                cli.run_curate(args, cfg, spark)
            dt = time.perf_counter() - t0
            out.latencies.append(dt)
            out.rates.append(self.n_docs / dt)
            with open(self.report, encoding="utf-8") as fh:
                report = json.load(fh)
            out.record(oracle.check_curate(report, oracle.survivors_by_lang(self.out), self.exp))
            if tracer:
                out.details.append(self._op_layers(captured, stages.delta()))
        return out

    def _traced(self, tracer, captured):
        """Spans around the curation layers, plus a record of the frames
        they return so the traced run can count pairs and duplicates."""
        if tracer is None:
            return nullcontext()
        from pyspark.sql.readwriter import DataFrameWriter

        from k8s_log_etl_spark.queries import dedup, text

        def keep(key, fn):
            def wrapper(*a, **kw):
                result = fn(*a, **kw)
                captured[key].append(result)
                return result
            return wrapper

        stack = ExitStack()
        stack.enter_context(patched(tracer, [
            (text, "corpus_survivors", "text.corpus_survivors"),
            (text, "posting_pairs", "dedup.posting_pairs"),
            (text, "spill_checkpoint", "tables.spill_checkpoint"),
            (dedup, "spill_checkpoint", "tables.spill_checkpoint"),
            (DataFrameWriter, "parquet", "sinks.parquet_write"),
        ]))
        for attr, key in (("posting_pairs", "pairs"), ("spill_checkpoint", "checkpoints")):
            traced_fn = getattr(text, attr)
            setattr(text, attr, keep(key, traced_fn))
            stack.callback(setattr, text, attr, traced_fn)
        return stack

    def _op_layers(self, captured, stage_delta) -> dict:
        """Counts off the frames the op built, taken after its timing."""
        from pyspark.sql import functions as F

        from k8s_log_etl_spark.queries.text import NEAR_DUP_JACCARD

        sizes, pairs = captured["pairs"][-1]
        sa, sb = sizes.alias("sa"), sizes.alias("sb")
        jac = F.col("c") / (F.col("sa.sz") + F.col("sb.sz") - F.col("c"))
        candidates = pairs.count()
        near = (pairs.join(sa, F.col("da") == F.col("sa.doc_id"))
                .join(sb, F.col("db") == F.col("sb.doc_id"))
                .filter(jac >= NEAR_DUP_JACCARD).count())
        base = next(df for df in captured["checkpoints"] if "h" in df.columns)
        exact_dups = base.count() - base.select("h").distinct().count()
        return {
            "dedup.candidate_pairs": float(candidates),
            "dedup.near_dup_pairs": float(near),
            "dedup.verify_ratio": near / candidates if candidates else 0.0,
            "text.exact_dups": float(exact_dups),
            "stages": stage_delta,
        }

    def layers(self, spark, tracer: Tracer, out: Outcome) -> dict[str, float]:
        n = len(out.details)
        layers = {k: statistics.median(d[k] for d in out.details)
                  for k in out.details[0] if k != "stages"}
        layers.update(_spark_layers([d["stages"] for d in out.details], out.latencies))
        layers.update({
            "tables.spill_checkpoint_s": tracer.total("tables.spill_checkpoint") / n,
            "dedup.posting_pairs_s": tracer.total("dedup.posting_pairs") / n,
            "sinks.parquet_write_s": tracer.total("sinks.parquet_write") / n,
        })
        return layers


WORKLOADS = {w.name: w for w in (BatchEtl, StreamIngest, CurateDedup)}
