"""Sinks (reference O16-O23) re-expressed for Spark's execution model.

The reference's sink stack — JSONL encode, file / rotating-file / HTTP
writers, micro-batching, bounded-queue workers, retry with exponential
backoff + jitter, dead-letter queue — maps onto Spark as:

* JSONL encode (O16, internal/sink/jsonl.go:16-38): `render_jsonl` —
  a pure projection (`to_json(named_struct(...))`) with the reference's exact
  capitalized keys and RFC3339Nano timestamps; distributed, no Python.
* file sink (O17, builder.go:19-27): native `df.write.text`; single-file
  parity via coalesce(1) (replaces the mutex'd single writer O25,
  cmd/etl/main.go:539-554).
* rotating file sink (O18, rotate.go:21-93): byte-size rotation with
  retention is inherently a single-writer concern; `RotatingJsonlWriter`
  keeps the reference semantics (rotate at max_bytes into base.1…,
  delete beyond max_files) and runs on the driver inside foreachBatch.
* HTTP sink (O19, http.go:22-89) + retry (O23, main.go:480-537) + DLQ
  (O22, main.go:556-568): `post_records` is a *transformation* —
  mapPartitions posts every record with retry/backoff/jitter and emits
  one attempt-result row per record. Successes feed the report's retry
  stats (O15), failures stream into the DLQ path as {record, reason}
  JSONL. Executor-parallel posting replaces the reference's worker pool
  (O24); Spark's own micro-batches replace BatchedSink (O20).
"""

from __future__ import annotations

import glob
import json
import os
import random
import time
import urllib.error
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from k8s_log_etl_spark.config import PipelineConfig
from k8s_log_etl_spark.operators.lognorm import go_json_case, rfc3339nano, sql_str


_RECORD_FIELDS = {
    "TS": rfc3339nano("ts"), "Level": "level", "Service": "service",
    "Namespace": "namespace", "Pod": "pod", "Node": "node",
    "Message": "message", "TraceID": "trace_id", "Fields": "fields",
}


def _json_text(fields: dict[str, str]) -> str:
    """Go-cased `to_json` of a named struct (key -> SQL expression)."""
    struct = ", ".join(f"{sql_str(k)}, {v}" for k, v in fields.items())
    return go_json_case(f"to_json(named_struct({struct}))")


def render_jsonl(df: DataFrame) -> DataFrame:
    """Reference-parity JSONL encoding of written records: Go field
    names (TS, Level, …, Fields — model.Normalized has no JSON tags,
    normalized.go:3-13), timestamps re-serialized RFC3339Nano
    (normalize.go:178)."""
    return df.select(F.expr(_json_text(_RECORD_FIELDS)).alias("value"))


def write_jsonl_file(df: DataFrame, path: str) -> None:
    """O17: file JSONL sink — the reference's one output file, via
    coalesce(1)."""
    render_jsonl(df).coalesce(1).write.mode("overwrite").text(path)


# ---------------------------------------------------------------------------
# rotating writer (O18)
# ---------------------------------------------------------------------------


class RotatingJsonlWriter:
    """Byte-size-rotating JSONL writer with retention (reference
    rotate.go:34-93): writes to `path`, rotates to `path.1`, `path.2`, …
    when a line would exceed max_bytes, deletes the oldest beyond
    max_files. Driver-side single-writer (rotation order is global
    state); use inside foreachBatch."""

    def __init__(self, path: str, max_bytes: int, max_files: int) -> None:
        self.path = path
        self.max_bytes = max_bytes
        self.max_files = max_files
        self._size = os.path.getsize(path) if os.path.exists(path) else 0
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def write_line(self, line: str) -> None:
        data = line + "\n"
        if self._size > 0 and self._size + len(data.encode()) > self.max_bytes:
            self._rotate()
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(data)
        self._size += len(data.encode())

    def _rotate(self) -> None:
        # Shift path.N -> path.N+1 from the highest down, then path -> path.1.
        existing = sorted(
            (
                int(p.rsplit(".", 1)[1])
                for p in glob.glob(f"{self.path}.*")
                if p.rsplit(".", 1)[1].isdigit()
            ),
            reverse=True,
        )
        for n in existing:
            src = f"{self.path}.{n}"
            if n + 1 >= self.max_files:
                os.remove(src)
            else:
                os.replace(src, f"{self.path}.{n + 1}")
        if os.path.exists(self.path):
            os.replace(self.path, f"{self.path}.1")
        self._size = 0

    def write_batch(self, df: DataFrame) -> int:
        n = 0
        for row in render_jsonl(df).toLocalIterator():
            self.write_line(row["value"])
            n += 1
        return n


# ---------------------------------------------------------------------------
# retry + backoff + jitter (O23)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class RetryPolicy:
    """Reference backoff math (main.go:520-531): sleep
    min(base << attempt, max) plus uniform jitter rand*sleep*jitter_pct."""

    max_retries: int = 3
    backoff_base_ms: int = 50
    backoff_max_ms: int = 2000
    jitter_pct: float = 0.2

    @staticmethod
    def from_config(cfg: PipelineConfig) -> "RetryPolicy":
        return RetryPolicy(
            cfg.max_retries, cfg.backoff_base_ms, cfg.backoff_max_ms, cfg.jitter_pct
        )

    def sleep_ms(self, attempt: int, rng: random.Random) -> float:
        base = min(self.backoff_base_ms << attempt, self.backoff_max_ms)
        return base + rng.random() * base * self.jitter_pct


def write_with_retry(
    write_fn: Callable[[], None],
    policy: RetryPolicy,
    rng: random.Random | None = None,
    sleeper: Callable[[float], None] = time.sleep,
) -> tuple[int, str | None]:
    """Run write_fn up to 1+max_retries times. Returns (retries_used,
    error_or_None). Mirrors writeWithRetry (main.go:480-537)."""
    rng = rng or random.Random()
    err: str | None = None
    for attempt in range(policy.max_retries + 1):
        try:
            write_fn()
            return attempt, None
        except Exception as exc:  # noqa: BLE001 — reason string goes to the DLQ
            err = str(exc)
            if attempt < policy.max_retries:
                sleeper(policy.sleep_ms(attempt, rng) / 1000.0)
    return policy.max_retries, err


# ---------------------------------------------------------------------------
# HTTP sink as a transformation (O19 + O22 + O15)
# ---------------------------------------------------------------------------

ATTEMPT_SCHEMA = "value string, retries int, error string"


def post_records(
    rendered: DataFrame,
    url: str,
    policy: RetryPolicy,
    timeout_sec: float = 5.0,
) -> DataFrame:
    """POST each JSONL record to `url` (one request per record,
    Content-Type: application/json, 2xx = success — http.go:49-89),
    retrying per RetryPolicy. Emits one row per record:
    (value, retries, error). Runs executor-parallel via mapPartitions —
    the worker pool (O24) without the bounded queue, since micro-batch
    sizing already bounds in-flight work.

    Downstream: `write_dlq` → DLQ (O22); `report.merge_sink_stats` →
    write failures and retry stats (O15).
    """

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        rng = random.Random()
        for pdf in batches:
            values: list[str] = []
            retries_out: list[int] = []
            errors: list[str | None] = []
            for value in pdf["value"]:
                body = value.encode("utf-8")

                def do_post() -> None:
                    req = urllib.request.Request(
                        url, data=body, headers={"Content-Type": "application/json"}
                    )
                    with urllib.request.urlopen(req, timeout=timeout_sec) as resp:
                        if not 200 <= resp.status < 300:
                            raise urllib.error.HTTPError(
                                url, resp.status, f"status {resp.status}", resp.headers, None
                            )

                retries, err = write_with_retry(do_post, policy, rng)
                values.append(value)
                retries_out.append(retries)
                errors.append(err)
            yield pd.DataFrame({"value": values, "retries": retries_out, "error": errors})

    return rendered.mapInPandas(run, ATTEMPT_SCHEMA)


def dlq_records(attempts: DataFrame) -> DataFrame:
    """O22: failed writes as {record, reason} JSONL rows
    (dlqRecord, cmd/etl/main.go:475-478)."""
    return attempts.filter("error IS NOT NULL").select(
        F.expr(_json_text({"record": "value", "reason": "error"})).alias("value")
    )


def write_dlq(attempts: DataFrame, dlq_path: str) -> None:
    """Append failed records to the DLQ path as JSONL (s3:// rejected at
    config validation, config.go:402-405)."""
    dlq_records(attempts).coalesce(1).write.mode("append").text(dlq_path)
