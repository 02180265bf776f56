"""Sink-layer tests mirroring the reference's sink suite:
rotation+retention (rotate_test.go:10-39), retry-until-success and
max-retries-exceeded (http_test.go:12-91), DLQ routing
(cmd/etl/main.go:318-326), JSONL render parity."""

from __future__ import annotations

import http.server
import json
import os
import random
import threading

import pytest
from pyspark.sql import functions as F

from k8s_log_etl_spark.config import PipelineConfig
from k8s_log_etl_spark.fixtures import fixture_df
from k8s_log_etl_spark.operators import lognorm, report as R
from k8s_log_etl_spark.sinks import writers


@pytest.fixture(scope="module")
def written(spark):
    df = lognorm.run_pipeline(fixture_df(spark), PipelineConfig())
    return lognorm.written_records(df)


def test_render_jsonl_reference_keys(written):
    rows = writers.render_jsonl(written).collect()
    assert rows
    rec = json.loads(rows[0]["value"])
    assert set(rec) <= {
        "TS", "Level", "Service", "Namespace", "Pod", "Node", "Message", "TraceID", "Fields",
    }
    assert rec["TS"].endswith("Z") and "T" in rec["TS"]
    assert rec["Level"] == rec["Level"].upper()


def test_write_jsonl_single_file(written, tmp_path):
    out = str(tmp_path / "out")
    writers.write_jsonl_file(written, out)
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) == 1
    lines = open(os.path.join(out, parts[0])).read().splitlines()
    assert len(lines) == written.count()


def test_rotating_writer_rotates_and_retains(tmp_path):
    path = str(tmp_path / "rot.jsonl")
    w = writers.RotatingJsonlWriter(path, max_bytes=100, max_files=3)
    for i in range(40):
        w.write_line(json.dumps({"i": i, "pad": "x" * 20}))
    files = sorted(os.listdir(tmp_path))
    assert "rot.jsonl" in files
    # retention: at most base + (max_files - 1) rotated files
    assert len(files) <= 3
    assert all(os.path.getsize(tmp_path / f) <= 130 for f in files)
    # newest data is in the base file, oldest rotated out entirely
    last = json.loads(open(path).read().splitlines()[-1])
    assert last["i"] == 39


def test_write_with_retry_succeeds_after_failures():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("boom")

    sleeps: list[float] = []
    retries, err = writers.write_with_retry(
        flaky,
        writers.RetryPolicy(max_retries=5, backoff_base_ms=10, backoff_max_ms=40, jitter_pct=0.0),
        rng=random.Random(0),
        sleeper=sleeps.append,
    )
    assert (retries, err) == (2, None)
    # backoff doubles then caps: 10, 20 (ms → s)
    assert sleeps == [0.01, 0.02]


def test_write_with_retry_exhausts():
    def always_fail():
        raise RuntimeError("down")

    retries, err = writers.write_with_retry(
        always_fail,
        writers.RetryPolicy(max_retries=2, backoff_base_ms=1, backoff_max_ms=4, jitter_pct=0.0),
        sleeper=lambda _s: None,
    )
    assert retries == 2
    assert err == "down"


class _FlakyHandler(http.server.BaseHTTPRequestHandler):
    """Fails the first attempt per distinct body, then succeeds —
    except bodies containing "poison", which always 500."""

    seen: set[str] = set()

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers["Content-Length"])).decode()
        if "poison" in body:
            self.send_response(500)
        elif body not in self.seen:
            self.seen.add(body)
            self.send_response(503)
        else:
            self.send_response(200)
        self.end_headers()

    def log_message(self, *args):  # silence
        pass


@pytest.fixture()
def http_url():
    _FlakyHandler.seen = set()
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _FlakyHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/"
    srv.shutdown()


def test_http_sink_retry_and_dlq(spark, http_url, tmp_path):
    rendered = spark.createDataFrame(
        [('{"Message":"ok-1"}',), ('{"Message":"ok-2"}',), ('{"Message":"poison"}',)],
        ["value"],
    ).coalesce(1)
    policy = writers.RetryPolicy(max_retries=2, backoff_base_ms=1, backoff_max_ms=2, jitter_pct=0.0)
    attempts = writers.post_records(rendered, http_url, policy).cache()

    rep = R.merge_sink_stats(R.RunReport(written_ok=3), attempts)
    # ok records each needed 1 retry (first attempt 503); poison exhausted 2
    assert rep.writes_with_retries == 3
    assert rep.max_retries_per_write == 2
    assert rep.total_retries == 4
    assert (rep.written_ok, rep.write_failed, rep.dlq_written) == (2, 1, 1)

    dlq_dir = str(tmp_path / "dlq")
    writers.write_dlq(attempts, dlq_dir)
    dlq_lines = [
        json.loads(line)
        for p in os.listdir(dlq_dir)
        if p.startswith("part-")
        for line in open(os.path.join(dlq_dir, p)).read().splitlines()
    ]
    assert len(dlq_lines) == 1
    assert "poison" in dlq_lines[0]["record"]
    assert dlq_lines[0]["reason"]
    attempts.unpersist()


def test_retry_stats_no_failures(spark):
    attempts = spark.createDataFrame(
        [("a", 0, None), ("b", 0, None)], writers.ATTEMPT_SCHEMA
    )
    rep = R.merge_sink_stats(R.RunReport(written_ok=2), attempts)
    assert (rep.total_retries, rep.writes_with_retries, rep.max_retries_per_write) == (0, 0, 0)
    assert (rep.written_ok, rep.write_failed, rep.dlq_written, rep.dlq_reasons) == (2, 0, 0, {})
    assert writers.dlq_records(attempts).count() == 0


def test_merge_sink_stats_folds_mixed_attempts(spark):
    """Successes with and without retries plus failures under two
    reasons: failures leave written_ok for the DLQ, tallied per reason;
    retry stats span every attempt."""
    attempts = spark.createDataFrame(
        [
            ("a", 0, None), ("b", 1, None), ("c", 2, None),
            ("d", 3, "status 503"), ("e", 3, "status 503"), ("f", 0, "bad url"),
        ],
        writers.ATTEMPT_SCHEMA,
    )
    rep = R.merge_sink_stats(R.RunReport(written_ok=6), attempts)
    assert rep.write_failed == 3
    assert rep.written_ok == 3
    assert rep.dlq_written == 3
    assert rep.dlq_reasons == {"status 503": 2, "bad url": 1}
    assert rep.total_retries == 9
    assert rep.writes_with_retries == 4
    assert rep.max_retries_per_write == 3
