"""Unit tests for the normalize/filter pipeline semantics, mirroring the
reference's table-driven cases (normalize_test.go, filter_test.go) and the
golden 6-line integration invariant (integration_test.go:69-90)."""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from k8s_log_etl_spark.config import PipelineConfig
from k8s_log_etl_spark.fixtures import fixture_df
from k8s_log_etl_spark.operators import lognorm, report as R
from k8s_log_etl_spark.sinks import writers


def _pipeline_rows(spark, cfg=None):
    df = lognorm.run_pipeline(fixture_df(spark), cfg or PipelineConfig())
    return {r["line_id"]: r for r in df.collect()}


@pytest.fixture(scope="module")
def rows(spark):
    return _pipeline_rows(spark)


def test_alias_precedence(rows):
    r = rows[3]  # time/severity/message/app + kubernetes block + trace
    assert r["level"] == "ERROR"
    assert r["message"] == "timeout contacting auth"
    assert r["service"] == "gateway"
    assert r["namespace"] == "edge"
    assert r["pod"] == "gw-1"
    assert r["node"] == "ip-10-0-3-9"
    assert r["trace_id"] == "c9"
    assert r["norm_error"] is None


def test_component_and_hostname_fallbacks_and_override(rows):
    r = rows[4]
    assert r["service"] == "cache"       # component fallback
    assert r["node"] == "node-7"          # hostname fallback
    assert r["namespace"] == "prod"       # top-level overrides k8s block
    assert r["pod"] == "cache-0"          # block value (no top-level)
    # unrecognized kubernetes sub-keys dropped with the whole block
    assert "container" not in r["fields"]
    assert r["fields"]["nested"] == '{"k":87}'
    assert r["fields"]["tags"] == '[1,2,"x"]'
    assert r["fields"]["flag"] == "true"
    assert r["fields"]["empty"] is None


def test_trim_asymmetry(rows):
    r = rows[5]
    assert r["level"] == "WARN"           # trimmed + uppercased
    assert r["message"] == "padded"
    assert r["service"] == "SvcA"
    assert r["node"] == "n1"
    assert r["trace_id"] == "t1"
    assert r["namespace"] == " padded-ns "  # NOT trimmed
    assert r["pod"] == " pod-x "            # NOT trimmed


def test_validation_order_and_messages(rows):
    assert rows[7]["norm_error"] == lognorm.ERR_MISSING_TS
    assert rows[8]["norm_error"] == 'invalid timestamp "not-a-date": expected RFC3339'
    assert rows[9]["norm_error"] == lognorm.ERR_MISSING_TS
    assert rows[10]["norm_error"] == lognorm.ERR_MISSING_LEVEL
    assert rows[11]["norm_error"] == lognorm.ERR_MISSING_MSG
    assert rows[12]["norm_error"] == lognorm.ERR_MISSING_MSG
    # non-string canonical values are ignored for extraction
    assert rows[13]["norm_error"] == lognorm.ERR_MISSING_TS
    assert rows[14]["norm_error"] == lognorm.ERR_MISSING_LEVEL


def test_non_string_canonical_excluded_from_fields(rows):
    assert "ts" not in rows[13]["fields"]
    assert "level" not in rows[14]["fields"]


def test_json_failures(rows):
    for line_id in (15, 18, 19):  # malformed / array / scalar
        assert not rows[line_id]["json_ok"]
    assert 16 not in rows and 17 not in rows  # blank lines skipped entirely


def test_offset_timestamp_is_utc_instant(rows):
    # 2025-12-14T19:25:17+02:00 == 17:25:17Z
    assert rows[6]["ts"].hour == 17


def test_filters_and_redaction(rows):
    # default config: WARN/ERROR pass, redact user_email/token
    assert rows[0]["drop_reason"] == "level"    # INFO
    assert rows[1]["drop_reason"] is None       # WARN
    assert "user_email" not in rows[1]["fields"]
    assert rows[2]["drop_reason"] is None       # ERROR
    assert "token" not in rows[2]["fields"]
    assert rows[2]["fields"]["amount"] == "49.99"
    # blocked rows keep their fields untouched (filter_test.go:36-53)
    assert rows[0]["fields"]["status"] == "200"
    assert rows[20]["fields"] == {"db_host": "db-3", "phone": "+1-555", "retry": "3"}


def test_service_filter_case_insensitive(spark):
    cfg = PipelineConfig(filter_levels=(), filter_services=("payments",), redact_keys=())
    rows = _pipeline_rows(spark, cfg)
    assert rows[21]["drop_reason"] is None      # app="Payments" lowers to match
    assert rows[0]["drop_reason"] == "service"  # orders


def test_golden_report_counts(spark):
    row = R.report_summary(
        lognorm.run_pipeline(fixture_df(spark), PipelineConfig())
    ).collect()[0]
    assert row["total_lines"] == 20          # 22 lines - 2 blank
    assert row["json_failed"] == 3           # malformed + array + scalar
    assert row["json_parsed"] == 17
    assert row["normalized_failed"] == 8     # lines 7-14
    assert row["normalized_ok"] == 9
    assert row["written_ok"] == 6            # WARN/ERROR among OK
    assert row["filtered_by_level"] == 3
    assert row["filtered_by_service"] == 0


def test_rfc3339nano_render(spark):
    df = spark.createDataFrame(
        [("2025-12-14T19:25:12.345Z",), ("2025-12-14T19:25:12Z",), ("2025-12-14T19:25:12.100200300Z",)],
        "s string",
    ).select(F.expr(lognorm.rfc3339nano("try_to_timestamp(s)")).alias("out"))
    got = [r["out"] for r in df.collect()]
    # Spark timestamps are microsecond precision; Go renders nanos — parity
    # holds for the micro range the engine stores.
    assert got == ["2025-12-14T19:25:12.345Z", "2025-12-14T19:25:12Z", "2025-12-14T19:25:12.1002Z"]


def test_gotrim_is_go_trimspace(spark):
    r"""strings.TrimSpace exactly: every Go space code point is stripped
    from either end, nothing else is — \x1c-\x1f (Python's bare strip()
    eats them), ZWSP and BOM stay, and so do interior spaces."""
    go = lognorm.GO_SPACE_CHARS
    cases = [p for ch in go for p in (ch + "a b", "a b" + ch, ch + ch + "a b" + ch)]
    cases += [k + "x" + k for k in "\x1c\x1d\x1e\x1f\u200b\ufeff"]
    cases += ["\x1c", go + "\u200b" + go, go, "  in  side\u3000\u2028 "]
    rows = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)] + [(len(cases), None)], "i int, s string"
    ).select("i", F.expr(lognorm.gotrim("s")).alias("t")).collect()
    got = [r["t"] for r in sorted(rows, key=lambda r: r["i"])]
    assert got == [c.strip(go) for c in cases] + [None]
    assert got[-5:-1] == ["\x1c", "\u200b", "", "in  side"]

    kept = lognorm.scan_lines(
        spark.createDataFrame([(go,), ("\x1c",), ("\u3000\x85",), (" x ",)], "value string")
    ).collect()
    assert sorted(r["value"] for r in kept) == ["\x1c", " x "]


def test_render_go_json_case(spark):
    r"""A literal backslash + `u001F` stays as text while a real \x1f
    renders as Go's lowercase `\u001f` — in a string field and inside a
    nested object's compact JSON."""
    value = "a\\u001Fb\x1fc"
    line = json.dumps({"ts": "2025-01-01T00:00:00Z", "level": "ERROR", "msg": "m",
                       "k": value, "n": {"s": value}})
    df = lognorm.run_pipeline(spark.createDataFrame([(line,)], "value string"))
    [got] = [r["value"] for r in writers.render_jsonl(lognorm.written_records(df)).collect()]
    go = {"TS": "2025-01-01T00:00:00Z", "Level": "ERROR", "Service": "", "Namespace": "",
          "Pod": "", "Node": "", "Message": "m", "TraceID": "",
          "Fields": {"k": value, "n": json.dumps({"s": value}, separators=(",", ":"))}}
    assert got == json.dumps(go, separators=(",", ":"), ensure_ascii=False)
    assert '"k":"a\\\\u001Fb\\u001fc"' in got


def test_lineage_build_py4j_commands(spark, monkeypatch):
    """Building the lineage costs about one py4j command per SQL-text
    column, not ~7 per `F.*` call: building the observed pipeline plus
    its render sent 2,960 commands with Column-built projections and
    sends 264 now; the bound is about twice that. Memory-delete commands
    (the Python GC's) don't count."""
    client = spark.sparkContext._gateway._gateway_client
    lines = fixture_df(spark)
    sent, me = [], threading.get_ident()
    send = client.send_command

    def counting(command, *args, **kwargs):
        # other threads (a stream another test left running) don't count
        if not command.startswith("m\nd\n") and threading.get_ident() == me:
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    df, _ = R.attach_observation(lognorm.run_pipeline(lines, PipelineConfig()))
    writers.render_jsonl(lognorm.written_records(df))
    monkeypatch.undo()
    assert len(sent) <= 550, len(sent)


def test_gzip_jsonl_source(spark, tmp_path):
    """Compressed JSONL reads transparently through the same source
    (Spark decodes .gz per file; gzip is unsplittable, so at scale many
    small .gz files beat one giant one — file-level parallelism)."""
    import gzip

    from k8s_log_etl_spark.fixtures import LOG_LINES
    from k8s_log_etl_spark.sources import jsonl as sources

    plain = "\n".join(v for _, v in LOG_LINES) + "\n"
    with gzip.open(tmp_path / "logs.jsonl.gz", "wt") as fh:
        fh.write(plain)
    df_gz = lognorm.run_pipeline(sources.read_jsonl(spark, str(tmp_path)), PipelineConfig())
    df_plain = lognorm.run_pipeline(
        spark.createDataFrame([(v,) for _, v in LOG_LINES], "value string"),
        PipelineConfig(),
    )
    got = sorted(r["message"] for r in lognorm.written_records(df_gz).collect())
    want = sorted(r["message"] for r in lognorm.written_records(df_plain).collect())
    assert got == want and got
