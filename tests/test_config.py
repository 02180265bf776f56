"""Config-surface parity with reference internal/config/config.go:

file loading (JSON + the hand-rolled YAML subset, config.go:239-333),
env overrides (FromEnv, config.go:144-237), error-collecting validation
(Validate, config.go:362-451), and precedence defaults < file < env <
overrides.
"""

import json
import logging

import pytest

from k8s_log_etl_spark.config import (
    PipelineConfig,
    load_config,
    parse_mini_yaml,
)

# The reference repo ships this exact config.yaml at its root; loading it
# unchanged is the O29 acceptance case.
REFERENCE_CONFIG_YAML = """\
input: examples/k8s_logs.jsonl
output: "-"
report: report.json
output_type: stdout
filter_levels:
  - WARN
  - ERROR
filter_services:
  - orders
  - payments
redact_keys:
  - user_email
  - token
"""


def test_defaults_match_reference():
    cfg = PipelineConfig()
    # config.go Default(): 45-67
    assert cfg.input_path == "examples/k8s_logs.jsonl"
    assert cfg.report_path == "report.json"
    assert cfg.output_type == "stdout"
    assert cfg.output_max_bytes == 10 * 1024 * 1024
    assert cfg.output_max_files == 5
    assert cfg.filter_levels == ("WARN", "ERROR")
    assert cfg.transforms == ("filter_redact",)
    assert cfg.max_workers == 4
    assert cfg.queue_size == 128
    assert cfg.max_retries == 3
    assert cfg.backoff_base_ms == 100
    assert cfg.backoff_max_ms == 2000
    assert cfg.jitter_pct == 0.2
    assert cfg.batch_size == 100
    assert cfg.flush_interval_ms == 1000
    assert cfg.shutdown_timeout_seconds == 30
    assert cfg.log_level == "info"
    assert cfg.log_format == "json"


def test_load_reference_yaml(tmp_path):
    p = tmp_path / "config.yaml"
    p.write_text(REFERENCE_CONFIG_YAML)
    cfg = load_config(path=str(p), env={})
    assert cfg.input_path == "examples/k8s_logs.jsonl"
    assert cfg.output_path == "-"
    assert cfg.report_path == "report.json"
    assert cfg.output_type == "stdout"
    assert cfg.filter_levels == ("WARN", "ERROR")
    assert cfg.filter_services == ("orders", "payments")
    assert cfg.redact_keys == ("user_email", "token")


def test_mini_yaml_scalars_comments_quotes():
    raw = parse_mini_yaml(
        "# comment\n"
        "\n"
        "batch_size: 42\n"
        "sink_backoff_jitter_pct: 0.5\n"
        "log_level: 'warn'\n"
        'output: "-"\n'
    )
    assert raw == {
        "batch_size": 42,
        "sink_backoff_jitter_pct": 0.5,
        "log_level": "warn",
        "output": "-",
    }


def test_mini_yaml_rejects_top_level_list():
    # config.go:290-292
    with pytest.raises(ValueError, match="top-level lists"):
        parse_mini_yaml("- a\n- b\n")


def test_mini_yaml_rejects_invalid_line():
    with pytest.raises(ValueError, match="invalid line"):
        parse_mini_yaml("no_colon_here\n")


def test_json_file_with_reference_keys(tmp_path):
    # The reference's JSON tags (sink_max_retries, dlq, ...) map onto our
    # field names; unknown keys are ignored like unmatched Go JSON tags.
    p = tmp_path / "cfg.json"
    p.write_text(
        json.dumps(
            {
                "sink_max_retries": 7,
                "sink_backoff_base_ms": 5,
                "sink_backoff_max_ms": 50,
                "sink_backoff_jitter_pct": 0.1,
                "dlq": "/tmp/dlq.jsonl",
                "batch_flush_interval_ms": 250,
                "unknown_key": "ignored",
            }
        )
    )
    cfg = load_config(path=str(p), env={})
    assert cfg.max_retries == 7
    assert cfg.backoff_base_ms == 5
    assert cfg.backoff_max_ms == 50
    assert cfg.jitter_pct == 0.1
    assert cfg.dlq_path == "/tmp/dlq.jsonl"
    assert cfg.flush_interval_ms == 250


def test_env_overrides_full_surface():
    env = {
        "ETL_INPUT": "/in.jsonl",
        "ETL_OUTPUT": "/out.jsonl",
        "ETL_OUTPUT_TYPE": "file",
        "ETL_OUTPUT_MAX_BYTES": "2048",
        "ETL_OUTPUT_MAX_FILES": "9",
        "ETL_MAX_WORKERS": "8",
        "ETL_QUEUE_SIZE": "64",
        "ETL_SINK_MAX_RETRIES": "6",
        "ETL_SINK_BACKOFF_BASE_MS": "10",
        "ETL_SINK_BACKOFF_MAX_MS": "100",
        "ETL_SINK_BACKOFF_JITTER_PCT": "0.3",
        "ETL_DLQ": "/dlq.jsonl",
        "ETL_REPORT": "/rep.json",
        "ETL_FILTER_LEVELS": "ERROR; FATAL",
        "ETL_FILTER_SERVICES": "a,b",
        "ETL_REDACT_KEYS": "password",
        "ETL_TRANSFORMS": "filter_redact,annotate",
        "ETL_BATCH_SIZE": "500",
        "ETL_BATCH_FLUSH_INTERVAL_MS": "2000",
        "ETL_SHUTDOWN_TIMEOUT_SECONDS": "15",
        "ETL_LOG_LEVEL": "debug",
        "ETL_LOG_FORMAT": "text",
    }
    cfg = load_config(env=env)
    assert cfg.input_path == "/in.jsonl"
    assert cfg.output_path == "/out.jsonl"
    assert cfg.output_type == "file"
    assert cfg.output_max_bytes == 2048
    assert cfg.output_max_files == 9
    assert cfg.max_workers == 8
    assert cfg.queue_size == 64
    assert cfg.max_retries == 6
    assert cfg.backoff_base_ms == 10
    assert cfg.backoff_max_ms == 100
    assert cfg.jitter_pct == 0.3
    assert cfg.dlq_path == "/dlq.jsonl"
    assert cfg.report_path == "/rep.json"
    assert cfg.filter_levels == ("ERROR", "FATAL")
    assert cfg.filter_services == ("a", "b")
    assert cfg.redact_keys == ("password",)
    assert cfg.transforms == ("filter_redact", "annotate")
    assert cfg.batch_size == 500
    assert cfg.flush_interval_ms == 2000
    assert cfg.shutdown_timeout_seconds == 15
    assert cfg.log_level == "debug"
    assert cfg.log_format == "text"


def test_env_bad_numeric_ignored():
    # FromEnv drops unparseable numerics, keeping the base value
    # (config.go:156-227 ignores strconv errors).
    cfg = load_config(env={"ETL_BATCH_SIZE": "not-a-number", "ETL_MAX_WORKERS": "12"})
    assert cfg.batch_size == PipelineConfig().batch_size
    assert cfg.max_workers == 12


def test_file_then_env_then_override_precedence(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text("max_workers: 2\nqueue_size: 10\nbatch_size: 20\n")
    cfg = load_config(
        path=str(p),
        env={"ETL_QUEUE_SIZE": "99", "ETL_BATCH_SIZE": "30"},
        overrides={"batch_size": 40},
    )
    assert cfg.max_workers == 2  # file beats default
    assert cfg.queue_size == 99  # env beats file
    assert cfg.batch_size == 40  # override beats env


def test_validation_collects_all_errors():
    cfg = PipelineConfig(
        output_type="bogus",
        max_workers=-1,
        jitter_pct=1.5,
        log_level="loud",
        log_format="xml",
        dlq_path="s3://bucket/x",
    )
    with pytest.raises(ValueError) as ei:
        cfg.validate()
    msg = str(ei.value)
    for frag in (
        "invalid output_type",
        "max_workers cannot be negative",
        "jitter_pct should be between",
        "invalid log_level",
        "invalid log_format",
        "s3://",
    ):
        assert frag in msg, f"missing {frag!r} in {msg}"


def test_validation_backoff_ordering():
    with pytest.raises(ValueError, match="backoff_max_ms"):
        PipelineConfig(backoff_base_ms=500, backoff_max_ms=100).validate()
    # max==0 disables the cross-check, like config.go:413
    PipelineConfig(backoff_base_ms=500, backoff_max_ms=0).validate()


def test_validation_file_requires_path():
    with pytest.raises(ValueError, match="output_path is required"):
        PipelineConfig(output_type="file").validate()


# ---------------------------------------------------------------------------
# property test: mini-YAML round trip
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_yaml_key = st.sampled_from(
    ["batch_size", "log_level", "output", "filter_levels", "transforms", "custom_key"]
)
_yaml_scalar = st.one_of(
    st.integers(min_value=-10_000, max_value=10_000),
    st.floats(min_value=-100, max_value=100, allow_nan=False).map(lambda f: round(f, 3)),
    st.booleans(),
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=127),
        min_size=1,
        max_size=10,
    ),
)


def _render(key, value):
    if isinstance(value, list):
        return f"{key}:\n" + "".join(f"  - {item}\n" for item in value)
    if isinstance(value, bool):
        return f"{key}: {str(value).lower()}\n"
    return f"{key}: {value}\n"


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(
        _yaml_key,
        st.one_of(_yaml_scalar, st.lists(_yaml_scalar, min_size=1, max_size=4)),
        max_size=6,
    )
)
def test_mini_yaml_round_trip(cfg_dict):
    """Render a dict in the reference's YAML subset, parse it back, and
    every value must survive (ints as ints, floats as floats, bools as
    bools, strings as strings — the parseScalar coercion ladder)."""
    text = "# generated\n" + "".join(_render(k, v) for k, v in cfg_dict.items())
    parsed = parse_mini_yaml(text)

    def expect(v):
        # parseScalar's coercion ladder (config.go:335-349): strings that
        # LOOK numeric/boolean coerce by design — the reference has no
        # quoting escape hatch either (strconv runs before the fallback).
        if isinstance(v, (bool, int, float)):
            return v
        try:
            return int(v)
        except ValueError:
            pass
        try:
            return float(v)
        except ValueError:
            pass
        if v.lower() in {"true", "false"}:
            return v.lower() == "true"
        return v

    for k, v in cfg_dict.items():
        got = parsed[k]
        if isinstance(v, list):
            want = [expect(item) for item in v]
            assert got == want, (k, got, want)
        else:
            want = expect(v)
            assert got == want and type(got) is type(want), (k, got, want)


def test_log_settings_in_any_case_reach_setup_logging(tmp_path):
    """validate accepts log_level/log_format in any case, so
    setup_logging must accept the same values (an upper-case env value
    used to pass validation and then crash start-up)."""
    from k8s_log_etl_spark.logging_setup import setup_logging

    p = tmp_path / "cfg.yaml"
    p.write_text("log_format: Text\nlog_level: WARN\n")
    for cfg in (
        load_config(env={"ETL_LOG_FORMAT": "JSON", "ETL_LOG_LEVEL": "Debug"}),
        load_config(path=str(p), env={}),
    ):
        logger = setup_logging(cfg.log_level, cfg.log_format)
        assert logger.level == logging.getLevelName(cfg.log_level.upper())
    with pytest.raises(ValueError, match="invalid log_level"):
        load_config(env={"ETL_LOG_LEVEL": "loud"})
    with pytest.raises(ValueError, match="invalid log level"):
        setup_logging(level="loud")
