"""Pipeline configuration.

Mirrors the reference's full config surface (k8s-log-etl
``internal/config/config.go``):

* the ~22-field ``Config`` struct (config.go:16-42) as a frozen dataclass,
* defaults (``Default``, config.go:45-67),
* JSON **and** YAML file loading, including the reference's own hand-rolled
  mini-YAML dialect (``Load``/``unmarshalYAML``, config.go:239-333) so a
  user can point ``--config`` at the reference repo's shipped
  ``config.yaml`` unchanged,
* the ~22 ``ETL_*`` environment overrides (``FromEnv``, config.go:144-237;
  bad numeric values are silently ignored, keeping the base value, exactly
  like the Go ``strconv`` error branches),
* the error-collecting validator (``Validate``, config.go:362-451) which
  reports *all* problems in one message.

Precedence: defaults < file < env < explicit overrides (reference
``main.go`` wiring: Default → Load → Merge → FromEnv → flags).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, replace
from typing import Any, get_type_hints

# Sink types (`output_type`, `--output-type`). The reference validator
# (config.go:366) accepts only stdout/file/rotate, but its builder
# (builder.go:15-55) dispatches http/webhook and carries s3/kafka as
# NAMED placeholders (builder.go:46-51). Accept the builder's surface so
# those names fail at sink-open with the reference's explicit "not yet
# implemented" error (cli.py:_write_sink), not as an unknown type.
OUTPUT_TYPES = (
    "stdout", "file", "rotate", "rotating", "http", "webhook",
    "parquet", "s3", "kafka",
)
# Accepted `log_level`/`log_format` values (the reference's enums),
# matched case-insensitively through `fold`.
LOG_LEVELS = ("debug", "info", "warn", "error")
LOG_FORMATS = ("json", "text")


def fold(value: str, accepted: tuple[str, ...]) -> str | None:
    """``value`` lower-cased if that is one of ``accepted``, else None."""
    value = value.lower()
    return value if value in accepted else None


@dataclass(frozen=True)
class PipelineConfig:
    # I/O paths (config.go:17-19,33). output_path "-" means stdout.
    input_path: str = "examples/k8s_logs.jsonl"
    output_path: str = ""
    report_path: str = "report.json"
    dlq_path: str = ""
    # Sink selection + rotation (config.go:20-22). The reference supports
    # stdout|file|rotate; this engine adds http/webhook/parquet sinks.
    output_type: str = "stdout"
    output_max_bytes: int = 10 * 1024 * 1024
    output_max_files: int = 5
    # Allowlists: empty tuple = allow everything (reference filter.go:30-35).
    filter_levels: tuple[str, ...] = ("WARN", "ERROR")
    filter_services: tuple[str, ...] = ()
    # Exact-case keys deleted from the residual fields map (filter.go:37-41).
    redact_keys: tuple[str, ...] = ("user_email", "token")
    # Transform chain names resolved via the plugin registry (config.go:26).
    transforms: tuple[str, ...] = ("filter_redact",)
    # Worker pool (config.go:27-28), batching (config.go:35-36) and
    # graceful drain (config.go:38): max_workers, queue_size, batch_size
    # and shutdown_timeout_seconds are accepted (and validated) so that
    # reference config files, env vars and command lines still load,
    # but nothing reads them — Spark's partitions and micro-batches do
    # that work. flush_interval_ms is only the streaming trigger
    # interval (streaming/pipeline.py). report_path is likewise unread
    # when set from env or a config file: only the `--report-path` flag
    # leads to a report being written, so a default run writes none.
    max_workers: int = 4
    queue_size: int = 128
    # Sink retry/backoff (config.go:29-32).
    max_retries: int = 3
    backoff_base_ms: int = 100
    backoff_max_ms: int = 2000
    jitter_pct: float = 0.2
    batch_size: int = 100
    flush_interval_ms: int = 1000
    shutdown_timeout_seconds: int = 30
    # Structured logging (config.go:40-41).
    log_level: str = "info"
    log_format: str = "json"

    @property
    def levels_upper(self) -> tuple[str, ...]:
        return tuple(v.upper() for v in self.filter_levels if v)

    @property
    def services_lower(self) -> tuple[str, ...]:
        return tuple(v.lower() for v in self.filter_services if v)

    def validate(self) -> None:
        """Error-collecting validation mirroring reference config.go:362-451."""
        errs: list[str] = []
        if self.output_type and self.output_type not in OUTPUT_TYPES:
            errs.append(
                f"invalid output_type {self.output_type!r}: must be one of "
                + ", ".join(sorted(OUTPUT_TYPES))
            )
        if self.output_type in {"file", "rotate", "rotating", "parquet"} and not self.output_path:
            errs.append("output_path is required when output_type is file or rotate")
        for name, kind in FIELD_TYPES.items():
            if kind is int and getattr(self, name) < 0:
                errs.append(f"{name} cannot be negative: {getattr(self, name)}")
        if self.jitter_pct < 0:
            errs.append(f"jitter_pct cannot be negative: {self.jitter_pct:.2f}")
        if self.jitter_pct > 1.0:
            errs.append(f"jitter_pct should be between 0.0 and 1.0, got: {self.jitter_pct:.2f}")
        if self.dlq_path:
            if self.dlq_path.startswith("s3://"):
                errs.append(f"DLQ path with s3:// scheme is not supported: {self.dlq_path}")
            if not self.dlq_path.strip():
                errs.append("DLQ path cannot be empty or whitespace-only")
        # Only cross-check backoff when both are set, like config.go:413.
        if 0 < self.backoff_max_ms < self.backoff_base_ms:
            errs.append(
                f"backoff_max_ms ({self.backoff_max_ms}) must be >= "
                f"backoff_base_ms ({self.backoff_base_ms})"
            )
        if fold(self.log_level, LOG_LEVELS) is None:
            errs.append(f"invalid log_level {self.log_level!r}: must be one of {LOG_LEVELS}")
        if fold(self.log_format, LOG_FORMATS) is None:
            errs.append(f"invalid log_format {self.log_format!r}: must be one of {LOG_FORMATS}")
        if errs:
            raise ValueError(
                "configuration validation failed:\n  - " + "\n  - ".join(errs)
            )


# Each field's declared type: the one statement of how file, env and
# flag values are coerced (`_coerce`) and which fields must not be
# negative (`validate`, every int field).
FIELD_TYPES = get_type_hints(PipelineConfig)

# Reference JSON/YAML tags (config.go:17-41) → our field names, so the
# reference repo's own config files load unchanged. Our field names are
# accepted too.
_FILE_KEY_ALIASES = {
    "input": "input_path",
    "output": "output_path",
    "report": "report_path",
    "dlq": "dlq_path",
    "sink_max_retries": "max_retries",
    "sink_backoff_base_ms": "backoff_base_ms",
    "sink_backoff_max_ms": "backoff_max_ms",
    "sink_backoff_jitter_pct": "jitter_pct",
    "batch_flush_interval_ms": "flush_interval_ms",
}

# FromEnv surface (config.go:144-237) + this engine's legacy names.
_ENV_MAP = {
    "ETL_INPUT": "input_path",
    "ETL_OUTPUT": "output_path",
    "ETL_OUTPUT_PATH": "output_path",
    "ETL_OUTPUT_TYPE": "output_type",
    "ETL_OUTPUT_MAX_BYTES": "output_max_bytes",
    "ETL_OUTPUT_MAX_FILES": "output_max_files",
    "ETL_MAX_WORKERS": "max_workers",
    "ETL_QUEUE_SIZE": "queue_size",
    "ETL_SINK_MAX_RETRIES": "max_retries",
    "ETL_SINK_BACKOFF_BASE_MS": "backoff_base_ms",
    "ETL_SINK_BACKOFF_MAX_MS": "backoff_max_ms",
    "ETL_SINK_BACKOFF_JITTER_PCT": "jitter_pct",
    "ETL_DLQ": "dlq_path",
    "ETL_DLQ_PATH": "dlq_path",
    "ETL_REPORT": "report_path",
    "ETL_FILTER_LEVELS": "filter_levels",
    "ETL_FILTER_SERVICES": "filter_services",
    "ETL_REDACT_KEYS": "redact_keys",
    "ETL_TRANSFORMS": "transforms",
    "ETL_BATCH_SIZE": "batch_size",
    "ETL_BATCH_FLUSH_INTERVAL_MS": "flush_interval_ms",
    "ETL_SHUTDOWN_TIMEOUT_SECONDS": "shutdown_timeout_seconds",
    "ETL_LOG_LEVEL": "log_level",
    "ETL_LOG_FORMAT": "log_format",
}


def _split_list(raw: str) -> tuple[str, ...]:
    # Reference splits on ',' and ';' and trims items (config.go:263-274).
    items: list[str] = []
    for part in raw.replace(";", ",").split(","):
        part = part.strip()
        if part:
            items.append(part)
    return tuple(items)


def _coerce(name: str, value: Any) -> Any:
    """A file, env or flag value as field ``name``'s declared type.
    Raises ValueError on a bad numeric."""
    kind = FIELD_TYPES[name]
    if kind in (int, float):
        return value if isinstance(value, bool) else kind(value)
    if kind is str:
        return value
    if isinstance(value, str):
        return _split_list(value)
    return tuple(str(v) for v in value)


def _parse_scalar(val: str) -> Any:
    # config.go:335-349: try int, float, bool, else unquoted string.
    unquoted = val.strip("\"'")
    try:
        return int(unquoted)
    except ValueError:
        pass
    try:
        return float(unquoted)
    except ValueError:
        pass
    if unquoted.lower() in {"true", "false"}:
        return unquoted.lower() == "true"
    return unquoted


def parse_mini_yaml(text: str) -> dict[str, Any]:
    """The reference's dependency-free YAML subset (config.go:276-333):
    top-level ``key: value`` pairs plus simple ``- item`` lists under a
    bare ``key:``. Comments and blank lines skipped; anything fancier
    (nesting, top-level lists) is an error, same as the Go code."""
    lines = text.splitlines()
    raw: dict[str, Any] = {}
    i = 0
    while i < len(lines):
        line = lines[i].strip()
        if not line or line.startswith("#"):
            i += 1
            continue
        if line.startswith("-"):
            raise ValueError("top-level lists are not supported")
        key, sep, value = line.partition(":")
        if not sep:
            raise ValueError(f"invalid line {line!r}")
        key = key.strip()
        value = value.strip()
        if value == "":
            i += 1
            items: list[Any] = []
            while i < len(lines):
                nxt = lines[i].strip()
                if nxt == "":
                    i += 1
                    continue
                if nxt.startswith("-"):
                    items.append(_parse_scalar(nxt[1:].strip()))
                    i += 1
                    continue
                break
            raw[key] = items
            continue
        raw[key] = _parse_scalar(value)
        i += 1
    return raw


def _load_file(path: str) -> dict[str, Any]:
    with open(path) as fh:
        text = fh.read()
    ext = os.path.splitext(path)[1].lower()
    if ext in {".yaml", ".yml"}:
        data = parse_mini_yaml(text)
    else:
        data = json.loads(text)
    updates: dict[str, Any] = {}
    for key, value in data.items():
        field_name = _FILE_KEY_ALIASES.get(key, key)
        if field_name not in FIELD_TYPES:
            continue  # unknown keys ignored, like Go's unmatched JSON tags
        updates[field_name] = _coerce(field_name, value)
    return updates


def load_config(
    path: str | None = None,
    env: dict[str, str] | None = None,
    overrides: dict[str, Any] | None = None,
) -> PipelineConfig:
    """Build config with reference precedence: defaults < file < env < overrides."""
    cfg = PipelineConfig()
    if path:
        cfg = replace(cfg, **_load_file(path))
    env = dict(os.environ if env is None else env)
    env_updates: dict[str, Any] = {}
    for env_key, field_name in _ENV_MAP.items():
        if env.get(env_key, ""):
            try:
                env_updates[field_name] = _coerce(field_name, env[env_key])
            except ValueError:
                pass  # FromEnv ignores strconv errors (config.go:156-227): keep the base
    if env_updates:
        cfg = replace(cfg, **env_updates)
    if overrides:
        cfg = replace(cfg, **{k: _coerce(k, v) for k, v in overrides.items()})
    cfg.validate()
    return cfg
