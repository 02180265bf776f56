"""Structured logging (reference O30, internal/logger/logger.go:11-94):
JSON or text lines to stderr with level control and per-record trace-id
context. The reference threads trace ids through a context object; here
a LoggerAdapter carries them — driver-side orchestration logging only
(executor-side work is logged by Spark itself; per-row logging has no
place in a vectorized engine).
"""

from __future__ import annotations

import json
import logging
import sys
from datetime import datetime, timezone

from k8s_log_etl_spark.config import LOG_FORMATS, LOG_LEVELS, fold


class JsonFormatter(logging.Formatter):
    def format(self, record: logging.LogRecord) -> str:
        out = {
            "ts": datetime.now(timezone.utc).isoformat(),
            "level": record.levelname,
            "msg": record.getMessage(),
            "logger": record.name,
        }
        trace_id = getattr(record, "trace_id", None)
        if trace_id:
            out["trace_id"] = trace_id
        if record.exc_info:
            out["error"] = self.formatException(record.exc_info)
        return json.dumps(out)


def setup_logging(level: str = "INFO", fmt: str = "json") -> logging.Logger:
    """Configure the engine logger. Accepts exactly the level and format
    values the config validator accepts (`config.LOG_LEVELS`,
    `config.LOG_FORMATS`, any case)."""
    form = fold(fmt, LOG_FORMATS)
    if form is None:
        raise ValueError(f"invalid log format {fmt!r}")
    if fold(level, LOG_LEVELS) is None:
        raise ValueError(f"invalid log level {level!r}")
    logger = logging.getLogger("k8s_log_etl_spark")
    logger.setLevel(level.upper())
    logger.handlers.clear()
    handler = logging.StreamHandler(sys.stderr)
    if form == "json":
        handler.setFormatter(JsonFormatter())
    else:
        handler.setFormatter(
            logging.Formatter("%(asctime)s %(levelname)s %(name)s %(message)s")
        )
    logger.addHandler(handler)
    logger.propagate = False
    return logger


def with_trace(logger: logging.Logger, trace_id: str) -> logging.LoggerAdapter:
    """Per-operation trace context (logger.go trace propagation)."""
    return logging.LoggerAdapter(logger, {"trace_id": trace_id})
