"""Run report: counters, group-by tallies, derived rates, and the JSON
/ Prometheus renders (reference O9-O13, O15, O27, O28 —
internal/report/report.go).

What the report counts is defined here once. The 8 scalar counters
(`counter_columns`) are observed while the sink action (or the cache
build) runs, so they cost no pass of their own; `report_summary` is
the same columns as a plain aggregation. The level/service tallies
are one (level, service) group-by and the sink stats one group-by on
the attempt's error, each folded on the driver. Derived rates
(throughput, error rates — report.go:167-185) are driver-side
arithmetic.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from k8s_log_etl_spark.operators import lognorm


@dataclass
class RunReport:
    total_lines: int = 0
    json_parsed: int = 0
    json_failed: int = 0
    normalized_ok: int = 0
    normalized_failed: int = 0
    written_ok: int = 0
    write_failed: int = 0
    dlq_written: int = 0
    filtered: dict[str, int] = field(default_factory=dict)
    by_level: dict[str, int] = field(default_factory=dict)
    by_service: dict[str, int] = field(default_factory=dict)
    dlq_reasons: dict[str, int] = field(default_factory=dict)
    total_retries: int = 0
    writes_with_retries: int = 0
    max_retries_per_write: int = 0
    stage_timings_ms: dict[str, float] = field(default_factory=dict)
    #: per-operator SQL metrics off the executed plan (reference O14's
    #: per-operator clock, engine-native — see operators/plan_metrics)
    operator_metrics: list = field(default_factory=list)
    duration_sec: float = 0.0

    # ---- derived (report.go:167-185) ----
    @property
    def throughput_lines_per_sec(self) -> float:
        return self.total_lines / self.duration_sec if self.duration_sec > 0 else 0.0

    @property
    def json_error_rate(self) -> float:
        return self.json_failed / self.total_lines if self.total_lines else 0.0

    @property
    def normalize_error_rate(self) -> float:
        return self.normalized_failed / self.json_parsed if self.json_parsed else 0.0

    @property
    def write_error_rate(self) -> float:
        attempted = self.written_ok + self.write_failed
        return self.write_failed / attempted if attempted else 0.0

    def to_dict(self) -> dict:
        return {
            "total_lines": self.total_lines,
            "json_parsed": self.json_parsed,
            "json_failed": self.json_failed,
            "normalized_ok": self.normalized_ok,
            "normalized_failed": self.normalized_failed,
            "written_ok": self.written_ok,
            "write_failed": self.write_failed,
            "dlq_written": self.dlq_written,
            "filtered": dict(self.filtered),
            "by_level": dict(self.by_level),
            "by_service": dict(self.by_service),
            "dlq_reasons": dict(self.dlq_reasons),
            "retries": {
                "total_retries": self.total_retries,
                "writes_with_retries": self.writes_with_retries,
                "max_retries_per_write": self.max_retries_per_write,
            },
            "stage_timings_ms": dict(self.stage_timings_ms),
            "operator_metrics": list(self.operator_metrics),
            "duration_sec": self.duration_sec,
            "throughput_lines_per_sec": self.throughput_lines_per_sec,
            "json_error_rate": self.json_error_rate,
            "normalize_error_rate": self.normalize_error_rate,
            "write_error_rate": self.write_error_rate,
        }

    # ---- renders ----
    def write_json(self, path: str | None) -> str:
        """O27 (report.go:188-210): indented JSON to path or returned."""
        text = json.dumps(self.to_dict(), indent=2, sort_keys=True)
        if path:
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(text + "\n")
        return text

    def prometheus(self) -> str:
        """O28 (report.go:213-248): Prometheus text exposition with
        labeled series per level/service/reason/stage."""
        lines: list[str] = []

        def counter(name: str, value: float, help_: str) -> None:
            lines.append(f"# HELP etl_{name} {help_}")
            lines.append(f"# TYPE etl_{name} counter")
            lines.append(f"etl_{name} {value}")

        def labeled(name: str, label: str, series: dict[str, int], help_: str) -> None:
            if not series:
                return
            lines.append(f"# HELP etl_{name} {help_}")
            lines.append(f"# TYPE etl_{name} counter")
            for key, value in sorted(series.items()):
                lines.append(f'etl_{name}{{{label}="{key}"}} {value}')

        counter("lines_total", self.total_lines, "Total input lines")
        counter("json_parsed_total", self.json_parsed, "Lines parsed as JSON")
        counter("json_failed_total", self.json_failed, "JSON parse failures")
        counter("normalized_ok_total", self.normalized_ok, "Records normalized")
        counter("normalized_failed_total", self.normalized_failed, "Normalize failures")
        counter("written_ok_total", self.written_ok, "Records written")
        counter("write_failed_total", self.write_failed, "Write failures")
        counter("dlq_written_total", self.dlq_written, "DLQ records written")
        counter("retries_total", self.total_retries, "Total sink retries")
        labeled("filtered_total", "reason", self.filtered, "Records dropped by filters")
        labeled("records_by_level_total", "level", self.by_level, "Normalized records per level")
        labeled("records_by_service_total", "service", self.by_service, "Normalized records per service")
        labeled("dlq_by_reason_total", "reason", self.dlq_reasons, "DLQ records per reason")
        labeled(
            "stage_duration_ms", "stage",
            {k: int(v) for k, v in self.stage_timings_ms.items()},
            "Wall-clock per pipeline stage",
        )
        if self.operator_metrics:
            from k8s_log_etl_spark.operators.plan_metrics import (
                operator_duration_ms,
            )

            labeled(
                "operator_duration_ms", "op",
                operator_duration_ms(self.operator_metrics),
                "Engine-reported time per plan operator",
            )
        lines.append(
            f"# HELP etl_throughput_lines_per_sec Lines per second\n"
            f"# TYPE etl_throughput_lines_per_sec gauge\n"
            f"etl_throughput_lines_per_sec {self.throughput_lines_per_sec}"
        )
        return "\n".join(lines) + "\n"


def counter_columns() -> list[Column]:
    """The report's 8 scalar counters as aliased aggregate columns
    (reference report.go:14-38). A function, not a constant: building a
    Column needs an active session. `written_ok` assumes every write
    succeeds; `merge_sink_stats` moves sink failures out of it."""
    ok = f"({lognorm.OK_SQL})"
    counts = {
        "json_parsed": "json_ok",
        "json_failed": "NOT json_ok",
        "normalized_ok": ok,
        "normalized_failed": f"json_ok AND NOT {ok}",
        "written_ok": f"{ok} AND drop_reason IS NULL",
        "filtered_by_level": f"{ok} AND drop_reason = 'level'",
        "filtered_by_service": f"{ok} AND drop_reason = 'service'",
    }
    return [F.expr("count(1) AS total_lines")] + [
        F.expr(f"count(CASE WHEN {cond} THEN 1 END) AS {name}")
        for name, cond in counts.items()
    ]


def report_summary(df: DataFrame) -> DataFrame:
    """The counters as a single-row aggregation over the annotated
    pipeline frame."""
    return df.agg(*counter_columns())


def attach_observation(df: DataFrame) -> tuple[DataFrame, "Observation"]:
    """Attach the scalar counters as an Observation (CollectMetrics):
    they ride along whatever action the sink runs — the counters cost
    ZERO extra passes over the data (reference O13 semantics as Spark
    run metadata). Attach below any filters so all rows are observed."""
    from pyspark.sql import Observation

    obs = Observation("etl_report")
    return df.observe(obs, *counter_columns()), obs


def report_from_observation(obs: "Observation", df: DataFrame) -> RunReport:
    """Build the report from observed counters (free) plus the
    level/service tallies, folded from one (level, service) group-by
    over the ok rows."""
    row = obs.get
    by_level: dict[str, int] = {}
    by_service: dict[str, int] = {}
    tallies = (
        lognorm.ok_records(df)
        .groupBy("level", "service")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    for r in tallies:
        by_level[r["level"]] = by_level.get(r["level"], 0) + r["cnt"]
        if r["service"]:
            by_service[r["service"]] = by_service.get(r["service"], 0) + r["cnt"]
    filtered = {
        reason: row[f"filtered_by_{reason}"]
        for reason in ("level", "service")
        if row[f"filtered_by_{reason}"]
    }
    return RunReport(
        total_lines=row["total_lines"],
        json_parsed=row["json_parsed"],
        json_failed=row["json_failed"],
        normalized_ok=row["normalized_ok"],
        normalized_failed=row["normalized_failed"],
        written_ok=row["written_ok"],
        filtered=filtered,
        by_level=by_level,
        by_service=by_service,
    )


def merge_sink_stats(rep: RunReport, attempts: DataFrame | None) -> RunReport:
    """Fold sink attempt results (sinks.writers.post_records) into the
    report: write failures, DLQ counts/reasons, retry stats (O12, O15 —
    report.go:137-147). One group-by on `error`; the groups (one for
    successes plus one per distinct failure reason) fold on the
    driver."""
    if attempts is None:
        return rep
    groups = (
        attempts.groupBy("error")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("retries").alias("retries"),
            F.count(F.when(F.col("retries") > 0, 1)).alias("with_retries"),
            F.max("retries").alias("max_retries"),
        )
        .collect()
    )
    reasons = {g["error"]: g["cnt"] for g in groups if g["error"] is not None}
    failed = sum(reasons.values())
    rep.write_failed = failed
    rep.written_ok -= failed
    rep.dlq_written = failed
    rep.dlq_reasons = reasons
    rep.total_retries = sum(g["retries"] or 0 for g in groups)
    rep.writes_with_retries = sum(g["with_retries"] for g in groups)
    rep.max_retries_per_write = max((g["max_retries"] or 0 for g in groups), default=0)
    return rep
