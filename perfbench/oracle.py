"""Expected results from the repository's own DuckDB oracles, and the
checks that compare a run's outputs against them.

The expected values are computed once per seed, before any timed
window. Each check returns a list of problems; an empty list means the
output is correct.
"""

from __future__ import annotations

import glob
import os
import re
from dataclasses import dataclass

import duckdb
import pyarrow as pa

from k8s_log_etl_spark.oracles import log_oracle
from k8s_log_etl_spark.queries.text import _CLEAN_SQL

# Rendered sink records carry the message as "Message":"... #<id>".
_MESSAGE_ID = re.compile(r'"Message":"[^"]*#(\d+)"')
#: keys the default config redacts, as they would appear in a sink record
REDACTED_KEYS = ('"user_email"', '"token"')
#: the oracle runs beside the JVM's cold start; leave it half the cores
ORACLE_THREADS = max(1, (os.cpu_count() or 2) // 2)
_REPORT_KEYS = ("total_lines", "json_parsed", "json_failed", "normalized_ok",
                "normalized_failed", "written_ok")


@dataclass(frozen=True)
class LogExpectation:
    summary: dict[str, int]
    written_ids: frozenset[int]

    @property
    def dlq_lines(self) -> int:
        return self.summary["json_failed"] + self.summary["normalized_failed"]


def expect_logs(lines: list[str]) -> LogExpectation:
    """Oracle report counters and written line ids (the line's index in
    ``lines``) under the default config, the one the CLI runs with."""
    raw = pa.table({"line_id": pa.array(range(len(lines)), pa.int64()),
                    "value": pa.array(lines, pa.string())})
    raw_sql = "SELECT line_id, value FROM raw_lines"
    con = duckdb.connect(config={"threads": ORACLE_THREADS})
    try:
        con.register("raw_lines", raw)
        cur = con.execute(log_oracle.report_summary_sql(raw_sql))
        names = [d[0] for d in cur.description]
        summary = {k: int(v) for k, v in zip(names, cur.fetchone())}
        written = con.execute(
            f"SELECT line_id FROM ({log_oracle.written_sql(raw_sql)})"
        ).fetchall()
    finally:
        con.close()
    return LogExpectation(summary, frozenset(r[0] for r in written))


def read_text_dir(path: str) -> str:
    """Concatenated text of every data file Spark wrote under ``path``."""
    parts = sorted(p for p in glob.glob(os.path.join(path, "*"))
                   if not os.path.basename(p).startswith(("_", ".")))
    out = []
    for p in parts:
        with open(p, encoding="utf-8") as fh:
            out.append(fh.read())
    return "".join(out)


def written_ids(text: str) -> list[int]:
    return [int(m) for m in _MESSAGE_ID.findall(text)]


def check_sink_text(text: str, want: frozenset[int]) -> list[str]:
    """The sink must hold exactly the oracle's written lines, each once,
    with the PII keys redacted."""
    got = written_ids(text)
    problems = []
    if len(got) != len(want):
        problems.append(f"sink has {len(got)} records, oracle {len(want)}")
    if set(got) != want:
        problems.append(
            f"sink ids differ from oracle: {len(set(got) - want)} extra, "
            f"{len(want - set(got))} missing")
    if len(text.splitlines()) != len(got):
        problems.append("sink has records without a message id")
    for key in REDACTED_KEYS:
        if key in text:
            problems.append(f"unredacted {key} in sink")
    return problems


def check_batch(report, sink_text: str, dlq_text: str, exp: LogExpectation) -> list[str]:
    """A run_batch result: report counters, sink records and DLQ size."""
    problems = [
        f"report {k}={getattr(report, k)} oracle {exp.summary[k]}"
        for k in _REPORT_KEYS if getattr(report, k) != exp.summary[k]
    ]
    filtered_level = report.filtered.get("level", 0)
    if filtered_level != exp.summary["filtered_by_level"]:
        problems.append(f"report filtered.level={filtered_level} "
                        f"oracle {exp.summary['filtered_by_level']}")
    problems += check_sink_text(sink_text, exp.written_ids)
    n_dlq = len(dlq_text.splitlines())
    if n_dlq != exp.dlq_lines or report.dlq_written != exp.dlq_lines:
        problems.append(f"dlq has {n_dlq} lines (report {report.dlq_written}), "
                        f"oracle {exp.dlq_lines}")
    return problems


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def expect_curate(docs: dict[str, list]) -> dict[str, dict[str, int]]:
    """Oracle survivors per language: {lang: {n_docs, total_tokens}}."""
    table = pa.table({"doc_id": pa.array(docs["doc_id"], pa.int64()),
                      "lang": pa.array(docs["lang"], pa.string()),
                      "text": pa.array(docs["text"], pa.string())})
    con = duckdb.connect(config={"threads": ORACLE_THREADS})
    try:
        con.register("documents", table)
        rows = con.execute(_CLEAN_SQL).fetchall()
    finally:
        con.close()
    return {lang: {"n_docs": int(n), "total_tokens": int(t)} for lang, n, t in rows}


def survivors_by_lang(path: str) -> dict[str, int]:
    """Row count per ``lang=<x>`` partition of the curated parquet output."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for part in sorted(glob.glob(os.path.join(path, "lang=*"))):
        lang = os.path.basename(part).split("=", 1)[1]
        out[lang] = sum(pq.ParquetFile(f).metadata.num_rows
                        for f in glob.glob(os.path.join(part, "*.parquet")))
    return out


def check_curate(report: dict, written: dict[str, int],
                 exp: dict[str, dict[str, int]]) -> list[str]:
    """A run_curate result: the report's per-language budget and the
    parquet survivors per language must match the oracle."""
    problems = []
    if report.get("by_lang") != exp:
        problems.append(f"report by_lang {report.get('by_lang')} oracle {exp}")
    want = {lang: v["n_docs"] for lang, v in exp.items()}
    if written != want:
        problems.append(f"parquet survivors {written} oracle {want}")
    return problems
