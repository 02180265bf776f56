"""Tests of the benchmark itself: seeded inputs are reproducible and the
correctness checks catch corrupted outputs. No Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import Tracer  # noqa: E402


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for run in ("a", "b"):
        gen.write_log_dir(str(tmp_path / run / "logs"), gen.log_lines(7, 3000), 4)
        gen.write_documents(str(tmp_path / run / "docs"), gen.documents(7, 400), 3)
    for kind in ("logs", "docs"):
        assert _tree_bytes(str(tmp_path / "a" / kind)) == _tree_bytes(str(tmp_path / "b" / kind))
    assert gen.log_lines(7, 500) != gen.log_lines(8, 500)
    assert gen.documents(7, 100)["text"] != gen.documents(8, 100)["text"]


def test_log_mix_matches_its_description():
    lines = gen.log_lines(3, 20000)
    parsed = []
    for ln in lines:
        try:
            parsed.append(json.loads(ln))
        except json.JSONDecodeError:
            pass
    malformed = 1 - len(parsed) / len(lines)
    alias = sum("kubernetes" in r for r in parsed) / len(lines)
    no_ts = sum("ts" not in r and "time" not in r for r in parsed) / len(lines)
    pii = sum("user_email" in r or "token" in r for r in parsed) / len(parsed)
    assert 0.005 < malformed < 0.02
    assert 0.40 < alias < 0.50
    assert 0.005 < no_ts < 0.02
    assert pii > 0.8


def _render(ids, extra_key=""):
    return "".join(
        f'{{"TS":"2024-03-01T00:00:00Z","Level":"WARN","Message":"GET /x took 1ms #{i}",'
        f'"Fields":{{"status":"200"{extra_key}}}}}\n'
        for i in ids
    )


def _expectation(ids):
    summary = {"total_lines": 10, "json_parsed": 9, "json_failed": 1, "normalized_ok": 8,
               "normalized_failed": 1, "written_ok": len(ids), "filtered_by_level": 8 - len(ids)}
    return oracle.LogExpectation(summary, frozenset(ids))


class _Report:
    def __init__(self, exp, dlq):
        for k, v in exp.summary.items():
            setattr(self, k, v)
        self.filtered = {"level": exp.summary["filtered_by_level"]}
        self.dlq_written = dlq


def test_batch_check_accepts_correct_output():
    exp = _expectation([1, 4, 6])
    assert oracle.check_batch(_Report(exp, 2), _render([6, 1, 4]), "a\nb\n", exp) == []


def test_batch_check_catches_a_dropped_line():
    exp = _expectation([1, 4, 6])
    assert oracle.check_batch(_Report(exp, 2), _render([1, 4]), "a\nb\n", exp)


def test_batch_check_catches_a_duplicated_line_and_unredacted_pii():
    exp = _expectation([1, 4, 6])
    assert oracle.check_batch(_Report(exp, 2), _render([1, 4, 6, 6]), "a\nb\n", exp)
    leaked = _render([1, 4, 6], extra_key=',"token":"t"')
    assert oracle.check_batch(_Report(exp, 2), leaked, "a\nb\n", exp)


def test_batch_check_catches_a_short_dlq_and_wrong_counter():
    exp = _expectation([1, 4, 6])
    assert oracle.check_batch(_Report(exp, 2), _render([1, 4, 6]), "a\n", exp)
    rep = _Report(exp, 2)
    rep.json_failed = 0
    assert oracle.check_batch(rep, _render([1, 4, 6]), "a\nb\n", exp)


def test_log_oracle_counts_the_generated_mix():
    lines = gen.log_lines(5, 2000)
    exp = oracle.expect_logs(lines)
    assert exp.summary["total_lines"] == 2000
    assert 0 < exp.summary["json_failed"] < 60
    assert 0 < exp.summary["normalized_failed"] < 60
    assert len(exp.written_ids) == exp.summary["written_ok"]


def test_curate_check_catches_an_extra_survivor():
    docs = gen.documents(11, 600)
    exp = oracle.expect_curate(docs)
    kept = sum(v["n_docs"] for v in exp.values())
    assert 0.7 * 600 < kept < 0.95 * 600  # planted duplicates were removed
    written = {lang: v["n_docs"] for lang, v in exp.items()}
    report = {"by_lang": exp}
    assert oracle.check_curate(report, written, exp) == []
    extra = dict(written, en=written["en"] + 1)
    assert oracle.check_curate(report, extra, exp)
    bad_report = {"by_lang": {**exp, "en": {**exp["en"], "n_docs": exp["en"]["n_docs"] + 1}}}
    assert oracle.check_curate(bad_report, written, exp)


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("cli.op"):
        with tr.span("sinks.write"):
            pass
    (op,) = [s for s in tr.spans if s.name == "cli.op"]
    (child,) = [s for s in tr.spans if s.name == "sinks.write"]
    st = tr.self_times()
    assert abs(st[op.id] - ((op.end - op.start) - (child.end - child.start))) < 1e-9
    assert set(tr.self_time_by_layer({"cli.op"})) == {"cli", "sinks"}


def test_benchmark_json_lists_what_run_reports():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
